"""Workload benchmark for the KG build job and streaming maintenance.

    python3 perfbench/run.py --workload batch-short --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload batch-long --seed 1 --seconds 20 --trace 1

Run from the root of a checkout.  Generates the workload's inputs from
``--seed``, starts Spark on ``local[<cpus>]`` with a launch environment
sized to the host, repeats the workload's job for ``--seconds`` seconds,
checks every repetition's output with a DuckDB oracle, and prints one JSON
line last: the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``).  Exits 1 when a check fails, 2 when the checkout
holds no program.  README.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
from statistics import median
import tempfile
import traceback

sys.dont_write_bytecode = True  # nothing lands in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import now  # noqa: E402

# a median over more than one repetition; the first after the warm-up
# still runs 5 to 10% slower than the second
MIN_REPS = 2


class Run:
    """One benchmark run: set-up, then timed repetitions."""

    def __init__(self, workload, seed: int, work: str) -> None:
        self.wl = workload
        self.seed = seed
        self.work = work
        self.sp = harness.SparkProcess()
        self.setup_s: list = []
        self.spark_start_s: list = []
        self.paths = None
        self.n_turns = 0

    def setup(self, event_log_dir=None, warm_job: bool = True) -> None:
        """Input generation, a fresh JVM and session, and a warm-up.  With
        ``warm_job`` the warm-up is one untimed run of the workload's job,
        which spawns the Python workers and lets the JIT compile the job's
        hot paths; otherwise it is a one-shot pipeline over 64 turns, which
        only spawns the workers.  Timed as ``setup_s``."""
        from palladian_spark.pipeline import (model_from_entity_dictionary,
                                              run_pipeline)
        from spans import Tracer
        self.sp.stop()
        k = len(self.setup_s)
        t0 = now()
        self.paths, self.n_turns = self.wl.generate(
            self.seed, os.path.join(self.work, f"inputs-{k}"))
        t1 = now()
        spark = self.sp.start(event_log_dir)
        t2 = now()
        if warm_job:
            self.wl.run(spark, self.paths,
                        os.path.join(self.work, f"warm-{k}"), Tracer())
        else:
            entity_dict = spark.read.parquet(
                self.paths["entity_dict"]).limit(30)
            model = model_from_entity_dictionary(
                [(r["surface"], r["concept"]) for r in entity_dict.collect()])
            tiny = spark.read.parquet(self.paths["transcripts"]).limit(64)
            run_pipeline(spark, tiny, model=model,
                         entity_dict=entity_dict).triples.collect()
        self.setup_s.append(now() - t0)
        self.spark_start_s.append(t2 - t1)

    def measure(self, seconds: float, tracer) -> list:
        """Repetitions until ``seconds`` have passed and at least
        MIN_REPS ran.  An exception ends the loop and counts as one failed
        operation."""
        reps = []
        t0 = now()
        while len(reps) < MIN_REPS or now() - t0 < seconds:
            out = os.path.join(self.work, f"rep-{len(reps)}")
            try:
                with tracer.span("rep"):
                    reps.append(self.wl.run(self.sp.spark, self.paths, out,
                                            tracer))
            except Exception:
                traceback.print_exc()
                reps.append(None)
                break
            finally:
                shutil.rmtree(out, ignore_errors=True)
        return reps


def end_to_end(run: Run, reps: list, peak_pss_mb: float) -> dict:
    ok = [r for r in reps if r is not None]
    attempted = sum(r.attempted for r in ok) + (len(reps) - len(ok))
    failed = sum(r.failed for r in ok) + (len(reps) - len(ok))
    units = [u for r in ok for u in r.unit_s]
    m = {
        "setup_s": (median(run.setup_s), "s"),
        "turns_per_s": (median([run.n_turns / r.job_s for r in ok])
                        if ok else 0.0, "turns/s"),
        "triple_precision": (min((r.precision for r in ok), default=0.0),
                             "ratio"),
        "triple_recall": (min((r.recall for r in ok), default=0.0), "ratio"),
        "peak_pss_mb": (peak_pss_mb, "MB"),
        "success_rate": (1.0 - failed / max(attempted, 1), "ratio"),
        "batch_p50_s": (median(units) if units else 0.0, "s"),
    }
    print(f"# {run.wl.name} seed={run.seed} turns={run.n_turns} "
          f"reps={len(reps)} batch_p50_s samples={len(units)} "
          f"attempted={attempted} failed={failed}")
    print("# job_s per repetition: "
          + " ".join(f"{r.job_s:.3f}" for r in ok))
    for k, (v, unit) in m.items():
        print(f"# {k} = {v:.6g} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}


def run_untraced(run: Run, seconds: float) -> dict:
    from spans import Tracer
    run.setup()
    with harness.MemorySampler(run.sp.proc.pid) as mem:
        reps = run.measure(seconds, Tracer())
    return end_to_end(run, reps, mem.peak_mb)


def main(argv=None) -> int:
    import workloads
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "palladian_spark", "pipeline.py")):
        print(f"no palladian_spark package under {root}: run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    harness.configure_env(root, work)
    os.chdir(work)  # warehouse dirs and the like land here, not in the repo
    run = Run(workloads.WORKLOADS[args.workload], args.seed, work)
    try:
        if args.trace:
            import traced
            result = traced.run_traced(run, args.seconds, base)
        else:
            result = run_untraced(run, args.seconds)
    finally:
        run.sp.stop()
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""The traced run: per-layer metrics, timed from outside the program.

Layout of one traced run:

  1. set-up with the light warm-up and a one-shot build in a JVM without
     the event log: the untraced reference for ``trace.*``;
  2. the same in a fresh JVM with Spark's event log on (enabled through
     ``PYSPARK_SUBMIT_ARGS``), then the workload's repetitions and, once
     as warm, a second one-shot build, every call into a layer wrapped in
     a span;
  3. probes in the same traced session: one input file through extraction
     alone, and a two-file streaming-maintenance drain over slices of the
     workload's turns (the layer its own job does not reach), plus
     single-core timings of the per-turn kernels over a sample of the
     workload's turns.

The event log is attributed to spans afterwards (spans.EventLog), and the
spans plus all metrics are written to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import os
from statistics import median

import pyarrow.parquet as pq

import oracle
import spans
from harness import now
from workloads import _diffs, _noop, load_model

KERNEL_TURNS = 300   # turns in the single-core kernel sample
PROBE_FILES = 2      # micro-batches of the drain probe
PROBE_FILE_TURNS = 150
REPEATS = 3          # medians of the short driver-side timings

SPAN_NAMES = ["model", "job", "read"]


def _slope(units):
    """Least-squares slope of service time over batch index."""
    n = len(units)
    mx, my = (n - 1) / 2, sum(units) / n
    var = sum((i - mx) ** 2 for i in range(n))
    return (sum((i - mx) * (u - my) for i, u in enumerate(units)) / var
            if var else 0.0)


def _timed(fn):
    out, secs = None, []
    for _ in range(REPEATS):
        t0 = now()
        out = fn()
        secs.append(now() - t0)
    return out, median(secs)


def kernel_probe(texts, dict_rows) -> dict:
    """Single-core timings of the per-turn kernels the fused extraction
    stage runs, in its order: scans, sentence split, NER, pairing,
    linking of every distinct subject/object surface."""
    from palladian_spark.linking import (make_surface_linker,
                                         normalize_surface_py)
    from palladian_spark.ner.tag import get_annotations
    from palladian_spark.pipeline import model_from_entity_dictionary
    from palladian_spark.relations import (DEFAULT_PATTERNS, compile_patterns,
                                           triples_from_mentions)
    from palladian_spark.textproc.taggers import (tag_dates, tag_smileys,
                                                  tag_urls)
    from palladian_spark.textproc.tokenize import sentences

    n = len(texts)
    model, build_s = _timed(lambda: model_from_entity_dictionary(
        [(r["surface"], r["concept"]) for r in dict_rows]))

    t0 = now()
    scans = [(tag_urls(t), tag_dates(t), tag_smileys(t)) for t in texts]
    scan_s = now() - t0
    masks = [u + d + s for u, d, s in scans]
    t0 = now()
    sents = [sentences(t, m) for t, m in zip(texts, masks)]
    sent_s = now() - t0

    cache: dict = {}
    t0 = now()
    mentions = [get_annotations(t, model, classify_cache=cache,
                                url_annotations=u, date_annotations=d)
                for t, (u, d, _) in zip(texts, scans)]
    ner_s = now() - t0

    compiled = compile_patterns(DEFAULT_PATTERNS)
    window_cache: dict = {}
    t0 = now()
    triples = [triples_from_mentions(t, ms, DEFAULT_PATTERNS, masks=mk,
                                     compiled=compiled,
                                     match_cache=window_cache)
               for t, ms, mk in zip(texts, mentions, masks)]
    pair_s = now() - t0
    pairs = 0  # the ordered, non-overlapping same-sentence pairs tried
    for ss, ms in zip(sents, mentions):
        for s in ss:
            inside = [m for m in ms
                      if m.start >= s.start and m.end <= s.start + len(s.value)]
            pairs += sum(1 for i, a in enumerate(inside)
                         for b in inside[i + 1:] if b.start >= a.end)
    n_triples = sum(len(t) for t in triples)

    norm_map: dict = {}
    for r in dict_rows:
        key = normalize_surface_py(r["surface"])
        norm_map[key] = min(norm_map.get(key, r["surface"]), r["surface"])
    entries = [(r["entity_id"], r["surface"], r["concept"]) for r in dict_rows]
    link = make_surface_linker(norm_map, entries, "jaro_winkler", 0.9)
    surfaces = sorted({v for ts in triples for t in ts for v in (t[0], t[2])})
    t0 = now()
    linked = [link(s) for s in surfaces]
    link_s = now() - t0
    exact = [normalize_surface_py(s) in norm_map for s in surfaces]
    n_surf = max(len(surfaces), 1)

    us = 1e6 / n
    return {
        "textproc.scan_us_per_turn": (scan_s * us, "us"),
        "textproc.sentences_us_per_turn": (sent_s * us, "us"),
        "textproc.chars_per_turn": (sum(map(len, texts)) / n, "chars"),
        "ner.model_build_s": (build_s, "s"),
        "ner.annotate_us_per_turn": (ner_s * us, "us"),
        "ner.mentions_per_turn": (sum(map(len, mentions)) / n, "count"),
        "ner.classify_cache_entries": (len(cache), "count"),
        "relations.pair_us_per_turn": (pair_s * us, "us"),
        "relations.triples_per_pair": (n_triples / max(pairs, 1), "ratio"),
        "relations.window_cache_entries": (len(window_cache), "count"),
        "linking.link_us_per_surface": (link_s * 1e6 / n_surf, "us"),
        "linking.exact_share": (sum(exact) / n_surf, "ratio"),
        "linking.fuzzy_linked_share": (
            sum(1 for e, l in zip(exact, linked) if not e and l is not None)
            / n_surf, "ratio"),
    }


def drain(spark, input_dir: str, out_dir: str, model, entity_dict, tr):
    """The maintenance job (``jobs/run_kg_maintain.py``): drain every file
    in ``input_dir``, one per trigger.  Returns the call's span."""
    from palladian_spark.streaming.kg_maintain import (
        run_streaming_kg_maintenance)
    with tr.span("kg_maintain.run_streaming_kg_maintenance") as call:
        run_streaming_kg_maintenance(spark, input_dir, out_dir, model,
                                     entity_dict, max_files_per_trigger=1)
    return call


def consumer_reads(spark, out_dir: str, tr) -> None:
    """What a KG consumer reads after a drain, each one materialized."""
    from palladian_spark.streaming.kg_maintain import (
        current_components, current_degrees, fold_evidence)
    with tr.span("kg_maintain.reads"):
        with tr.span("graph.current_degrees"):
            _noop(current_degrees(spark, out_dir))
        with tr.span("graph.current_components"):
            _noop(current_components(spark, out_dir))
        with tr.span("kg_maintain.fold_evidence"):
            _noop(fold_evidence(spark, out_dir))


def slice_files(transcripts_dir: str, out_dir: str) -> str:
    """The first PROBE_FILES × PROBE_FILE_TURNS turns of a workload's input
    as PROBE_FILES parquet files, mtimes in order, for the drain probe."""
    table = pq.read_table(transcripts_dir)
    os.makedirs(out_dir, exist_ok=True)
    for k in range(PROBE_FILES):
        p = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * PROBE_FILE_TURNS, PROBE_FILE_TURNS), p)
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))
    return out_dir


def probes(run, tr):
    """Layer probes in the traced session.  Returns the probe metrics, the
    drain's call span and micro-batch service times, and whether the
    maintained degree profile matches the drained edge store."""
    from palladian_spark.relations import extract_canonical_triples
    from palladian_spark.streaming.kg_maintain import current_degrees
    spark, paths, work = run.sp.spark, run.paths, run.work
    texts = [t for t in pq.read_table(paths["transcripts"], columns=["text"])
             .column("text").to_pylist() if t][:KERNEL_TURNS]
    dict_rows = pq.read_table(paths["entity_dict"]).to_pylist()
    m = kernel_probe(texts, dict_rows)

    with tr.span("probe"):
        model, entity_dict = load_model(spark, paths)
        transcripts = spark.read.parquet(paths["transcripts"])
        _, plan_s = _timed(lambda: extract_canonical_triples(
            transcripts, model, entity_dict))
        m["relations.plan_s"] = (plan_s, "s")

        files = slice_files(paths["transcripts"],
                            os.path.join(work, "probe-files"))
        with tr.span("probe.kg_maintain.extract") as ext:
            extract_canonical_triples(
                spark.read.parquet(os.path.join(files, "part-00000.parquet")),
                model, entity_dict).write.format("noop").mode(
                "overwrite").save()
        m["kg_maintain.extract_s"] = (tr.dur(ext), "s")

        out = os.path.join(work, "probe-drain")
        call = drain(spark, files, out, model, entity_dict, tr)
        consumer_reads(spark, out, tr)
        degrees = [tuple(r) for r in current_degrees(spark, out).collect()]
        degrees_ok = oracle.degrees_match(f"{out}/edges/*/*.parquet", degrees)
        lineage = f"{out}/lineage/*/*.parquet"
        units = _diffs([call["start"]]
                       + oracle.lineage_times(lineage, "batch_id"))
        m["kg_maintain.novel_edges_per_batch"] = (
            oracle.lineage_mean(lineage, "n_new_edges"), "count")
    return m, call, units, degrees_ok


def layer_metrics(run, tr, log, reps, drain_call, drain_units) -> dict:
    """Pipeline metrics from the traced repetitions' builds, maintenance
    metrics from the drain probe, Spark counts per span."""
    m = {}
    builds = [r.call for r in reps]
    bucketed = median([tr.dur(c) for c in builds])
    units = [u for r in reps for u in r.unit_s]
    build_tasks = log.tasks_of(log.jobs_in(builds))
    scan_ids = log.scan_row_metric_ids(run.paths["transcripts"])
    m["pipeline.bucketed_s"] = (bucketed, "s")
    m["pipeline.bucket_p50_s"] = (median(units), "s")
    m["pipeline.bucket_max_s"] = (max(units), "s")
    m["pipeline.input_scans"] = (
        spans.accumulated(build_tasks, scan_ids) / run.n_turns / len(builds),
        "count")
    m["pipeline.bytes_written_mb"] = (
        spans.bytes_written(build_tasks) / 2 ** 20 / len(builds), "MB")

    m["kg_maintain.batch_service_s"] = (median(drain_units), "s")
    m["kg_maintain.batch_service_slope_s"] = (_slope(drain_units), "s")
    m["kg_maintain.jobs_per_batch"] = (
        len(log.jobs_in([drain_call])) / len(drain_units), "count")
    for metric, name in [("graph.degrees_read_s", "graph.current_degrees"),
                         ("graph.components_read_s",
                          "graph.current_components"),
                         ("kg_maintain.fold_evidence_s",
                          "kg_maintain.fold_evidence")]:
        m[metric] = (median([tr.dur(s) for s in tr.named(name)]), "s")
    for span, counts in spans.spark_counts(log, tr, SPAN_NAMES).items():
        for k, v in counts.items():
            m[f"spark.{span}.{k}"] = (v, "s" if k.endswith("_s") else
                                      "MB" if k.endswith("_mb") else "count")
    return m


def oneshot(run, tr, tag: str) -> float:
    """Wall time of a one-shot build (``run_pipeline`` without an output
    directory, written once as parquet) over the workload's input; the
    model is built first, as for the bucketed call it is compared with."""
    from palladian_spark.pipeline import run_pipeline
    spark = run.sp.spark
    model, entity_dict = load_model(spark, run.paths)
    with tr.span("pipeline.oneshot") as span:
        run_pipeline(spark, spark.read.parquet(run.paths["transcripts"]),
                     model=model, entity_dict=entity_dict).triples.write \
            .parquet(os.path.join(run.work, f"oneshot-{tag}"))
    return tr.dur(span)


def run_traced(run, seconds: float, base: str) -> dict:
    # The tracing overhead compares the one-shot build in a JVM without
    # and with the event log.  Each JVM gets the light warm-up and runs it
    # first, so both are equally cold.  That is one sample per JVM, and
    # JVMs drift apart by up to 17% on the same input, so the overhead is
    # an indication only.  A bucketed repetition per JVM, or a full
    # warm-up job per JVM, would push the run toward the 180 s limit.
    run.setup(warm_job=False)
    untraced_s = oneshot(run, spans.Tracer(), "untraced")
    tr = spans.Tracer()
    ev_dir = os.path.join(run.work, "eventlog")
    run.setup(event_log_dir=ev_dir, warm_job=False)
    traced_s = oneshot(run, tr, "traced")
    reps = run.measure(seconds / 2, tr)
    ok = [r for r in reps if r is not None]
    # The pipeline metrics leave out the first repetition, the first
    # bucketed build in this JVM.  The one-shot build they are compared
    # with runs after the repetitions, so both sides are equally warm.
    warm_oneshot_s = oneshot(run, tr, "warm")
    metrics, drain_call, drain_units, degrees_ok = probes(run, tr)
    run.sp.stop()  # flushes the event log
    log = spans.EventLog(spans.read_event_log(ev_dir))
    metrics.update(layer_metrics(run, tr, log, ok[1:] or ok, drain_call,
                                 drain_units))

    untraced, traced = run.n_turns / untraced_s, run.n_turns / traced_s
    metrics["pipeline.oneshot_s"] = (warm_oneshot_s, "s")
    metrics["session.spark_start_s"] = (median(run.spark_start_s), "s")
    metrics["pipeline.overhead_share"] = (
        metrics["pipeline.bucketed_s"][0] / metrics["pipeline.oneshot_s"][0]
        - 1.0, "ratio")
    metrics["trace.turns_per_s_untraced"] = (untraced, "turns/s")
    metrics["trace.turns_per_s_traced"] = (traced, "turns/s")
    metrics["trace.overhead_share"] = (untraced / traced - 1.0, "ratio")

    attempted = sum(r.attempted for r in ok) + reps.count(None) + 1
    failed = sum(r.failed for r in ok) + reps.count(None) + (not degrees_ok)
    spans.write_trace(os.path.join(
        base, f"trace-{run.wl.name}-{run.seed}.json"), tr,
        {k: v for k, (v, _) in metrics.items()})
    for k, (v, unit) in sorted(metrics.items()):
        print(f"# {k} = {v:.6g} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in sorted(metrics.items())}}

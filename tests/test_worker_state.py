"""Per-Python-worker state survives across tasks.

The fused extractor keeps one _ExtractionContext per worker and plan, and
the staged fuzzy pass one _BlockedDict per worker and plan.  Both caches
must be reached through the imported module: a task closure that named the
module-level dict directly would get cloudpickle's by-value copy, empty in
every task, and rebuild per task.

Each test wraps the mapInPandas function the code under test plans, so
every task records its worker pid and how many objects of the cached
class it constructed; over 8 partitions on local[4] the workers are
reused, and each must build once.
"""

import contextlib
import os
import uuid

import pytest

from palladian_spark import linking, relations


@contextlib.contextmanager
def recorded_tasks(monkeypatch, spark, record_dir, cls):
    """While open, every mapInPandas planned wraps its function so each
    task writes ``<pid> <constructions of cls>`` to a file under
    ``record_dir``; yields a callable returning those (pid, n) pairs."""
    frame_cls = type(spark.range(1))
    real_map = frame_cls.mapInPandas
    record_dir = str(record_dir)
    os.makedirs(record_dir, exist_ok=True)

    def wrapped_map(self, func, schema, *args, **kwargs):
        def probe(iterator):
            built = [0]
            real_init = cls.__init__

            def counting_init(obj, *a, **k):
                built[0] += 1
                real_init(obj, *a, **k)

            cls.__init__ = counting_init
            try:
                yield from func(iterator)
            finally:
                cls.__init__ = real_init
                path = os.path.join(record_dir, uuid.uuid4().hex)
                with open(path, "w") as f:
                    f.write(f"{os.getpid()} {built[0]}")

        return real_map(self, probe, schema, *args, **kwargs)

    def records():
        out = []
        for name in os.listdir(record_dir):
            with open(os.path.join(record_dir, name)) as f:
                pid, n = f.read().split()
            out.append((int(pid), int(n)))
        return out

    monkeypatch.setattr(frame_cls, "mapInPandas", wrapped_map)
    yield records


def _assert_built_once_per_worker(records, n_tasks):
    assert len(records) == n_tasks
    builds = sum(n for _, n in records)
    workers = {pid for pid, _ in records}
    assert builds == len(workers), records  # first task per worker only
    assert builds < n_tasks, records


@pytest.fixture(scope="module")
def dictionary(spark):
    from palladian_spark.data.transcripts import entity_dictionary_pdf
    return spark.createDataFrame(entity_dictionary_pdf().assign(
        entity_id=lambda d: d["concept"].str.lower() + ":" + d["surface"]))


def test_extraction_context_is_worker_resident(spark, dictionary, tmp_path,
                                               monkeypatch):
    from palladian_spark.data.transcripts import synthetic_transcripts_df
    from palladian_spark.pipeline import default_model
    transcripts, _ = synthetic_transcripts_df(spark, n_convs=16,
                                              turns_per_conv=4)
    extract = relations.canonical_triples_extractor(
        default_model(), dictionary, ensure_parallelism=False)
    with recorded_tasks(monkeypatch, spark, tmp_path / "tasks",
                        relations._ExtractionContext) as records:
        rows = extract(transcripts.repartition(8)).collect()
    assert rows
    _assert_built_once_per_worker(records(), 8)


def test_fuzzy_index_is_worker_resident(spark, dictionary, tmp_path,
                                        monkeypatch):
    surfaces = [r["surface"] for r in dictionary.select("surface").collect()]
    values = spark.createDataFrame(
        [(s[:-1] + "x",) for s in surfaces for _ in range(2)],
        "value string").repartition(8)
    with recorded_tasks(monkeypatch, spark, tmp_path / "tasks",
                        linking._BlockedDict) as records:
        linked = linking.fuzzy_link_df(values, dictionary).collect()
    assert linked
    _assert_built_once_per_worker(records(), 8)


def test_worker_resident_evicts_oldest():
    cache: dict = {}
    built = []
    for key in ("a", "b", "a", "c", "a"):
        linking.worker_resident(cache, key,
                                lambda k=key: built.append(k) or k, 2)
    # "c" evicts "a" (the oldest entry, though just used), so the last
    # "a" is built a second time and evicts "b"
    assert built == ["a", "b", "c", "a"]
    assert list(cache) == ["c", "a"]

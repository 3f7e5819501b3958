"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
import spans
import traced


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _batch(seed, out_dir):
    vocab, turns = gen.batch_turns(seed, 400, 50, long_sentences=3,
                                   misspell_share=0.1, hot_share=0.05)
    gen.write_batch(str(out_dir), vocab, turns)
    return _files(str(out_dir))


def test_same_seed_same_files(tmp_path):
    assert _batch(7, tmp_path / "a") == _batch(7, tmp_path / "b")


def test_other_seed_other_files(tmp_path):
    a, b = _batch(7, tmp_path / "a"), _batch(8, tmp_path / "b")
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_probe_files_keep_microsecond_timestamps(tmp_path):
    _batch(1, tmp_path / "in")
    files = traced.slice_files(str(tmp_path / "in" / "transcripts"),
                               str(tmp_path / "files"))
    names = sorted(os.listdir(files))
    assert len(names) == traced.PROBE_FILES
    for name in names:
        table = pq.read_table(os.path.join(files, name))
        assert table.num_rows == traced.PROBE_FILE_TURNS
        assert table.schema.field("ts").type == pa.timestamp("us")
        assert table.schema.field("turn_idx").type == pa.int32()
    mtimes = [os.path.getmtime(os.path.join(files, n)) for n in names]
    assert mtimes == sorted(mtimes)


def test_gold_matches_hand_worked_case(monkeypatch):
    monkeypatch.setattr(gen, "TURNS_PER_CONV", 2)
    vocab, turns = gen.batch_turns(3, 4, 2)
    assert [r[:4] for r in turns.rows] == [
        ("conv-0000000", 0, "user",
         "Vinirt Plaslelal works for Brite Holdings in Greiprairtfield."),
        ("conv-0000000", 1, "assistant",
         "Nitou Drukromourt works for Brite Holdings in Musleilstad."),
        ("conv-0000001", 0, "user",
         "Nitou Drukromourt works for Poutreim Labs."),
        ("conv-0000001", 1, "assistant",
         "we should double check the numbers before the review."),
    ]
    assert turns.rows[1][5] == dt.datetime(2026, 1, 1, 0, 0, 1, 7919)
    assert turns.gold == [
        ("conv-0000000", 0, "Vinirt Plaslelal", "works_for", "Brite Holdings"),
        ("conv-0000000", 0, "Brite Holdings", "located_in", "Greiprairtfield"),
        ("conv-0000000", 1, "Nitou Drukromourt", "works_for",
         "Brite Holdings"),
        ("conv-0000000", 1, "Brite Holdings", "located_in", "Musleilstad"),
        ("conv-0000001", 0, "Nitou Drukromourt", "works_for",
         "Poutreim Labs"),
    ]
    assert sorted(vocab.by_type["ORG"]) == ["Brite Holdings", "Poutreim Labs"]


def test_misspelled_alias_keeps_canonical_gold():
    vocab, turns = gen.batch_turns(11, 300, 20, long_sentences=2,
                                   misspell_share=0.5)
    names = {s for v in vocab.by_type.values() for s in v}
    assert {g[2] for g in turns.gold} | {g[4] for g in turns.gold} <= names
    text = " ".join(r[3] for r in turns.rows)
    assert any(g[2] not in text for g in turns.gold)  # some alias was shown


def test_hot_conversation_share():
    _, turns = gen.batch_turns(5, 500, 30, hot_share=0.02)
    hot = [r for r in turns.rows if r[0] == "conv-hot"]
    assert len(hot) == 10
    assert [r[1] for r in hot] == list(range(10))


def _write(path, rows):
    schema = pa.schema([("subj", pa.string()), ("pred", pa.string()),
                        ("obj", pa.string())])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(list(zip(*rows)), schema=schema), path)


def test_oracle_precision_recall_on_toy_input(tmp_path):
    a, b, c, d, e = [("s%d" % i, "p", "o%d" % i) for i in range(5)]
    _write(str(tmp_path / "out" / "b=0" / "x.parquet"), [a, b])
    _write(str(tmp_path / "out" / "b=1" / "x.parquet"), [c, c, a])
    _write(str(tmp_path / "gold" / "g.parquet"), [a, b, d, e])
    p, r, n_out, n_gold = oracle.triple_pr(
        str(tmp_path / "out" / "*" / "*.parquet"),
        str(tmp_path / "gold" / "*.parquet"), ("subj", "pred", "obj"))
    assert (n_out, n_gold) == (3, 4)
    assert p == 2 / 3 and r == 2 / 4


def test_degrees_match_on_toy_edges(tmp_path):
    _write(str(tmp_path / "e" / "x.parquet"),
           [("a", "p", "b"), ("a", "q", "b"), ("b", "p", "c"),
            ("a", "p", "b")])
    edges = str(tmp_path / "e" / "*.parquet")
    assert oracle.degrees_match(edges, [("a", 2, 0), ("b", 1, 2),
                                        ("c", 0, 1)])
    assert not oracle.degrees_match(edges, [("a", 3, 0), ("b", 1, 2),
                                            ("c", 0, 1)])


def test_event_log_attribution():
    tr = spans.Tracer()
    with tr.span("job") as job:
        with tr.span("model") as model:
            time.sleep(0.01)
        time.sleep(0.01)
    with tr.span("read") as read:
        time.sleep(0.01)
    t_model = (model["start"] + model["end"]) / 2
    t_job = (model["end"] + job["end"]) / 2
    t_read = (read["start"] + read["end"]) / 2
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": t_model * 1000, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": t_job * 1000, "Stage IDs": [1]},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": t_read * 1000, "Stage IDs": [2]},
    ]
    for stage, ms in [(0, 100), (1, 300), (1, 500), (2, 50)]:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": ms,
                          "Accumulables": [{"ID": 9, "Update": "4"}]},
            "Task Metrics": {"Shuffle Write Metrics":
                             {"Shuffle Bytes Written": 2 ** 20},
                             "Memory Bytes Spilled": 0,
                             "Disk Bytes Spilled": 0,
                             "Output Metrics": {"Bytes Written": 10}}})
    log = spans.EventLog(events)
    counts = spans.spark_counts(log, tr, ["model", "job", "read"])
    assert counts["model"]["jobs"] == 1 and counts["model"]["tasks"] == 1
    assert counts["job"]["jobs"] == 1 and counts["job"]["tasks"] == 2
    assert counts["job"]["task_max_s"] == 0.5
    assert counts["job"]["shuffle_write_mb"] == 2.0
    assert counts["read"]["task_p50_s"] == 0.05
    jobs = log.jobs_in([job])
    assert sorted(jobs) == [0, 1]
    assert spans.accumulated(log.tasks_of(jobs), {9}) == 12
    assert spans.bytes_written(log.tasks_of(jobs)) == 30

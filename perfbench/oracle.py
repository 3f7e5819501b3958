"""Correctness oracle: triple precision/recall computed by DuckDB over the
parquet the program wrote, against the generator's gold.  No repo code is
involved, so a defect in the pipeline cannot hide in its own checker."""

from __future__ import annotations

from typing import Sequence, Tuple

import duckdb

# the north rule's bar; batch-long has its own floor (workloads.py)
NORTH_RULE = 0.95


def _q(path: str) -> str:
    return path.replace("'", "''")


def triple_pr(out_glob: str, gold_glob: str, keys: Sequence[str]
              ) -> Tuple[float, float, int, int]:
    """(precision, recall, |out|, |gold|) over DISTINCT ``keys`` rows."""
    cols = ", ".join(keys)
    con = duckdb.connect()
    try:
        n_out, n_gold, tp = con.execute(f"""
            WITH o AS (SELECT DISTINCT {cols} FROM read_parquet('{_q(out_glob)}')),
                 g AS (SELECT DISTINCT {cols} FROM read_parquet('{_q(gold_glob)}'))
            SELECT (SELECT count(*) FROM o), (SELECT count(*) FROM g),
                   (SELECT count(*) FROM (SELECT * FROM o INTERSECT SELECT * FROM g))
        """).fetchone()
    finally:
        con.close()
    precision = tp / n_out if n_out else 0.0
    recall = tp / n_gold if n_gold else 0.0
    return precision, recall, n_out, n_gold


def degrees_match(edges_glob: str, degrees: Sequence[tuple]) -> bool:
    """The maintained degree profile equals out/in counts of the distinct
    (subj, pred, obj) edge store."""
    con = duckdb.connect()
    try:
        want = con.execute(f"""
            WITH e AS (SELECT DISTINCT subj, pred, obj
                       FROM read_parquet('{_q(edges_glob)}')),
                 c AS (SELECT subj AS node, 1 AS o, 0 AS i FROM e
                       UNION ALL SELECT obj, 0, 1 FROM e)
            SELECT node, sum(o), sum(i) FROM c GROUP BY node
        """).fetchall()
    finally:
        con.close()
    return ({(n, int(o), int(i)) for n, o, i in want}
            == {(n, int(o), int(i)) for n, o, i in degrees})


def lineage_times(lineage_glob: str, order_col: str) -> list:
    """``finished_at`` values of a lineage store, in commit order."""
    con = duckdb.connect()
    try:
        return [r[0] for r in con.execute(f"""
            SELECT finished_at FROM read_parquet('{_q(lineage_glob)}')
            ORDER BY finished_at, {order_col}""").fetchall()]
    finally:
        con.close()


def lineage_mean(lineage_glob: str, col: str) -> float:
    con = duckdb.connect()
    try:
        return float(con.execute(
            f"SELECT avg({col}) FROM read_parquet('{_q(lineage_glob)}')"
        ).fetchone()[0])
    finally:
        con.close()

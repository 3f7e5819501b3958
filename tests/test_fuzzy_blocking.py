"""Blocked fuzzy linking ≡ full-loop linking, plus bound soundness.

The blocking prunes with NECESSARY conditions for sim ≥ threshold, so the
linked result must be bit-identical to the exhaustive loop — these tests
pin that, both property-style (bound soundness on random strings) and
end-to-end (Spark fuzzy pass vs a literal Python loop).
"""

import random

import pytest
from hypothesis import given, settings, strategies as st

from palladian_spark.linking import _BlockedDict, _bound_frac
from palladian_spark.textproc.similarity import (
    METRICS, jaro_winkler_similarity, levenshtein_similarity)

_WORDS = st.text(alphabet="ABCDEFGabcdefg 0123456789-", min_size=0,
                 max_size=24)


@settings(max_examples=300, deadline=None)
@given(_WORDS, _WORDS)
def test_jaro_winkler_bound_is_necessary(a, b):
    t = 0.9
    frac = _bound_frac("jaro_winkler", t)
    if jaro_winkler_similarity(a, b) >= t:
        fa, fb = a.strip().upper(), b.strip().upper()
        la, lb = len(fa), len(fb)
        assert min(la, lb) >= frac * max(la, lb) - 1e-9
        inter = sum(min(fa.count(c), fb.count(c)) for c in set(fa))
        assert inter >= frac * max(la, lb) - 1e-9


@settings(max_examples=300, deadline=None)
@given(_WORDS, _WORDS)
def test_levenshtein_bound_is_necessary(a, b):
    t = 0.8
    frac = _bound_frac("levenshtein", t)
    if levenshtein_similarity(a, b) >= t:
        la, lb = len(a), len(b)
        assert min(la, lb) >= frac * max(la, lb) - 1e-9
        inter = sum(min(a.count(c), b.count(c)) for c in set(a))
        assert inter >= frac * max(la, lb) - 1e-9


def _synthetic_dict(n=400, seed=1):
    rng = random.Random(seed)
    surfaces = []
    for i in range(n):
        base = "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(4, 14)))
        surfaces.append(("e%d" % i, base.capitalize() + " " + str(i % 7), "ORG"))
    return surfaces


@pytest.mark.parametrize("metric,threshold", [
    ("jaro_winkler", 0.9), ("levenshtein", 0.8)])
def test_blocked_candidates_superset_of_linkable(metric, threshold):
    entries = _synthetic_dict()
    index = _BlockedDict(entries, metric)
    frac = _bound_frac(metric, threshold)
    sim_fn = METRICS[metric]
    rng = random.Random(9)
    queries = []
    # near-duplicates of dictionary surfaces + random noise
    for _, surface, _ in entries[:60]:
        chars = list(surface)
        if len(chars) > 2:
            chars[rng.randrange(len(chars))] = "x"
        queries.append("".join(chars))
    queries += ["zzz %d" % i for i in range(20)]
    for q in queries:
        cand = set(index.candidates(q, frac).tolist())
        for i, (_, surface, _) in enumerate(entries):
            if sim_fn(q, surface) >= threshold:
                assert i in cand, (q, surface)


def _fuzzy_case():
    """Dictionary, misspelled + unrelated queries, and the full-loop
    argmax per linkable query (ties → last maximal entry)."""
    entries = _synthetic_dict(200, seed=3)
    sim_fn = METRICS["jaro_winkler"]
    rng = random.Random(4)
    values = []
    for _, surface, _ in entries[:80]:
        chars = list(surface)
        chars[rng.randrange(len(chars))] = rng.choice("qxz")
        values.append("".join(chars))
    values += ["completely unrelated %d" % i for i in range(10)]

    expected = {}
    for v in values:
        best, best_sim = None, 0.9
        for eid, surface, concept in entries:
            s = sim_fn(v, surface)
            if s >= best_sim:
                best, best_sim = (eid, surface, concept, s), s
        if best is not None:
            expected[v] = best
    return entries, values, expected


def test_fuzzy_link_df_matches_full_loop(spark):
    from palladian_spark.linking import fuzzy_link_df
    entries, values, expected = _fuzzy_case()

    vdf = spark.createDataFrame([(v,) for v in values], "value string")
    edf = spark.createDataFrame(entries,
                                "entity_id string, surface string, concept string")
    got = {r["value"]: (r["entity_id"], r["canonical"], r["concept"],
                        r["link_sim"])
           for r in fuzzy_link_df(vdf, edf, "jaro_winkler", 0.9).collect()}
    assert got == expected
    assert len(got) > 0  # the fixture must actually exercise linking


class _CountingIndex(_BlockedDict):
    built = 0

    def __init__(self, *args):
        type(self).built += 1
        super().__init__(*args)


def test_exact_linker_never_builds_fuzzy_index(monkeypatch):
    from palladian_spark import linking
    monkeypatch.setattr(linking, "_BlockedDict", _CountingIndex)
    monkeypatch.setattr(_CountingIndex, "built", 0)
    entries = _synthetic_dict(200, seed=3)
    norm_map = {linking.normalize_surface_py(s): s for _, s, _ in entries}
    link = linking.make_surface_linker(norm_map, entries, "jaro_winkler", 0.9)
    for _, surface, _ in entries:
        key = linking.normalize_surface_py(surface)
        assert link("  " + surface.upper()) == norm_map[key]
    assert _CountingIndex.built == 0


def test_lazy_linker_builds_index_once_and_matches_full_loop(monkeypatch):
    from palladian_spark import linking
    monkeypatch.setattr(linking, "_BlockedDict", _CountingIndex)
    monkeypatch.setattr(_CountingIndex, "built", 0)
    entries, values, expected = _fuzzy_case()
    link = linking.make_surface_linker({}, entries, "jaro_winkler", 0.9)
    got = {v: link(v) for v in values}
    assert got == {v: expected[v][1] if v in expected else None
                   for v in values}
    assert _CountingIndex.built == 1

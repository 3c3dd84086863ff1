"""Batch query API: top_k_many == per-query top_k (docIDs and float32
scores), including MatchAll/MatchNo/unknown-term members of the batch;
the driver and executor kernel sites agree; k = 0 and typed empty
results."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.index.deletes import delete_docs
from lucene_solr_spark.search import Searcher, executor, parse_query
from lucene_solr_spark.search.ast import (BooleanQuery, Clause,
                                          FieldExistsQuery, MatchAllQuery,
                                          Occur, TermQuery)
from tests.conftest import SF_DIR

QUERIES = ["merge", "spark merge fast", "spark AND table",
           '"key agg"', "(spark OR merge) AND fast", "spark NOT dup",
           "zzzqqq", "the and of",
           "batch part line column order small sort"]


@pytest.fixture(scope="module")
def searcher(spark):
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=128,
                       with_positions=True).build(spark, docs).cache()
    return Searcher(spark, idx)


def test_batch_equals_individual(searcher):
    qs = [parse_query(s, ENGLISH_ANALYZER) for s in QUERIES]
    batch = searcher.top_k_many(qs, k=10, mode="f32", prune=True)
    assert len(batch) == len(qs)
    for s, q, got in zip(QUERIES, qs, batch):
        want = searcher.top_k(q, k=10, mode="f32", prune=True)
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), s
        assert got["score"].tolist() == want["score"].tolist(), s


def test_batch_f64_mode(searcher):
    qs = [parse_query(s, ENGLISH_ANALYZER) for s in QUERIES[:4]]
    batch = searcher.top_k_many(qs, k=5, mode="f64")
    for s, q, got in zip(QUERIES, qs, batch):
        want = searcher.top_k(q, k=5, mode="f64")
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), s


# members of both routes of the dispatch top_k, top_k_many and score_all
# share: the composition (match-all, the NOT-wrapper, exists) and the
# kernel tree (an unknown term, which matches nothing, and a term)
PATH_QUERIES = {
    "match_all": (MatchAllQuery(), "compose"),
    "not_wrapper": (BooleanQuery((
        Clause(Occur.MUST_NOT, TermQuery("spark")),
        Clause(Occur.SHOULD, MatchAllQuery()))), "compose"),
    "exists": (FieldExistsQuery("text"), "compose"),
    "unknown_term": (TermQuery("zzzqqq"), "tree"),
    "kernel": (TermQuery("merge"), "tree"),
}


def test_batch_covers_every_plan_path(searcher):
    names = list(PATH_QUERIES)
    qs = [PATH_QUERIES[n][0] for n in names]
    for n, q in zip(names, qs):
        plan = searcher._plan(q)
        route = plan if isinstance(plan, str) else next(iter(plan))
        assert route == PATH_QUERIES[n][1], n
    batch = searcher.top_k_many(qs, k=10)
    for n, q, got in zip(names, qs, batch):
        want = searcher.top_k(q, k=10)
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), n
        assert got["score"].tolist() == want["score"].tolist(), n
        full = (searcher.score_all(q, mode="f32").toPandas()
                .sort_values(["score", "doc_id"], ascending=[False, True])
                .head(10))
        assert got["doc_id"].tolist() == full["doc_id"].tolist(), n
        assert got["score"].tolist() == \
            full["score"].astype(np.float32).tolist(), n
    assert len(batch[names.index("unknown_term")]) == 0
    assert all(len(batch[names.index(n)]) == 10
               for n in ("match_all", "not_wrapper", "exists", "kernel"))


# a bound no batch reaches: every kernel run stays on the driver
_NO_BOUND = 1 << 62


@pytest.fixture(scope="module")
def carriers(spark, searcher):
    """The fixture index behind both tombstone carriers: the driver
    array (distributed=False) and the per-cell table (True)."""
    victims = (searcher.top_k(TermQuery("spark"), k=20)["doc_id"]
               .astype(int).tolist()[:5])
    return {d: Searcher(spark, delete_docs(spark, searcher.index, victims,
                                           distributed=d))
            for d in (False, True)}


@pytest.mark.parametrize("carrier", [None, False, True],
                         ids=["live", "array", "table"])
def test_kernel_sites_agree(searcher, carriers, carrier, monkeypatch):
    """The executor kernel (bound −1) and the driver kernel (no bound)
    give the same doc IDs, scores and dtypes, pruned, exhaustive and in
    f64 mode — with and without tombstones of either carrier."""
    s = searcher if carrier is None else carriers[carrier]
    qs = [parse_query(t, ENGLISH_ANALYZER) for t in QUERIES]
    for kw in ({}, {"prune": False}, {"mode": "f64"}):
        got = {}
        for bound in (-1, _NO_BOUND):
            monkeypatch.setattr(executor, "LOCAL_SCAN_POSTINGS", bound)
            got[bound] = s.top_k_many(qs, k=10, **kw)
        for t, a, b in zip(QUERIES, got[-1], got[_NO_BOUND]):
            assert a["doc_id"].tolist() == b["doc_id"].tolist(), (t, kw)
            assert (a["score"].astype(np.float32).tolist()
                    == b["score"].astype(np.float32).tolist()), (t, kw)
            assert a.dtypes.to_dict() == b.dtypes.to_dict(), (t, kw)
        assert any(len(r) for r in got[-1])


def test_default_bound_keeps_small_top_k_off_executors(searcher,
                                                       monkeypatch):
    """Under the default bound a small-index top_k never builds the
    executor kernel job; a bound of −1 always does."""
    calls = []
    kernel = Searcher._kernel

    def spy(self, specs, live):
        calls.append(len(specs))
        return kernel(self, specs, live)

    monkeypatch.setattr(Searcher, "_kernel", spy)
    q = parse_query("spark merge fast", ENGLISH_ANALYZER)
    local = searcher.top_k(q, k=10)
    assert len(local) == 10 and calls == []
    monkeypatch.setattr(executor, "LOCAL_SCAN_POSTINGS", -1)
    remote = searcher.top_k(q, k=10)
    assert calls == [1]
    assert local["doc_id"].tolist() == remote["doc_id"].tolist()
    assert local["score"].tolist() == remote["score"].tolist()


def test_k_zero_launches_no_job_and_negative_k_raises(spark, searcher):
    """k = 0 is empty for every route (a kernel hit, a composition)
    without a Spark job; a negative k is a ValueError."""
    sc = spark.sparkContext
    qs = [TermQuery("merge"), MatchAllQuery()]
    sc.setJobGroup("k-zero", "k = 0")
    try:
        got = searcher.top_k_many(qs, k=0) + [searcher.top_k(qs[0], k=0)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("k-zero") == []
    want = searcher.top_k(qs[0], k=1).dtypes.to_dict()
    for r in got:
        assert len(r) == 0 and r.dtypes.to_dict() == want
    with pytest.raises(ValueError):
        searcher.top_k(qs[0], k=-1)
    with pytest.raises(ValueError):
        searcher.top_k_many(qs, k=-3)


@pytest.mark.parametrize("mode", ["f32", "f64"])
@pytest.mark.parametrize("bound", [None, -1], ids=["driver", "executors"])
def test_empty_results_are_typed(searcher, mode, bound, monkeypatch):
    """An unknown term (no kernel run) and a phrase whose terms exist
    but never meet (a kernel run with no output) give frames with the
    dtypes of a hit: int64 rank and doc_id, a float32 (f32) or float64
    (f64) score."""
    if bound is not None:
        monkeypatch.setattr(executor, "LOCAL_SCAN_POSTINGS", bound)
    hit = searcher.top_k(TermQuery("merge"), k=10, mode=mode)
    assert len(hit) == 10
    assert hit.dtypes.to_dict() == {
        "rank": np.dtype(np.int64), "doc_id": np.dtype(np.int64),
        "score": np.dtype(np.float32 if mode == "f32" else np.float64)}
    never = parse_query('"dup spark"', ENGLISH_ANALYZER)
    assert searcher._dispatch(never, mode, 10, True, False) is not None
    for q in (TermQuery("zzzqqq"), never):
        miss = searcher.top_k(q, k=10, mode=mode)
        assert len(miss) == 0
        assert miss.dtypes.to_dict() == hit.dtypes.to_dict()

"""Batch query API: top_k_many == per-query top_k (docIDs and float32
scores), including MatchAll/MatchNo/unknown-term members of the batch."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.search import Searcher, parse_query
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

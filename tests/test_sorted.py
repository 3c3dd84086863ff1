"""Index-time sort + early termination (IndexWriterConfig.setIndexSort,
TopFieldCollector.canEarlyTerminate) — the sorted-docvalues generation
must return EXACTLY what the unsorted full-match-set sort returns,
while scanning only a key-range prefix (pushed range predicate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.index.sorted import (SortedDocValues,
                                            build_sorted_docvalues)
from lucene_solr_spark.search import Searcher
from lucene_solr_spark.search.ast import MatchAllQuery, TermQuery
from lucene_solr_spark.search.extras import sort_by_fields
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text", "n_chars").cache())


@pytest.fixture(scope="module")
def searcher(spark, docs):
    idx = (IndexBuilder(ENGLISH_ANALYZER, grid=128, with_positions=True)
           .build(spark, docs.select("doc_id", "text")).cache())
    return Searcher(spark, idx)


@pytest.fixture(scope="module")
def sdv(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sorted_dv"))
    build_sorted_docvalues(spark, docs.select("doc_id", "n_chars"),
                           path, "n_chars")
    return SortedDocValues(spark, path)


def _pairs(df):
    return [(int(r["doc_id"]), int(r["n_chars"])) for r in df.collect()]


@pytest.mark.parametrize("ascending", [True, False])
def test_sorted_topk_equals_unsorted_sort(spark, docs, searcher, sdv,
                                          ascending):
    m = searcher.match_docs(TermQuery("merge"))
    got = _pairs(sdv.topk(m, k=10, ascending=ascending)
                 .select("doc_id", "n_chars"))
    exp = _pairs(sort_by_fields(searcher, TermQuery("merge"), docs,
                                [("n_chars", ascending, True)], k=10)
                 .select("doc_id", "n_chars"))
    assert got == exp


def test_sorted_topk_matchall_and_large_k(spark, docs, searcher, sdv):
    """k beyond every ladder cut exercises the full-scan fallback; a
    MatchAll query exercises the largest match set."""
    m = searcher.match_docs(MatchAllQuery())
    n = docs.count()
    got = _pairs(sdv.topk(m, k=n + 10).select("doc_id", "n_chars"))
    exp = [(int(r["doc_id"]), int(r["n_chars"]))
           for r in docs.orderBy("n_chars", "doc_id").collect()]
    # every indexed doc matches MatchAll here (all texts non-empty)
    assert got == exp[:len(got)] and len(got) >= n - 1


def test_sorted_topk_boundary_ties(spark, sdv, searcher, docs):
    """Tie values straddling a ladder cut must not lose the smaller
    doc_id on the far side — the strict-inside guard."""
    m = searcher.match_docs(TermQuery("merge"))
    for k in (1, 3, 25):
        got = _pairs(sdv.topk(m, k=k).select("doc_id", "n_chars"))
        exp = _pairs(sort_by_fields(searcher, TermQuery("merge"), docs,
                                    [("n_chars", True, True)], k=k)
                     .select("doc_id", "n_chars"))
        assert got == exp


def test_sorted_scan_is_range_pruned(spark, sdv, searcher):
    """The early-terminated plan must carry the key-range predicate into
    the Parquet scan (PushedFilters) — the no-global-sort evidence."""
    cut = sdv.manifest["ladder"][0]["cut"]
    plan = (sdv._scan().filter(F.col("n_chars") <= cut)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan and "LessThanOrEqual(n_chars" in plan


def test_sorted_cursor_paging(spark, docs, searcher, sdv):
    """topk_after: page 2 from the last (key, doc_id) of page 1 must
    equal rows 10-20 of the one-shot sort — the index-sort CursorMark."""
    m = searcher.match_docs(TermQuery("merge"))
    full = _pairs(sort_by_fields(searcher, TermQuery("merge"), docs,
                                 [("n_chars", True, True)], k=20)
                  .select("doc_id", "n_chars"))
    p1 = _pairs(sdv.topk(m, k=10).select("doc_id", "n_chars"))
    last_doc, last_key = p1[-1]
    p2 = _pairs(sdv.topk_after(m, k=10, after=(last_key, last_doc))
                .select("doc_id", "n_chars"))
    assert p1 + p2 == full


@pytest.fixture(scope="module")
def sdv2(spark, tmp_path_factory):
    """Compound-sort generation over (lang asc, n_chars …) —
    IndexWriterConfig.setIndexSort with two SortFields."""
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "lang", "n_chars"))
    path = str(tmp_path_factory.mktemp("sorted_dv2"))
    m = build_sorted_docvalues(spark, docs, path, ["lang", "n_chars"])
    assert m["keys"] == ["lang", "n_chars"] and m["key"] == "lang"
    return SortedDocValues(spark, path)


def test_compound_sort_topk(spark, searcher, sdv2):
    matches = searcher.match_docs(TermQuery("merge"))
    want = {r["doc_id"] for r in matches.collect()}
    full = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "lang", "n_chars").collect())
    rows = [(r["lang"], r["n_chars"], r["doc_id"]) for r in full
            if r["doc_id"] in want]
    # mixed directions: lang asc, n_chars desc
    exp = sorted(rows, key=lambda t: (t[0], -t[1], t[2]))[:7]
    got = sdv2.topk(matches, 7, ascending=[True, False]).collect()
    assert [(r["lang"], r["n_chars"], r["doc_id"]) for r in got] == exp
    # both ascending
    exp2 = sorted(rows)[:7]
    got2 = sdv2.topk(matches, 7, ascending=True).collect()
    assert [(r["lang"], r["n_chars"], r["doc_id"]) for r in got2] == exp2


def test_compound_cursor_pages_cover_everything(spark, searcher, sdv2):
    # the match set is computed once: every page reads the cached docs
    # instead of re-running the query kernel
    matches = searcher.match_docs(TermQuery("merge")).cache()
    try:
        want = {r["doc_id"] for r in matches.collect()}
        full = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .select("doc_id", "lang", "n_chars").collect())
        rows = sorted((r["lang"], -r["n_chars"], r["doc_id"]) for r in full
                      if r["doc_id"] in want)
        exp_order = [(a, -bneg, d) for a, bneg, d in rows]
        pages, after = [], None
        while True:
            page = (sdv2.topk(matches, 5, ascending=[True, False])
                    if after is None else
                    sdv2.topk_after(matches, 5, after,
                                    ascending=[True, False]))
            got = [(r["lang"], r["n_chars"], r["doc_id"])
                   for r in page.collect()]
            if not got:
                break
            pages.extend(got)
            after = got[-1]
            if len(got) < 5:
                break
        assert pages == exp_order
        with pytest.raises(ValueError, match="after tuple"):
            sdv2.topk_after(matches, 5, ("en", 1))
        with pytest.raises(ValueError, match="directions"):
            sdv2.topk(matches, 5, ascending=[True])
    finally:
        matches.unpersist()

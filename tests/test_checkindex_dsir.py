"""Round-5 final additions: CheckIndex audit, SpanMultiTermQueryWrapper,
and DSIR importance weights.

CheckIndex mirrors the reference's TestCheckIndex.java strategy: a
healthy index reports all-zero consistency counters and corpus-exact
totals, and a deliberately corrupted index (dictionary drift, block
header drift) is DETECTED — an audit that cannot fail is not an audit.
DSIR is pinned against a pure-Python reimplementation of the paper's
formula (hash parity included), plus partitioning invariance.
"""

import dataclasses
import hashlib
import math

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import StandardAnalyzer
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.index.check import check_field as check_index
from lucene_solr_spark.pipeline.dsir import dsir_logratios, dsir_weights
from lucene_solr_spark.search import Searcher
from lucene_solr_spark.search.ast import SpanNearQuery, SpanOrQuery, SpanTermQuery
from lucene_solr_spark.search import multiterm as mt

ANN = StandardAnalyzer(stop_words=frozenset())

ROWS = [
    "sun sets slow over the sea",
    "slow key sun",
    "sea key sun key",
    "no match here at all",
    "sun slow sun key",
]


@pytest.fixture(scope="module")
def index(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ROWS)], "doc_id long, text string")
    idx = IndexBuilder(ANN, grid=4, with_positions=True).build(spark, docs)
    idx.postings = idx.postings.cache()
    idx.terms = idx.terms.cache()
    return idx


# ---------------------------------------------------------------------------
# CheckIndex
# ---------------------------------------------------------------------------

def test_check_index_healthy(index):
    rep = {r["check_name"]: r["value"]
           for r in check_index(index, "text").collect()}
    # hand-derived corpus facts (no stop words in ANN):
    toks = [r.split() for r in ROWS]
    assert rep["doc_count"] == len(ROWS)
    assert rep["sum_ttf"] == sum(len(t) for t in toks)
    assert rep["distinct_terms"] == len({w for t in toks for w in t})
    assert rep["sum_df"] == sum(len(set(t)) for t in toks)
    for zero in ("bad_blocks", "term_df_mismatches", "term_ttf_mismatches",
                 "norms_ttf_delta", "stats_delta"):
        assert rep[zero] == 0, zero


def test_check_index_detects_dictionary_drift(index):
    # inflate one term's df in the dictionary: the decoded postings no
    # longer agree -> term_df_mismatches fires (and sum_df moves)
    bad = dataclasses.replace(
        index,
        terms=index.terms.withColumn(
            "df", F.when(F.col("term") == "sun", F.col("df") + 1)
                   .otherwise(F.col("df"))))
    rep = {r["check_name"]: r["value"]
           for r in check_index(bad, "text").collect()}
    assert rep["term_df_mismatches"] == 1
    assert rep["bad_blocks"] == 0  # postings themselves untouched


def test_check_index_detects_block_header_drift(index):
    # shift one block's last_doc header: decode disagrees -> bad_blocks
    bad = dataclasses.replace(
        index,
        postings=index.postings.withColumn(
            "last_doc", F.when(F.col("term") == "key",
                               F.col("last_doc") + 1)
                         .otherwise(F.col("last_doc"))))
    rep = {r["check_name"]: r["value"]
           for r in check_index(bad, "text").collect()}
    assert rep["bad_blocks"] >= 1


def test_check_index_detects_orphan_dictionary_term(index, spark):
    # a dictionary term with no postings must surface via the full-outer
    # join, not vanish in an inner join
    extra = spark.createDataFrame(
        [("text", "ghostterm", 3, 7)], "field string, term string, df long, ttf long")
    cols = ["field", "term", "df", "ttf"]
    bad = dataclasses.replace(
        index, terms=index.terms.select(cols).unionByName(extra))
    rep = {r["check_name"]: r["value"]
           for r in check_index(bad, "text").collect()}
    assert rep["term_df_mismatches"] >= 1
    assert rep["term_ttf_mismatches"] >= 1


# ---------------------------------------------------------------------------
# SpanMultiTermQueryWrapper
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def searcher(spark, index):
    return Searcher(spark, index)


def test_span_mtq_expands_to_spanor(index):
    w = mt.span_multiterm_wrapper(index.terms, "s*", kind="wildcard")
    assert isinstance(w, SpanOrQuery)
    got = sorted(c.term for c in w.clauses)
    assert got == ["sea", "sets", "slow", "sun"]


def test_span_mtq_single_term_collapses(index):
    w = mt.span_multiterm_wrapper(index.terms, "se?s", kind="wildcard")
    assert isinstance(w, SpanTermQuery)
    assert w.term == "sets"


def test_span_mtq_empty_expansion_raises(index):
    with pytest.raises(ValueError, match="matches no dictionary term"):
        mt.span_multiterm_wrapper(index.terms, "zz*", kind="wildcard")
    with pytest.raises(ValueError, match="kind"):
        mt.span_multiterm_wrapper(index.terms, "s*", kind="phrase")


def test_span_mtq_composes_under_near(index, searcher):
    # spanNear([s*-wrapper, key], slop 2, ordered) must equal the same
    # query with the SpanOr written out by hand
    wrap = mt.span_multiterm_wrapper(index.terms, "s*", kind="wildcard")
    manual = SpanOrQuery(tuple(
        SpanTermQuery(t) for t in ("sea", "sets", "slow", "sun")))
    qa = SpanNearQuery(clauses=(wrap, SpanTermQuery("key")), slop=2,
                       in_order=True)
    qb = SpanNearQuery(clauses=(manual, SpanTermQuery("key")), slop=2,
                       in_order=True)
    a = searcher.top_k(qa, k=10)
    b = searcher.top_k(qb, k=10)
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()
    # semantics: docs where some s-term precedes 'key' within slop 2
    assert set(a["doc_id"].astype(int)) == {1, 2, 4}

    # prefix kind expands the same dictionary subset for this pattern
    wrap_p = mt.span_multiterm_wrapper(index.terms, "s", kind="prefix")
    qc = SpanNearQuery(clauses=(wrap_p, SpanTermQuery("key")), slop=2,
                       in_order=True)
    c = searcher.top_k(qc, k=10)
    assert c["doc_id"].tolist() == a["doc_id"].tolist()


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------

def _bucket(tok: str, buckets: int = 64) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % buckets


def _py_dsir(rows, is_target, buckets=64):
    """Pure-Python restatement of Xie et al. 2023 §3 with add-1 smoothing."""
    cr, ct = {}, {}
    for txt, tgt in zip(rows, is_target):
        for t in txt.split():
            b = _bucket(t, buckets)
            cr[b] = cr.get(b, 0) + 1
            if tgt:
                ct[b] = ct.get(b, 0) + 1
    r, tt = sum(cr.values()), sum(ct.values())
    lr = {b: math.log((ct.get(b, 0) + 1) / (tt + buckets))
          - math.log((cr[b] + 1) / (r + buckets)) for b in cr}
    return [sum(lr[_bucket(t, buckets)] for t in txt.split()) for txt in rows]


DSIR_ROWS = [
    ("quantum entanglement decoherence qubit", True),
    ("qubit teleportation quantum channel", True),
    ("recipe butter flour sugar oven", False),
    ("football referee penalty goal", False),
    ("quantum qubit decoherence channel", False),   # target-like raw doc
    ("", False),                                     # token-free doc
]


def test_dsir_matches_paper_formula(spark):
    docs = spark.createDataFrame(
        [(i, t, tgt) for i, (t, tgt) in enumerate(DSIR_ROWS)],
        "doc_id long, text string, is_t boolean")
    got = (dsir_weights(docs, F.col("is_t"), buckets=64)
           .orderBy("doc_id").collect())
    exp = _py_dsir([t for t, _ in DSIR_ROWS], [g for _, g in DSIR_ROWS])
    for row, e, (txt, _) in zip(got, exp, DSIR_ROWS):
        assert row["n_tokens"] == len(txt.split())
        assert row["weight"] == pytest.approx(e, abs=1e-9)
    # the target-like raw doc must outrank every off-target doc
    w = {r["doc_id"]: r["weight"] for r in got}
    assert w[4] > max(w[2], w[3])
    # token-free doc: defined, zero
    assert w[5] == 0.0 and got[5]["n_tokens"] == 0


def test_dsir_partition_invariant(spark):
    docs = spark.createDataFrame(
        [(i, t, tgt) for i, (t, tgt) in enumerate(DSIR_ROWS)],
        "doc_id long, text string, is_t boolean")
    a = (dsir_weights(docs.repartition(1), F.col("is_t"))
         .orderBy("doc_id").collect())
    b = (dsir_weights(docs.repartition(7), F.col("is_t"))
         .orderBy("doc_id").collect())
    assert [(r["doc_id"], r["n_tokens"], round(r["weight"], 9)) for r in a] \
        == [(r["doc_id"], r["n_tokens"], round(r["weight"], 9)) for r in b]


def _gumbel_key(doc_id: int, weight: float, temperature: float = 1.0) -> float:
    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
    u = (h + 0.5) / float(1 << 60)
    return weight / temperature - math.log(-math.log(u))


def test_dsir_select_gumbel_topk(spark):
    docs = spark.createDataFrame(
        [(i, t, tgt) for i, (t, tgt) in enumerate(DSIR_ROWS)],
        "doc_id long, text string, is_t boolean")
    from lucene_solr_spark.pipeline.dsir import dsir_select
    w = dsir_weights(docs, F.col("is_t"), buckets=64)
    wl = {r["doc_id"]: r["weight"] for r in w.collect()}
    got = dsir_select(w, n=3).collect()
    # exact paper-construction parity: top-3 keys computed in Python
    exp = sorted(((-_gumbel_key(d, wt), d) for d, wt in wl.items()))[:3]
    assert [r["doc_id"] for r in got] == [d for _, d in exp]
    for r in got:
        assert r["gkey"] == pytest.approx(_gumbel_key(r["doc_id"],
                                                      wl[r["doc_id"]]))
    # temperature → weights dominate the noise: at tiny temperature the
    # selection converges to pure top-weight
    cold = {r["doc_id"] for r in dsir_select(w, n=2,
                                             temperature=1e-6).collect()}
    assert cold == set(sorted(wl, key=lambda d: -wl[d])[:2])
    # reshard-stable
    again = dsir_select(w.repartition(5), n=3).collect()
    assert [r["doc_id"] for r in again] == [r["doc_id"] for r in got]


def test_dsir_logratio_table_shape(spark):
    docs = spark.createDataFrame(
        [(i, t, tgt) for i, (t, tgt) in enumerate(DSIR_ROWS)],
        "doc_id long, text string, is_t boolean")
    lr = dsir_logratios(docs, F.col("is_t"), buckets=64).collect()
    assert 0 < len(lr) <= 64
    assert len({r["bucket"] for r in lr}) == len(lr)

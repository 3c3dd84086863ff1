"""Composite span queries (SpanOr / SpanNot / SpanFirst / unordered +
nested SpanNear) — behavioral pins on hand-built corpora plus engine vs
pure-Python-oracle differentials (CheckHits pattern), mirroring the
reference's TestSpans.java / TestSpansAdvanced.java coverage."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER, StandardAnalyzer
from lucene_solr_spark.functions import bm25
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search import Searcher
from lucene_solr_spark.search.ast import (
    BooleanQuery, BoostQuery, Clause, DisjunctionMaxQuery,
    FieldMaskingSpanQuery, Occur, SpanFirstQuery, SpanNearQuery,
    SpanNotQuery, SpanOrQuery, SpanTermQuery, TermQuery,
)

from conftest import SF_DIR

K = 20
ANN = StandardAnalyzer(stop_words=frozenset())


def _mk(spark, rows):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string")
    oracle = OracleIndex(ANN)
    for r in docs.collect():
        oracle.add(r["doc_id"], r["text"])
    idx = IndexBuilder(ANN, grid=4, with_positions=True).build(spark, docs)
    idx.postings = idx.postings.cache()
    return oracle, Searcher(spark, idx)


def _assert_equal(got, exp, label):
    assert got["doc_id"].astype(int).tolist() == [d for d, _ in exp], label
    np.testing.assert_array_equal(
        got["score"].to_numpy().astype(np.float32),
        np.array([s for _, s in exp], dtype=np.float32), err_msg=label)


def _check(oracle, searcher, q, label, expect_ids=None):
    got = searcher.top_k(q, k=K)
    exp = oracle.search_ast(q, k=K)
    _assert_equal(got, exp, label)
    if expect_ids is not None:
        assert sorted(got["doc_id"].astype(int).tolist()) == sorted(
            expect_ids), label
    return got


def test_span_or_union(spark):
    oracle, s = _mk(spark, ["aa xx", "bb yy", "cc zz", "aa bb"])
    q = SpanOrQuery((SpanTermQuery("aa"), SpanTermQuery("bb")))
    _check(oracle, s, q, "span-or", expect_ids=[0, 1, 3])


def test_span_not_overlap(spark):
    """include 'aa' minus any overlap with the phrase-span 'aa bb'
    (TestSpans.testSpanNot shape): doc keeps only bare-'aa' spans."""
    oracle, s = _mk(spark, [
        "aa bb cc",        # only 'aa bb' span → rejected
        "aa cc bb",        # 'aa' not inside 'aa bb' → kept
        "aa bb aa cc",     # first aa rejected, second kept
        "bb cc dd",        # no include
    ])
    q = SpanNotQuery(SpanTermQuery("aa"),
                     SpanNearQuery(("aa", "bb"), slop=0))
    _check(oracle, s, q, "span-not", expect_ids=[1, 2])


def test_span_not_pre_post(spark):
    """pre/post widen the forbidden window (SpanNotQuery.java:66):
    pre=1 also rejects an include starting right AFTER an exclude
    ends; post=1 rejects one ending right BEFORE an exclude starts."""
    oracle, s = _mk(spark, [
        "xx aa yy",        # aa at 1; xx span [0,1)
        "aa xx yy",        # aa at 0 before xx [1,2)
        "yy zz aa",        # aa far from any xx
    ])
    base = SpanNotQuery(SpanTermQuery("aa"), SpanTermQuery("xx"))
    _check(oracle, s, base, "snot pre0post0", expect_ids=[0, 1, 2])
    q_pre = SpanNotQuery(SpanTermQuery("aa"), SpanTermQuery("xx"), pre=1)
    _check(oracle, s, q_pre, "snot pre1", expect_ids=[1, 2])
    q_post = SpanNotQuery(SpanTermQuery("aa"), SpanTermQuery("xx"), post=1)
    _check(oracle, s, q_post, "snot post1", expect_ids=[0, 2])


def test_span_not_dead_exclude_is_include(spark):
    """df=0 exclude → plain include (SpanNotQuery.java:136-139)."""
    oracle, s = _mk(spark, ["aa bb", "cc dd"])
    q = SpanNotQuery(SpanTermQuery("aa"), SpanTermQuery("nosuchterm"))
    got = _check(oracle, s, q, "snot dead-exclude", expect_ids=[0])
    plain = s.top_k(SpanTermQuery("aa"), k=K)
    np.testing.assert_array_equal(got["score"].to_numpy(),
                                  plain["score"].to_numpy())


def test_span_first(spark):
    """SpanFirstQuery end=N keeps spans ending at position ≤ N
    (TestSpans.testSpanFirst)."""
    oracle, s = _mk(spark, [
        "aa bb cc",        # aa ends at 1
        "bb aa cc",        # aa ends at 2
        "bb cc aa",        # aa ends at 3
    ])
    _check(oracle, s, SpanFirstQuery(SpanTermQuery("aa"), end=1),
           "sfirst end=1", expect_ids=[0])
    _check(oracle, s, SpanFirstQuery(SpanTermQuery("aa"), end=2),
           "sfirst end=2", expect_ids=[0, 1])
    # composite child: first-two-positions phrase
    q = SpanFirstQuery(SpanNearQuery(("bb", "cc"), slop=0), end=2)
    _check(oracle, s, q, "sfirst phrase", expect_ids=[2])


def test_span_near_unordered(spark):
    """in_order=False matches transpositions within slop
    (NearSpansUnordered); width is the window extent so tighter
    windows score higher."""
    oracle, s = _mk(spark, [
        "aa bb",           # adjacent ordered: extent 2
        "bb aa",           # adjacent transposed: extent 2
        "aa xx xx bb",     # gap 2: extent 4
        "aa xx xx xx bb",  # gap 3 > slop
        "bb cc dd",        # aa missing
    ])
    q = SpanNearQuery(("aa", "bb"), slop=2, in_order=False)
    got = _check(oracle, s, q, "unordered near", expect_ids=[0, 1, 2])
    by = dict(zip(got["doc_id"].astype(int), got["score"]))
    assert by[0] == by[1] > by[2]


def test_span_near_nested_clauses(spark):
    """SpanNear over composite clauses — the classic
    spanNear([spanOr([t1,t2]), t3]) shape (TestSpans.testSpanNearOr)."""
    oracle, s = _mk(spark, [
        "aa zz",       # or-branch aa, then zz
        "bb zz",       # or-branch bb
        "cc zz",       # no or-branch
        "zz aa",       # wrong order
    ])
    inner = SpanOrQuery((SpanTermQuery("aa"), SpanTermQuery("bb")))
    q = SpanNearQuery(clauses=(inner, SpanTermQuery("zz")), slop=0)
    _check(oracle, s, q, "near(or, term) ordered", expect_ids=[0, 1])
    qu = SpanNearQuery(clauses=(inner, SpanTermQuery("zz")), slop=0,
                       in_order=False)
    _check(oracle, s, qu, "near(or, term) unordered",
           expect_ids=[0, 1, 3])


def test_span_in_boolean_and_dismax(spark):
    """spantree leaves compose under bool/dismax like any other leaf."""
    oracle, s = _mk(spark, [
        "aa bb kk", "bb aa kk", "aa bb", "kk ll",
    ])
    sp = SpanNearQuery(("aa", "bb"), slop=0, in_order=False)
    q = BooleanQuery((Clause(Occur.MUST, sp),
                      Clause(Occur.SHOULD, TermQuery("kk"))))
    _check(oracle, s, q, "bool(span MUST, term SHOULD)",
           expect_ids=[0, 1, 2])
    d = DisjunctionMaxQuery((sp, TermQuery("kk")), tie_breaker=0.3)
    _check(oracle, s, d, "dismax(span, term)", expect_ids=[0, 1, 2, 3])
    n = BooleanQuery((Clause(Occur.MUST, TermQuery("kk")),
                      Clause(Occur.MUST_NOT, sp)))
    _check(oracle, s, n, "bool(term MUST, span MUST_NOT)",
           expect_ids=[3])


def test_span_near_repeated_term_one_weight(spark):
    """terms= and clauses= spell the same SpanNearQuery: same docs, same
    float32 scores. The weight sums idf over the DISTINCT terms
    (SpanWeight.java:100-118), so a repeated term counts once."""
    oracle, s = _mk(spark, [
        "aa bb aa",        # width 0
        "aa xx bb yy aa",  # width 2
        "aa bb cc",        # no aa after bb
        "bb aa bb aa",     # width 0
        "aa aa bb aa",     # two anchors: widths 1 and 0
        "cc dd",
    ])
    terms = ("aa", "bb", "aa")
    for slop in (0, 2):
        by_terms = SpanNearQuery(terms, slop=slop)
        by_clauses = SpanNearQuery(
            clauses=tuple(SpanTermQuery(t) for t in terms), slop=slop)
        a = _check(oracle, s, by_terms, f"terms= slop {slop}")
        b = _check(oracle, s, by_clauses, f"clauses= slop {slop}")
        assert len(a) == (3 if slop == 0 else 4)
        _assert_equal(a, list(zip(b["doc_id"].astype(int),
                                  b["score"].astype(np.float32))),
                      f"terms= vs clauses= slop {slop}")
    n = oracle.field_doc_count["text"]
    idf = np.float32(bm25.idf(oracle.df("aa"), n)
                     + bm25.idf(oracle.df("bb"), n))
    for q in (SpanNearQuery(terms, slop=2),
              SpanNearQuery(clauses=tuple(SpanTermQuery(t) for t in terms),
                            slop=2)):
        leaf = s._spec_for_plan(s._plan(BoostQuery(q, 2.0)), "f32", K,
                                True)[0]["tree"]
        assert leaf["w32"] == float(np.float32(np.float32(2.0) * idf))


def test_span_missing_required_term(spark):
    oracle, s = _mk(spark, ["aa bb", "bb cc"])
    q = SpanNearQuery(clauses=(SpanTermQuery("aa"),
                               SpanTermQuery("nosuch")), slop=5)
    got = s.top_k(q, k=K)
    assert len(got) == 0
    assert oracle.search_ast(q, k=K) == []


def test_span_corpus_differential(spark):
    """Engine ≡ oracle on the real sf documents corpus across composite
    span shapes built from genuinely co-occurring terms."""
    # title = the first 12 words of text: a parallel position space for
    # the FieldMaskingSpanQuery shape
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "title", F.concat_ws(" ", F.slice(F.split("text", " "), 1, 12)))
    pdf = docs.select("doc_id", "text", "title").toPandas()
    oracle = OracleIndex(ENGLISH_ANALYZER)
    for d, t, ti in zip(pdf["doc_id"], pdf["text"], pdf["title"]):
        oracle.add(int(d), t, fields={"title": ti})
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=64, with_positions=True,
                       fields=("text", "title")).build(spark, docs).cache()
    s = Searcher(spark, idx)
    # find an adjacent bigram to anchor realistic spans
    pos = oracle.positions["text"]
    t1 = t2 = None
    for a, dd in pos.items():
        for d, ps in dd.items():
            nxt = {p + 1 for p in ps}
            for b, dd2 in pos.items():
                if b != a and d in dd2 and nxt & set(dd2[d]):
                    t1, t2 = a, b
                    break
            if t1:
                break
        if t1:
            break
    assert t1 is not None
    third = max((t for t in pos if t not in (t1, t2)),
                key=lambda t: len(pos[t]))
    shapes = [
        ("or", SpanOrQuery((SpanTermQuery(t1), SpanTermQuery(t2)))),
        ("unordered", SpanNearQuery((t1, t2), slop=3, in_order=False)),
        ("not", SpanNotQuery(SpanTermQuery(t1), SpanTermQuery(third))),
        ("first", SpanFirstQuery(SpanTermQuery(t1), end=5)),
        ("nested", SpanNearQuery(clauses=(
            SpanOrQuery((SpanTermQuery(t1), SpanTermQuery(third))),
            SpanTermQuery(t2)), slop=4, in_order=False)),
        ("not-near", SpanNotQuery(
            SpanTermQuery(t1), SpanNearQuery((t1, t2), slop=0), post=1)),
        ("ordered", SpanNearQuery((t1, t2), slop=2)),
        ("first-near", SpanFirstQuery(SpanNearQuery((t1, t2), slop=1),
                                      end=8)),
        # the anchor reads title norms, not the scoring field's: the
        # bucket bound falls back to the weight
        ("masked-first", SpanNearQuery(clauses=(
            FieldMaskingSpanQuery(SpanTermQuery(t1, field="title"),
                                  field="text"),
            SpanTermQuery(t2)), slop=3)),
    ]
    for label, q in shapes:
        got = s.top_k(q, k=K)
        exp = oracle.search_ast(q, k=K)
        _assert_equal(got, exp, f"corpus span:{label}")
        exhaustive = s.top_k(q, k=K, prune=False)
        _assert_equal(got, list(zip(exhaustive["doc_id"].astype(int),
                                    exhaustive["score"].astype(np.float32))),
                      f"corpus span:{label} pruned vs exhaustive")
    anchors = {label: s._spec_for_plan(s._plan(q), "f32", K, True)[0]
               ["tree"]["anchor"] for label, q in shapes[-3:]}
    assert anchors == {"ordered": ("text", t1), "first-near": ("text", t1),
                       "masked-first": None}


def test_span_validation_errors(spark):
    with pytest.raises(ValueError):
        from lucene_solr_spark.search.executor import flatten_plan
        flatten_plan(SpanNearQuery(terms=("a",), slop=0))  # < 2 children
    from lucene_solr_spark.search.executor import flatten_plan
    with pytest.raises(ValueError):
        flatten_plan(SpanNearQuery(terms=("a", "b"),
                                   clauses=(SpanTermQuery("c"),)))
    with pytest.raises(ValueError):
        # clauses must share one field
        flatten_plan(SpanNearQuery(clauses=(
            SpanTermQuery("a", field="text"),
            SpanTermQuery("b", field="title")), slop=0, in_order=False))

"""End-to-end differential tests: Spark engine vs pure-Python Lucene oracle.

The CheckHits.checkTopScores pattern (`test-framework/.../CheckHits.java:
585-605`): the engine's pruned TOP_SCORES results must equal the oracle's
exhaustive results — docIDs AND float32 scores — under the HitQueue
tie-break. Corpus: the driver's documents.parquet (sf0.001, 500 docs) and
the synthetic pages generator.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import (BooleanQuery, Clause, Occur,
                                          PhraseQuery, TermQuery)

from conftest import SF_DIR

K = 10


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pdf = docs.select("doc_id", "text").toPandas()
    oracle = OracleIndex(ENGLISH_ANALYZER)
    for d, t in zip(pdf["doc_id"], pdf["text"]):
        oracle.add(int(d), t)
    builder = IndexBuilder(ENGLISH_ANALYZER, grid=64, with_positions=True)
    idx = builder.build(spark, docs).cache()
    return docs, oracle, idx


@pytest.fixture(scope="module")
def searcher(spark, corpus):
    _, _, idx = corpus
    return Searcher(spark, idx)


def _top_terms(oracle, n=5):
    post = oracle.postings["text"]
    return sorted(post, key=lambda t: -len(post[t]))[:n]


def _mid_terms(oracle, lo=3, hi=30, n=6):
    post = oracle.postings["text"]
    ts = [t for t in sorted(post) if lo <= len(post[t]) <= hi]
    return ts[:n]


def assert_topk_equal(got: pd.DataFrame, exp, label=""):
    exp_docs = [d for d, _ in exp]
    exp_scores = np.array([s for _, s in exp], dtype=np.float32)
    got_docs = got["doc_id"].astype(int).tolist()
    assert got_docs == exp_docs, f"{label}: docs {got_docs} != {exp_docs}"
    np.testing.assert_array_equal(
        got["score"].to_numpy().astype(np.float32), exp_scores,
        err_msg=f"{label}: float32 scores differ")


def test_index_stats_match_oracle(corpus):
    _, oracle, idx = corpus
    assert idx.stats["doc_count"] == oracle.doc_count
    assert idx.stats["sum_ttf"] == oracle.sum_ttf


def test_terms_table_matches_oracle(corpus):
    _, oracle, idx = corpus
    rows = idx.terms.collect()
    assert len(rows) == len(oracle.postings["text"])
    for r in rows:
        assert r["df"] == oracle.df(r["term"]), r["term"]
        assert r["ttf"] == oracle.ttf(r["term"]), r["term"]


def test_single_term_topk(searcher, corpus):
    _, oracle, _ = corpus
    for t in _top_terms(oracle, 3) + _mid_terms(oracle, n=3):
        got = searcher.top_k(TermQuery(t), k=K)
        assert_topk_equal(got, oracle.search_or([t], K), f"term:{t}")


def test_or_topk(searcher, corpus):
    _, oracle, _ = corpus
    head = _top_terms(oracle, 2)
    mid = _mid_terms(oracle, n=2)
    combos = [head, mid, head[:1] + mid, _top_terms(oracle, 5)]
    for terms in combos:
        q = BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(t)) for t in terms))
        got = searcher.top_k(q, k=K)
        assert_topk_equal(got, oracle.search_or(terms, K), f"or:{terms}")


def test_and_topk(searcher, corpus):
    _, oracle, _ = corpus
    terms = _top_terms(oracle, 2)
    q = BooleanQuery(tuple(Clause(Occur.MUST, TermQuery(t)) for t in terms))
    got = searcher.top_k(q, k=K)
    assert_topk_equal(got, oracle.search_and(terms, K), f"and:{terms}")


def test_must_not(searcher, corpus):
    _, oracle, _ = corpus
    a, b = _top_terms(oracle, 2)
    q = BooleanQuery((Clause(Occur.MUST, TermQuery(a)),
                      Clause(Occur.MUST_NOT, TermQuery(b))))
    got = searcher.top_k(q, k=K)
    exp = oracle.search_bool(must=[a], must_not=[b], k=K)
    assert_topk_equal(got, exp, f"+{a} -{b}")


def test_min_should_match(searcher, corpus):
    _, oracle, _ = corpus
    terms = _top_terms(oracle, 3)
    q = BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(t)) for t in terms),
                     min_should_match=2)
    got = searcher.top_k(q, k=K)
    exp = oracle.search_bool(should=terms, min_should_match=2, k=K)
    assert_topk_equal(got, exp, f"msm2:{terms}")


def test_pruned_equals_exhaustive(searcher, corpus):
    """WAND-pruned == exhaustive (checkTopScores differential) — OR,
    AND (BlockMaxConjunction role), msm, filter and mixed shapes all
    engage block skipping and must stay bit-identical."""
    _, oracle, _ = corpus
    t = _top_terms(oracle, 6)
    shapes = [
        BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(x)) for x in t[:4])),
        BooleanQuery((Clause(Occur.MUST, TermQuery(t[0])),
                      Clause(Occur.MUST, TermQuery(t[1])))),
        BooleanQuery((Clause(Occur.MUST, TermQuery(t[0])),
                      Clause(Occur.SHOULD, TermQuery(t[2])),
                      Clause(Occur.SHOULD, TermQuery(t[3])))),
        BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(x)) for x in t[:4]),
                     min_should_match=2),
        BooleanQuery((Clause(Occur.FILTER, TermQuery(t[0])),
                      Clause(Occur.SHOULD, TermQuery(t[1])),
                      Clause(Occur.SHOULD, TermQuery(t[4])))),
        BooleanQuery((Clause(Occur.MUST, TermQuery(t[1])),
                      Clause(Occur.MUST_NOT, TermQuery(t[5])))),
    ]
    for q in shapes:
        pruned = searcher.top_k(q, k=K, prune=True)
        full = searcher.top_k(q, k=K, prune=False)
        pd.testing.assert_frame_equal(pruned, full), str(q)


def test_phrase(searcher, corpus):
    docs, oracle, _ = corpus
    # find a bigram that actually occurs
    pdf = docs.select("text").toPandas()
    bigram = None
    for t in pdf["text"]:
        toks = ENGLISH_ANALYZER.tokens(t)
        if len(toks) >= 2:
            bigram = (toks[0], toks[1])
            break
    assert bigram
    got = searcher.top_k(PhraseQuery(bigram), k=K)
    exp = oracle.search_phrase(list(bigram), k=K)
    assert_topk_equal(got, exp, f"phrase:{bigram}")


def test_no_match_and_missing_terms(searcher, corpus):
    got = searcher.top_k(TermQuery("zzzznotaterm"), k=K)
    assert len(got) == 0
    q = parse_query("zzzznotaterm OR alsonotaterm", ENGLISH_ANALYZER)
    assert len(searcher.top_k(q, k=K)) == 0


def test_parser_roundtrip(searcher, corpus):
    _, oracle, _ = corpus
    a, b = _top_terms(oracle, 2)
    got = searcher.top_k(parse_query(f"{a} {b}", ENGLISH_ANALYZER), k=K)
    assert_topk_equal(got, oracle.search_or([a, b], K), "parser-or")
    got = searcher.top_k(parse_query(f"{a} AND {b}", ENGLISH_ANALYZER), k=K)
    assert_topk_equal(got, oracle.search_and([a, b], K), "parser-and")
    got = searcher.top_k(parse_query(f"+{a} -{b}", ENGLISH_ANALYZER), k=K)
    assert_topk_equal(got, oracle.search_bool(must=[a], must_not=[b], k=K),
                      "parser-notmust")


def test_count_matches_oracle(searcher, corpus):
    _, oracle, _ = corpus
    t = _top_terms(oracle, 1)[0]
    assert searcher.count(TermQuery(t)) == oracle.df(t)


def test_invert_rows_independent_of_arrow_batch_size(spark):
    """The raw rows of ``IndexBuilder.invert`` do not depend on the
    session's Arrow batch size: the invert stage coalesces its input
    batches itself."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    builder = IndexBuilder(ENGLISH_ANALYZER, with_offsets=True,
                           payload="position")
    prev = spark.conf.get(key)
    got = {}
    try:
        for n in (7, 10000):
            spark.conf.set(key, str(n))
            got[n] = sorted(tuple(r) for r in builder.invert(docs).collect())
    finally:
        spark.conf.set(key, prev)
    assert got[7] and got[7] == got[10000]

"""Arbitrary-depth boolean composition — engine vs pure-Python oracle.

The reference composes scorers recursively
(`search/Boolean2ScorerSupplier.java:100-127`); round 2's flat kernel
raised on anything past one nesting level. These differentials pin the
recursive tree plan: OR of ANDs, MUST of mixed phrase/term groups,
nested minShouldMatch, dismax over arbitrary disjuncts, MUST_NOT dismax,
boosts over nested groups — docIDs AND float32 scores must match the
oracle's tree interpreter (the CheckHits.checkTopScores pattern),
and pruned must equal exhaustive.

Also pins the per-partition top-k emission contract: the kernel yields
at most k rows per partition (one heap flush), never buckets × k.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import (BooleanQuery, BoostQuery, Clause,
                                          DisjunctionMaxQuery, Occur,
                                          PhraseQuery, TermQuery, rewrite)
from lucene_solr_spark.search.executor import (_bucket_kernel_multi,
                                               flatten_plan)

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
    return Searcher(spark, corpus[2])


def _top_terms(oracle, n=8):
    post = oracle.postings["text"]
    return sorted(post, key=lambda t: (-len(post[t]), t))[:n]


def _bigram(oracle):
    """A (t1, t2) adjacent pair occurring in >= 2 docs."""
    pos = oracle.positions["text"]
    from collections import Counter
    cnt = Counter()
    for t1, docs in pos.items():
        for d, ps in docs.items():
            nxt = {p + 1 for p in ps}
            for t2, docs2 in pos.items():
                if d in docs2 and nxt & set(docs2[d]):
                    cnt[(t1, t2)] += 1
                    break
        if cnt and max(cnt.values()) >= 2:
            break
    return max(cnt, key=cnt.get)


def assert_topk_equal(got: pd.DataFrame, exp, label=""):
    exp_docs = [d for d, _ in exp]
    exp_scores = np.array([s for _, s in exp], dtype=np.float32)
    got_docs = got["doc_id"].astype(int).tolist()
    assert got_docs == exp_docs, f"{label}: docs {got_docs} != {exp_docs}"
    np.testing.assert_array_equal(
        got["score"].to_numpy().astype(np.float32), exp_scores,
        err_msg=f"{label}: float32 scores differ")


def _shapes(oracle):
    t = _top_terms(oracle, 8)
    bg = _bigram(oracle)

    def term(x):
        return TermQuery(x)

    def AND(*qs):
        return BooleanQuery(tuple(Clause(Occur.MUST, q) for q in qs))

    def OR(*qs, msm=0):
        return BooleanQuery(tuple(Clause(Occur.SHOULD, q) for q in qs),
                            min_should_match=msm)

    return {
        # (a AND b) OR (c AND d) — the headline round-2 cliff
        "or_of_ands": OR(AND(term(t[0]), term(t[1])),
                         AND(term(t[2]), term(t[3]))),
        # MUST of a mixed phrase/term group
        "must_mixed_group": BooleanQuery((
            Clause(Occur.MUST, OR(PhraseQuery(bg), term(t[4]))),
            Clause(Occur.SHOULD, term(t[0])))),
        # minShouldMatch inside a nested group
        "nested_msm": BooleanQuery((
            Clause(Occur.MUST, term(t[0])),
            Clause(Occur.MUST, OR(term(t[1]), term(t[2]), term(t[3]),
                                  msm=2)))),
        # dismax over arbitrary disjuncts (phrase + term), tie != 0
        "dismax_phrase": DisjunctionMaxQuery(
            (PhraseQuery(bg), term(t[1])), 0.3),
        # dismax whose disjunct is a nested boolean
        "dismax_of_bool": DisjunctionMaxQuery(
            (AND(term(t[0]), term(t[1])), term(t[2])), 0.5),
        # MUST_NOT of a dismax (the silently-dropped ADVICE case)
        "must_not_dismax": BooleanQuery((
            Clause(Occur.MUST, term(t[0])),
            Clause(Occur.MUST_NOT,
                   DisjunctionMaxQuery((term(t[4]), term(t[5])), 0.0)))),
        # boost distributing over a nested composition
        "boosted_nested": BoostQuery(
            OR(AND(term(t[0]), term(t[1])), term(t[2])), 2.0),
        # FILTER of a nested AND (non-scoring required subtree)
        "filter_nested": BooleanQuery((
            Clause(Occur.FILTER, AND(term(t[0]), term(t[1]))),
            Clause(Occur.SHOULD, term(t[2])),
            Clause(Occur.SHOULD, term(t[3])))),
        # three levels deep
        "three_levels": OR(
            AND(term(t[0]), OR(term(t[1]), term(t[2]))),
            AND(term(t[3]), term(t[4]))),
        # +(a b) +(c d): two multi-member required groups, summed per
        # level ((a+b)+(c+d)) like Lucene's per-level scorer sums
        "two_required_groups": AND(OR(term(t[0]), term(t[1])),
                                   OR(term(t[2]), term(t[3]))),
    }


def test_nested_shapes_match_oracle(searcher, corpus):
    _, oracle, _ = corpus
    for label, q in _shapes(oracle).items():
        got = searcher.top_k(q, k=K)
        exp = oracle.search_ast(q, k=K)
        assert_topk_equal(got, exp, label)


def test_nested_shapes_route_to_tree_plan(corpus):
    """These shapes raised ValueError at executor.py flatten in round 2;
    every one must now produce a tree plan — the one plan form."""
    _, oracle, _ = corpus
    for label, q in _shapes(oracle).items():
        plan = flatten_plan(rewrite(q))
        assert isinstance(plan, dict) and set(plan) == {"tree"}, label


def test_nested_pruned_equals_exhaustive(searcher, corpus):
    _, oracle, _ = corpus
    for label, q in _shapes(oracle).items():
        pruned = searcher.top_k(q, k=K, prune=True)
        full = searcher.top_k(q, k=K, prune=False)
        pd.testing.assert_frame_equal(pruned, full), label


def test_parser_roundtrip_nested(searcher, corpus):
    _, oracle, _ = corpus
    t = _top_terms(oracle, 4)
    q = parse_query(f"({t[0]} AND {t[1]}) OR ({t[2]} AND {t[3]})",
                    ENGLISH_ANALYZER)
    got = searcher.top_k(q, k=K)
    exp = oracle.search_ast(q, k=K)
    assert_topk_equal(got, exp, "parser-or-of-ands")


def test_nested_count_and_f64(searcher, corpus):
    """Exhaustive (collect_all) tree path: count matches the oracle's
    match-set size."""
    _, oracle, _ = corpus
    shapes = _shapes(oracle)
    q = shapes["or_of_ands"]
    docs, _ = oracle._eval_tree_node(flatten_plan(rewrite(q))["tree"])
    assert searcher.count(q) == len(docs)


def test_partition_emission_bounded(searcher, corpus):
    """The kernel generator yields <= k rows per partition in top-k mode
    (one heap flush at exhaustion, never per-bucket frames)."""
    _, oracle, _ = corpus
    t = _top_terms(oracle, 3)
    q = BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(x)) for x in t))
    plan = searcher._plan(q)
    spec, live, dead = searcher._spec_for_plan(plan, "f32", k=K, prune=True)
    assert not dead
    pdf = searcher._collect_blocks(live)
    # the query matches far more docs than k across many buckets
    assert pdf["bucket"].nunique() > 1
    out = list(_bucket_kernel_multi([pdf], [spec]))
    total = sum(len(f) for f in out)
    assert len(out) == 1 and total <= K

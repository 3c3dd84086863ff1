"""Pure-negation routing guard (VERDICT r4 #9): grounded query trees
must NEVER take the `Searcher._compose` route — a MatchAll clause
there streams ALL live docs (as Lucene's MatchAllDocsQuery rewrite of a
pure-negation BooleanQuery must), so reaching it for a kernel-servable
shape would silently trade a postings-bounded scan for a corpus scan.
Cost envelope documented in docs/PLANS.md ("Composition").

The composed shapes themselves (MatchAll roots, negation wrappers,
MatchAll beside scored clauses) are checked against the pure-Python
oracle's tree interpreter, whose universe is every doc."""

from __future__ import annotations

import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import (BooleanQuery, Clause,
                                          DisjunctionMaxQuery, MatchAllQuery,
                                          Occur, PhraseQuery, TermQuery,
                                          rewrite)
from lucene_solr_spark.search.executor import flatten_plan
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def searcher(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = (IndexBuilder(ENGLISH_ANALYZER, grid=128, with_positions=True)
           .build(spark, docs.select("doc_id", "text")).cache())
    return Searcher(spark, idx)


def _is_unbounded(plan) -> bool:
    """The routes are {"tree"} and {"compose"}; anything but the tree
    is the all-docs composition, so a grounded shape must be "tree"."""
    assert isinstance(plan, dict) and set(plan) <= {"tree", "compose"}
    return "tree" not in plan


GROUNDED = [
    TermQuery("merge"),
    PhraseQuery(("merge", "plan")),
    BooleanQuery((Clause(Occur.MUST, TermQuery("merge")),
                  Clause(Occur.MUST, TermQuery("plan")))),
    BooleanQuery((Clause(Occur.SHOULD, TermQuery("merge")),
                  Clause(Occur.SHOULD, TermQuery("plan")))),
    # MUST_NOT bounded by a positive sibling — the Lucene-normal shape
    BooleanQuery((Clause(Occur.MUST, TermQuery("merge")),
                  Clause(Occur.MUST_NOT, TermQuery("plan")))),
    # nested: (a AND b) OR (c AND NOT d) — every branch anchored
    BooleanQuery((
        Clause(Occur.SHOULD, BooleanQuery((
            Clause(Occur.MUST, TermQuery("merge")),
            Clause(Occur.MUST, TermQuery("plan"))))),
        Clause(Occur.SHOULD, BooleanQuery((
            Clause(Occur.MUST, TermQuery("scan")),
            Clause(Occur.MUST_NOT, TermQuery("slow"))))))),
    DisjunctionMaxQuery((TermQuery("merge"), TermQuery("plan")), 0.1),
    # FILTER ∧ MatchAll folds away, leaving the grounded term
    BooleanQuery((Clause(Occur.MUST, TermQuery("merge")),
                  Clause(Occur.FILTER, MatchAllQuery()))),
]


@pytest.mark.parametrize("q", GROUNDED, ids=lambda q: type(q).__name__)
def test_grounded_trees_never_take_unbounded_path(searcher, q):
    assert not _is_unbounded(searcher._plan(q))


def test_parsed_grounded_queries_stay_in_kernel(searcher):
    for s in ("merge AND plan", "merge -plan", '"merge plan"~2',
              "(merge OR plan) AND scan", "merge plan scan"):
        assert not _is_unbounded(searcher._plan(
            parse_query(s, ENGLISH_ANALYZER))), s


def test_pure_must_not_rewrites_to_match_no(searcher):
    """Lucene: a BooleanQuery of only prohibited clauses matches
    NOTHING (it never reaches the live-docs path — there is no
    MatchAll to ground it)."""
    q = BooleanQuery((Clause(Occur.MUST_NOT, TermQuery("merge")),))
    assert searcher._plan(q) is None
    assert searcher.count(q) == 0


def test_negation_wrapper_takes_unbounded_and_matches_complement(searcher):
    """The shape that must route to the live-docs composition — a
    MatchAll grounded only by excludes (SimpleQueryParser '-term') —
    and its result set must equal live_docs minus the negated
    matches."""
    q = BooleanQuery((Clause(Occur.MUST, MatchAllQuery()),
                      Clause(Occur.MUST_NOT, TermQuery("merge"))))
    assert _is_unbounded(searcher._plan(q))
    got = {r["doc_id"] for r in searcher.match_docs(q).collect()}
    live = {r["doc_id"] for r in searcher._all_live_docs().collect()}
    pos = {r["doc_id"]
           for r in searcher.match_docs(TermQuery("merge")).collect()}
    assert got == live - pos and pos  # non-trivial complement


def _scores(searcher, q) -> dict:
    return {int(r["doc_id"]): r["score"]
            for r in searcher.score_all(q).collect()}


def test_match_all_must_with_optional_term(searcher):
    """`+*:* merge`: every live doc matches (the MatchAll clause is
    required), scored 1 plus merge's score where merge hits."""
    live = _scores(searcher, MatchAllQuery())
    merge = _scores(searcher, TermQuery("merge"))
    q = BooleanQuery((Clause(Occur.MUST, MatchAllQuery()),
                      Clause(Occur.SHOULD, TermQuery("merge"))))
    exp = {d: 1.0 + merge.get(d, 0.0) for d in live}
    assert merge and _scores(searcher, q) == pytest.approx(exp)


def test_filter_match_all_minus_term(searcher):
    """`#*:* -spark`: a FILTER MatchAll that is the only required clause
    survives rewrite (it is the match set), so the query is the live
    docs minus spark's, scored 0."""
    q = BooleanQuery((Clause(Occur.FILTER, MatchAllQuery()),
                      Clause(Occur.MUST_NOT, TermQuery("spark"))))
    live = {r["doc_id"] for r in
            searcher.match_docs(MatchAllQuery()).collect()}
    neg = {r["doc_id"] for r in
           searcher.match_docs(TermQuery("spark")).collect()}
    got = _scores(searcher, q)
    assert neg and set(got) == live - neg
    assert all(v == 0.0 for v in got.values())


def test_composed_shapes_match_oracle(spark, searcher):
    """Every composed shape against pyoracle's tree interpreter over
    all docs: the same doc set, scores within 1e-6 relative (f64
    composition against the oracle's float32)."""
    oracle = OracleIndex(ENGLISH_ANALYZER)
    pdf = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
           .select("doc_id", "text").toPandas())
    for d, t in zip(pdf["doc_id"], pdf["text"]):
        oracle.add(int(d), t)
    queries = [parse_query(s, ENGLISH_ANALYZER)
               for s in ("*:*", "+*:* -merge", "*:*^2 -merge -plan",
                         "merge OR (+*:* -plan)", "+*:* merge")]
    queries.append(BooleanQuery((Clause(Occur.FILTER, MatchAllQuery()),
                                 Clause(Occur.MUST_NOT,
                                        TermQuery("spark")))))
    for q in queries:
        assert _is_unbounded(searcher._plan(q)), q
        plan = flatten_plan(rewrite(q))
        if plan == "ALL":
            exp = dict(oracle.search_ast(q, k=len(oracle.all_docs)))
        else:
            docs, sc = oracle._eval_tree_node(plan["tree"])
            exp = {d: sc.get(d, 0.0) for d in docs}
        got = _scores(searcher, q)
        assert set(got) == set(exp), q
        assert got == pytest.approx({d: float(v) for d, v in exp.items()},
                                    rel=1e-6), q

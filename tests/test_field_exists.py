"""FieldExistsQuery (`index/NormsFieldExistsQuery.java:34`) + the
classic parser's `*:*` → MatchAllDocsQuery special case
(`queryparser/classic/QueryParserBase.java` getWildcardQuery) and
Solr's `field:*` / `field:[* TO *]` → exists rewrite
(`solr/core/src/java/org/apache/solr/schema/FieldType.java:863-878`).

Differential against brute-force doc sets computed straight from the
corpus DataFrame (the norms table is the ground truth: a doc has the
field iff it produced ≥1 indexed token)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.index.deletes import delete_docs
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import (BooleanQuery, Clause,
                                          FieldExistsQuery, MatchAllQuery,
                                          Occur, TermQuery)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def corpus(spark):
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            # sparse field: only every 3rd doc carries a tag (the others
            # get NULL → zero tokens → no norms row → "missing")
            .withColumn("tag", F.when(
                F.col("doc_id") % 3 == 0,
                F.concat_ws(" ", F.lit("alpha"),
                            F.substring("text", 1, 4)))
                .otherwise(F.lit(None).cast("string"))).cache())
    builder = IndexBuilder(ENGLISH_ANALYZER, grid=64, with_positions=True,
                           fields=("text", "tag"))
    idx = builder.build(spark, docs).cache()
    return docs, idx, Searcher(spark, idx)


def _tagged_ids(docs):
    return set(r["doc_id"] for r in
               docs.filter(F.col("tag").isNotNull())
                   .select("doc_id").collect())


# ---------------------------------------------------------------- parser

def test_parser_match_all():
    q = parse_query("*:*", ENGLISH_ANALYZER)
    assert isinstance(q, MatchAllQuery)


def test_parser_field_star():
    q = parse_query("tag:*", ENGLISH_ANALYZER)
    assert q == FieldExistsQuery("tag")


def test_parser_open_range():
    q = parse_query("tag:[* TO *]", ENGLISH_ANALYZER)
    assert q == FieldExistsQuery("tag")


def test_parser_bare_star_default_field():
    q = parse_query("*", ENGLISH_ANALYZER)
    assert q == FieldExistsQuery("text")


# -------------------------------------------------------------- executor

def test_standalone_exists(corpus):
    docs, _, s = corpus
    got = s.score_all(FieldExistsQuery("tag")).toPandas()
    assert set(got["doc_id"]) == _tagged_ids(docs)
    assert (got["score"] == 1.0).all()          # constant score 1


def test_count_and_match_docs(corpus):
    docs, _, s = corpus
    n = len(_tagged_ids(docs))
    assert s.count(FieldExistsQuery("tag")) == n
    assert s.match_docs(FieldExistsQuery("tag")).count() == n


def test_must_exists_adds_constant(corpus):
    docs, _, s = corpus
    tagged = _tagged_ids(docs)
    base = s.score_all(TermQuery("merge")).toPandas()
    q = BooleanQuery((Clause(Occur.MUST, TermQuery("merge")),
                      Clause(Occur.MUST, FieldExistsQuery("tag"))))
    got = s.score_all(q).toPandas().set_index("doc_id")["score"]
    exp = {int(r["doc_id"]): r["score"] + 1.0
           for _, r in base.iterrows() if int(r["doc_id"]) in tagged}
    assert dict(got.items()) == pytest.approx(exp)


def test_filter_exists_keeps_score(corpus):
    docs, _, s = corpus
    tagged = _tagged_ids(docs)
    base = s.score_all(TermQuery("merge")).toPandas()
    q = BooleanQuery((Clause(Occur.MUST, TermQuery("merge")),
                      Clause(Occur.FILTER, FieldExistsQuery("tag"))))
    got = s.score_all(q).toPandas().set_index("doc_id")["score"]
    exp = {int(r["doc_id"]): r["score"]
           for _, r in base.iterrows() if int(r["doc_id"]) in tagged}
    assert dict(got.items()) == pytest.approx(exp)


def test_must_not_exists(corpus):
    docs, _, s = corpus
    tagged = _tagged_ids(docs)
    base = s.score_all(TermQuery("merge")).toPandas()
    q = parse_query("+merge -tag:*", ENGLISH_ANALYZER)
    got = s.score_all(q).toPandas()
    exp_ids = {int(d) for d in base["doc_id"] if int(d) not in tagged}
    assert set(got["doc_id"]) == exp_ids


def test_exists_minus_term(corpus):
    """MUST_NOT-only residue rides the exists base as an anti-join."""
    docs, _, s = corpus
    tagged = _tagged_ids(docs)
    merge_ids = set(s.match_docs(TermQuery("merge")).toPandas()["doc_id"])
    q = parse_query("tag:* -merge", ENGLISH_ANALYZER)
    got = s.score_all(q).toPandas()
    assert set(got["doc_id"]) == tagged - merge_ids
    assert (got["score"] == 1.0).all()


def test_should_union(corpus):
    """`tag:* OR merge` — union of the exists set and the scored term;
    scores add where both match (BooleanWeight sums optional scorers)."""
    docs, _, s = corpus
    tagged = _tagged_ids(docs)
    base = {int(r["doc_id"]): r["score"] for _, r in
            s.score_all(TermQuery("merge")).toPandas().iterrows()}
    q = parse_query("tag:* OR merge", ENGLISH_ANALYZER)
    got = s.score_all(q).toPandas().set_index("doc_id")["score"]
    exp = {d: base.get(d, 0.0) + (1.0 if d in tagged else 0.0)
           for d in tagged | set(base)}
    assert dict(got.items()) == pytest.approx(exp)


def test_must_exists_optional_should(corpus):
    """`+tag:* merge` — every tagged doc matches; the SHOULD term adds
    its BM25 score only where it hits (optional under a MUST anchor)."""
    docs, _, s = corpus
    tagged = _tagged_ids(docs)
    base = {int(r["doc_id"]): r["score"] for _, r in
            s.score_all(TermQuery("merge")).toPandas().iterrows()}
    q = parse_query("+tag:* merge", ENGLISH_ANALYZER)
    got = s.score_all(q).toPandas().set_index("doc_id")["score"]
    exp = {d: 1.0 + base.get(d, 0.0) for d in tagged}
    assert dict(got.items()) == pytest.approx(exp)


def _scores(s, q) -> dict:
    return {int(r["doc_id"]): r["score"] for r in s.score_all(q).collect()}


def test_should_exists_msm(corpus):
    """min_should_match counts an exists clause like any SHOULD clause
    (BooleanWeight): msm=2 over `merge` and `tag:*` keeps the tagged
    merge docs, scored merge + 1."""
    docs, _, s = corpus
    tagged = _tagged_ids(docs)
    q = BooleanQuery((Clause(Occur.SHOULD, TermQuery("merge")),
                      Clause(Occur.SHOULD, FieldExistsQuery("tag"))),
                     min_should_match=2)
    exp = {d: v + 1.0 for d, v in _scores(s, TermQuery("merge")).items()
           if d in tagged}
    assert exp and _scores(s, q) == pytest.approx(exp)


def test_nested_exists(corpus):
    """`+merge +(dup OR tag:*)` — an exists clause below the root: the
    MUST group adds dup's score and the exists constant where each
    matches, and bounds the match set."""
    docs, _, s = corpus
    tagged = _tagged_ids(docs)
    merge = _scores(s, TermQuery("merge"))
    dup = _scores(s, TermQuery("dup"))
    group = {d: dup.get(d, 0.0) + (1.0 if d in tagged else 0.0)
             for d in set(dup) | tagged}
    q = BooleanQuery((
        Clause(Occur.MUST, TermQuery("merge")),
        Clause(Occur.MUST, BooleanQuery((
            Clause(Occur.SHOULD, TermQuery("dup")),
            Clause(Occur.SHOULD, FieldExistsQuery("tag")))))))
    exp = {d: v + group[d] for d, v in merge.items() if d in group}
    assert set(exp) & set(dup) and set(exp) - set(dup)
    assert _scores(s, q) == pytest.approx(exp)


def test_exists_respects_deletes(spark, corpus):
    docs, idx, _ = corpus
    victims = sorted(_tagged_ids(docs))[:2]
    idx2 = delete_docs(spark, idx, victims)
    s2 = Searcher(spark, idx2)
    got = set(s2.score_all(FieldExistsQuery("tag")).toPandas()["doc_id"])
    assert got == _tagged_ids(docs) - set(victims)


def test_match_all_star_topk(corpus):
    """`*:*` end-to-end: first k live docs, constant score, like the
    MatchAllQuery AST path."""
    docs, _, s = corpus
    got = s.top_k(parse_query("*:*", ENGLISH_ANALYZER), k=5)
    assert got["doc_id"].tolist() == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect())[:5]
    assert (got["score"].to_numpy() == np.float32(1.0)).all()

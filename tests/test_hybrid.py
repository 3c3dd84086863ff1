"""Reciprocal Rank Fusion (search/hybrid.py) — formula parity against
the published definition (Cormack 2009: Σ w_i/(k+rank_i)), missing-doc
semantics, weighting, input validation, and an end-to-end BM25+ANN fuse
over the real engine surfaces."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.search.hybrid import rrf_fuse


def _df(spark, rows, score_name="score"):
    return spark.createDataFrame(rows, f"doc_id long, {score_name} double")


def test_rrf_formula_and_missing_docs(spark):
    # list A ranks 10,20,30; list B ranks 30,10 (doc 20 missing from B)
    a = _df(spark, [(10, 9.0), (20, 5.0), (30, 1.0)])
    b = _df(spark, [(30, 0.9), (10, 0.2)], score_name="cos")
    got = {r["doc_id"]: r for r in rrf_fuse([a, b], k=60).collect()}
    assert got[10]["rrf"] == pytest.approx(1 / 61 + 1 / 62)
    assert got[20]["rrf"] == pytest.approx(1 / 62)          # only list A
    assert got[30]["rrf"] == pytest.approx(1 / 63 + 1 / 61)
    assert [got[d]["n_lists"] for d in (10, 20, 30)] == [2, 1, 2]
    # fusion order: 30 and 10 beat the single-list doc 20
    ranked = sorted(got, key=lambda d: -got[d]["rrf"])
    assert ranked[-1] == 20


def test_rrf_tiebreak_and_weights(spark):
    # equal scores tie-break by doc_id asc → doc 1 gets rank 1
    a = _df(spark, [(2, 5.0), (1, 5.0)])
    got = {r["doc_id"]: r["rrf"] for r in rrf_fuse([a], k=10).collect()}
    assert got[1] == pytest.approx(1 / 11)
    assert got[2] == pytest.approx(1 / 12)
    # per-list weights scale contributions
    b = _df(spark, [(1, 1.0)], score_name="cos")
    got = {r["doc_id"]: r["rrf"]
           for r in rrf_fuse([a, b], k=10, weights=[1.0, 3.0]).collect()}
    assert got[1] == pytest.approx(1 / 11 + 3 / 11)


def test_rrf_validation(spark):
    a = _df(spark, [(1, 1.0)])
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with pytest.raises(ValueError, match="len\\(weights\\)"):
        rrf_fuse([a], weights=[1.0, 2.0])
    with pytest.raises(ValueError, match="exactly"):
        rrf_fuse([a.withColumn("extra", F.lit(1))])


def test_rrf_end_to_end_bm25_plus_ann(spark):
    """Fuse the real BM25 searcher with the real cosine ANN over the
    test corpus; the fused list must (a) respect the RRF recomputation
    from the two input rankings and (b) contain docs from both."""
    from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
    from lucene_solr_spark.index.builder import IndexBuilder
    from lucene_solr_spark.pipeline import similarity as sim
    from lucene_solr_spark.search import Searcher
    from lucene_solr_spark.search.ast import TermQuery

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=128).build(spark, docs)
    s = Searcher(spark, idx)
    bm = (s.score_all(TermQuery("key"), mode="f64")
          .orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
          .select("doc_id", "score"))
    qv = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    ann = (sim.cosine_topk(emb, qv, 20)
           .select(F.col("vec_id").alias("doc_id"), "cos"))
    fused = rrf_fuse([bm, ann], k=60).orderBy(F.desc("rrf"), "doc_id")
    rows = fused.collect()

    bm_r = {r["doc_id"]: i + 1 for i, r in enumerate(bm.collect())}
    an_r = {r["doc_id"]: i + 1 for i, r in enumerate(ann.collect())}
    assert len(rows) == len(set(bm_r) | set(an_r))
    for r in rows:
        exp = (1 / (60 + bm_r[r["doc_id"]]) if r["doc_id"] in bm_r else 0) \
            + (1 / (60 + an_r[r["doc_id"]]) if r["doc_id"] in an_r else 0)
        assert r["rrf"] == pytest.approx(exp)
        assert r["n_lists"] == (r["doc_id"] in bm_r) + (r["doc_id"] in an_r)

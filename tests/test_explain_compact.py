"""explain() score decomposition (CheckHits.checkExplanations pattern),
seam compaction (TieredMergePolicy-lite), and persisted-IVF partition
pruning."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.index.check import check_index
from lucene_solr_spark.index.compact import compact, needs_compaction
from lucene_solr_spark.index.merge import append
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import (BooleanQuery, Clause,
                                          DisjunctionMaxQuery,
                                          MultiPhraseQuery, Occur,
                                          PhraseQuery, SpanNearQuery,
                                          TermQuery)
from lucene_solr_spark.search.explain import explain
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").cache())


def _builder():
    return IndexBuilder(ENGLISH_ANALYZER, grid=128, with_positions=True)


@pytest.fixture(scope="module")
def searcher(spark, docs):
    idx = _builder().build(spark, docs).cache()
    return Searcher(spark, idx)


# ---------------------------------------------------------------------------
# explain — totals must equal kernel scores (float32, CheckHits.java:280)
# ---------------------------------------------------------------------------

EXPLAIN_QUERIES = [
    "merge",
    "spark merge fast",
    "spark AND table",
    '"key agg"~2',
]


@pytest.mark.parametrize("qs", EXPLAIN_QUERIES)
def test_explain_matches_kernel_scores(searcher, qs):
    q = parse_query(qs, ENGLISH_ANALYZER)
    top = searcher.top_k(q, k=10)
    assert len(top) > 0, qs
    ex = explain(searcher, q, top["doc_id"].astype(int).tolist())
    for _, row in top.iterrows():
        e = ex[int(row["doc_id"])]
        assert e["match"], (qs, row["doc_id"])
        assert np.float32(e["value"]) == np.float32(row["score"]), \
            (qs, row["doc_id"], e["value"], row["score"])
        # clause values must sum (f32, clause order) to the total
        acc = np.float32(0.0)
        for d in e["details"]:
            acc = np.float32(acc + np.float32(d["value"]))
        assert acc == np.float32(row["score"])


EXPLAIN_TREES = {
    "span_near": SpanNearQuery(terms=("key", "agg"), slop=2),
    "multiphrase": MultiPhraseQuery(slots=(("key",), ("agg", "merge")),
                                    slop=2),
    # +a -(b | c): a dismax under MUST_NOT
    "must_not_dismax": BooleanQuery((
        Clause(Occur.MUST, TermQuery("spark")),
        Clause(Occur.MUST_NOT, DisjunctionMaxQuery(
            (TermQuery("dup"), TermQuery("table")), 0.0)))),
    # (a AND b) OR c
    "nested_or_of_and": BooleanQuery((
        Clause(Occur.SHOULD, BooleanQuery((
            Clause(Occur.MUST, TermQuery("spark")),
            Clause(Occur.MUST, TermQuery("table"))))),
        Clause(Occur.SHOULD, TermQuery("merge")))),
}


@pytest.mark.parametrize("label", list(EXPLAIN_TREES))
def test_explain_tree_shapes(searcher, label):
    """Every leaf kind and nesting depth: the value is the top_k float32
    score bit for bit, and the top-level details sum (f32, kernel
    order) to it."""
    q = EXPLAIN_TREES[label]
    top = searcher.top_k(q, k=10)
    assert len(top) > 0, label
    ex = explain(searcher, q, top["doc_id"].astype(int).tolist())
    for _, row in top.iterrows():
        e = ex[int(row["doc_id"])]
        assert e["match"], (label, row["doc_id"])
        assert np.float32(e["value"]) == np.float32(row["score"]), \
            (label, row["doc_id"], e["value"], row["score"])
        acc = np.float32(0.0)
        for d in e["details"]:
            acc = np.float32(acc + np.float32(d["value"]))
        assert acc == np.float32(row["score"]), (label, e["details"])


def test_explain_dismax_and_nonmatch(searcher):
    q = DisjunctionMaxQuery((TermQuery("spark"), TermQuery("merge")), 0.3)
    top = searcher.top_k(q, k=5)
    ex = explain(searcher, q, top["doc_id"].astype(int).tolist() + [10 ** 9])
    for _, row in top.iterrows():
        assert np.float32(ex[int(row["doc_id"])]["value"]) == \
            np.float32(row["score"])
    assert ex[10 ** 9]["match"] is False


def test_explain_excluded_doc(searcher):
    q = BooleanQuery((Clause(Occur.MUST, TermQuery("spark")),
                      Clause(Occur.MUST_NOT, TermQuery("dup"))))
    both = searcher.match_docs(TermQuery("spark")).join(
        searcher.match_docs(TermQuery("dup")), "doc_id").limit(1).collect()
    if both:
        d = int(both[0]["doc_id"])
        assert explain(searcher, q, [d])[d]["match"] is False


# ---------------------------------------------------------------------------
# compaction
# ---------------------------------------------------------------------------

QUERIES = ["merge", "spark merge fast", "spark AND table", '"key agg"',
           "(spark OR merge) AND fast"]


def test_compact_after_appends(spark, docs):
    """5 appends fragment block runs at generation seams; compact must
    bound blocks-per-run, keep CheckIndex green, and leave every query
    result bit-identical."""
    parts = [docs.filter((F.col("doc_id") >= 100 * i)
                         & (F.col("doc_id") < 100 * (i + 1)))
             for i in range(5)]
    idx = _builder().build(spark, parts[0])
    for p in parts[1:]:
        idx = append(spark, idx, p, _builder())
    idx.postings = idx.postings.cache()
    assert needs_compaction(idx, max_blocks_per_run=1)

    cidx = compact(spark, idx)
    cidx.postings = cidx.postings.cache()

    # fully packed: every run has exactly ceil(n/128) blocks
    frag = (cidx.postings.groupBy("field", "term", "bucket")
            .agg(F.count("*").alias("nb"), F.sum("doc_count").alias("n"))
            .filter(F.col("nb") != F.ceil(F.col("n") / 128)))
    assert frag.count() == 0
    assert not needs_compaction(cidx, max_blocks_per_run=1)

    res = check_index(cidx)
    assert res["ok"], res["errors"]

    s_frag = Searcher(spark, idx)
    s_comp = Searcher(spark, cidx)
    for qs in QUERIES:
        q = parse_query(qs, ENGLISH_ANALYZER)
        a = s_frag.top_k(q, k=10)
        b = s_comp.top_k(q, k=10)
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), qs
        assert a["score"].tolist() == b["score"].tolist(), qs
    idx.release()
    cidx.release()


# ---------------------------------------------------------------------------
# persisted IVF: partition pruning + recall vs brute force
# ---------------------------------------------------------------------------

def test_ivf_persisted_prunes_and_recalls(spark, tmp_path_factory):
    from lucene_solr_spark.pipeline import similarity as sim
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    path = str(tmp_path_factory.mktemp("ivf"))
    sim.build_ivf_index(spark, emb, path, n_cells=8, iters=1)
    qv = emb.filter("vec_id = 0").select("embedding").collect()[0][0]

    top = sim.ivf_topk_persisted(spark, path, qv, n_probe=2, k=10)
    plan = top._jdf.queryExecution().executedPlan().toString()
    # Parquet partition pruning on the cell directory key
    assert "PartitionFilters: [" in plan and "cell" in plan, plan

    got = [r["vec_id"] for r in top.collect()]
    brute = [r["vec_id"] for r in
             sim.cosine_topk(emb, qv, 10).collect()]
    recall = len(set(got) & set(brute)) / 10.0
    assert recall >= 0.5, (recall, got, brute)
    # probing MORE cells must monotonically improve recall to 1.0
    all_cells = sim.ivf_topk_persisted(spark, path, qv, n_probe=8, k=10)
    assert [r["vec_id"] for r in all_cells.collect()] == brute

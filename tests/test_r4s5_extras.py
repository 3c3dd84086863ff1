"""Round-4 session-5 operators: dictionary text tagger, CoveringQuery,
json.facet unique/hll, C4 cleaning rules, context-filtered suggester,
search-results clustering.

References: solr TaggerRequestHandler / TagClusterReducer, lucene
sandbox CoveringQuery, solr UniqueAgg/HLLAgg, Raffel et al. 2020 (C4),
lucene suggest ContextQuery, solr ClusteringComponent (carrot2).
"""

import re

import pyspark.sql.functions as F
import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.search import Searcher
from lucene_solr_spark.search.ast import (BooleanQuery, Clause, Occur,
                                          TermQuery)
from lucene_solr_spark.search.clustering import cluster_top_docs
from lucene_solr_spark.search.extras import covering_query
from lucene_solr_spark.search.facets import facet_unique
from lucene_solr_spark.search.suggest import suggest_with_contexts
from lucene_solr_spark.search.tagger import tag_counts, tag_documents
from lucene_solr_spark.pipeline.textstats import c4_rules

from conftest import SF_DIR


@pytest.fixture(scope="module")
def env(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=256).build(spark, docs)
    idx = idx.cache()
    yield docs, idx, Searcher(spark, idx)
    idx.release()


# -- text tagger -------------------------------------------------------

DICT = [("ny", "new york"), ("nyc", "new york city"), ("york", "york")]


def _mini(spark):
    rows = [(0, "i love new york city a lot"),
            (1, "york new york york"),
            (2, "nothing here"),
            (3, "a a a")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tagger_all_occurrences(spark):
    got = {(r["doc_id"], r["tag"], r["start_pos"], r["end_pos"])
           for r in tag_documents(_mini(spark), DICT).collect()}
    assert got == {
        (0, "ny", 2, 4), (0, "nyc", 2, 5), (0, "york", 3, 4),
        (1, "york", 0, 1), (1, "ny", 1, 3), (1, "york", 2, 3),
        (1, "york", 3, 4),
    }


def test_tagger_overlapping_starts(spark):
    # phrase "a a" occurs at starts 0 and 1 in "a a a" — the tagger must
    # emit BOTH (regexp non-overlapping scans would find only one)
    got = tag_documents(_mini(spark), [("aa", "a a")]).collect()
    assert {(r["start_pos"], r["end_pos"]) for r in got} == {(0, 2), (1, 3)}


def test_tagger_longest_dominant_right(spark):
    # TagClusterReducer.LONGEST_DOMINANT_RIGHT: "new york city" (len 3)
    # wins over "new york" and "york"; on doc 1 "new york" (len 2) wins,
    # then the non-overlapping standalone "york"s survive
    got = tag_documents(_mini(spark), DICT,
                        overlaps="LONGEST_DOMINANT_RIGHT").collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], set()).add(
            (r["tag"], r["start_pos"], r["end_pos"]))
    assert by_doc[0] == {("nyc", 2, 5)}
    assert by_doc[1] == {("york", 0, 1), ("ny", 1, 3), ("york", 3, 4)}


def test_tag_counts(spark):
    got = {r["tag"]: (r["n_tags"], r["n_docs"])
           for r in tag_counts(_mini(spark), DICT).collect()}
    assert got == {"ny": (2, 2), "nyc": (1, 1), "york": (4, 2)}


# -- CoveringQuery -----------------------------------------------------

def test_covering_constant_threshold_equals_msm(spark, env):
    docs, _, searcher = env
    terms = ("spark", "merge", "fast")
    clauses = [TermQuery(t) for t in terms]
    cov = covering_query(searcher, clauses, docs, F.lit(2))
    msm = BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(t))
                             for t in terms), min_should_match=2)
    cov_docs = {r["doc_id"] for r in cov.collect()}
    msm_docs = {r["doc_id"] for r in searcher.match_docs(msm).collect()}
    assert cov_docs == msm_docs and cov_docs


def test_covering_dynamic_threshold(spark, env):
    docs, _, searcher = env
    terms = ("spark", "merge", "fast")
    clauses = [TermQuery(t) for t in terms]
    thr = (F.col("doc_id") % 2 + 1).cast("long")
    got = {r["doc_id"]: r["n_matching"]
           for r in covering_query(searcher, clauses, docs, thr).collect()}
    # python oracle over raw text (analyzer: none of these are stopwords)
    raw = docs.select("doc_id", "text").collect()
    for r in raw:
        toks = set(re.findall(r"[a-z0-9]+", r["text"].lower()))
        n = sum(t in toks for t in terms)
        need = r["doc_id"] % 2 + 1
        if n >= need and n > 0:
            assert got[r["doc_id"]] == n
        else:
            assert r["doc_id"] not in got


def test_covering_score_is_clause_sum(spark, env):
    docs, _, searcher = env
    clauses = [TermQuery("spark"), TermQuery("merge")]
    cov = {r["doc_id"]: r["score"]
           for r in covering_query(searcher, clauses, docs,
                                   F.lit(1)).collect()}
    per = {}
    for c in clauses:
        for r in searcher.score_all(c, mode="f64").collect():
            per[r["doc_id"]] = per.get(r["doc_id"], 0.0) + r["score"]
    assert set(cov) == set(per)
    for d, s in cov.items():
        assert abs(s - per[d]) < 1e-9


# -- facet unique / hll ------------------------------------------------

def test_facet_unique_exact(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {r["bucket"]: (r["unique"], r["count"])
           for r in facet_unique(docs, None, "lang", "source").collect()}
    exp = {r["lang"]: (r["u"], r["c"]) for r in
           docs.groupBy("lang").agg(
               F.countDistinct("source").alias("u"),
               F.count("*").alias("c")).collect()}
    assert got == exp


def test_facet_unique_hll_close_to_exact(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {r["bucket"]: r["unique"]
             for r in facet_unique(docs, None, "lang", "doc_id").collect()}
    approx = {r["bucket"]: r["unique"]
              for r in facet_unique(docs, None, "lang", "doc_id",
                                    approx=True, rsd=0.02).collect()}
    for b, e in exact.items():
        assert abs(approx[b] - e) <= max(3, 0.08 * e)


# -- C4 rules ----------------------------------------------------------

def test_c4_line_and_page_rules(spark):
    rows = [
        (0, "this line has five good words.\nshort one.\n"
            "another line with many words here!\nno terminal punct line "
            "with words"),
        (1, "lorem ipsum dolor sit amet here.\nthis line has five good "
            "words.\nmore words ending with marks done?\nthird full "
            "sentence line right here."),
        (2, "var x = {a: 1} something.\nfiller words line ending now.\n"
            "yet another proper line here.\nand one more decent line too."),
        (3, "uses javascript for the page today.\nfirst full sentence "
            "line is here.\nsecond full sentence line is here.\nthird "
            "full sentence line is here."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_rules(df).collect()}
    # doc 0: lines kept = 2 (5-word terminal-punct ones) -> 2 sentences < 3
    assert got[0]["n_kept_lines"] == 2 and not got[0]["keep"]
    # doc 1: 4 qualifying lines but page contains "lorem ipsum"
    assert got[1]["has_lorem"] and not got[1]["keep"]
    # doc 2: contains '{'
    assert got[2]["has_brace"] and not got[2]["keep"]
    # doc 3: javascript LINE dropped, 3 clean sentences remain -> keep
    assert got[3]["n_kept_lines"] == 3 and got[3]["keep"]
    assert "javascript" not in got[3]["clean_text"]


# -- context suggester -------------------------------------------------

def test_suggest_with_contexts(spark):
    rows = [(0, "table scan", "src0", 10), (1, "table merge", "src1", 30),
            (2, "table sort", "src2", 20), (3, "window agg", "src0", 40),
            (4, "table part", "src0", 25)]
    df = spark.createDataFrame(
        rows, "doc_id long, title string, source string, n_chars long")
    got = suggest_with_contexts(df, "table", ["src0", "src1"], k=2).collect()
    assert [(r["suggestion"], r["context"], r["weight"]) for r in got] == \
        [("table merge", "src1", 30), ("table part", "src0", 25)]


# -- results clustering ------------------------------------------------

def test_clustering_groups_topics(spark, env):
    docs, _, searcher = env
    res1 = cluster_top_docs(searcher, TermQuery("table"), docs,
                            k=30, n_clusters=3).collect()
    res2 = cluster_top_docs(searcher, TermQuery("table"), docs,
                            k=30, n_clusters=3).collect()
    assert [tuple(r) for r in res1] == [tuple(r) for r in res2]  # determinism
    assert len(res1) == 30
    cids = {r["cluster_id"] for r in res1}
    assert cids == set(range(len(cids))) and len(cids) >= 2
    # labels are non-empty and cluster 0 contains the best-ranked doc
    assert all(r["label"] for r in res1)
    best = max(res1, key=lambda r: (r["score"], -r["doc_id"]))
    assert best["cluster_id"] == 0


def test_clustering_separates_planted_topics(spark, env):
    docs, _, searcher = env
    rows = [(i, "alpha beta gamma alpha beta") for i in range(5)] + \
           [(i + 5, "delta epsilon zeta delta epsilon") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=16).build(spark, df)
    s = Searcher(spark, idx)
    q = BooleanQuery((Clause(Occur.SHOULD, TermQuery("alpha")),
                      Clause(Occur.SHOULD, TermQuery("delta"))))
    res = cluster_top_docs(s, q, df, k=10, n_clusters=2).collect()
    by_cid = {}
    for r in res:
        by_cid.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    assert len(by_cid) == 2
    assert set(range(5)) in by_cid.values()
    assert {i + 5 for i in range(5)} in by_cid.values()

"""Monitor / percolator: registered queries vs document batches
(monitor/Monitor.java:48, TermFilteredPresearcher) — batch matches must
equal per-query forward search over the same batch; wildcard queries
expand against each batch's own vocabulary; streaming sink appends
per-batch matches."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import (BooleanQuery, Clause,
                                          FieldExistsQuery, MatchAllQuery,
                                          Occur, TermQuery)
from lucene_solr_spark.streaming.monitor import Monitor
from tests.conftest import SF_DIR

QUERIES = {
    "alert_merge": "merge",
    "alert_conj": "spark AND table",
    "alert_phrase": '"key agg"',
    "alert_bool": "(spark OR merge) AND fast",
    "alert_not": "spark NOT dup",
    "alert_wild": "spa*",
    "alert_absent": "zzzzunseen",          # presearcher must skip
}


@pytest.fixture(scope="module")
def docs(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").cache())


@pytest.fixture(scope="module")
def monitor():
    m = Monitor(ENGLISH_ANALYZER, grid=128)
    for qid, qs in QUERIES.items():
        m.register(qid, qs)
    return m


def test_match_batch_equals_forward_search(spark, docs, monitor):
    batch = docs.filter(F.col("doc_id") < 200)
    got = {(r["query_id"], int(r["doc_id"]))
           for r in monitor.match_batch(spark, batch).collect()}
    idx = (IndexBuilder(ENGLISH_ANALYZER, grid=128, with_positions=True)
           .build(spark, batch).cache())
    s = Searcher(spark, idx)
    exp = set()
    for qid, qs in QUERIES.items():
        for r in s.match_docs(parse_query(qs, ENGLISH_ANALYZER)).collect():
            exp.add((qid, int(r["doc_id"])))
    idx.release()
    assert got == exp
    assert not any(q == "alert_absent" for q, _ in got)
    assert {q for q, _ in got} >= {"alert_merge", "alert_conj",
                                   "alert_phrase", "alert_wild"}


def test_match_all_and_empty_registry(spark, docs):
    m = Monitor(ENGLISH_ANALYZER, grid=128)
    assert m.match_batch(spark, docs.limit(5)).count() == 0
    from lucene_solr_spark.search.ast import MatchAllQuery
    m.register("everything", MatchAllQuery())
    batch = docs.filter(F.col("doc_id") < 50)
    got = {int(r["doc_id"])
           for r in m.match_batch(spark, batch).collect()}
    exp = {int(r["doc_id"]) for r in batch.filter(
        F.length("text") > 0).collect()}
    assert got == exp


def test_negation_and_exists_alerts(spark, docs):
    """Alerts the kernel does not scan — a pure-negation NOT-wrapper
    (BQ(MUST_NOT t, SHOULD MatchAll)) and a FieldExistsQuery — match
    exactly what forward search matches, next to a kernel alert."""
    alerts = {
        "alert_neg": BooleanQuery((
            Clause(Occur.MUST_NOT, TermQuery("spark")),
            Clause(Occur.SHOULD, MatchAllQuery()))),
        "alert_exists": FieldExistsQuery("text"),
        "alert_merge": TermQuery("merge"),
    }
    m = Monitor(ENGLISH_ANALYZER, grid=128)
    for qid, q in alerts.items():
        m.register(qid, q)
    batch = docs.filter(F.col("doc_id") < 200)
    got = {(r["query_id"], int(r["doc_id"]))
           for r in m.match_batch(spark, batch).collect()}
    idx = (IndexBuilder(ENGLISH_ANALYZER, grid=128, with_positions=True)
           .build(spark, batch).cache())
    s = Searcher(spark, idx)
    exp = {(qid, int(r["doc_id"])) for qid, q in alerts.items()
           for r in s.match_docs(q).collect()}
    idx.release()
    assert got == exp
    assert {q for q, _ in got} == set(alerts)


def test_wildcard_expands_per_batch(spark):
    """The percolator contract: 'gli*' must match a term that first
    appears in batch 2, not a list frozen at registration time."""
    m = Monitor(ENGLISH_ANALYZER, grid=128)
    m.register("w", "gli*")
    b1 = spark.createDataFrame([(1, "nothing matching here")],
                               "doc_id long, text string")
    b2 = spark.createDataFrame([(2, "a shiny glimmer appears"),
                                (3, "still nothing")],
                               "doc_id long, text string")
    assert m.match_batch(spark, b1).count() == 0
    got = [(r["query_id"], int(r["doc_id"]))
           for r in m.match_batch(spark, b2).collect()]
    assert got == [("w", 2)]


def test_match_stream_appends_per_batch(spark, docs, monitor,
                                        tmp_path_factory):
    base = tmp_path_factory.mktemp("monitor")
    inp, outp, ckpt = str(base / "in"), str(base / "out"), str(base / "ck")
    for i, (lo, hi) in enumerate([(0, 150), (150, 300)]):
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("overwrite").parquet(f"{inp}/part{i}"))
    os.makedirs(inp + "_flat", exist_ok=True)
    for i, f in enumerate(sorted(glob.glob(f"{inp}/part*/*.parquet"))):
        shutil.copy(f, f"{inp}_flat/{i:02d}.parquet")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(inp + "_flat"))
    q = monitor.match_stream(spark, stream, outp, ckpt)
    q.awaitTermination(300)

    out = spark.read.parquet(outp)
    assert out.select("batch_id").distinct().count() == 2
    got = {(r["query_id"], int(r["doc_id"])) for r in out.collect()}
    exp = {(r["query_id"], int(r["doc_id"])) for r in
           monitor.match_batch(
               spark, docs.filter(F.col("doc_id") < 300)).collect()}
    assert got == exp

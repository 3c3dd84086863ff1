"""Soft deletes + retention (VERDICT r4 #5):
`index/SoftDeletesRetentionMergePolicy.java:46` /
`IndexWriterConfig.setSoftDeletesField` analog.

Pins: (1) a soft delete behaves exactly like a hard delete for
readers — same match-set shrink, UNCHANGED survivor scores, numDocs
drops, maxDoc doesn't; (2) expunge with a retention query physically
KEEPS matching soft-deleted docs (they count in the merged stats,
stay masked); (3) non-retained soft + all hard deletes drop and stats
shrink exactly as a from-scratch build over the survivors-plus-retained
corpus; (4) the hard/soft split and retention survive compaction,
append and update_documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.index.compact import compact
from lucene_solr_spark.index.merge import append, update_documents
from lucene_solr_spark.index.deletes import (delete_docs, expunge_deletes,
                                             live_doc_count,
                                             soft_delete_docs)
from lucene_solr_spark.search import Searcher
from lucene_solr_spark.search.ast import MatchAllQuery, TermQuery
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").cache())


@pytest.fixture(scope="module")
def base(spark, docs):
    return (IndexBuilder(ENGLISH_ANALYZER, grid=128, with_positions=True)
            .build(spark, docs).cache())


def _soft_set(docs):
    return docs.filter("doc_id % 7 = 3").select("doc_id")


def test_soft_delete_reads_like_hard_delete(spark, docs, base):
    soft = _soft_set(docs)
    victims = {r["doc_id"] for r in soft.collect()}
    s0 = Searcher(spark, base)
    before = s0.top_k(TermQuery("spark"), k=30)

    idx = soft_delete_docs(spark, base, soft)
    s1 = Searcher(spark, idx)
    after = s1.top_k(TermQuery("spark"), k=10)
    assert not (set(after["doc_id"].astype(int)) & victims)
    keep = before[~before["doc_id"].isin(victims)].head(10) \
        .reset_index(drop=True)
    # identical ranking AND identical float32 scores: stats unchanged
    assert after["doc_id"].tolist() == keep["doc_id"].tolist()
    assert after["score"].tolist() == keep["score"].tolist()
    # numDocs drops, maxDoc-side stats don't
    assert live_doc_count(idx) == live_doc_count(base) - len(victims)
    assert idx.stats["doc_count"] == base.stats["doc_count"]
    assert s1.count(MatchAllQuery()) == live_doc_count(idx)


def test_retention_keeps_matching_soft_deletes(spark, docs, base):
    soft = _soft_set(docs)
    idx = soft_delete_docs(spark, base, soft)
    retention = TermQuery("merge")
    merged = expunge_deletes(spark, idx, retention=retention)

    # the retention match runs unmasked: retained = soft docs whose
    # text contains the term
    s_base = Searcher(spark, base)
    match = {r["doc_id"] for r in
             s_base.match_docs(retention).collect()}
    victims = {r["doc_id"] for r in soft.collect()}
    retained = victims & match
    dropped = victims - match
    assert retained and dropped, "fixture must exercise both paths"

    # physical corpus = survivors + retained; stats recomputed over it
    assert merged.stats["doc_count"] == \
        base.stats["doc_count"] - len(dropped)
    # readers still see NO soft-deleted doc, retained included
    s1 = Searcher(spark, merged)
    live = {r["doc_id"] for r in s1.match_docs(MatchAllQuery()).collect()}
    assert not (live & victims)
    assert live_doc_count(merged) == merged.stats["doc_count"] - \
        len(retained)

    # retained docs still count in df: a term only they carry survives
    # in the dictionary with the retained docs' contribution
    full_rebuild_corpus = docs.join(
        spark.createDataFrame([(int(d),) for d in sorted(dropped)],
                              "doc_id long"), "doc_id", "left_anti")
    rebuilt = (IndexBuilder(ENGLISH_ANALYZER, grid=128,
                            with_positions=True)
               .build(spark, full_rebuild_corpus))
    got = {(r["field"], r["term"], r["df"])
           for r in merged.terms.collect()}
    want = {(r["field"], r["term"], r["df"])
            for r in rebuilt.terms.collect()}
    assert got == want


def test_expunge_without_retention_drops_soft(spark, docs, base):
    soft = _soft_set(docs)
    victims = {r["doc_id"] for r in soft.collect()}
    idx = soft_delete_docs(spark, base, soft)
    merged = expunge_deletes(spark, idx)
    assert merged.stats["doc_count"] == \
        base.stats["doc_count"] - len(victims)
    assert getattr(merged, "deletes", None) is None


def test_hard_and_soft_compose_and_survive_compaction(spark, docs, base):
    soft = _soft_set(docs)
    hard = docs.filter("doc_id % 11 = 5").select("doc_id")
    idx = soft_delete_docs(spark, base, soft)
    idx = delete_docs(spark, idx, hard)
    victims = {r["doc_id"] for r in soft.collect()} \
        | {r["doc_id"] for r in hard.collect()}
    s = Searcher(spark, idx)
    live = {r["doc_id"] for r in s.match_docs(MatchAllQuery()).collect()}
    assert not (live & victims)

    comp = compact(spark, idx)
    s2 = Searcher(spark, comp)
    assert {r["doc_id"] for r in
            s2.match_docs(MatchAllQuery()).collect()} == live

    # retention STILL applies post-compaction: hard victims always
    # drop, soft victims matching the retention query survive
    retention = TermQuery("merge")
    merged = expunge_deletes(spark, comp, retention=retention)
    match = {r["doc_id"] for r in
             Searcher(spark, base).match_docs(retention).collect()}
    soft_ids = {r["doc_id"] for r in soft.collect()}
    hard_ids = {r["doc_id"] for r in hard.collect()}
    retained = (soft_ids - hard_ids) & match
    assert merged.stats["doc_count"] == base.stats["doc_count"] \
        - len(hard_ids) - len(soft_ids - hard_ids - match)
    assert live_doc_count(merged) == \
        merged.stats["doc_count"] - len(retained)


def _ids(df):
    return set() if df is None else {r["doc_id"] for r in df.collect()}


@pytest.mark.parametrize("op", ["append", "update"])
def test_soft_split_survives_append_and_update(spark, docs, base, op):
    """Appending a doc (or replacing one through update_documents) after
    soft deletes keeps the soft set soft: a retention-aware expunge
    afterwards keeps exactly the soft docs the retention query matches,
    as a from-scratch build over the survivors plus those docs shows."""
    soft = _soft_set(docs)
    victims = _ids(soft)
    builder = IndexBuilder(ENGLISH_ANALYZER, grid=128, with_positions=True)
    new = spark.createDataFrame(
        [(base.stats["max_doc"] + 1, "fresh merge spark table row")],
        "doc_id long, text string")
    idx = soft_delete_docs(spark, base, soft)
    if op == "append":
        idx = append(spark, idx, new, builder)
        hard_ids = set()
    else:
        hard_ids = {docs.filter("doc_id % 7 = 4").first()["doc_id"]}
        idx = update_documents(spark, idx, new, sorted(hard_ids), builder)
    assert _ids(idx.soft_deletes) == victims
    assert _ids(idx.hard_deletes) == hard_ids

    retention = TermQuery("merge")
    merged = expunge_deletes(spark, idx, retention=retention)
    match = _ids(Searcher(spark, base).match_docs(retention))
    retained = victims & match
    dropped = (victims - match) | hard_ids
    assert retained and victims - match, "fixture must exercise both paths"

    survivors = docs.unionByName(new).join(
        spark.createDataFrame([(int(d),) for d in sorted(dropped)],
                              "doc_id long"), "doc_id", "left_anti")
    rebuilt = builder.build(spark, survivors)
    assert merged.stats["doc_count"] == rebuilt.stats["doc_count"]
    assert (Searcher(spark, merged).count(MatchAllQuery())
            == Searcher(spark, rebuilt).count(MatchAllQuery()) - len(retained))


def test_soft_split_survives_save_and_load(spark, docs, base, tmp_path):
    """``catalog.save`` + ``catalog.load`` restore hard, soft and the
    soft-deletes field exactly — a doc both hard- and soft-deleted
    included — so a retention-aware expunge after a reload keeps what
    the in-memory one keeps."""
    from lucene_solr_spark.index import catalog
    soft = _soft_set(docs)
    both = min(_ids(soft))
    hard = {both, docs.filter("doc_id % 7 = 4").first()["doc_id"]}
    idx = delete_docs(spark, soft_delete_docs(spark, base, soft), hard)
    builder = IndexBuilder(ENGLISH_ANALYZER, grid=128, with_positions=True)
    path = str(tmp_path / "gen")
    catalog.save(idx, path, builder, docs)
    loaded = catalog.load(spark, path)
    assert _ids(loaded.soft_deletes) == _ids(soft)
    assert _ids(loaded.hard_deletes) == hard
    assert _ids(loaded.deletes) == _ids(idx.deletes)
    assert loaded.soft_delete_field == idx.soft_delete_field

    retention = TermQuery("merge")
    want = expunge_deletes(spark, idx, retention=retention)
    got = expunge_deletes(spark, loaded, retention=retention)
    assert got.stats["doc_count"] == want.stats["doc_count"]
    assert _ids(got.soft_deletes) == _ids(want.soft_deletes)

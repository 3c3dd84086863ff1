"""Deletes/liveDocs semantics (tombstone-then-expunge, IndexWriter
deletion model) and the LRU query cache."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.index.check import check_index
from lucene_solr_spark.index.deletes import (delete_docs, expunge_deletes,
                                             live_doc_count)
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import MatchAllQuery, TermQuery
from lucene_solr_spark.search.cache import QueryCache
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").cache())


def _builder():
    return IndexBuilder(ENGLISH_ANALYZER, grid=128, with_positions=True)


@pytest.fixture(scope="module")
def base(spark, docs):
    return _builder().build(spark, docs).cache()


def test_tombstones_hide_but_dont_rescore(spark, docs, base):
    """Lucene: a delete hides the doc; docFreq/norms/avgdl keep counting
    it until merge, so surviving docs' scores are UNCHANGED."""
    s0 = Searcher(spark, base)
    before = s0.top_k(TermQuery("spark"), k=20)
    victims = before["doc_id"].astype(int).tolist()[:5]

    idx = delete_docs(spark, base, victims)
    s1 = Searcher(spark, idx)
    after = s1.top_k(TermQuery("spark"), k=15)
    assert not (set(after["doc_id"].astype(int)) & set(victims))
    # surviving docs keep their exact pre-delete float32 scores
    keep = before[~before["doc_id"].isin(victims)].head(15).reset_index(drop=True)
    assert after["doc_id"].tolist() == keep["doc_id"].tolist()
    assert after["score"].tolist() == keep["score"].tolist()

    # match_docs / count / MatchAll respect liveDocs
    assert not (set(r["doc_id"] for r in
                    s1.match_docs(TermQuery("spark")).collect())
                & set(victims))
    assert s1.count(MatchAllQuery()) == live_doc_count(idx)
    assert live_doc_count(idx) == live_doc_count(base) - 5


def test_expunge_equals_rebuild(spark, docs, base):
    """After forceMergeDeletes the physical index must equal a fresh
    build over the surviving docs — stats, dictionary, and results."""
    victims = [r["doc_id"] for r in
               docs.select("doc_id").limit(40).collect()]
    idx = delete_docs(spark, base, victims)
    purged = expunge_deletes(spark, idx)
    purged.postings = purged.postings.cache()

    live = docs.filter(~F.col("doc_id").isin(victims))
    rebuilt = _builder().build(spark, live).cache()

    assert purged.stats == rebuilt.stats
    res = check_index(purged)
    assert res["ok"], res["errors"]

    sp, sr = Searcher(spark, purged), Searcher(spark, rebuilt)
    for qs in ("merge", "spark merge fast", "spark AND table", '"key agg"'):
        q = parse_query(qs, ENGLISH_ANALYZER)
        a, b = sp.top_k(q, k=10), sr.top_k(q, k=10)
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), qs
        assert a["score"].tolist() == b["score"].tolist(), qs
    purged.release()
    rebuilt.release()


def test_query_cache_lru(spark, base):
    s = Searcher(spark, base)
    qc = QueryCache(s, max_entries=2, min_frequency=2)
    q1 = TermQuery("spark")
    r1 = qc.filter_docs(q1)           # seen once: not cached yet
    assert qc.misses == 1 and not qc._entries
    r2 = qc.filter_docs(q1)           # second sighting: cached
    assert qc._entries and qc.misses == 2
    r3 = qc.filter_docs(q1)           # warm hit: same persisted object
    assert qc.hits == 1 and r3 is r2
    n_direct = s.match_docs(q1).count()
    assert r3.count() == n_direct
    # fill beyond capacity → LRU eviction
    for t in ("merge", "fast"):
        qc.filter_docs(TermQuery(t))
        qc.filter_docs(TermQuery(t))
    assert len(qc._entries) == 2
    qc.clear()
    assert not qc._entries


def test_compact_and_append_preserve_tombstones(spark, docs, base):
    """Layout-only compaction and segment append must carry liveDocs —
    neither may resurrect deleted docs (ADVICE r2: compact()/append()
    previously dropped the tombstone attributes)."""
    from lucene_solr_spark.index.compact import compact
    from lucene_solr_spark.index.merge import append

    s0 = Searcher(spark, base)
    victims = s0.top_k(TermQuery("spark"), k=5)["doc_id"].astype(int).tolist()
    idx = delete_docs(spark, base, victims)
    s1 = Searcher(spark, idx)
    expect = s1.top_k(TermQuery("spark"), k=10)

    comp = compact(spark, idx)
    comp.postings = comp.postings.cache()
    got = Searcher(spark, comp).top_k(TermQuery("spark"), k=10)
    assert got["doc_id"].tolist() == expect["doc_id"].tolist()
    assert not (set(got["doc_id"].astype(int)) & set(victims))
    assert live_doc_count(comp) == live_doc_count(idx)

    hi = idx.stats["max_doc"]
    new = spark.createDataFrame(
        [(hi + 1 + i, "spark spark table merge") for i in range(8)],
        "doc_id long, text string")
    merged = append(spark, idx, new, _builder())
    got2 = Searcher(spark, merged).match_docs(TermQuery("spark")).collect()
    got2_ids = {int(r["doc_id"]) for r in got2}
    assert not (got2_ids & set(victims))          # still hidden
    assert hi + 1 in got2_ids                     # new docs visible
    comp.postings.unpersist()


def test_distributed_tombstones_match_driver_array(spark, docs, base):
    """Per-cell bitmap carrier (VERDICT r3 #4): forcing the distributed
    del_table must produce bit-identical results to the driver-array
    path — same hidden docs, same untouched scores — across the flat,
    tree, batch, and MatchAll paths."""
    s0 = Searcher(spark, base)
    before = s0.top_k(TermQuery("spark"), k=20)
    victims = before["doc_id"].astype(int).tolist()[:5]

    arr_idx = delete_docs(spark, base, victims, distributed=False)
    bit_idx = delete_docs(spark, base, victims, distributed=True)
    assert arr_idx.del_table is None and arr_idx.deleted_array is not None
    assert bit_idx.deleted_array is None and bit_idx.del_table is not None

    sa, sb = Searcher(spark, arr_idx), Searcher(spark, bit_idx)
    for q in (TermQuery("spark"),
              parse_query("spark AND table", ENGLISH_ANALYZER),
              parse_query("(spark AND table) OR (merge AND fast)",
                          ENGLISH_ANALYZER)):      # tree-plan path
        a, b = sa.top_k(q, k=15), sb.top_k(q, k=15)
        assert a["doc_id"].tolist() == b["doc_id"].tolist()
        assert a["score"].tolist() == b["score"].tolist()
        assert not (set(b["doc_id"].astype(int)) & set(victims))
    # batch path
    qs = [TermQuery("spark"), TermQuery("merge")]
    for a, b in zip(sa.top_k_many(qs, k=10), sb.top_k_many(qs, k=10)):
        assert a["doc_id"].tolist() == b["doc_id"].tolist()
    # MatchAll path (non-broadcast anti-join) + live count
    assert sb.count(MatchAllQuery()) == live_doc_count(bit_idx)
    assert live_doc_count(bit_idx) == live_doc_count(arr_idx)


def test_auto_switch_above_max_driver_deletes(spark, docs, base,
                                              monkeypatch):
    """Above MAX_DRIVER_DELETES delete_docs no longer raises: it switches
    to the per-cell bitmap carrier automatically (here: threshold
    patched to 3 so 5 tombstones cross it)."""
    import lucene_solr_spark.index.deletes as dmod
    s0 = Searcher(spark, base)
    before = s0.top_k(TermQuery("spark"), k=20)
    victims = before["doc_id"].astype(int).tolist()[:5]
    monkeypatch.setattr(dmod, "MAX_DRIVER_DELETES", 3)
    idx = dmod.delete_docs(spark, base, victims)
    assert idx.deleted_array is None and idx.del_table is not None
    after = Searcher(spark, idx).top_k(TermQuery("spark"), k=15)
    keep = before[~before["doc_id"].isin(victims)].head(15)
    assert after["doc_id"].tolist() == keep["doc_id"].tolist()
    assert after["score"].tolist() == keep["score"].tolist()


_LIVE_TEXTS = ["alpha beta gamma alpha", "alpha beta delta",
               "beta alpha alpha epsilon", "alpha gamma beta",
               "gamma alpha beta beta", "alpha delta beta alpha",
               "zeta eta", "alpha alpha beta"]


@pytest.fixture(scope="module")
def live_base(spark):
    from lucene_solr_spark.analysis.analyzer import StandardAnalyzer
    docs = spark.createDataFrame(list(enumerate(_LIVE_TEXTS)),
                                 "doc_id long, text string")
    return IndexBuilder(StandardAnalyzer(), grid=4, with_positions=True,
                        payload="position").build(spark, docs).cache()


def _reader_rows(s):
    """Every search-side reader outside the kernel → sorted rows."""
    from lucene_solr_spark.search.extras import (blended_term_score_all,
                                                 postings_rows,
                                                 proximity_score_all,
                                                 synonym_score_all)
    from lucene_solr_spark.search.payloads import (payload_score_topk,
                                                   payload_scores,
                                                   span_payload_check)
    frames = {
        "postings_rows": postings_rows(s, ["alpha", "beta"],
                                       with_positions=True),
        "synonym": synonym_score_all(s, ["alpha", "gamma"]),
        "blended": blended_term_score_all(s, ["alpha", "gamma"]),
        "proximity": proximity_score_all(s, "alpha", "beta", window=2),
        "payload_scores": payload_scores(s, "alpha", func="max"),
        "payload_topk": payload_score_topk(s, "alpha", k=100),
        "span_payload": span_payload_check(s, ["alpha", "beta"],
                                           [None, None]),
    }
    return {name: sorted(tuple(r) for r in df.collect())
            for name, df in frames.items()}


@pytest.mark.parametrize("distributed", [False, True])
def test_every_reader_masks_tombstones(spark, live_base, distributed):
    """liveDocs by construction: each reader returns exactly its doc set
    on the undeleted index minus the deleted docs, and the survivors'
    rows (scores included — deletes do not change stats) unchanged."""
    victims = {1, 3}
    before = _reader_rows(Searcher(spark, live_base))
    idx = delete_docs(spark, live_base, sorted(victims),
                      distributed=distributed)
    assert (idx.del_table is not None) == distributed
    after = _reader_rows(Searcher(spark, idx))
    for name, rows in before.items():
        doc = 1 if name == "postings_rows" else 0     # doc_id column
        assert {r[doc] for r in rows} & victims, name  # victims matched
        assert after[name] == [r for r in rows if r[doc] not in victims], \
            name


def test_release_unpins_tombstone_table(spark, live_base):
    """release() drops the persisted per-cell tombstone table too; the
    released index and the one it was derived from still read (their
    frames recompute from lineage)."""
    idx = delete_docs(spark, live_base, [1, 2, 3], distributed=True)
    assert idx.del_table.is_cached
    idx.release()
    assert not idx.del_table.is_cached
    assert Searcher(spark, idx).count(TermQuery("alpha")) == 4
    assert Searcher(spark, live_base).count(TermQuery("alpha")) == 7

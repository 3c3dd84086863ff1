"""Offsets index option (IndexOptions DOCS_AND_FREQS_AND_POSITIONS_
AND_OFFSETS analog, `index/IndexOptions.java:25-53`) — round-trip,
compaction survival, and token-accurate highlighting."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.analysis.analyzer import (ENGLISH_ANALYZER,
                                                 StandardAnalyzer)
from lucene_solr_spark.index.builder import IndexBuilder, decode_blocks
from lucene_solr_spark.search import Searcher
from lucene_solr_spark.search.ast import TermQuery
from lucene_solr_spark.search.suggest import highlight, highlight_by_offsets

from conftest import SF_DIR

ANN = StandardAnalyzer(stop_words=frozenset())


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=64,
                       with_offsets=True).build(spark, docs)
    idx.postings = idx.postings.cache()
    pdf = docs.select("doc_id", "text").toPandas()
    texts = dict(zip(pdf["doc_id"].astype(int), pdf["text"]))
    return idx, texts


def _index_offsets(idx, texts):
    """{(doc, term): [(start, end)]} decoded from the postings."""
    got: dict = {}
    rows = idx.postings.collect()
    p = decode_blocks(rows, ("off",))
    flat_doc = np.repeat(p["doc"], p["freq"])
    flat_row = np.repeat(p["row"], p["freq"])
    for d, i, s, e in zip(flat_doc, flat_row, p["start"], p["end"]):
        got.setdefault((int(d), rows[i]["term"]), []).append((int(s), int(e)))
    return got


def test_offsets_round_trip_whole_corpus(built):
    """Decoded offsets == analyzer.term_occurrences recomputed on the
    raw text, for EVERY (doc, term) in the corpus — and each span's
    substring lowercases to the term itself."""
    idx, texts = built
    got = _index_offsets(idx, texts)
    n_checked = 0
    for d, text in texts.items():
        occ = ENGLISH_ANALYZER.term_occurrences(text)
        for term, triples in occ.items():
            exp = [(s, e) for _, s, e in triples]
            assert got[(d, term)] == exp, (d, term)
            for s, e in exp:
                assert text[s:e].lower() == term
            n_checked += len(exp)
    assert n_checked > 1000
    # nothing extra in the index either
    n_index = sum(len(v) for v in got.values())
    assert n_index == n_checked


def test_offsets_survive_compaction(spark, built):
    from lucene_solr_spark.index.compact import compact
    idx, texts = built
    comp = compact(spark, idx)
    comp.postings = comp.postings.cache()
    assert comp.with_offsets
    assert _index_offsets(comp, texts) == _index_offsets(idx, texts)
    comp.postings.unpersist()


def test_highlight_token_boundaries(spark):
    """The offsets highlighter tags only REAL token matches: querying
    'cat' must not tag the 'cat' inside 'category' (the substring
    highlighter's documented quirk, now fixed on offset indexes)."""
    docs = spark.createDataFrame(
        [(0, "the cat sat on the category shelf"),
         (1, "category pages only"),
         (2, "a cat and another cat")],
        "doc_id long, text string")
    idx = IndexBuilder(ANN, grid=16, with_offsets=True).build(spark, docs)
    idx.postings = idx.postings.cache()
    s = Searcher(spark, idx)
    texts = {0: "the cat sat on the category shelf",
             1: "category pages only",
             2: "a cat and another cat"}
    snips = highlight_by_offsets(s, ["cat"], texts, radius=40)
    assert snips[0] is not None and "<b>cat</b> sat" in snips[0]
    assert "<b>cat</b>egory" not in (snips[0] or "")
    assert snips[1] is None                    # no token match at all
    assert snips[2].count("<b>cat</b>") == 2   # every in-window match
    # contrast: the substring highlighter DOES tag inside 'category'
    sub = highlight(docs, "cat", radius=40).collect()
    row1 = [r for r in sub if r["doc_id"] == 1][0]
    assert row1["snippet"] is not None
    idx.release()


def test_queries_unaffected_by_offsets_mode(spark, built):
    """Offsets are payload-only: scores/matches identical to a
    positions-only build over the same docs."""
    idx, texts = built
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    base = IndexBuilder(ENGLISH_ANALYZER, grid=64,
                        with_positions=True).build(spark, docs)
    base.postings = base.postings.cache()
    s_off, s_pos = Searcher(spark, idx), Searcher(spark, base)
    for q in (TermQuery("spark"), TermQuery("merge")):
        a = s_off.top_k(q, k=10)
        b = s_pos.top_k(q, k=10)
        assert a["doc_id"].tolist() == b["doc_id"].tolist()
        assert a["score"].tolist() == b["score"].tolist()
    base.release()

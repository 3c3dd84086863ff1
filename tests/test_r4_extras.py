"""Round-4 session-3 operators: reversed-dictionary leading wildcard,
grouped/nested facets, /export, stratified sampling.

References: Solr ReversedWildcardFilterFactory (leading wildcard as a
reversed-prefix seek), SimpleFacets.getGroupedCounts (group.facet),
the JSON Facet API's nested subfacets, ExportWriter (/export), and the
training-mix sampling stage of Gopher-style pipelines.
"""

import pyspark.sql.functions as F
import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.pipeline.sampling import hash_frac, stratified_sample
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search import multiterm as mt
from lucene_solr_spark.search.extras import export_sorted, sort_by_fields
from lucene_solr_spark.search.facets import (facet_counts,
                                             grouped_facet_counts,
                                             nested_facets)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def env(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=256,
                       with_positions=True).build(spark, docs)
    idx = idx.cache()
    yield docs, idx, Searcher(spark, idx)
    idx.release()


def test_leading_wildcard_matches_full_scan(env):
    docs, idx, s = env
    # differential: reversed-prefix expansion == regex full-dictionary scan
    rev = sorted(mt.leading_wildcard_terms(idx.terms, "ge", size=10_000))
    full = sorted(mt.wildcard_terms(idx.terms, "*ge", size=10_000))
    assert rev == full and rev, (rev, full)
    # and the capped form respects (df desc, term asc)
    capped = mt.leading_wildcard_terms(idx.terms, "e", size=3)
    assert len(capped) == 3


def test_grouped_facet_counts(env):
    docs, idx, s = env
    m = s.match_docs(parse_query("merge", ENGLISH_ANALYZER))
    got = {r["value"]: r["count"]
           for r in grouped_facet_counts(docs, m, "lang", "source").collect()}
    hits = {r.doc_id for r in m.select("doc_id").distinct().collect()}
    want = (docs.filter(F.col("doc_id").isin(list(hits)))
            .groupBy("lang").agg(F.countDistinct("source").alias("c"))
            .collect())
    assert got == {r["lang"]: r["c"] for r in want}
    # grouped counts never exceed plain facet counts
    plain = {r["value"]: r["count"]
             for r in facet_counts(docs, m, "lang").collect()}
    assert all(got[k] <= plain[k] for k in got)


def test_nested_facets_shape(env):
    docs, _, _ = env
    rows = nested_facets(docs, None, "lang", "source", "n_chars",
                         outer_limit=2, inner_limit=2).collect()
    assert rows and len(rows) <= 4
    # outer buckets ordered by doc count desc; inner by metric desc
    by_outer = {}
    for r in rows:
        by_outer.setdefault(r.outer_val, []).append(r)
    for grp in by_outer.values():
        metrics = [r.metric for r in sorted(grp, key=lambda r: r.inner_rank)]
        assert metrics == sorted(metrics, reverse=True)
    # outer_count is the full bucket size, not just the kept inner rows
    full = dict(docs.groupBy("lang").count().collect())
    for r in rows:
        assert r.outer_count == full[r.outer_val]


def test_export_sorted_is_full_set_and_matches_topk_prefix(env):
    docs, _, s = env
    q = parse_query("merge", ENGLISH_ANALYZER)
    exp = export_sorted(s, q, docs, [("n_chars", False, True)]).collect()
    n_match = s.match_docs(q).select("doc_id").distinct().count()
    assert len(exp) == n_match > 0
    # the first k rows of the export == sort_by_fields top-k
    topk = sort_by_fields(s, q, docs, [("n_chars", False, True)], k=5).collect()
    assert [r.doc_id for r in exp[:5]] == [r.doc_id for r in topk]
    chars = [r.n_chars for r in exp]
    assert chars == sorted(chars, reverse=True)


def test_stratified_sample_deterministic_and_rated(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rates = {"en": 0.5, "de": 0.25}
    a = stratified_sample(docs, "doc_id", "lang", rates, 0.1)
    b = stratified_sample(docs.repartition(7), "doc_id", "lang", rates, 0.1)
    ids_a = sorted(r.doc_id for r in a.select("doc_id").collect())
    ids_b = sorted(r.doc_id for r in b.select("doc_id").collect())
    assert ids_a == ids_b and ids_a  # partitioning-independent
    # hash_frac is uniform-ish: en keep-rate within a loose band of 0.5
    n_en = docs.filter("lang = 'en'").count()
    k_en = a.filter("lang = 'en'").count()
    if n_en >= 100:
        assert 0.3 < k_en / n_en < 0.7
    # a stratum not in rates uses the default rate
    other = docs.filter(~F.col("lang").isin(*rates)).count()
    kept_other = a.filter(~F.col("lang").isin(*rates)).count()
    if other:
        assert kept_other <= other * 0.35


def test_pack_sequences_invariants(spark):
    from lucene_solr_spark.pipeline.packing import pack_sequences
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = pack_sequences(docs, budget=128, n_shards=4).collect()
    b = pack_sequences(docs.repartition(7), budget=128, n_shards=4).collect()
    key = lambda r: r.doc_id
    assert sorted(a, key=key) == sorted(b, key=key)  # reshard-invariant
    # per shard: offsets are a gapless concatenation of token counts
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.start_off)
        off = 0
        for r in rows:
            assert r.start_off == off
            assert r.first_bin == off // 128
            end = off + r.n_tok
            assert r.last_bin == max(r.first_bin, (end - 1) // 128)
            off = end

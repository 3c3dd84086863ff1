"""Incremental index append — the IndexWriter.addDocuments → commit →
merge lifecycle (`index/IndexWriter.java:1400`, `index/SegmentMerger.java:
100-168`, `index/DocIDMerger.java:32`) restated for Spark.

A delta generation is built from the new documents only (they carry
doc_ids ABOVE the current max — insertion order, exactly Lucene's
per-segment docID base remapping), then the two generations' tables
merge through :func:`merge_generations`, the same step
``streaming.nrt.load_segments`` folds its segments with:

- postings: union of block rows, re-range-partitioned by bucket. Blocks
  from different generations never overlap in doc range except inside
  the single boundary grid cell, and the query kernel already handles
  multiple blocks per (term, cell) — so no block rewrite is needed
  (Lucene's merge rewrites files because its postings are
  byte-concatenated; ours are relational rows).
- terms: full-outer merge summing df/ttf, singleton pulsing recomputed.
- norms: disjoint union (doc ranges don't overlap).
- stats: additive.
- tombstones: the base's hard and soft deletes carry over unchanged.

:func:`update_documents` is an append plus hard deletes of the replaced
doc_ids.

Query results over append(build(A), B) are identical to build(A+B) —
pinned by tests/test_incremental.py differentially. Block boundaries may
differ at the generation seam (128-alignment restarts), which is the
same freedom Lucene segments have.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .builder import (IndexBuilder, InvertedIndex, SINGLETON_COLS,
                      pulse_singletons)


def _merge_terms(a: DataFrame, b: DataFrame) -> DataFrame:
    cols = ["field", "term", "df", "ttf", *SINGLETON_COLS]
    j = a.select(cols).alias("a").join(b.select(cols).alias("b"),
                                       ["field", "term"], "full_outer")
    return pulse_singletons(j.select(
        "field", "term",
        *[(F.coalesce(F.col(f"a.{c}"), F.lit(0))
           + F.coalesce(F.col(f"b.{c}"), F.lit(0))).alias(c)
          for c in ("df", "ttf")],
        *[F.coalesce(f"a.{c}", f"b.{c}").alias(c) for c in SINGLETON_COLS]))


def merge_stats(a: dict, b: dict) -> dict:
    """Additive merge of two stats dicts, per-field sub-stats included."""
    fields = {}
    for src in (a.get("fields", {}), b.get("fields", {})):
        for f, fs in src.items():
            cur = fields.setdefault(f, {"doc_count": 0, "sum_ttf": 0,
                                        "sum_df": 0})
            for k in cur:
                cur[k] += fs.get(k, 0)
    return {
        "doc_count": a["doc_count"] + b["doc_count"],
        "sum_ttf": a["sum_ttf"] + b["sum_ttf"],
        "sum_df": a["sum_df"] + b["sum_df"],
        "max_doc": max(a["max_doc"], b["max_doc"]),
        "grid": a["grid"],
        "fields": fields,
    }


def merge_generations(a: tuple, b: tuple) -> tuple:
    """Two generations' (postings, terms, norms, stats) → the merged four
    (SegmentMerger): postings and norms union (doc ranges are disjoint),
    dictionaries fold with df/ttf sums and singleton re-pulsing, stats
    add. Lazy and unlaid-out: the caller re-shards what it serves."""
    return (a[0].unionByName(b[0]), _merge_terms(a[1], b[1]),
            a[2].unionByName(b[2]), merge_stats(a[3], b[3]))


def append(spark: SparkSession, idx: InvertedIndex, new_docs: DataFrame,
           builder: IndexBuilder, doc_id_col: str = "doc_id",
           text_col: str = "text") -> InvertedIndex:
    """Merge a delta built from new_docs into idx (new generation).

    Requires min(new doc_id) > idx.stats['max_doc'] (insertion-order
    docIDs; violation raises, matching the dense-docID contract)."""
    lo = new_docs.agg(F.min(doc_id_col)).collect()[0][0]
    if lo is not None and lo <= idx.stats["max_doc"]:
        raise ValueError(
            f"append requires doc_ids above {idx.stats['max_doc']}, "
            f"got {lo} — docIDs are insertion-ordered (DocIDMerger bases)")
    if builder.grid != idx.stats["grid"]:
        raise ValueError("append must use the same doc-grid as the base index")
    if builder.with_positions != idx.with_positions:
        raise ValueError("append must match the base index's positions mode")
    if builder.with_offsets != idx.with_offsets:
        raise ValueError("append must match the base index's offsets mode")
    if (builder.payload is not None) != idx.with_payloads:
        raise ValueError("append must match the base index's payload mode")
    delta = builder.build(spark, new_docs, doc_id_col, text_col)
    postings, terms, norms, stats = merge_generations(
        (idx.postings, idx.terms, idx.norms, idx.stats),
        (delta.postings, delta.terms, delta.norms, delta.stats))
    n_part = max(4, spark.sparkContext.defaultParallelism)
    # the result owns the delta's persisted raw postings, so release() on
    # the merged index unpersists them (the merged postings are lazy over
    # it, so it can't be released any earlier than the merged index).
    # Tombstones, hard/soft split included, carry over: appended docs
    # have ids above max_doc, so the base's liveDocs stay valid verbatim
    return replace(
        idx,
        postings=(postings.repartitionByRange(n_part, "bucket")
                  .sortWithinPartitions("bucket", "field", "term",
                                        "block_id")),
        terms=(terms.repartitionByRange(max(4, n_part // 2), "field", "term")
               .sortWithinPartitions("field", "term")),
        norms=(norms.repartitionByRange(max(4, n_part // 2), "doc_id")
               .sortWithinPartitions("field", "doc_id")),
        stats=stats, analyzer=builder.analyzer, raw=delta.raw)


def update_documents(spark: SparkSession, idx: InvertedIndex,
                     replacements: DataFrame, old_ids,
                     builder: IndexBuilder, doc_id_col: str = "doc_id",
                     text_col: str = "text") -> InvertedIndex:
    """IndexWriter.updateDocument analog (`index/IndexWriter.java:1514`
    updateDocument = "atomically deletes ... and adds"): append the
    replacement docs as a delta segment, then tombstone the replaced
    doc_ids — one returned index, never an in-between view.

    Exactly Lucene's update semantics: the OLD versions keep counting
    in docFreq/totalTermFreq/docCount/avgdl until
    :func:`..index.deletes.expunge_deletes` physically drops them (a
    delete only hides; stats change at merge), while the NEW versions
    extend those stats immediately. ``replacements`` must carry fresh
    doc_ids above ``idx.stats['max_doc']`` (insertion-order docIDs —
    the DocIDMerger base contract append() enforces); ``old_ids`` is a
    DataFrame with a doc_id column or an iterable of ints."""
    from .deletes import delete_docs
    out = append(spark, idx, replacements, builder, doc_id_col, text_col)
    return delete_docs(spark, out, old_ids)

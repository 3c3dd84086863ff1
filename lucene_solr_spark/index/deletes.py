"""Deletes / live docs — tombstones + expunge, the Lucene deletion model.

Reference semantics (`index/LeafReader.java:227` getLiveDocs,
`index/IndexWriter.java deleteDocuments` → liveDocs bitset,
`IndexWriter.forceMergeDeletes`): a delete only HIDES a document — every
statistic (docFreq, totalTermFreq, norms, docCount, avgdl) keeps
counting it until a merge physically drops it. Scores therefore do NOT
change when a doc is deleted; only the match set shrinks. This module
reproduces exactly that:

- :func:`delete_docs` records HARD tombstones, :func:`soft_delete_docs`
  SOFT ones. Both are ``InvertedIndex`` fields (``hard_deletes``,
  ``soft_deletes``) and their union is ``deletes``, the set every reader
  masks (the liveDocs bitset analog). Any index derived from a
  tombstoned one (append, update, compact, catalog load) keeps them.
- The carrier (chosen in :func:`with_tombstones`): a set of at most
  ``MAX_DRIVER_DELETES`` doc_ids rides the kernel spec as a sorted array
  (``deleted_array``; no join per query). A larger one — a dedup feedback
  stream on a 10%-dup corpus — becomes the per-cell bitmap table
  (``del_table``), joined to the queried blocks on ``bucket``, so
  tombstone volume never touches the driver.
- :func:`expunge_deletes` (forceMergeDeletes analog) rewrites postings
  without the deleted docs and RECOMPUTES dictionary/norms/stats through
  the build's own derivation (``builder.derive_tables``,
  ``builder.pack_postings``) — after it, scores reflect the shrunken
  collection, exactly as after a Lucene merge. A retention query keeps
  matching soft-deleted docs physically present.

A training-data pipeline wires dedup output straight in:
``delete_docs(idx, dedup_result.filter("is_duplicate"))``.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .builder import InvertedIndex, derive_tables, pack_postings, _shuffle_n
from .compact import unpack_postings

# driver-array bound: a tombstone set at or below this rides the kernel
# spec as a sorted numpy array (fast, no join); above it the per-cell
# bitmap table takes over automatically
MAX_DRIVER_DELETES = 2_000_000

# the tombstone fields of an index that masks nothing
_NO_TOMBSTONES = dict(deletes=None, deleted_array=None, del_table=None,
                      hard_deletes=None, soft_deletes=None,
                      soft_delete_field=None)


def del_table(dels: DataFrame, grid: int) -> DataFrame:
    """Per-grid-cell tombstone table — the liveDocs-FILE analog
    (`index/LeafReader.java:227` getLiveDocs is per-segment; our segment
    is the grid cell): (bucket, del_offsets sorted array<int> of
    in-bucket doc offsets). Co-partitionable with the postings layout on
    ``bucket``, so the kernel masks from a co-located column and the
    driver NEVER materializes doc_ids."""
    return (dels
            .withColumn("bucket", F.expr(f"doc_id div {grid}"))
            .withColumn("off", (F.col("doc_id") % grid).cast("int"))
            .groupBy("bucket")
            .agg(F.sort_array(F.collect_list("off")).alias("del_offsets")))


def _as_doc_df(spark: SparkSession, doc_ids) -> DataFrame:
    if isinstance(doc_ids, DataFrame):
        return doc_ids.select(F.col("doc_id").cast("long")).distinct()
    return spark.createDataFrame([(int(d),) for d in doc_ids],
                                 "doc_id long").distinct()


def _union(a: DataFrame | None, b: DataFrame | None) -> DataFrame | None:
    """a ∪ b of doc_id frames; either may be None."""
    if a is None or b is None:
        return b if a is None else a
    return a.unionByName(b).distinct()


def with_tombstones(idx: InvertedIndex, hard: DataFrame | None,
                    soft: DataFrame | None, distributed: bool | None = None,
                    **changes) -> InvertedIndex:
    """``idx`` (plus ``changes``) whose readers mask hard ∪ soft — the
    one place an index's tombstone fields are set, carrier included.
    ``distributed=True/False`` forces a carrier; None picks by size
    against ``MAX_DRIVER_DELETES``."""
    dels = _union(hard, soft)
    if distributed is None:
        distributed = dels.count() > MAX_DRIVER_DELETES
    arr = table = None
    if distributed:
        table = del_table(dels, int(idx.stats["grid"])).persist()
        table.count()    # pin: one build, not one per query
    else:
        arr = np.sort(np.array([r["doc_id"] for r in dels.collect()],
                               dtype=np.int64))
    return replace(idx, deletes=dels, deleted_array=arr, del_table=table,
                   hard_deletes=hard, soft_deletes=soft, **changes)


def delete_docs(spark: SparkSession, idx: InvertedIndex,
                doc_ids, distributed: bool | None = None) -> InvertedIndex:
    """Record HARD tombstones; returns an index view whose queries
    exclude them. ``doc_ids`` is a DataFrame with a doc_id column or an
    iterable of ints. Stats/norms/dictionary are intentionally UNCHANGED
    (IndexWriter semantics: deletes don't affect scoring until merge)."""
    return with_tombstones(
        idx, _union(idx.hard_deletes, _as_doc_df(spark, doc_ids)),
        idx.soft_deletes, distributed)


def soft_delete_docs(spark: SparkSession, idx: InvertedIndex,
                     doc_ids, distributed: bool | None = None,
                     soft_delete_field: str = "__soft_deletes"
                     ) -> InvertedIndex:
    """SOFT tombstones (`index/IndexWriterConfig.setSoftDeletesField`,
    `index/SoftDeletesRetentionMergePolicy.java:46`): identical to
    :func:`delete_docs` for every reader opened on the soft-deletes
    field — the docs vanish from every match set and from numDocs
    (:func:`live_doc_count`) while stats/norms/dictionary keep counting
    them (maxDoc retains them) — but :func:`expunge_deletes` can RETAIN
    them physically when they match a retention query, the rollback /
    NRT-history use the reference policy exists for. The marker is
    carried as a tombstone set keyed by ``soft_delete_field`` (the
    reference stores it as a doc-values field; ours lives beside the
    per-cell tombstone tables — same newest-state-wins overlay model as
    index/dv_updates.py)."""
    return with_tombstones(
        idx, idx.hard_deletes,
        _union(idx.soft_deletes, _as_doc_df(spark, doc_ids)), distributed,
        soft_delete_field=soft_delete_field)


def live_doc_count(idx: InvertedIndex) -> int:
    """numDocs() analog: maxDoc-style doc_count minus tombstones."""
    if idx.deleted_array is not None:
        return idx.stats["doc_count"] - len(idx.deleted_array)
    return idx.stats["doc_count"] - (
        idx.deletes.count() if idx.deletes is not None else 0)


def _retained_soft(spark: SparkSession, idx: InvertedIndex,
                   soft: DataFrame, retention) -> DataFrame:
    """Soft-deleted docs matching the retention query
    (`SoftDeletesRetentionMergePolicy.java:118` keepFullyDeletedSegment
    runs the retention query WITHOUT the soft-deletes filter — a
    retained doc is by definition soft-deleted, so the match must see
    it). ``retention`` is a doc_id DataFrame or a query AST evaluated
    on an UNMASKED view of this index."""
    if isinstance(retention, DataFrame):
        keep = retention.select(F.col("doc_id").cast("long")).distinct()
    else:
        from ..search.executor import Searcher
        keep = (Searcher(spark, replace(idx, **_NO_TOMBSTONES))
                .match_docs(retention).distinct())
    return soft.join(keep, "doc_id", "left_semi")


def expunge_deletes(spark: SparkSession, idx: InvertedIndex,
                    retention=None) -> InvertedIndex:
    """Physically drop tombstoned docs (forceMergeDeletes): unpack →
    filter live → repack, then rebuild dictionary/norms/stats from the
    surviving postings. One bucket-range shuffle, same key as the build.

    ``retention`` (`SoftDeletesRetentionMergePolicy.java:46`): a query
    AST or doc_id DataFrame naming SOFT-deleted docs to KEEP physically
    through the merge. Retained docs stay masked (soft-deleted for
    readers, out of numDocs) but keep contributing to the rebuilt
    df/ttf/doc_count/avgdl — exactly the reference, where a merged
    segment's statistics count every physically-present doc and the
    soft-deletes field keeps hiding them. Hard deletes and
    non-retained soft deletes are dropped as before; with
    ``retention=None`` soft deletes expunge like hard ones (a merge
    with no retention policy)."""
    dels = idx.deletes
    if dels is None:
        return idx
    hard, soft = idx.hard_deletes, idx.soft_deletes
    retained = None
    if retention is not None and soft is not None:
        retained = _retained_soft(spark, idx, soft, retention)
        if hard is not None:
            # a doc both hard- and soft-deleted drops: the hard delete
            # clears the liveDocs bit regardless of retention
            retained = retained.join(hard, "doc_id", "left_anti")
        retained = retained.persist()
        if retained.limit(1).count() == 0:
            retained.unpersist()
            retained = None
        else:
            dels = _union(hard, soft.join(retained, "doc_id", "left_anti"))
    raw = (unpack_postings(idx).join(F.broadcast(dels), "doc_id", "left_anti")
           .persist())
    grid = idx.stats["grid"]
    terms, norms, stats = derive_tables(
        spark, raw, idx.norms.join(F.broadcast(dels), "doc_id", "left_anti"),
        grid)
    out = replace(idx, postings=pack_postings(raw, grid, idx.flags,
                                              _shuffle_n(spark)),
                  terms=terms, norms=norms, stats=stats, raw=raw,
                  **_NO_TOMBSTONES)
    if retained is None:
        return out
    # physically-retained soft-deleted docs stay soft-deleted: they count
    # in the merged stats above but every reader still masks them (the
    # post-merge state of the reference policy)
    return with_tombstones(out, None, retained,
                           soft_delete_field=idx.soft_delete_field)

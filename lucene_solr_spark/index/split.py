"""PKIndexSplitter — split one index into two by a doc predicate.

Reference semantics (`lucene/misc/src/java/org/apache/lucene/index/
PKIndexSplitter.java:36`): the docs matching ``docsInFirstIndex`` go
to the first output index, everything else to the second; each output
is a REAL standalone index (the reference routes the split through
liveDocs masks into two addIndexes merges), existing deletes drop from
both sides, and each side's statistics reflect only its own docs — so
scores in a half legitimately differ from the whole (df/avgdl are
per-index, as with any Lucene split).

Spark shape: pure reuse of the index lifecycle — each half is
``expunge_deletes(delete_docs(idx, complement))``: one distributed
anti-join to materialize the complement, then the expunge repack's one
bucket-range shuffle rebuilding dictionary/norms/stats from the
surviving postings through the build's own derivation. Docs tombstoned
in ``idx`` (hard or soft) are in neither half: with no retention query,
expunge drops every tombstone. No driver-side doc lists; both halves
derive from the same persisted input scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .builder import InvertedIndex
from .deletes import delete_docs, expunge_deletes


def _as_first_set(spark: SparkSession, idx: InvertedIndex,
                  docs_in_first) -> DataFrame:
    """Resolve the predicate to a doc_id DataFrame: a query AST node
    (matched through the Searcher, the reference's Query form), a
    DataFrame with a doc_id column, or an iterable of ints."""
    if isinstance(docs_in_first, DataFrame):
        return docs_in_first.select("doc_id").distinct()
    if hasattr(docs_in_first, "__dataclass_fields__") or \
            type(docs_in_first).__module__.endswith("search.ast"):
        from ..search import Searcher
        return (Searcher(spark, idx).match_docs(docs_in_first)
                .select("doc_id").distinct())
    return spark.createDataFrame(
        [(int(d),) for d in docs_in_first], "doc_id long").distinct()


def split_index(spark: SparkSession, idx: InvertedIndex,
                docs_in_first) -> tuple[InvertedIndex, InvertedIndex]:
    """→ (first, second): ``first`` holds the docs matching
    ``docs_in_first``, ``second`` the rest; docs already tombstoned in
    ``idx`` appear in NEITHER (PKIndexSplitter preserves deletions)."""
    first = _as_first_set(spark, idx, docs_in_first).persist()
    first.count()
    universe = idx.norms.select("doc_id").distinct()
    second = universe.join(first, "doc_id", "left_anti").persist()
    idx1 = expunge_deletes(spark, delete_docs(spark, idx, second))
    idx2 = expunge_deletes(spark, delete_docs(spark, idx, first))
    first.unpersist()
    second.unpersist()
    return idx1, idx2


def split_shard(spark: SparkSession, idx: InvertedIndex, docs: DataFrame,
                hash_range: tuple[int, int] | None = None,
                id_col: str = "doc_id", composite: bool = False
                ) -> tuple[InvertedIndex, InvertedIndex]:
    """SolrCloud SPLITSHARD (`solr/.../SplitShardCmd.java` over
    `DocRouter.partitionRange`): split this shard's murmur3 hash range
    [lo, hi] at its midpoint and split the index accordingly — the
    first index serves [lo, mid], the second [mid+1, hi]. ``docs`` is
    the row store carrying the route keys; hashing runs in the same
    vectorized mapInPandas projection `route_docs` uses (one pass, no
    shuffle — the doc-set split then reuses :func:`split_index`).
    ``hash_range`` defaults to the full signed-32 space (a 1-shard
    collection splitting into 2)."""
    from .routing import composite_hash, murmur3_batch
    import numpy as np
    lo, hi = hash_range if hash_range else (-(1 << 31), (1 << 31) - 1)
    if lo >= hi:
        raise ValueError("hash_range must satisfy lo < hi")
    mid = (lo + hi) >> 1                      # DocRouter midpoint

    def in_first(batches):
        import pandas as pd
        for pdf in batches:
            ids = pdf[id_col].astype(str)
            if composite:
                hs = np.fromiter((composite_hash(s) for s in ids),
                                 dtype=np.int32, count=len(ids))
            else:
                hs = murmur3_batch(list(ids))
            keep = (hs >= lo) & (hs <= mid)
            yield pd.DataFrame({"doc_id": pdf["doc_id"][keep]})

    first = docs.select("doc_id", id_col).mapInPandas(
        in_first, "doc_id long") if id_col != "doc_id" else \
        docs.select("doc_id").mapInPandas(in_first, "doc_id long")
    return split_index(spark, idx, first)

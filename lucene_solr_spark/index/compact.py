"""Seam compaction — the TieredMergePolicy role for incremental indexes.

Repeated ``append()`` / NRT micro-batches leave each (field, term,
bucket) run with many short sub-128 blocks at generation seams (Lucene
has the same: small segments accumulate until TieredMergePolicy rewrites
them, `index/TieredMergePolicy.java:88-103`). ``compact`` rewrites the
postings table into fresh, maximally-128-aligned blocks:

  unpack_postings: blocks → raw posting rows  (narrow — no shuffle)
  builder.pack_postings: repartitionByRange(bucket) + sort + pack
                         (ONE shuffle, same key and pack as the build)

``expunge_deletes`` runs the same two steps with a tombstone anti-join
between them. The dictionary, norms, stats and tombstones are untouched
(compaction changes the physical block layout only, never the logical
postings), so ``check_index`` invariants and every query result are
preserved — pinned differentially in tests/test_incremental.py.

Scale posture: the shuffle moves the already-compressed postings
equivalent (not the corpus), and the bucket key bounds skew exactly as
in the build. Run it when blocks-per-run exceeds a threshold
(``needs_compaction``), as TieredMergePolicy does with segment counts.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .builder import (InvertedIndex, RAW_SCHEMA, decode_blocks,
                      pack_postings, _shuffle_n)


def _split_streams(blobs, counts: np.ndarray) -> list[bytes]:
    """Concatenate a channel's block blobs and cut the result back into
    per-posting VByte streams (posting i's stream holds counts[i]
    self-delimiting values)."""
    b = b"".join(blobs)
    ends = np.flatnonzero((np.frombuffer(b, dtype=np.uint8) & 0x80) == 0)
    # byte offset AFTER each posting's stream = end of its last value + 1
    stops = ends[np.cumsum(counts) - 1] + 1
    starts = np.concatenate(([0], stops[:-1]))
    return [b[s:e] for s, e in zip(starts, stops)]


def _unpack_blocks(batches, with_pos: bool, with_off: bool = False,
                   with_pay: bool = False):
    """postings block rows → raw posting rows (the pack inverse). Reads
    every block, tombstoned docs included: it lays blocks out, it does
    not search."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        p = decode_blocks(pdf.to_dict("records"))
        n, freq = len(p["doc"]), p["freq"]
        yield pd.DataFrame({
            "doc_id": p["doc"],
            "field": pdf["field"].to_numpy()[p["row"]],
            "term": pdf["term"].to_numpy()[p["row"]],
            "freq": freq.astype("int32"),
            "norm": p["norm"].astype("int32"),
            "pos_blob": pd.Series(
                _split_streams(pdf["pos_blob"], freq) if with_pos
                else [None] * n, dtype="object"),
            # each posting's offsets stream holds 2*freq VByte values
            "off_blob": pd.Series(
                _split_streams(pdf["off_blob"], 2 * freq) if with_off
                else [None] * n, dtype="object"),
            "pay_blob": pd.Series(
                _split_streams(pdf["pay_blob"], freq) if with_pay
                else [None] * n, dtype="object"),
        })


def unpack_postings(idx: InvertedIndex) -> DataFrame:
    """The postings table back to raw posting rows (RAW_SCHEMA) —
    narrow, one ``decode_blocks`` pass per batch; the input of every
    repack."""
    flags = idx.flags
    return idx.postings.mapInPandas(lambda it: _unpack_blocks(it, *flags),
                                    schema=RAW_SCHEMA)


def compact(spark: SparkSession, idx: InvertedIndex) -> InvertedIndex:
    """Rewrite postings into fresh 128-aligned blocks (layout-only).
    Tombstones, hard/soft split included, carry over unchanged: doc_ids
    are stable, and a layout rewrite must not resurrect deleted docs."""
    postings = pack_postings(unpack_postings(idx), idx.stats["grid"],
                             idx.flags, _shuffle_n(spark))
    return replace(idx, postings=postings, raw=None)


def needs_compaction(idx: InvertedIndex, max_blocks_per_run: int = 4) -> bool:
    """True if any (field, term, bucket) run has fragmented into more
    short blocks than a fully-packed layout would need (the
    TieredMergePolicy segment-count trigger analog)."""
    frag = (idx.postings.groupBy("field", "term", "bucket")
            .agg(F.count("*").alias("nblocks"),
                 F.sum("doc_count").alias("n"))
            .filter(F.col("nblocks") >
                    F.greatest(F.ceil(F.col("n") / 128),
                               F.lit(max_blocks_per_run))))
    return frag.limit(1).count() > 0

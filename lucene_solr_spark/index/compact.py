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

from .builder import (InvertedIndex, RAW_SCHEMA, decode_postings_block,
                      pack_postings, _shuffle_n)


def _split_pos_blob(pos_blob: bytes, freqs: np.ndarray) -> list[bytes]:
    """Slice a block's packed positions back into per-doc VByte streams
    (each doc's stream is self-delimiting: freq[i] VByte values)."""
    raw = np.frombuffer(bytes(pos_blob), dtype=np.uint8)
    ends = np.flatnonzero((raw & 0x80) == 0)        # last byte of each value
    cum = np.cumsum(np.asarray(freqs, dtype=np.int64))
    # byte offset AFTER each doc's stream = end of its last value + 1
    stops = ends[cum - 1] + 1
    starts = np.concatenate(([0], stops[:-1]))
    b = bytes(pos_blob)
    return [b[s:e] for s, e in zip(starts, stops)]


def _unpack_blocks(batches, with_pos: bool, with_off: bool = False,
                   with_pay: bool = False):
    """postings block rows → raw posting rows (the pack inverse)."""
    for pdf in batches:
        out_doc, out_field, out_term = [], [], []
        out_freq, out_norm, out_pos, out_off = [], [], [], []
        out_pay = []
        for row in pdf.itertuples(index=False):
            r = row._asdict()
            docs, freqs, norms = decode_postings_block(r)
            n = len(docs)
            out_doc.append(docs)
            out_field.extend([r["field"]] * n)
            out_term.extend([r["term"]] * n)
            out_freq.append(freqs)
            out_norm.append(norms)
            if with_pos:
                out_pos.extend(_split_pos_blob(r["pos_blob"], freqs))
            else:
                out_pos.extend([None] * n)
            if with_off:
                # each doc's offsets stream holds 2*freq VByte values
                out_off.extend(_split_pos_blob(r["off_blob"], 2 * freqs))
            else:
                out_off.extend([None] * n)
            if with_pay:
                out_pay.extend(_split_pos_blob(r["pay_blob"], freqs))
            else:
                out_pay.extend([None] * n)
        if not out_doc:
            continue
        yield pd.DataFrame({
            "doc_id": np.concatenate(out_doc).astype("int64"),
            "field": pd.Series(out_field, dtype="object"),
            "term": pd.Series(out_term, dtype="object"),
            "freq": np.concatenate(out_freq).astype("int32"),
            "norm": np.concatenate(out_norm).astype("int32"),
            "pos_blob": pd.Series(out_pos, dtype="object"),
            "off_blob": pd.Series(out_off, dtype="object"),
            "pay_blob": pd.Series(out_pay, dtype="object"),
        })


def unpack_postings(idx: InvertedIndex) -> DataFrame:
    """The postings table back to raw posting rows (RAW_SCHEMA) —
    narrow, one decode per block; the input of every repack."""
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

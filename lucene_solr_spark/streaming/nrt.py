"""Near-real-time ingestion: Structured Streaming → per-batch segments.

Lucene's NRT story (`index/ControlledRealTimeReopenThread.java`,
`search/SearcherManager.java`: keep adding documents, periodically
reopen a reader over the growing set of immutable segments) maps to:

- a Structured Streaming query (`readStream` on the input table/path)
  whose ``foreachBatch`` builds ONE index segment per micro-batch and
  commits it to the segment list (SEGMENTS.json, atomic tmp+rename —
  the SegmentInfos commit point);
- readers call :func:`load_segments` to open a point-in-time view over
  all committed segments: postings are the union re-sharded to the
  bucket-major layout, term dictionaries merge with df/ttf sums and
  singleton re-pulsing (SegmentMerger semantics), stats are additive —
  the same two-generation merge ``index.merge.append`` runs.

Micro-batch docs must carry globally-unique doc_ids (the corpus embeds
them in the url — never positional). Segment doc-ranges are recorded in
the manifest; overlapping ranges are rejected at commit (the DocIDMerger
base-offset contract).

Streaming checkpointing (offsets) is Spark-managed via the usual
``checkpointLocation``; segment commits are idempotent per batch id, so
a restarted query that replays a batch overwrites the same segment
rather than duplicating it.
"""

from __future__ import annotations

import json
import os
import bisect
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.analyzer import StandardAnalyzer
from ..index.builder import IndexBuilder, InvertedIndex
from ..index.catalog import read_postings
from ..index.merge import merge_generations

SEGMENTS = "SEGMENTS.json"


def _read_segments(path: str) -> dict:
    p = f"{path}/{SEGMENTS}"
    if not os.path.exists(p):
        return {"format_version": 1, "segments": []}
    with open(p) as f:
        return json.load(f)


def _write_segments(path: str, seglist: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = f"{path}/{SEGMENTS}.tmp"
    with open(tmp, "w") as f:
        json.dump(seglist, f, indent=2)
    os.replace(tmp, f"{path}/{SEGMENTS}")


def commit_segment(spark: SparkSession, docs: DataFrame,
                   builder: IndexBuilder, path: str,
                   batch_id: int) -> dict | None:
    """Build one segment from a micro-batch and commit it. Idempotent on
    batch_id (replays overwrite, never duplicate). Returns the segment
    entry, or None for an empty batch."""
    if docs.isEmpty():
        return None
    rng = docs.agg(F.min("doc_id"), F.max("doc_id"), F.count("*")).collect()[0]
    lo, hi, n = int(rng[0]), int(rng[1]), int(rng[2])
    seglist = _read_segments(path)
    for s in seglist["segments"]:
        if s["batch_id"] != batch_id and not (hi < s["min_doc"]
                                              or lo > s["max_doc"]):
            raise ValueError(
                f"segment doc range [{lo},{hi}] overlaps committed segment "
                f"{s['name']} [{s['min_doc']},{s['max_doc']}]")
    name = f"seg-{batch_id:06d}"
    seg_dir = f"{path}/{name}"
    t0 = time.perf_counter()
    idx = builder.build(spark, docs)
    for tbl, df in (("postings", idx.postings), ("terms", idx.terms),
                    ("norms", idx.norms)):
        df.write.mode("overwrite").parquet(f"{seg_dir}/{tbl}")
    # stored fields ride the segment (RealTimeGetComponent source): a
    # get-by-id can serve a doc the moment its batch commits, without
    # waiting for any reader/compaction generation
    docs.write.mode("overwrite").parquet(f"{seg_dir}/docs")
    idx.release()
    entry = {"name": name, "batch_id": batch_id, "min_doc": lo, "stored": True,
             "max_doc": hi, "n_docs": n, "stats": idx.stats,
             # reader-side derivation (ADVICE: a positionless segment must
             # never be read as positioned): record the build params
             "with_positions": builder.with_positions,
             "stop_words": sorted(builder.analyzer.stop_words),
             "max_token_length": builder.analyzer.max_token_length,
             **({"possessive": True} if builder.analyzer.possessive
                else {}),
             **({"stemmer": builder.analyzer.stemmer}
                if builder.analyzer.stemmer else {}),
             "build_sec": round(time.perf_counter() - t0, 3)}
    seglist["segments"] = ([s for s in seglist["segments"]
                            if s["batch_id"] != batch_id] + [entry])
    seglist["segments"].sort(key=lambda s: s["batch_id"])
    _write_segments(path, seglist)
    return entry


def load_segments(spark: SparkSession, path: str,
                  analyzer: StandardAnalyzer,
                  with_positions: bool | None = None) -> InvertedIndex:
    """Point-in-time reader over all committed segments (DirectoryReader
    .open analog). Postings re-shard once to the bucket-major layout;
    term dictionaries fold with SegmentMerger semantics.

    ``with_positions`` is DERIVED from the segment manifests (recorded at
    commit_segment time); passing it explicitly only validates."""
    seglist = _read_segments(path)
    segs = seglist["segments"]
    if not segs:
        raise FileNotFoundError(f"no committed segments under {path}")
    recorded = {s.get("with_positions") for s in segs}
    recorded.discard(None)
    if len(recorded) > 1:
        raise ValueError("segments disagree on with_positions")
    if recorded:
        rec = recorded.pop()
        if with_positions is not None and with_positions != rec:
            raise ValueError(
                f"requested with_positions={with_positions} but segments "
                f"were built with with_positions={rec}")
        with_positions = rec
    elif with_positions is None:
        with_positions = True  # legacy manifests recorded nothing
    gens = [(read_postings(spark, f"{path}/{s['name']}/postings"),
             spark.read.parquet(f"{path}/{s['name']}/terms"),
             spark.read.parquet(f"{path}/{s['name']}/norms"), s["stats"])
            for s in segs]
    if len({g[3]["grid"] for g in gens}) > 1:
        raise ValueError("segments disagree on doc-grid size")
    post, terms, norms, stats = reduce(merge_generations, gens)
    n_part = max(4, spark.sparkContext.defaultParallelism)
    return InvertedIndex(
        postings=(post.repartitionByRange(n_part, "bucket")
                  .sortWithinPartitions("bucket", "field", "term", "block_id")),
        terms=terms, norms=norms, stats=stats, analyzer=analyzer,
        with_positions=with_positions)


def maintain_segments(spark: SparkSession, path: str,
                      analyzer: StandardAnalyzer,
                      max_blocks_per_run: int = 4) -> bool:
    """Auto-compaction trigger for the NRT segment list — the background
    TieredMergePolicy role (`index/TieredMergePolicy.java:88-103` chooses
    merges when segment counts pass a tier threshold; here the trigger is
    ``needs_compaction``'s fragmented-run test over the merged view).

    When repeated micro-batches have fragmented any (field, term,
    bucket) run into more short blocks than a packed layout needs, the
    whole committed set is rewritten as ONE consolidated segment
    (``compact`` layout pass — logical postings unchanged) and
    SEGMENTS.json swaps atomically to point at it. Readers holding the
    old view keep working: old segment directories are never touched
    (delete them out-of-band once no reader needs that point in time).

    Call it from the ingestion loop after every N batches, or wire it as
    the foreachBatch epilogue. Returns True iff a merge ran."""
    from ..index.compact import compact, needs_compaction

    seglist = _read_segments(path)
    if len(seglist["segments"]) <= 1:
        return False
    idx = load_segments(spark, path, analyzer)
    if not needs_compaction(idx, max_blocks_per_run):
        return False
    segs = seglist["segments"]
    lo = min(s["min_doc"] for s in segs)
    hi = max(s["max_doc"] for s in segs)
    n = sum(s["n_docs"] for s in segs)
    last_batch = max(s["batch_id"] for s in segs)
    name = f"merged-{last_batch:06d}"
    seg_dir = f"{path}/{name}"
    t0 = time.perf_counter()
    comp = compact(spark, idx)
    comp.postings.write.mode("overwrite").parquet(f"{seg_dir}/postings")
    idx.terms.write.mode("overwrite").parquet(f"{seg_dir}/terms")
    idx.norms.write.mode("overwrite").parquet(f"{seg_dir}/norms")
    entry = {"name": name, "batch_id": last_batch, "min_doc": lo,
             "max_doc": hi, "n_docs": n, "stats": idx.stats,
             "with_positions": idx.with_positions,
             "stop_words": sorted(analyzer.stop_words),
             "max_token_length": analyzer.max_token_length,
             "merged_from": [s["name"] for s in segs],
             "build_sec": round(time.perf_counter() - t0, 3)}
    _write_segments(path, {"format_version": seglist["format_version"],
                           "segments": [entry]})
    return True


def stream_index(spark: SparkSession, input_path: str, index_path: str,
                 builder: IndexBuilder, checkpoint: str,
                 schema: str = "doc_id long, text string",
                 available_now: bool = True):
    """Start the indexing stream: parquet file source → one segment per
    micro-batch. Returns the StreamingQuery (await/stop it yourself)."""
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(input_path)
           .select("doc_id", "text"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_segment(spark, batch_df, builder, index_path, batch_id)

    writer = (src.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _segments_for_ids(seglist: dict, doc_ids) -> list[dict]:
    """Segments whose [min_doc, max_doc] range can hold any requested id
    — the RTG index lookup (segments partition the id space because
    commit_segment rejects overlaps)."""
    ids = sorted(int(d) for d in doc_ids)
    out = []
    for s in seglist["segments"]:
        i = bisect.bisect_left(ids, s["min_doc"])
        if i < len(ids) and ids[i] <= s["max_doc"]:
            out.append(s)
    return out


def realtime_get(spark: SparkSession, path: str, doc_ids,
                 columns: list[str] | None = None) -> DataFrame:
    """RealTimeGet (solr/handler/component/RealTimeGetComponent.java):
    fetch documents by id from the NRT segment store, including docs
    committed by the latest micro-batch that no compacted reader
    generation covers yet. Only the segments whose id range can hold a
    requested id are opened (`_segments_for_ids`), and the id predicate
    pushes into each segment's parquet scan — cost is O(segments hit),
    never a corpus pass. Missing ids are simply absent from the result
    (Solr returns null docs). Requires segments committed with stored
    fields (`stored` entries; older position-only segments raise)."""
    ids = [int(d) for d in doc_ids]
    segs = _segments_for_ids(_read_segments(path), ids)
    if not segs:
        raise ValueError("no committed segment covers the requested ids")
    missing = [s["name"] for s in segs if not s.get("stored")]
    if missing:
        raise ValueError(
            f"segments {missing} were committed without stored fields")
    df = spark.read.parquet(*[f"{path}/{s['name']}/docs" for s in segs])
    out = df.filter(F.col("doc_id").isin(ids))
    if columns:
        out = out.select("doc_id", *columns)
    return out

"""Index persistence, lineage, and stage-resumable checkpoints.

The reference's durability model (`index/SegmentInfos.java:119` — a
commit point enumerating immutable segment files; two-phase commit in
`index/IndexWriter.java:1226-1260`) maps to: every index table
(postings / terms / norms) is written as sorted Parquet under one
generation directory, and a JSON *manifest* — the SegmentInfos analog —
is written LAST, atomically (tmp + rename). A generation is visible iff
its manifest exists, so a killed job can never expose a torn index; the
next run sees only complete generations (Iceberg-snapshot semantics
without requiring an Iceberg catalog in the sandbox).

Lineage + metrics per the north rule: the manifest records the input
fingerprint (path + row count), build parameters, per-stage row counts,
per-partition postings row counts, wall-clock per stage, and docs/sec.

Resume: ``build_or_resume`` keys the generation directory by a content
hash of (input fingerprint, build params); if a complete manifest with
the same key exists, the build is skipped and the tables are reloaded —
stage-level resumability for the expensive stages (invert/pack/merge are
all upstream of the persisted tables).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.analyzer import StandardAnalyzer
from .builder import IndexBuilder, InvertedIndex

MANIFEST = "MANIFEST.json"
FORMAT_VERSION = 1

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")


def _is_hadoop_path(path: str) -> bool:
    return bool(_SCHEME_RE.match(path))


class _FS:
    """Filesystem seam for the tiny control files (MANIFEST / LATEST) —
    the `store/Directory.java:50` role. Index TABLES always go through
    Spark writers (any Hadoop scheme works for free); the JSON manifest
    and the LATEST pointer previously used local ``open``/``os.replace``
    and silently broke on ``hdfs://`` / ``s3a://`` paths. This class
    routes them through the Hadoop FileSystem API (via the session JVM)
    whenever the path carries a scheme, keeping plain local paths on the
    cheap ``os`` fast path.

    Commit atomicity: local = ``os.replace``; HDFS = atomic rename;
    object stores rename non-atomically, but visibility is still gated
    on the single manifest file, so a torn write can at worst hide a
    generation, never expose a torn one."""

    def __init__(self, spark: SparkSession | None, path: str):
        self.hadoop = _is_hadoop_path(path)
        if self.hadoop:
            if spark is None:
                spark = SparkSession.getActiveSession()
            if spark is None:
                raise ValueError(
                    f"an active SparkSession is required for {path!r}")
            self._jvm = spark._jvm
            self._conf = spark._jsc.hadoopConfiguration()

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._jpath(path).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        if not self.hadoop:
            return os.path.exists(path)
        return self._fs(path).exists(self._jpath(path))

    def read_text(self, path: str) -> str:
        if not self.hadoop:
            with open(path) as f:
                return f.read()
        stm = self._fs(path).open(self._jpath(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stm, "UTF-8")
        finally:
            stm.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        """tmp + rename — the two-phase commit point."""
        tmp = f"{path}.tmp"
        if not self.hadoop:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            with open(tmp, "w") as f:
                f.write(text)
            os.replace(tmp, path)
            return
        fs = self._fs(path)
        out = fs.create(self._jpath(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        if fs.exists(self._jpath(path)):
            fs.delete(self._jpath(path), False)
        if not fs.rename(self._jpath(tmp), self._jpath(path)):
            raise IOError(f"rename {tmp} -> {path} failed")


def _input_fingerprint(docs: DataFrame) -> dict:
    """Content-sensitive fingerprint for resume keying.

    File-backed inputs: full paths + sizes (not just basenames — two
    directories with same-named parts must not collide). In-memory
    inputs (no inputFiles): hash a deterministic row sample so e.g.
    generated corpora with equal row counts but different seeds never
    collide (same-key resume would silently return the wrong index).
    """
    import hashlib
    files = sorted(docs.inputFiles())
    if files:
        sizes = []
        for f in files[:64]:
            p = f.removeprefix("file:")
            try:
                sizes.append(os.path.getsize(p))
            except OSError:
                sizes.append(-1)
        return {"n_rows": docs.count(), "n_files": len(files),
                "files": files[:64], "sizes": sizes}
    # content sample: md5 over a deterministic slice of the rows
    sample = docs.limit(256).collect()
    h = hashlib.md5()
    for row in sample:
        h.update(repr(tuple(row)).encode())
    return {"n_rows": docs.count(), "content_md5": h.hexdigest()}


def _params(builder: IndexBuilder) -> dict:
    return {"grid": builder.grid,
            "with_positions": builder.with_positions,
            "with_offsets": builder.with_offsets,
            # only recorded when set — adding an always-present key would
            # invalidate every pre-payloads generation's resume key
            **({"with_payloads": True}
               if builder.payload is not None else {}),
            "fields": list(builder.fields),
            "stop_words": sorted(builder.analyzer.stop_words),
            "max_token_length": builder.analyzer.max_token_length,
            # only recorded when set, so pre-existing generation keys
            # (and resume fingerprints) are unchanged for plain analyzers
            **({"possessive": True} if builder.analyzer.possessive else {}),
            **({"stemmer": builder.analyzer.stemmer}
               if builder.analyzer.stemmer else {})}


def generation_key(docs: DataFrame, builder: IndexBuilder) -> str:
    import hashlib
    blob = json.dumps([_input_fingerprint(docs), _params(builder)],
                      sort_keys=True).encode()
    return hashlib.md5(blob).hexdigest()[:16]


def save(idx: InvertedIndex, path: str, builder: IndexBuilder,
         docs: DataFrame, timings: dict | None = None) -> dict:
    """Write one index generation; returns the manifest dict."""
    t0 = time.perf_counter()
    spark = idx.postings.sparkSession
    stage_rows = {}
    tables = [("postings", idx.postings), ("terms", idx.terms),
              ("norms", idx.norms)]
    if idx.deletes is not None:
        # the effective set (what every reader masks); with soft deletes
        # the split is saved beside it, so load restores it exactly
        tables.append(("deletes", idx.deletes))
        if idx.soft_deletes is not None:
            tables.append(("soft_deletes", idx.soft_deletes))
            if idx.hard_deletes is not None:
                tables.append(("hard_deletes", idx.hard_deletes))
    for name, df in tables:
        t = time.perf_counter()
        df.write.mode("overwrite").parquet(f"{path}/{name}")
        stage_rows[name] = {
            # count from footers of what was actually committed
            "rows": spark.read.parquet(f"{path}/{name}").count(),
            "write_sec": round(time.perf_counter() - t, 3)}
    # per-partition lineage: rows per bucket-range partition of postings
    per_part = (spark.read.parquet(f"{path}/postings")
                .groupBy(F.spark_partition_id().alias("part"))
                .agg(F.count("*").alias("rows"),
                     F.min("bucket").alias("min_bucket"),
                     F.max("bucket").alias("max_bucket"))
                .orderBy("part").collect())
    manifest = {
        "format_version": FORMAT_VERSION,
        "generation": str(uuid.uuid4()),
        "created_unix": int(time.time()),
        "input": _input_fingerprint(docs),
        "params": _params(builder),
        "key": generation_key(docs, builder),
        "stats": idx.stats,
        "stages": stage_rows,
        "partitions": [r.asDict() for r in per_part],
        "has_deletes": idx.deletes is not None,
        **({"soft_delete_field": idx.soft_delete_field}
           if idx.soft_deletes is not None else {}),
        "timings": timings or {},
        "save_sec": round(time.perf_counter() - t0, 3),
    }
    _FS(spark, path).write_text_atomic(
        f"{path}/{MANIFEST}", json.dumps(manifest, indent=2))
    return manifest


def read_postings(spark: SparkSession, path: str) -> DataFrame:
    """A saved postings table in the current POSTINGS_SCHEMA: tables
    written before the offsets or payload channels existed get those
    columns as nulls, so unions (append, segment folds) and the unpack
    paths keep working."""
    postings = spark.read.parquet(path)
    for col in ("off_blob", "pay_blob"):
        if col not in postings.columns:
            postings = postings.withColumn(col, F.lit(None).cast("binary"))
    return postings


def load(spark: SparkSession, path: str,
         analyzer: StandardAnalyzer | None = None) -> InvertedIndex:
    manifest = json.loads(_FS(spark, path).read_text(f"{path}/{MANIFEST}"))
    version = manifest.get("format_version")
    if version != FORMAT_VERSION:
        raise ValueError(
            f"index at {path} has manifest format_version {version!r}; "
            f"this reader understands only {FORMAT_VERSION}")
    kwargs = {}
    if analyzer is not None:
        kwargs["analyzer"] = analyzer
    # Re-establish the kernel's layout invariant (whole buckets per
    # partition, bucket/term/block sorted): Spark may split large Parquet
    # files at row-group boundaries or coalesce small ones, either of
    # which could tear a bucket across partitions. One shuffle at load
    # time, amortized over every query against this generation.
    postings = (read_postings(spark, f"{path}/postings")
                .repartitionByRange(
                    max(4, spark.sparkContext.defaultParallelism), "bucket")
                .sortWithinPartitions("bucket", "field", "term", "block_id"))
    idx = InvertedIndex(
        postings=postings,
        terms=spark.read.parquet(f"{path}/terms"),
        norms=spark.read.parquet(f"{path}/norms"),
        stats=dict(manifest["stats"]),
        with_positions=manifest["params"]["with_positions"],
        with_offsets=manifest["params"].get("with_offsets", False),
        with_payloads=manifest["params"].get("with_payloads", False),
        **kwargs)
    if not manifest.get("has_deletes"):
        return idx
    from .deletes import with_tombstones
    stages = manifest.get("stages", {})
    if "soft_deletes" not in stages:
        # no soft deletes (or a generation saved before the split was):
        # the effective set reloads as hard deletes
        return with_tombstones(idx, spark.read.parquet(f"{path}/deletes"),
                               None)
    hard = (spark.read.parquet(f"{path}/hard_deletes")
            if "hard_deletes" in stages else None)
    return with_tombstones(idx, hard,
                           spark.read.parquet(f"{path}/soft_deletes"),
                           soft_delete_field=manifest["soft_delete_field"])


def latest_generation(path: str,
                      spark: SparkSession | None = None) -> str | None:
    """Key of the committed generation the LATEST pointer names, if any.
    Hadoop-scheme paths resolve through the active SparkSession's JVM."""
    fs = _FS(spark, path)
    lpath = f"{path}/LATEST"
    if not fs.exists(lpath):
        return None
    return fs.read_text(lpath).strip()


def build_or_resume(spark: SparkSession, docs: DataFrame,
                    builder: IndexBuilder, path: str) -> tuple[InvertedIndex, dict]:
    """Resume from a complete checkpoint when input+params match, else
    build and commit a new generation. Returns (index, manifest).

    Each generation lives in its own directory (`gen-<key>/`) and becomes
    visible only when its manifest lands; the LATEST pointer is replaced
    atomically afterwards — the SegmentInfos generation-bump analog
    (`index/SegmentInfos.java:119`). Existing readers of an older
    generation keep working: its files are never overwritten."""
    key = generation_key(docs, builder)
    gen_dir = f"{path}/gen-{key}"
    mpath = f"{gen_dir}/{MANIFEST}"
    fs = _FS(spark, path)
    if fs.exists(mpath):
        manifest = json.loads(fs.read_text(mpath))
        if manifest.get("key") == key:
            return load(spark, gen_dir, analyzer=builder.analyzer), manifest
    t0 = time.perf_counter()
    idx = builder.build(spark, docs)
    build_sec = time.perf_counter() - t0
    n_docs = idx.stats["doc_count"]
    manifest = save(idx, gen_dir, builder, docs, timings={
        "build_sec": round(build_sec, 3),
        "docs_per_sec": round(n_docs / build_sec, 1)})
    fs.write_text_atomic(f"{path}/LATEST", key)
    return load(spark, gen_dir, analyzer=builder.analyzer), manifest

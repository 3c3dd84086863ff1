"""IndexWriter-equivalent: build postings/terms/norms/stats DataFrames.

Pipeline (Spark restatement of the reference's indexing chain,
`index/IndexingChain.java:464,506,887` → `FreqProxTermsWriter.java:79` →
`codecs/lucene84/Lucene84PostingsWriter.java:218-375`) — ONE wide
shuffle end to end:

  stage 0 (THE wide shuffle)     docs repartitionByRange(grid cell) —
                                 whole cells per partition; moves the
                                 corpus text once, before any Python
  stage 1 (narrow)               docs --mapInPandas--> RAW_SCHEMA rows
                                 (doc_id, field, term, freq, norm[, pos/
                                 off/pay blobs]) — the per-doc term hash
                                 (TermsHashPerField.add). Two fronts emit
                                 one flat token stream: the VECTORIZED
                                 front (numpy batch tokenize→lower→stop,
                                 no per-token Python) and the per-doc
                                 front (the analyzer's own term_positions,
                                 for fallback rows and custom chains);
                                 ONE back end sorts it into (doc, term)
                                 runs and VByte-encodes every channel.
                                 Output inherits the cell partitioning
  stage 2 (partial-agg shuffle)  groupBy(field, term) → df/ttf +
                                 singleton pulsing — the per-field term
                                 dictionary (BlockTreeTermsWriter; Terms
                                 are (field, text) pairs, `index/Term.
                                 java:69`, FieldInfos.java:40); map-side
                                 combined, tiny payload
  stage 3 (narrow)               partition-local JVM sort (bucket, field,
                                 term, doc_id) → mapInPandas pack —
                                 flush+merge (FreqProxTermsWriter/
                                 SegmentMerger): 128-posting Δ+FOR/PFOR
                                 blocks, VByte tails, inline norm bytes,
                                 competitive-impact skylines — emitted
                                 DIRECTLY in the final doc-sharded layout

Skew (north rule): head-term posting lists are split EXPLICITLY at
grid-cell boundaries — the shuffle key is the doc-range cell, never the
term, so the heaviest term contributes at most `grid` postings per task
(the salted-split scheme with salt == doc range, which also preserves
docID order). The block layout is INDEPENDENT of cluster parallelism,
and no block ever spans a grid boundary. That grid alignment is what
lets the query side shard WAND scoring by exact doc range with zero
cross-partition leakage.

docIDs are globally dense and deterministic: the caller supplies them
(documents.parquet ships doc_id; the synthetic pages corpus derives them
from the url sort order) — never monotonically_increasing_id.

Writer side: :func:`_encode_stream` is the one encoder of raw rows and
:func:`pack_partition` the one block writer; both Python stages coalesce
their input through :func:`_rebatch`, so no session conf is touched.

Reader side: :func:`decode_blocks` is the one decoder of this layout —
every search-side reader (the query kernel, highlighting, payloads,
BM25F, the term automaton, ``postings_rows``) and the compaction unpack
turn block rows into postings through it; CheckIndex alone decodes
block by block (:func:`decode_postings_block`), so a corrupt block is
reported rather than aborting the check.

Fields: every text column is a field; a Term is (field, text) exactly as
in the reference (`index/Term.java:69`). Norms, dictionary stats and
BM25 collection statistics (docCount, sumTotalTermFreq) are per-field
(`search/IndexSearcher.java:914-933`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.analyzer import ENGLISH_ANALYZER, StandardAnalyzer
from ..analysis.lowercase import _multi_char_exceptions
from ..analysis.tokenizer import _TOKEN_RE
from ..functions import codec
from ..functions.impacts import skyline
from ..functions.smallfloat import int_to_byte4

RAW_SCHEMA = ("doc_id long, field string, term string, freq int, norm int, "
              "pos_blob binary, off_blob binary, pay_blob binary")

DEFAULT_FIELD = "text"

# norm byte for doc lengths < 2^16 without per-doc numpy round-trips
_NORM_LUT = int_to_byte4(np.arange(1 << 16)).astype(np.uint8)

POSTINGS_SCHEMA = (
    "field string, term string, bucket long, block_id long, doc_count int, "
    "last_doc long, doc_blob binary, freq_blob binary, norm_blob binary, "
    "imp_freqs array<int>, imp_norms array<int>, pos_blob binary, "
    "off_blob binary, pay_blob binary"
)

_FALLBACK_RE = None  # built lazily (scans the unicode table once/process)


def _fallback_re():
    """Rows matching this take the exact per-doc analyzer path: mixed
    CJK scripts (tokenizer split rules) or codepoints whose Java simple
    lowercase differs from Python full lowercase."""
    global _FALLBACK_RE
    if _FALLBACK_RE is None:
        import re
        exc = "".join(re.escape(c) for c in _multi_char_exceptions())
        _FALLBACK_RE = re.compile("[一-鿿㐀-䶿぀-ヿ" + exc + "]")
    return _FALLBACK_RE


def _payload_values(terms, positions, payload):
    """Per-occurrence integer payloads (`Lucene84PostingsWriter.java`
    addPosition's payload channel; the values a model-score pipeline
    would attach). Built-in vectorized sources: "position" (1-based
    token position) and "term_len"; a callable (term, position) -> int
    is the general path. "delimited" values come from the analyzer, so
    the per-doc front carries them in its token stream instead."""
    if payload == "position":
        return positions + 1
    if payload == "term_len":
        return np.fromiter(map(len, terms), dtype=np.int64,
                           count=len(positions))
    if callable(payload):
        return np.fromiter((int(payload(t, int(p)))
                            for t, p in zip(terms, positions)),
                           dtype=np.int64, count=len(positions))
    raise ValueError(f"unknown payload source {payload!r}")


def invert_field_arrays(doc_ids: np.ndarray, texts: pd.Series,
                        analyzer: StandardAnalyzer, with_pos: bool,
                        with_off: bool = False, payload=None):
    """Single-field inversion of one Arrow batch.

    → None, or dict of parallel arrays (doc_id, term, freq, norm
    [, pos_blob][, off_blob][, pay_blob]) — one entry per (doc, term)
    pair, the rows of ``RAW_SCHEMA``.

    Two fronts turn rows into one flat token stream (batch row, term,
    position[, start, end][, payload]); :func:`_encode_stream`, the one
    back end, turns the joined stream into rows. Rows matching
    :func:`_fallback_re` (mixed CJK scripts, exceptional lowercase)
    take the per-doc front (the analyzer's own ``term_positions``), the
    rest the vectorized front; with ``payload="delimited"`` or an
    analyzer whose ``batch_vectorizable`` is False every row takes the
    per-doc front. The output equals :func:`_invert_exact` over every
    row (differential-tested in tests/test_analyzer.py).
    """
    arr = texts.fillna("").to_numpy()
    delimited = payload == "delimited"
    if delimited:
        # DelimitedPayloadTokenFilter ingestion: per-occurrence values
        # live in the analyzed token text itself (analysis/delimited.py)
        if not hasattr(analyzer, "term_positions_payloads"):
            raise ValueError(
                "payload='delimited' requires an analyzer exposing "
                "term_positions_payloads (analysis/delimited.py)")
        if with_off:
            raise ValueError(
                "delimited payloads rewrite token text — character "
                "offsets into the original are not derivable")
    if delimited or not getattr(analyzer, "batch_vectorizable", True):
        # CustomAnalyzer chains are arbitrary Python — the vectorized
        # front restates only the StandardAnalyzer family
        per_doc = np.ones(len(arr), dtype=bool)
    else:
        rx = _fallback_re()
        per_doc = np.fromiter((rx.search(t) is not None for t in arr),
                              dtype=bool, count=len(arr))
    streams = (_tokens_vec(np.flatnonzero(~per_doc), arr[~per_doc],
                           analyzer, with_off),
               _tokens_per_doc(np.flatnonzero(per_doc), arr[per_doc],
                               analyzer, with_off, delimited))
    return _encode_stream(doc_ids, streams, with_pos, with_off, payload)


def _invert_exact(doc_ids, arr, analyzer: StandardAnalyzer, with_pos: bool,
                  with_off: bool = False, payload=None):
    """The all-rows per-doc reference: every row through the per-doc
    front, then the one back end."""
    stream = _tokens_per_doc(np.arange(len(arr)), arr, analyzer, with_off,
                             payload == "delimited")
    return _encode_stream(doc_ids, (stream,), with_pos, with_off, payload)


def _vocab_map(uniq, analyzer: StandardAnalyzer):
    """Apply the post-lowercase filter chain (possessive → stop → stem,
    `StandardAnalyzer._finish`) to a batch's distinct-term vocabulary.
    Returns (keep_mask, mapped_terms) aligned with ``uniq``."""
    from ..analysis.en import get_stemmer, possessive_strip
    from ..analysis.folding import ascii_fold
    n = len(uniq)
    keep = np.ones(n, dtype=bool)
    mapped = np.empty(n, dtype=object)
    stem = get_stemmer(analyzer.stemmer)
    sw = analyzer.stop_words
    ov = dict(analyzer.stem_overrides) if analyzer.stem_overrides else None
    kw = analyzer.keyword_terms
    for i, t in enumerate(uniq):
        if analyzer.ascii_folding:
            t = ascii_fold(t)
        if analyzer.possessive:
            t = possessive_strip(t)
        if t in sw:
            keep[i] = False
            mapped[i] = t
            continue
        if ov is not None and t in ov:      # StemmerOverrideFilter
            mapped[i] = ov[t]
            continue
        if t in kw:                         # SetKeywordMarkerFilter
            mapped[i] = t
            continue
        mapped[i] = stem(t) if stem else t
    return keep, mapped


def _tokens_vec(rows, arr, analyzer: StandardAnalyzer, with_off: bool):
    """Vectorized front for fallback-free rows (the web-text fast path):
    → token stream dict (row, term, pos[, start, end]) or None.

    Whole-document lowercase FIRST (one C-level str.lower per doc —
    legal because simple-lowercase is 1:1 and class-preserving on every
    codepoint outside the fallback set, so tokenize∘lower ≡
    lower∘tokenize there), one C regex findall per doc, C-level
    map(len) / set-membership over the flat token stream, the filter
    chain once per distinct term. Offsets mode swaps findall for
    finditer (same C regex engine) to carry each token's (start, end):
    offsets on the lowered text index the original exactly."""
    if len(arr) == 0:
        return None
    if with_off:
        spans = [[(m.group(0), m.start(), m.end())
                  for m in _TOKEN_RE.finditer(t.lower())] for t in arr]
        lists = [[x[0] for x in sp] for sp in spans]
    else:
        findall = _TOKEN_RE.findall
        lists = [findall(t.lower()) for t in arr]
    counts = np.fromiter(map(len, lists), dtype=np.int64, count=len(lists))
    total = int(counts.sum())
    if total == 0:
        return None
    flat = list(chain.from_iterable(lists))
    local = np.repeat(np.arange(len(arr), dtype=np.int64), counts)
    cum0 = np.zeros(len(arr), dtype=np.int64)
    np.cumsum(counts[:-1], out=cum0[1:])
    pos = np.arange(total, dtype=np.int64) - np.repeat(cum0, counts)

    lens = np.fromiter(map(len, flat), dtype=np.int64, count=total)
    keep = lens <= analyzer.max_token_length
    flat = np.asarray(flat, dtype=object)
    if analyzer.possessive or analyzer.stemmer or analyzer.ascii_folding:
        # factorize-first: run the possessive/stop/stem chain once per
        # DISTINCT term in the batch (O(|vocab|) Python, not O(|tokens|)),
        # then scatter the mapped vocabulary back over the token stream
        codes0, uniq0 = pd.factorize(flat)
        keep_u, mapped_u = _vocab_map(uniq0, analyzer)
        keep &= keep_u[codes0]
        flat = mapped_u[codes0]
    else:
        sw = analyzer.stop_words
        if sw:
            keep &= np.fromiter((t not in sw for t in flat),
                                dtype=bool, count=total)
    if not keep.any():
        return None
    out = {"row": rows[local[keep]], "term": flat[keep], "pos": pos[keep]}
    if with_off:
        for k, i in (("start", 1), ("end", 2)):
            out[k] = np.fromiter((x[i] for sp in spans for x in sp),
                                 dtype=np.int64, count=total)[keep]
    return out


def _tokens_per_doc(rows, arr, analyzer: StandardAnalyzer, with_off: bool,
                    delimited: bool):
    """Per-doc front: the analyzer's own per-document surface
    (``term_occurrences`` with offsets, ``term_positions_payloads`` for
    delimited payloads, else ``term_positions``) → token stream dict
    (row, term, pos[, start, end][, pay]) or None. Each (doc, term)
    run keeps the analyzer's occurrence order."""
    row, term, pos, start, end, pay = [], [], [], [], [], []
    for r, text in zip(rows.tolist(), arr):
        text = text or ""
        if with_off:
            occ = analyzer.term_occurrences(text)
            tp = {t: [o[0] for o in v] for t, v in occ.items()}
            for v in occ.values():
                start += [o[1] for o in v]
                end += [o[2] for o in v]
        elif delimited:
            tp, doc_pay = analyzer.term_positions_payloads(text)
            for t in tp:
                pay += doc_pay[t]
        else:
            tp = analyzer.term_positions(text)
        for t, ps in tp.items():
            row += [r] * len(ps)
            term += [t] * len(ps)
            pos += ps
    if not row:
        return None
    out = {"row": np.asarray(row, dtype=np.int64),
           "term": np.asarray(term, dtype=object),
           "pos": np.asarray(pos, dtype=np.int64)}
    if with_off:
        out["start"] = np.asarray(start, dtype=np.int64)
        out["end"] = np.asarray(end, dtype=np.int64)
    if delimited:
        out["pay"] = np.asarray(pay, dtype=np.int64)
    return out


def _encode_stream(doc_ids, streams, with_pos: bool, with_off: bool,
                   payload):
    """The one back end of inversion (FreqProxTermsWriter's per-doc
    flush): joined token streams → RAW rows. Norm bytes from one
    bincount of tokens per row, payloads from :func:`_payload_values`
    (or the stream's own, for "delimited"), one stable (row, term) sort
    into runs, and each channel VByte-encoded in one
    ``codec.vbyte_encode_batch`` pass sliced per run: positions and
    offset starts Δ-coded within their run (first value absolute),
    offsets interleaved [Δstart, length], payloads undeltaed."""
    streams = [s for s in streams if s is not None]
    if not streams:
        return None
    tok = (streams[0] if len(streams) == 1 else
           {k: np.concatenate([s[k] for s in streams]) for k in streams[0]})
    row, pos = tok["row"], tok["pos"]
    dl = np.bincount(row, minlength=len(doc_ids))
    nb = _NORM_LUT[np.minimum(dl, len(_NORM_LUT) - 1)].astype(np.int64)
    big = dl >= len(_NORM_LUT)
    if big.any():
        nb[big] = int_to_byte4(dl[big])

    codes, uniq = pd.factorize(tok["term"])
    order = np.lexsort((codes, row))   # stable: runs keep stream order
    r_s, c_s = row[order], codes[order]
    change = np.r_[True, (r_s[1:] != r_s[:-1]) | (c_s[1:] != c_s[:-1])]
    run_starts = np.flatnonzero(change)
    run_ends = np.r_[run_starts[1:], len(r_s)]
    out = {
        "doc_id": np.asarray(doc_ids)[r_s[run_starts]],
        "term": np.asarray(uniq, dtype=object)[c_s[run_starts]],
        "freq": (run_ends - run_starts).astype(np.int32),
        "norm": nb[r_s[run_starts]].astype(np.int32),
    }

    def run_delta(v):
        d = v.copy()
        d[1:] = v[1:] - v[:-1]
        d[run_starts] = v[run_starts]
        return d

    def run_blobs(values, width=1):
        buf, off = codec.vbyte_encode_batch(values)
        return [buf[off[width * s]:off[width * e]].tobytes()
                for s, e in zip(run_starts, run_ends)]

    if with_pos:
        out["pos_blob"] = run_blobs(run_delta(pos[order]))
    if with_off:
        s_s, e_s = tok["start"][order], tok["end"][order]
        inter = np.empty(2 * len(s_s), dtype=np.int64)
        inter[0::2] = run_delta(s_s)
        inter[1::2] = e_s - s_s
        out["off_blob"] = run_blobs(inter, 2)
    if payload is not None:
        pay = (tok["pay"] if payload == "delimited"
               else _payload_values(tok["term"], pos, payload))
        out["pay_blob"] = run_blobs(pay[order])
    return out


@dataclass
class InvertedIndex:
    """The index = four DataFrames (persisted as sorted Parquet tables)
    plus its tombstones. An index derived from another (append, compact,
    expunge, a delete) is ``dataclasses.replace(idx, <changed tables>)``,
    so every field below carries over unless the operation changes it."""

    postings: DataFrame
    terms: DataFrame
    norms: DataFrame
    stats: dict            # doc_count, sum_ttf, sum_df, max_doc, grid, fields
    analyzer: StandardAnalyzer = field(default_factory=lambda: ENGLISH_ANALYZER)
    with_positions: bool = False
    with_offsets: bool = False       # char offsets per occurrence stored
    with_payloads: bool = False      # per-occurrence payload channel
    raw: DataFrame | None = None     # persisted intermediate; release()-able
    timings: dict = field(default_factory=dict)   # per-stage build seconds
    # tombstones (liveDocs): ``deletes`` = hard ∪ soft doc_ids, the set
    # every reader masks. Its carrier is ``deleted_array`` (sorted, rides
    # the kernel spec) or ``del_table`` (per-cell rows joined on bucket);
    # exactly one is set when ``deletes`` is (deletes.with_tombstones)
    deletes: DataFrame | None = None
    deleted_array: np.ndarray | None = None
    del_table: DataFrame | None = None
    hard_deletes: DataFrame | None = None
    soft_deletes: DataFrame | None = None   # expunge may retain these
    soft_delete_field: str | None = None

    @property
    def flags(self) -> tuple:
        """(positions, offsets, payloads) — the channels a block carries."""
        return self.with_positions, self.with_offsets, self.with_payloads

    def drop_deleted(self, frame: DataFrame) -> DataFrame:
        """``frame`` (a doc_id column) minus tombstoned docs. Only the
        bounded driver-array carrier is broadcast; a distributed set
        anti-joins without the hint."""
        if self.deletes is None:
            return frame
        dels = self.deletes
        if self.deleted_array is not None:
            dels = F.broadcast(dels)
        return frame.join(dels, "doc_id", "left_anti")

    @property
    def fields(self) -> list[str]:
        return sorted(self.stats.get("fields", {DEFAULT_FIELD: None}).keys())

    def field_stats(self, fld: str) -> dict:
        """Per-field collection statistics (docCount, sumTotalTermFreq) —
        `search/IndexSearcher.java:914-933`. Legacy single-field stats
        dicts fall back to the global numbers."""
        fs = self.stats.get("fields")
        if fs and fld in fs:
            return fs[fld]
        return {"doc_count": self.stats["doc_count"],
                "sum_ttf": self.stats["sum_ttf"],
                "sum_df": self.stats.get("sum_df", 0)}

    def release(self) -> None:
        """Unpersist every DataFrame this index pinned (builder's raw
        postings, any cached tables, the persisted tombstone frames) —
        for multi-build sessions. An index derived from this one shares
        these frames and still reads correctly: it recomputes them from
        lineage."""
        for df in (self.raw, self.postings, self.terms, self.norms,
                   self.deletes, self.del_table):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass

    def cache(self, serving_partitions: int | None = None) -> "InvertedIndex":
        """Pin the index tables in memory for query serving.

        ``serving_partitions`` re-range-partitions the postings by bucket
        (whole cells per partition, kernel invariant preserved) before
        caching. A Python kernel job is dominated by its dispatch, not
        its compute: on a 4-core host a mapInPandas job whose body does
        nothing takes 0.18 s on 1 partition and 0.24 s on 4, with 3 ms
        spent inside each worker. A top_k whose postings are few
        (``executor.LOCAL_SCAN_POSTINGS``) therefore launches no Python
        task at all — one JVM-only Arrow collect (0.024 s for 80 KB of
        blocks) feeds the kernel on the driver — and the serving width
        matters for the larger scans and for score_all: use FEW, FAT
        partitions — ~2× the executor cores — independent of the
        build's shuffle width, which wants to be much larger. The build
        width shards the expensive pack; the serving width bounds the
        per-query task count. (Solr has the same split: many indexing
        threads, few search shards per node.)"""
        if serving_partitions is not None:
            self.postings = (self.postings
                             .repartitionByRange(serving_partitions, "bucket")
                             .sortWithinPartitions("bucket", "field", "term",
                                                   "block_id"))
        self.postings = self.postings.cache()
        self.terms = self.terms.cache()
        self.norms = self.norms.cache()
        # materialize now so later queries reuse
        self.postings.count()
        self.terms.count()
        return self


def _shuffle_n(spark: SparkSession) -> int:
    """Shuffle width, robust to non-numeric conf values (AQE 'auto')."""
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        n = spark.sparkContext.defaultParallelism
    return max(n, spark.sparkContext.defaultParallelism * 2, 8)


class IndexBuilder:
    def __init__(self, analyzer: StandardAnalyzer = ENGLISH_ANALYZER,
                 grid: int = 1 << 17, with_positions: bool = False,
                 fields: tuple = (DEFAULT_FIELD,),
                 with_offsets: bool = False, payload=None):
        """grid: doc-range cell size blocks never cross — the query shard
        unit AND the skew bound (no term contributes more than `grid`
        postings to any pack task).
        fields: text columns to index; each column is a field and every
        Term is a (field, text) pair (`index/Term.java:69`).
        Sandbox default sizes; at cluster scale use grid=1<<17+ (same
        code path)."""
        self.analyzer = analyzer
        self.grid = grid
        # offsets (IndexOptions DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS,
        # index/IndexOptions.java:25-53) imply positions; so do payloads —
        # in the reference the payload stream rides the positions stream
        # (Lucene84PostingsWriter.addPosition), there is no payloads-
        # without-positions IndexOption
        self.with_offsets = with_offsets
        self.with_positions = (with_positions or with_offsets
                               or payload is not None)
        # payload channel (Lucene84PostingsWriter.addPosition's payload
        # stream, PayloadAttribute): None, "position", "term_len", or a
        # (term, position) -> int callable (e.g. model term-importance)
        self.payload = payload
        self.fields = tuple(fields)

    # ------------------------------------------------------------------
    # stage 1: invert (narrow)
    # ------------------------------------------------------------------
    def invert(self, docs: DataFrame, doc_id_col="doc_id",
               text_col: str | None = None,
               fields: tuple | None = None) -> DataFrame:
        flds = self._resolve_fields(text_col, fields)
        analyzer = self.analyzer
        with_pos = self.with_positions
        with_off = self.with_offsets
        payload = self.payload

        def invert_batches(batches):
            for pdf in _rebatch(batches):
                dids = pdf[doc_id_col].to_numpy()
                frames = []
                for fld in flds:
                    # PerFieldAnalyzerWrapper: resolve the chain per
                    # field; each resolved analyzer picks its own
                    # batch-vs-per-doc invert path independently
                    an = (analyzer.for_field(fld)
                          if hasattr(analyzer, "for_field") else analyzer)
                    arrs = invert_field_arrays(dids, pdf[fld], an,
                                               with_pos, with_off, payload)
                    if arrs is None:
                        continue
                    n = len(arrs["doc_id"])
                    frames.append(pd.DataFrame({
                        "doc_id": pd.Series(arrs["doc_id"], dtype="int64"),
                        "field": pd.Series([fld] * n, dtype="object"),
                        "term": pd.Series(arrs["term"], dtype="object"),
                        "freq": pd.Series(arrs["freq"], dtype="int32"),
                        "norm": pd.Series(arrs["norm"], dtype="int32"),
                        "pos_blob": pd.Series(
                            arrs.get("pos_blob", [None] * n), dtype="object"),
                        "off_blob": pd.Series(
                            arrs.get("off_blob", [None] * n), dtype="object"),
                        "pay_blob": pd.Series(
                            arrs.get("pay_blob", [None] * n), dtype="object"),
                    }))
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        return docs.select(doc_id_col, *flds).mapInPandas(
            invert_batches, schema=RAW_SCHEMA)

    def _resolve_fields(self, text_col, fields) -> tuple:
        if fields is not None:
            return tuple(fields)
        if text_col is not None:
            return (text_col,)
        return self.fields

    # ------------------------------------------------------------------
    # full build
    # ------------------------------------------------------------------
    def build(self, spark: SparkSession, docs: DataFrame,
              doc_id_col="doc_id", text_col: str | None = None,
              fields: tuple | None = None) -> InvertedIndex:
        import time as _time
        flds = self._resolve_fields(text_col, fields)
        timings = {}
        t0 = _time.perf_counter()
        n_inv = _shuffle_n(spark)
        # THE one wide shuffle of the build moves the DOCUMENTS, keyed by
        # grid cell (whole cells per partition — equal bucket values can
        # never split across range partitions), BEFORE inversion. The
        # invert output is then already bucket-partitioned, so the pack
        # stage needs only a partition-local sort — no second shuffle of
        # the (larger) raw-postings stream. This also decouples invert
        # parallelism from the input file layout, and the doc-range key
        # bounds skew structurally exactly like the old postings shuffle.
        docs_b = (docs.select(doc_id_col, *flds)
                  .withColumn("__cell", F.expr(f"{doc_id_col} div {self.grid}"))
                  .repartitionByRange(n_inv, "__cell"))
        raw = self.invert(docs_b, doc_id_col, fields=flds)
        # One logical pass feeds three aggregations; cache the (much smaller
        # than the corpus) raw postings to avoid re-running the analyzer.
        # At cluster scale this is a checkpoint table instead (catalog.py).
        # The cache preserves the bucket partitioning (all ops below are
        # narrow).
        raw = raw.persist()
        raw.count()
        timings["invert_sec"] = round(_time.perf_counter() - t0, 3)
        t0 = _time.perf_counter()

        terms, norms, stats = derive_tables(
            spark, raw,
            raw.groupBy("field", "doc_id").agg(F.sum("freq").alias("dl"),
                                               F.max("norm").alias("norm")),
            self.grid)
        timings["dict_norms_stats_sec"] = round(_time.perf_counter() - t0, 3)
        t0 = _time.perf_counter()

        # --- pack: NARROW, directly into the final doc-sharded layout.
        # The docs shuffle above already placed whole grid cells per
        # partition (the Solr shard model, QueryComponent.java:810
        # mergeIds), so packing is a partition-local JVM sort by
        # (bucket, field, term, doc_id) + a narrow mapInPandas that walks
        # the sorted runs and emits 128-posting blocks. Head-term skew is
        # handled STRUCTURALLY: a term's postings are split at grid-cell
        # boundaries, so no per-term list ever exceeds `grid` docs — the
        # salted split (salt == doc range) taken to its limit, preserving
        # docID order by construction. Query-time kernels need NO
        # shuffle: filter(term) is narrow and every cell's blocks are
        # contiguous; Parquet row-group stats on the (bucket, field,
        # term) sort order still prune term lookups on disk.
        flags = (self.with_positions, self.with_offsets,
                 self.payload is not None)
        postings = pack_postings(raw, self.grid, flags)
        timings["pack_plan_sec"] = round(_time.perf_counter() - t0, 3)
        # pack/layout stage is lazy; callers time its materialization
        return InvertedIndex(postings=postings, terms=terms, norms=norms,
                             stats=stats, analyzer=self.analyzer,
                             with_positions=flags[0], with_offsets=flags[1],
                             with_payloads=flags[2], raw=raw,
                             timings=timings)


SINGLETON_COLS = ("singleton_doc", "singleton_freq", "singleton_norm")


def pulse_singletons(terms: DataFrame) -> DataFrame:
    """Singleton pulsing: a df == 1 term keeps its one posting (doc,
    freq, norm) in the dictionary; every other term's are null."""
    one = F.col("df") == 1
    return terms.select("field", "term", "df", "ttf",
                        *[F.when(one, F.col(c)).alias(c)
                          for c in SINGLETON_COLS])


def derive_tables(spark: SparkSession, raw: DataFrame, norms: DataFrame,
                  grid: int) -> tuple[DataFrame, DataFrame, dict]:
    """Raw postings + per-(field, doc) norms → (terms, norms, stats):
    the per-field dictionary with singleton pulsing (one partial-agg
    shuffle; Terms are (field, text) pairs), the norms laid out by
    doc_id, and per-field plus global collection stats. Build and
    expunge both end here, so a merge's tables are a build's tables."""
    n_tab = max(4, spark.sparkContext.defaultParallelism // 2)
    terms = (pulse_singletons(
                 raw.groupBy("field", "term")
                 .agg(F.count("*").alias("df"), F.sum("freq").alias("ttf"),
                      F.min("doc_id").alias("singleton_doc"),
                      F.max("freq").alias("singleton_freq"),
                      F.max("norm").alias("singleton_norm")))
             .repartitionByRange(n_tab, "field", "term")
             .sortWithinPartitions("field", "term").persist())
    norms = (norms.repartitionByRange(n_tab, "doc_id")
             .sortWithinPartitions("field", "doc_id").persist())
    frows = (norms.groupBy("field")
             .agg(F.count("*").alias("doc_count"),
                  F.sum("dl").alias("sum_ttf"))).collect()
    sdf = {r["field"]: int(r["sum_df"]) for r in
           terms.groupBy("field").agg(F.sum("df").alias("sum_df")).collect()}
    fstats = {r["field"]: {"doc_count": int(r["doc_count"]),
                           "sum_ttf": int(r["sum_ttf"]),
                           "sum_df": sdf.get(r["field"], 0)}
              for r in frows}
    grow = norms.agg(F.countDistinct("doc_id").alias("doc_count"),
                     F.max("doc_id").alias("max_doc")).collect()[0]
    stats = {"doc_count": int(grow["doc_count"]),
             "sum_ttf": sum(v["sum_ttf"] for v in fstats.values()),
             "sum_df": sum(v["sum_df"] for v in fstats.values()),
             "max_doc": int(grow["max_doc"]),
             "grid": grid,
             "fields": fstats}
    return terms, norms, stats


def pack_postings(raw: DataFrame, grid: int, flags: tuple,
                  n_part: int | None = None) -> DataFrame:
    """Raw posting rows → the postings block table: bucket → (optional
    bucket-range shuffle into ``n_part`` partitions) → partition-local
    sort (bucket, field, term, doc_id) → :func:`pack_partition`.
    ``flags`` = (positions, offsets, payloads). The build passes no
    ``n_part``: its rows already sit whole-cell per partition."""
    def pack(batches):
        yield from pack_partition(batches, grid, *flags)

    rows = raw.withColumn("bucket", F.expr(f"doc_id div {grid}"))
    if n_part is not None:
        rows = rows.repartitionByRange(n_part, "bucket")
    return (rows.sortWithinPartitions("bucket", "field", "term", "doc_id")
            .mapInPandas(pack, schema=POSTINGS_SCHEMA))


_MIN_BATCH_ROWS = 50_000


def _rebatch(batches, min_rows: int = _MIN_BATCH_ROWS):
    """Coalesce small Arrow batches to >= min_rows before processing.

    Both Python stages of the build, invert and pack, have per-batch
    fixed costs (regex setup, factorize, concat, numpy run detection,
    buffer setup) that want wide batches — 50k docs ≈ 30 MB of web
    text. Re-batching inside the iterator makes both independent of the
    session's Arrow batch setting, whenever the lazy stage runs, without
    touching the session's conf."""
    hold, n = [], 0
    for pdf in batches:
        if len(pdf) == 0:
            continue
        hold.append(pdf)
        n += len(pdf)
        if n >= min_rows:
            yield (pd.concat(hold, ignore_index=True)
                   if len(hold) > 1 else hold[0])
            hold, n = [], 0
    if hold:
        yield (pd.concat(hold, ignore_index=True)
               if len(hold) > 1 else hold[0])


def pack_partition(batches, grid: int, with_pos: bool,
                   with_off: bool = False, with_pay: bool = False):
    """Pack a bucket-range partition of sorted raw postings into block rows.

    Input arrives sorted by (bucket, field, term, doc_id); every (bucket,
    field, term) run becomes 128-posting blocks (Lucene84PostingsWriter.
    startDoc semantics: Δ-from-previous-doc, FOR full blocks, VByte tail)
    with inline norm bytes, competitive-impact skylines, optional packed
    positions. The trailing run of each Arrow batch is buffered — it may
    continue in the next batch.
    """
    buf = None
    for pdf in _rebatch(batches):
        if buf is not None:
            pdf = pd.concat([buf, pdf], ignore_index=True)
            buf = None
        if len(pdf) == 0:
            continue
        b = pdf["bucket"].to_numpy()
        t = pdf["term"].to_numpy()
        fl = pdf["field"].to_numpy()
        same_last = (b == b[-1]) & (t == t[-1]) & (fl == fl[-1])
        nz = np.flatnonzero(~same_last)
        start_last = int(nz[-1]) + 1 if len(nz) else 0
        buf = pdf.iloc[start_last:]
        head = pdf.iloc[:start_last]
        if len(head):
            yield _pack_frame(head, grid, with_pos, with_off, with_pay)
    if buf is not None and len(buf):
        yield _pack_frame(buf, grid, with_pos, with_off, with_pay)


_TAIL_TAG = bytes([codec._TAG_VBYTE])


def _pack_frame(pdf: pd.DataFrame, grid: int, with_pos: bool,
                with_off: bool = False,
                with_pay: bool = False) -> pd.DataFrame:
    """Vectorized run→block packing: doc deltas and VByte tails are
    computed for the whole frame in batch numpy passes; per-block Python
    is reduced to buffer slicing plus FOR/PFOR encodes for full blocks."""
    docs = pdf["doc_id"].to_numpy()
    n = len(docs)
    fields_arr = pdf["field"].to_numpy()
    terms_arr = pdf["term"].to_numpy()
    buckets = pdf["bucket"].to_numpy()
    freqs = pdf["freq"].to_numpy().astype(np.int64)
    norms_u8 = pdf["norm"].to_numpy().astype(np.uint8)
    poss = pdf["pos_blob"].to_numpy() if with_pos else None
    offs = pdf["off_blob"].to_numpy() if with_off else None
    pays = pdf["pay_blob"].to_numpy() if with_pay else None

    change = np.r_[True, (buckets[1:] != buckets[:-1])
                   | (terms_arr[1:] != terms_arr[:-1])
                   | (fields_arr[1:] != fields_arr[:-1])]
    run_starts = np.flatnonzero(change)
    run_ends = np.r_[run_starts[1:], n]
    run_lens = run_ends - run_starts
    nblocks = (run_lens + codec.BLOCK_SIZE - 1) // codec.BLOCK_SIZE
    total_blocks = int(nblocks.sum())
    block_run = np.repeat(np.arange(len(run_starts)), nblocks)
    cumb = np.zeros(len(nblocks), dtype=np.int64)
    np.cumsum(nblocks[:-1], out=cumb[1:])
    within = np.arange(total_blocks, dtype=np.int64) - cumb[block_run]
    b_start = run_starts[block_run] + within * codec.BLOCK_SIZE
    b_end = np.minimum(b_start + codec.BLOCK_SIZE, run_ends[block_run])
    b_len = b_end - b_start

    # global Δ stream; first-of-block Δ is 1 (block base = first_doc - 1)
    delta = docs.copy()
    delta[1:] = docs[1:] - docs[:-1]
    delta[b_start] = 1
    dbuf, doff = codec.vbyte_encode_batch(delta)
    fbuf, foff = codec.vbyte_encode_batch(freqs)

    full = codec.BLOCK_SIZE
    doc_blobs, freq_blobs, norm_blobs = [], [], []
    imp_f, imp_n, pos_blobs, off_blobs = [], [], [], []
    pay_blobs = []
    for i in range(total_blocks):
        s, e = int(b_start[i]), int(b_end[i])
        if b_len[i] == full:
            doc_blobs.append(codec.encode_for(delta[s:e]))
            freq_blobs.append(codec.encode_pfor(freqs[s:e]))
        else:
            doc_blobs.append(_TAIL_TAG + dbuf[doff[s]:doff[e]].tobytes())
            freq_blobs.append(_TAIL_TAG + fbuf[foff[s]:foff[e]].tobytes())
        norm_blobs.append(norms_u8[s:e].tobytes())
        if e - s == 1:
            imp_f.append([int(freqs[s])])
            imp_n.append([int(norms_u8[s])])
        elif e - s <= 8:
            # tiny blocks dominate run counts: pure-Python pareto sweep
            # (identical result to functions.impacts.skyline, no numpy
            # per-call overhead)
            out_f, out_n = [], []
            mx, prev_n = -1, None
            for fv, nv in sorted(zip(freqs[s:e].tolist(),
                                     norms_u8[s:e].tolist()),
                                 key=lambda p: (p[1], -p[0])):
                if nv == prev_n:
                    continue
                prev_n = nv
                if fv > mx:
                    out_f.append(fv)
                    out_n.append(nv)
                    mx = fv
            imp_f.append(out_f)
            imp_n.append(out_n)
        else:
            sf, sn = skyline(freqs[s:e], norms_u8[s:e])
            imp_f.append(sf.astype(np.int32).tolist())
            imp_n.append(sn.astype(np.int32).tolist())
        # a block's channel blob is its postings' per-run streams joined
        pos_blobs.append(b"".join(poss[s:e]) if with_pos else None)
        off_blobs.append(b"".join(offs[s:e]) if with_off else None)
        pay_blobs.append(b"".join(pays[s:e]) if with_pay else None)

    return pd.DataFrame({
        "field": pd.Series(fields_arr[b_start], dtype="object"),
        "term": pd.Series(terms_arr[b_start], dtype="object"),
        "bucket": pd.Series(buckets[b_start], dtype="int64"),
        "block_id": pd.Series(docs[b_start], dtype="int64"),
        "doc_count": pd.Series(b_len, dtype="int32"),
        "last_doc": pd.Series(docs[b_end - 1], dtype="int64"),
        "doc_blob": pd.Series(doc_blobs, dtype="object"),
        "freq_blob": pd.Series(freq_blobs, dtype="object"),
        "norm_blob": pd.Series(norm_blobs, dtype="object"),
        "imp_freqs": pd.Series(imp_f, dtype="object"),
        "imp_norms": pd.Series(imp_n, dtype="object"),
        "pos_blob": pd.Series(pos_blobs, dtype="object"),
        "off_blob": pd.Series(off_blobs, dtype="object"),
        "pay_blob": pd.Series(pay_blobs, dtype="object"),
    })


def decode_postings_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(docs, freqs, norm_bytes) from one postings-table row (dict-like)."""
    first = int(row["block_id"])
    n = int(row["doc_count"])
    docs, freqs = codec.decode_block_payloads(
        bytes(row["doc_blob"]), bytes(row["freq_blob"]), n, first - 1)
    norms = np.frombuffer(bytes(row["norm_blob"]), dtype=np.uint8).astype(np.int64)
    return docs, freqs, norms


# the blob column of each occurrence channel decode_blocks can read
_CHANNEL_BLOBS = {"pos": "pos_blob", "off": "off_blob", "pay": "pay_blob"}


def decode_blocks(rows, channels=()) -> dict:
    """The one postings reader (Lucene84PostingsReader's PostingsEnum;
    ``channels`` are its POSITIONS/OFFSETS/PAYLOADS flags): block rows →
    concatenated per-posting arrays, in row order.

    ``rows`` is a list of block-row mappings (``pdf.to_dict("records")``).
    → dict with ``doc``, ``freq``, ``norm`` (norm byte) and ``row`` (the
    index of each posting's source row, to label postings with its
    field/term), plus flat per-occurrence arrays (``freq`` entries per
    posting, in posting order) per requested channel: "pos" → ``pos``
    (absolute positions), "off" → ``start``/``end`` (char offsets),
    "pay" → ``pay`` (payloads, stored undeltaed). A channel blob is the
    concatenation of its postings' VByte streams, so each channel
    decodes in one pass over all rows."""
    parts = [decode_postings_block(r) for r in rows]
    if parts:
        doc, freq, norm = (np.concatenate(x) for x in zip(*parts))
    else:
        doc = freq = norm = np.zeros(0, dtype=np.int64)
    counts = np.fromiter((len(p[0]) for p in parts), dtype=np.int64,
                         count=len(parts))
    out = {"doc": doc, "freq": freq, "norm": norm,
           "row": np.repeat(np.arange(len(rows)), counts)}
    total = int(freq.sum())
    for ch in channels:
        blob = b"".join(r[_CHANNEL_BLOBS[ch]] for r in rows)
        if ch == "off":
            # interleaved [Δstart, length]; Δstart restarts per posting
            flat = codec.vbyte_decode(blob, 2 * total)
            out["start"] = _run_cumsum(flat[0::2], freq)
            out["end"] = out["start"] + flat[1::2]
        elif ch == "pos":
            out["pos"] = _run_cumsum(codec.vbyte_decode(blob, total), freq)
        else:
            out["pay"] = codec.vbyte_decode(blob, total)
    return out


def _run_cumsum(deltas: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Cumsum of ``deltas`` restarted at every run (run i holds lens[i]
    values): per-posting delta streams → absolute values, one pass."""
    csum = np.cumsum(deltas)
    starts = np.cumsum(lens) - lens
    return csum - np.repeat(np.r_[0, csum][starts], lens)

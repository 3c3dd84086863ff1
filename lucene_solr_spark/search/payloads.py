"""PayloadScoreQuery — per-occurrence payload scoring.

Reference semantics (`lucene/queries/.../payloads/PayloadScoreQuery.
java:46` over `PayloadFunction.java` Min/Max/Sum/Average): a span's
score becomes f(payloads of the matching occurrences), optionally
multiplied by the wrapped query's similarity score (includeSpanScore).
The common production shape — and the one implemented here — is the
single-term span (SpanTermQuery wrapper), e.g. ranking by
model-assigned term-importance payloads.

Spark shape: the payload aggregation runs executor-side in a
mapInPandas over the term's (field, term)-filtered blocks (pushed key
predicate, bucket-major layout — same scan the kernel does), with a
vectorized segmented reduce (np.*.reduceat) per doc; the driver sees
only (doc_id, payload_score) rows. includeSpanScore multiplies by the
BM25 score from the normal kernel via a doc_id join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..index.builder import decode_payloads_flat, decode_postings_block
from .ast import DEFAULT_FIELD, TermQuery
from .executor import _key_filter

FUNCS = ("sum", "max", "min", "avg")


def payload_scores(searcher, term: str, field: str = DEFAULT_FIELD,
                   func: str = "sum", decoder: str = "identity") -> DataFrame:
    """(doc_id, payload_score) for every doc containing ``term`` —
    payload_score = func over the term's per-occurrence payloads
    (PayloadFunction.docScore). ``decoder``: "identity" (channel ints
    used as-is) or "float_bits" (PayloadHelper.decodeFloat — the value
    is the IEEE-754 bit pattern a DelimitedPayloadAnalyzer float
    encoder stored)."""
    if func not in FUNCS:
        raise ValueError(f"unknown payload function {func!r}")
    if decoder not in ("identity", "float_bits"):
        raise ValueError(f"unknown payload decoder {decoder!r}")
    if not searcher.index.with_payloads:
        raise ValueError(
            "payload_scores requires IndexBuilder(payload=...)")
    blocks = (searcher.index.postings
              .filter(_key_filter([(field, term)]))
              .select("block_id", "doc_count", "doc_blob", "freq_blob",
                      "norm_blob", "pay_blob"))

    def extract(batches):
        import pandas as pd
        for pdf in batches:
            out_d, out_s = [], []
            for i in range(len(pdf)):
                row = {c: pdf[c].iloc[i] for c in pdf.columns}
                docs, freqs, _ = decode_postings_block(row)
                raw = decode_payloads_flat(row["pay_blob"], freqs)
                if decoder == "float_bits":
                    pays = (np.asarray(raw, dtype=np.uint64)
                            .astype(np.uint32).view(np.float32)
                            .astype(np.float64))
                else:
                    pays = np.asarray(raw).astype(np.float64)
                starts = np.zeros(len(freqs), dtype=np.int64)
                np.cumsum(np.asarray(freqs, dtype=np.int64)[:-1],
                          out=starts[1:])
                if func == "sum":
                    s = np.add.reduceat(pays, starts)
                elif func == "max":
                    s = np.maximum.reduceat(pays, starts)
                elif func == "min":
                    s = np.minimum.reduceat(pays, starts)
                else:   # avg
                    s = (np.add.reduceat(pays, starts)
                         / np.asarray(freqs, dtype=np.float64))
                out_d.append(docs)
                out_s.append(s)
            if out_d:
                yield pd.DataFrame({
                    "doc_id": np.concatenate(out_d),
                    "payload_score": np.concatenate(out_s)})

    return blocks.mapInPandas(extract,
                              "doc_id long, payload_score double")


def payload_score_topk(searcher, term: str, k: int = 10,
                       field: str = DEFAULT_FIELD, func: str = "sum",
                       include_span_score: bool = False,
                       decoder: str = "identity") -> DataFrame:
    """Top-k by payload score (PayloadScoreQuery.java:46: final score =
    payload score, × span score when includeSpanScore). Ties: doc_id
    asc. → (doc_id, score) as a DataFrame (TakeOrderedAndProject)."""
    ps = payload_scores(searcher, term, field=field, func=func,
                        decoder=decoder)
    if include_span_score:
        bm = searcher.score_all(TermQuery(term, field), mode="f64")
        ps = (ps.join(bm, "doc_id")
              .select("doc_id",
                      (F.col("payload_score") * F.col("score"))
                      .alias("payload_score")))
    return (ps.select("doc_id", F.col("payload_score").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def _term_positions_with_payloads(searcher, term: str, field: str,
                                  required: int | None) -> DataFrame:
    """(doc_id, pos) occurrences of ``term`` whose payload equals
    ``required`` (all occurrences when required is None). Pushed
    (field, term) key predicate; decode + filter run executor-side in
    mapInPandas — only the surviving (doc_id, pos) pairs leave the
    scan, so a selective payload check prunes before any join."""
    blocks = (searcher.index.postings
              .filter(_key_filter([(field, term)]))
              .select("block_id", "doc_count", "doc_blob", "freq_blob",
                      "norm_blob", "pos_blob", "pay_blob"))
    from ..index.builder import decode_positions_blob

    def extract(batches):
        import pandas as pd
        for pdf in batches:
            out_d, out_p = [], []
            for i in range(len(pdf)):
                row = {c: pdf[c].iloc[i] for c in pdf.columns}
                docs, freqs, _ = decode_postings_block(row)
                poss = decode_positions_blob(row["pos_blob"], freqs)
                pays = decode_payloads_flat(row["pay_blob"], freqs)
                off = 0
                for d, f, p in zip(docs, freqs, poss):
                    pay = pays[off:off + f]
                    off += f
                    keep = (p if required is None
                            else p[pay == required])
                    out_d.extend([int(d)] * len(keep))
                    out_p.extend(int(x) for x in keep)
            yield pd.DataFrame({"doc_id": pd.Series(out_d, dtype="int64"),
                                "pos": pd.Series(out_p, dtype="int64")})

    return blocks.mapInPandas(extract, "doc_id long, pos long")


def span_payload_check(searcher, terms: list[str],
                       payloads: list[int | None],
                       field: str = DEFAULT_FIELD) -> DataFrame:
    """SpanPayloadCheckQuery (`lucene/queries/src/java/org/apache/lucene/
    queries/payloads/SpanPayloadCheckQuery.java:54`): match exact-phrase
    spans of ``terms`` where the payload at each span position equals
    the corresponding ``payloads`` entry (None = position unchecked —
    the reference's MatchOperation.GT/LT variants reduce to per-position
    predicates the same way).

    → (doc_id, freq): documents containing ≥1 payload-consistent span,
    with the count of such spans (the span freq the reference's scorer
    feeds to the similarity).

    Plan: each position stream is payload-filtered AT THE SCAN (see
    _term_positions_with_payloads), then the phrase is an equi-join
    chain on (doc_id, pos − slot) — the join key encodes the phrase
    alignment, so Catalyst plans ordinary hash joins; all streams are
    candidate-bounded by the most selective payload check.
    """
    if len(terms) != len(payloads) or not terms:
        raise ValueError("terms and payloads must align (non-empty)")
    if not searcher.index.with_payloads:
        raise ValueError(
            "span_payload_check requires IndexBuilder(payload=...)")
    anchored = None
    for slot, (t, req) in enumerate(zip(terms, payloads)):
        s = (_term_positions_with_payloads(searcher, t, field, req)
             .select("doc_id", (F.col("pos") - slot).alias("anchor")))
        anchored = s if anchored is None else \
            anchored.join(s, ["doc_id", "anchor"])
    return anchored.groupBy("doc_id").agg(F.count("*").alias("freq"))

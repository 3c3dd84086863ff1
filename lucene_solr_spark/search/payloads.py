"""PayloadScoreQuery — per-occurrence payload scoring.

Reference semantics (`lucene/queries/.../payloads/PayloadScoreQuery.
java:46` over `PayloadFunction.java` Min/Max/Sum/Average): a span's
score becomes f(payloads of the matching occurrences), optionally
multiplied by the wrapped query's similarity score (includeSpanScore).
The common production shape — and the one implemented here — is the
single-term span (SpanTermQuery wrapper), e.g. ranking by
model-assigned term-importance payloads.

Spark shape: the payload aggregation runs executor-side over the
searcher's one block scan (`Searcher._postings`: pushed (field, term)
predicate, bucket-major layout, payloads decoded by `decode_blocks`,
tombstoned docs dropped — the scan the kernel does), with a
vectorized segmented reduce (np.*.reduceat) per doc; the driver sees
only (doc_id, payload_score) rows. includeSpanScore multiplies by the
BM25 score from the normal kernel via a doc_id join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .ast import DEFAULT_FIELD, TermQuery

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
    reduce = {"sum": np.add, "max": np.maximum, "min": np.minimum,
              "avg": np.add}[func].reduceat

    def extract(parts):
        import pandas as pd
        for _, p in parts:
            raw = p["pay"]
            if decoder == "float_bits":
                pays = (np.asarray(raw, dtype=np.uint64).astype(np.uint32)
                        .view(np.float32).astype(np.float64))
            else:
                pays = raw.astype(np.float64)
            s = reduce(pays, np.cumsum(p["freq"]) - p["freq"])
            if func == "avg":
                s = s / p["freq"]
            yield pd.DataFrame({"doc_id": p["doc"], "payload_score": s})

    return searcher._postings([(field, term)], extract,
                              "doc_id long, payload_score double",
                              channels=("pay",))


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
    ``required`` (all occurrences when required is None), tombstoned
    docs excluded. Pushed (field, term) key predicate; decode + filter
    run executor-side — only the surviving (doc_id, pos) pairs leave
    the scan, so a selective payload check prunes before any join."""
    def extract(parts):
        import pandas as pd
        for _, p in parts:
            doc = np.repeat(p["doc"], p["freq"])
            keep = (slice(None) if required is None
                    else p["pay"] == required)
            yield pd.DataFrame({"doc_id": doc[keep], "pos": p["pos"][keep]})

    return searcher._postings([(field, term)], extract,
                              "doc_id long, pos long",
                              channels=("pos", "pay"))


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

"""CombinedFieldQuery / BM25F — score multiple fields as one stream.

Reference: `lucene/sandbox/src/java/org/apache/lucene/search/
BM25FQuery.java:58` (later renamed CombinedFieldQuery) +
`MultiNormsLeafSimScorer.java`:

- ONE pseudo-term scorer for the whole query (createWeight :283-298):
  pseudo df = max df over every (field, term); pseudo collection stats
  (:301-316): docCount = max over fields, sumTotalTermFreq =
  Σ weight_f × sumTTF_f (⇒ avgdl = that sum / docCount).
- per-doc freq (:405-436): Σ over matching (field, term) postings of
  weight_f × tf — the fields concatenated into one virtual stream.
- per-doc norm (MultiNormsLeafSimScorer.MultiFieldNormValues:124-131):
  Σ weight_f × LENGTH_TABLE[norm_byte_f], rounded, re-encoded through
  SmallFloat.intToByte4 — i.e. the combined length is re-QUANTIZED
  exactly like a single field's.
- final score = BM25(freq, combined norm) with the pseudo stats.

Spark shape / 100-TB posture: stats resolve driver-side from the
dictionary (two bounded probes); per-doc freqs come from the searcher's
one block scan (`Searcher._postings`: pushed (field, term) predicate,
`decode_blocks`, tombstoned docs dropped — the kernel's narrow scan, no
shuffle in); the weighted-freq aggregation and the norms join are the
only wide steps, both on doc_id; the length quantization chain runs as
codegen CASE expressions. f64 — scores are
the reference formula evaluated in double (the engine's oracle mode).

Divergence (documented): docs that lack a field entirely contribute
length 0 for it (the reference's MultiFieldNormValues asserts the norm
exists — Lucene always materializes norms for indexed fields; a
missing-field doc is outside its envelope).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

# SmallFloat.intToByte4 ∘ byte4ToInt as one codegen CASE — identical to
# the oracle prelude's dlq expression
_DLQ = ("CASE WHEN {x} < 40 THEN {x} ELSE 24 + ((((({x}-24) >> "
        "(length(bin({x}-24))-4)) & 7) | 8) << (length(bin({x}-24))-4)) "
        "END")


def _dlq(col_expr: str) -> str:
    return _DLQ.replace("{x}", f"({col_expr})")


def combined_field_scores(searcher, terms: list[str],
                          field_weights: dict[str, float]) -> DataFrame:
    """→ (doc_id, score) for every doc matching ANY (field, term) —
    the exhaustive BM25F evaluation (ScoreMode.COMPLETE)."""
    if not terms or not field_weights:
        raise ValueError("terms and field_weights must be non-empty")
    for f, w in field_weights.items():
        if w < 1.0:
            raise ValueError(
                f"field weight must be >= 1 (BM25FQuery.Builder."
                f"addField), got {w} for {f!r}")
    fields = sorted(field_weights)
    keys = [(f, t) for f in fields for t in terms]
    st = searcher.term_stats(keys)
    pseudo_df = max((st[k][0] for k in keys if k in st), default=0)
    if pseudo_df == 0:
        from .executor import KERNEL_SCHEMA
        return searcher.spark.createDataFrame([], KERNEL_SCHEMA)
    doc_count, sum_ttf = 0, 0.0
    for f in fields:
        fs = searcher.field_stats(f)
        doc_count = max(doc_count, int(fs["doc_count"]))
        sum_ttf += field_weights[f] * float(fs["sum_ttf"])
    avgdl = sum_ttf / doc_count
    idf = math.log(1.0 + (doc_count - pseudo_df + 0.5) / (pseudo_df + 0.5))
    k1, b = searcher.k1, searcher.b

    def extract(parts):
        import pandas as pd
        for pdf, p in parts:
            w = pdf["field"].map(field_weights).to_numpy(dtype=float)
            yield pd.DataFrame({"doc_id": p["doc"],
                                "wfreq": p["freq"] * w[p["row"]]})

    wfreq = (searcher._postings([k for k in keys if k in st], extract,
                                "doc_id long, wfreq double")
             .groupBy("doc_id").agg(F.sum("wfreq").alias("freq")))

    # combined norm: Σ w_f × LENGTH_TABLE[norm_f], rounded, re-quantized
    norms = searcher.index.norms.filter(F.col("field").isin(fields))
    per_field = norms.select(
        "doc_id", "field", F.expr(_dlq("dl")).alias("dlq"))
    wexpr = F.lit(0.0)
    for f in fields:
        wexpr = (F.when(F.col("field") == f,
                        F.lit(float(field_weights[f]))).otherwise(wexpr))
    combined = (per_field
                .withColumn("wlen", F.col("dlq") * wexpr)
                .groupBy("doc_id").agg(F.sum("wlen").alias("wsum"))
                # Math.round = floor(x + 0.5)
                .withColumn("clen", F.expr(
                    _dlq("floor(wsum + 0.5d)")).cast("double")))

    return (wfreq.join(combined, "doc_id", "left")
            .na.fill({"clen": 0.0})
            .select("doc_id", (F.lit(idf) * F.col("freq")
                               / (F.col("freq")
                                  + F.lit(k1) * (1.0 - b + b *
                                                 F.col("clen") / avgdl)))
                    .alias("score")))


def combined_field_topk(searcher, terms: list[str],
                        field_weights: dict[str, float],
                        k: int = 10) -> DataFrame:
    """Top-k BM25F (score desc, doc_id asc) as a DataFrame —
    TakeOrderedAndProject over the exhaustive scores."""
    return (combined_field_scores(searcher, terms, field_weights)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

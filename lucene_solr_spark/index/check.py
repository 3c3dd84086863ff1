"""CheckIndex analog — full-index invariant verification.

The reference's `index/CheckIndex.java:83,450-900` (`testPostings` /
`testTerms` / `testNorms`) re-reads every structure and cross-checks
them (postings monotonicity, docFreq/totalTermFreq consistency, impacts
vs actual maxima). Spark restatement: one narrow pass decodes every
block WHERE IT LIVES and emits one small fact row per block
(:func:`_block_facts`); cheap aggregations cross-check the facts against
the term dictionary, norms and stats tables. Two views share that pass:

- :func:`check_index` — all fields → ``{ok, errors, counts}``.
- :func:`check_field` — one field → ``(check_name, value)`` rows. Its
  corpus totals (doc_count, distinct_terms, sum_df, sum_ttf) can be
  recomputed from the raw documents through the same analysis chain (the
  ``q_check_index`` oracle does), so a green report proves index ==
  corpus; its consistency counters are identically 0 on a healthy index.

Checked invariants:
  B1 docIDs strictly increase inside every block
  B2 a block never spans a grid-cell boundary; block_id == first doc;
     last_doc column matches the decoded last doc
  B3 freqs >= 1; norm bytes present for every posting
  B4 the impact skyline DOMINATES the block: for every (freq, norm) in
     the block there is a skyline pair with freq' >= freq whose norm
     yields a score >= the posting's (we check the skyline contains the
     max freq per norm)
  T1 df(term) == Σ block doc_count; ttf(term) == Σ block freqs
  T2 singleton pulsing: df == 1 iff singleton_doc is set and matches
  N1 norms.dl > 0; stats.doc_count == |norms|; stats.sum_ttf == Σ dl
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.impacts import dominates
from .builder import DEFAULT_FIELD, InvertedIndex, decode_postings_block

BLOCK_FACTS_SCHEMA = ("field string, term string, bucket long, block_id long, "
                      "n_docs long, sum_freq long, ok boolean, err string")


def _block_facts(batches, grid: int):
    """Decode every block in place → one row per block: its decoded doc
    count and freq sum (0 when the decode fails), and the first violated
    invariant (``err``; empty when ``ok``)."""
    for pdf in batches:
        flds, terms, buckets, bids, nds, sfs, oks, errs = [], [], [], [], [], [], [], []
        for row in pdf.itertuples(index=False):
            r = row._asdict()
            err = ""
            docs = freqs = np.zeros(0, dtype=np.int64)
            try:
                docs, freqs, norms = decode_postings_block(r)
                if len(docs) != r["doc_count"]:
                    err = f"count {len(docs)} != {r['doc_count']}"
                elif np.any(np.diff(docs) <= 0):
                    err = "docs not strictly increasing"          # B1
                elif int(docs[0]) != r["block_id"]:
                    err = "block_id != first doc"                 # B2
                elif int(docs[-1]) != r["last_doc"]:
                    err = "last_doc mismatch"                     # B2
                elif docs[0] // grid != docs[-1] // grid:
                    err = "block spans grid cells"                # B2
                elif docs[0] // grid != r["bucket"]:
                    err = "bucket mismatch"                       # B2
                elif np.any(freqs < 1):
                    err = "freq < 1"                              # B3
                elif len(norms) != len(docs):
                    err = "norm bytes missing"                    # B3
                elif not dominates(np.asarray(r["imp_freqs"]),
                                   np.asarray(r["imp_norms"]),
                                   freqs, norms):
                    err = "impact skyline does not dominate block"    # B4
            except Exception as e:          # decode failure is a finding
                err = f"decode: {e}"
            flds.append(r["field"])
            terms.append(r["term"])
            buckets.append(r["bucket"])
            bids.append(r["block_id"])
            nds.append(len(docs))
            sfs.append(int(np.sum(freqs)))
            oks.append(err == "")
            errs.append(err)
        yield pd.DataFrame({
            "field": pd.Series(flds, dtype="object"),
            "term": pd.Series(terms, dtype="object"),
            "bucket": pd.Series(buckets, dtype="int64"),
            "block_id": pd.Series(bids, dtype="int64"),
            "n_docs": pd.Series(nds, dtype="int64"),
            "sum_freq": pd.Series(sfs, dtype="int64"),
            "ok": pd.Series(oks, dtype="bool"),
            "err": pd.Series(errs, dtype="object"),
        })


def _facts(postings: DataFrame, grid: int) -> DataFrame:
    return postings.mapInPandas(lambda it: _block_facts(it, grid),
                                schema=BLOCK_FACTS_SCHEMA)


def _per_term(facts: DataFrame) -> DataFrame:
    """Block facts rolled up per (field, term): decoded df and ttf, and
    the count of bad blocks."""
    return facts.groupBy("field", "term").agg(
        F.sum("n_docs").alias("df_dec"), F.sum("sum_freq").alias("ttf_dec"),
        F.sum((~F.col("ok")).cast("long")).alias("bad"))


def check_index(idx: InvertedIndex) -> dict:
    """Run every invariant; returns {ok, errors: [...], counts: {...}}."""
    grid = idx.stats["grid"]
    errors: list[str] = []

    facts = _facts(idx.postings, grid).cache()
    bad = facts.filter(~F.col("ok")).select("term", "block_id", "err").limit(20)
    for r in bad.collect():
        errors.append(f"block {r['term']}@{r['block_id']}: {r['err']}")

    # T1: dictionary consistency (Terms are (field, text) pairs)
    t = idx.terms.join(_per_term(facts), ["field", "term"], "full_outer")
    t_bad = t.filter(
        F.col("df_dec").isNull() | F.col("df").isNull() |
        (F.col("df") != F.col("df_dec")) |
        (F.col("ttf") != F.col("ttf_dec"))).limit(20)
    for r in t_bad.collect():
        errors.append(
            f"term {r['term']}: dict df={r['df']} ttf={r['ttf']} vs blocks "
            f"df={r['df_dec']} ttf={r['ttf_dec']}")

    # T2: singleton pulsing
    s_bad = idx.terms.filter(
        ((F.col("df") == 1) & F.col("singleton_doc").isNull()) |
        ((F.col("df") != 1) & F.col("singleton_doc").isNotNull())).limit(20)
    for r in s_bad.collect():
        errors.append(f"term {r['term']}: singleton pulsing violated")

    # N1: norms + stats (norms are per (field, doc); global doc_count is
    # distinct docs with any indexed field)
    nrow = idx.norms.agg(F.countDistinct("doc_id").alias("n"),
                         F.sum("dl").alias("s"),
                         F.min("dl").alias("mn")).collect()[0]
    if int(nrow["n"]) != idx.stats["doc_count"]:
        errors.append(f"stats.doc_count {idx.stats['doc_count']} != "
                      f"|norms docs| {nrow['n']}")
    if int(nrow["s"]) != idx.stats["sum_ttf"]:
        errors.append(f"stats.sum_ttf {idx.stats['sum_ttf']} != "
                      f"sum(dl) {nrow['s']}")
    if nrow["mn"] is not None and int(nrow["mn"]) <= 0:
        errors.append("norms.dl <= 0")

    counts = {"blocks": facts.count(),
              "terms": idx.terms.count(),
              "docs": int(nrow["n"])}
    facts.unpersist()
    return {"ok": not errors, "errors": errors, "counts": counts}


def check_field(idx: InvertedIndex, field: str = DEFAULT_FIELD) -> DataFrame:
    """Audit one field of the index → (check_name, value) rows.

    Corpus-comparable totals (gate these against an independent
    recomputation from the raw documents):
      doc_count, distinct_terms, sum_df, sum_ttf
    Internal-consistency counters (identically 0 on a healthy index):
      bad_blocks           — blocks whose decode violates an invariant
      term_df_mismatches   — terms whose decoded df != dictionary df
      term_ttf_mismatches  — terms whose decoded ttf != dictionary ttf
      norms_ttf_delta      — |Σ norms.dl − Σ dictionary ttf|
      stats_delta          — |stats doc_count − norms rows| +
                             |stats sum_ttf − Σ norms.dl|
    """
    per_term = _per_term(_facts(
        idx.postings.filter(F.col("field") == field), idx.stats["grid"]))
    dict_terms = (idx.terms.filter(F.col("field") == field)
                  .select("field", "term", "df", "ttf"))
    # full-outer: a postings term missing from the dictionary (or the
    # reverse) must surface as a mismatch, not vanish in an inner join
    joined = (dict_terms.join(per_term, ["field", "term"], "full_outer")
              .agg(F.sum(F.when(F.col("df").isNotNull(), 1)
                         .otherwise(0)).alias("n_terms"),
                   F.sum("df").alias("sum_df"),
                   F.sum("ttf").alias("sum_ttf"),
                   F.sum("bad").alias("bad_blocks"),
                   F.sum(F.when(F.coalesce(F.col("df"), F.lit(-1))
                                != F.coalesce(F.col("df_dec"), F.lit(-2)),
                                1).otherwise(0)).alias("df_mism"),
                   F.sum(F.when(F.coalesce(F.col("ttf"), F.lit(-1))
                                != F.coalesce(F.col("ttf_dec"), F.lit(-2)),
                                1).otherwise(0)).alias("ttf_mism"))
              .collect()[0])
    nrow = (idx.norms.filter(F.col("field") == field)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("dl").alias("sum_dl")).collect()[0])
    fs = idx.field_stats(field)
    checks = [
        ("doc_count", int(nrow["n"])),
        ("distinct_terms", int(joined["n_terms"])),
        ("sum_df", int(joined["sum_df"])),
        ("sum_ttf", int(joined["sum_ttf"])),
        ("bad_blocks", int(joined["bad_blocks"])),
        ("term_df_mismatches", int(joined["df_mism"])),
        ("term_ttf_mismatches", int(joined["ttf_mism"])),
        ("norms_ttf_delta",
         abs(int(nrow["sum_dl"]) - int(joined["sum_ttf"]))),
        ("stats_delta",
         abs(int(fs["doc_count"]) - int(nrow["n"]))
         + abs(int(fs["sum_ttf"]) - int(nrow["sum_dl"]))),
    ]
    return idx.postings.sparkSession.createDataFrame(
        checks, "check_name string, value long")

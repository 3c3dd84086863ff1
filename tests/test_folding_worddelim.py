"""ASCIIFoldingFilter + WordDelimiterGraphFilter analogs.

Folding mirrors `analysis/miscellaneous/ASCIIFoldingFilter.java:57-187`
(Latin blocks envelope); word-delimiter mirrors
`analysis/miscellaneous/WordDelimiterGraphFilter.java:47-120` with Solr
schema defaults. The Catalyst expression (codegen regexp path) is
differential-tested against the per-token Python twin, and the folding
analyzer is driven through a real index build + search: an accented
corpus under a folding analyzer must rank identically to the plain
corpus under the plain analyzer.
"""

import pyspark.sql.functions as F
import pytest

from lucene_solr_spark.analysis.analyzer import (ENGLISH_ANALYZER,
                                                 ENGLISH_STOP_WORDS,
                                                 StandardAnalyzer)
from lucene_solr_spark.analysis.folding import ascii_fold, has_foldable
from lucene_solr_spark.analysis.worddelim import (word_delimiter_expr,
                                                  word_delimiter_split)
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.search import Searcher, parse_query

from conftest import SF_DIR

FOLD_CASES = [
    ("café", "cafe"), ("straße", "strasse"), ("Œuvre", "OEuvre"),
    ("naïve", "naive"), ("über", "uber"), ("piñata", "pinata"),
    ("Ångström", "Angstrom"), ("łódź", "lodz"), ("señor", "senor"),
    ("Æsir", "AEsir"), ("Þing", "THing"), ("ﬁsh", "ﬁsh"),  # ligature out of envelope
    ("hello", "hello"), ("東京", "東京"),
]


def test_fold_table():
    for raw, want in FOLD_CASES:
        assert ascii_fold(raw) == want, raw
    assert has_foldable("café") and not has_foldable("cafe")


def test_fold_idempotent():
    for raw, _ in FOLD_CASES:
        once = ascii_fold(raw)
        assert ascii_fold(once) == once


WD_CASES = {
    "PowerShot500": ["Power", "Shot", "500"],
    "Wi-Fi": ["Wi", "Fi"],
    "O'Neil's": ["O", "Neil"],
    "APIKey": ["API", "Key"],
    "j2se": ["j", "2", "se"],
    "hello": ["hello"],
    "XMLHttpRequest": ["XML", "Http", "Request"],
    "500GB": ["500", "GB"],
    "foo_bar": ["foo", "bar"],
}


def test_word_delimiter_python():
    for tok, want in WD_CASES.items():
        assert word_delimiter_split(tok) == want, tok
    assert word_delimiter_split("Wi-Fi", catenate_all=True) == \
        ["Wi", "Fi", "WiFi"]
    assert word_delimiter_split("Wi-Fi", preserve_original=True) == \
        ["Wi", "Fi", "Wi-Fi"]


def test_word_delimiter_catalyst_differential(spark):
    toks = list(WD_CASES) + ["a1b2c3", "IPv6", "e-mail's", "A", ""]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    rows = df.select(
        "tok", word_delimiter_expr("tok").alias("parts"),
        word_delimiter_expr("tok", catenate_all=True).alias("cat"),
    ).collect()
    for r in rows:
        assert r.parts == word_delimiter_split(r.tok), r.tok
        assert r.cat == word_delimiter_split(r.tok, catenate_all=True), r.tok


def test_folding_index_end_to_end(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fold_an = StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS,
                               ascii_folding=True)
    accented = docs.withColumn(
        "text", F.regexp_replace("text", "fast", "fást"))
    kw = dict(grid=128, with_positions=True)
    plain = IndexBuilder(ENGLISH_ANALYZER, **kw).build(spark, docs).cache()
    folded = IndexBuilder(fold_an, **kw).build(spark, accented).cache()
    try:
        s_plain = Searcher(spark, plain)
        s_fold = Searcher(spark, folded)
        r_plain = s_plain.top_k(parse_query("fast", ENGLISH_ANALYZER), k=10)
        # accented query text, folding analyzer: must hit the folded index
        r_fold = s_fold.top_k(parse_query("fást", fold_an), k=10)
        assert r_fold.doc_id.tolist() == r_plain.doc_id.tolist()
        assert float((r_fold.score - r_plain.score).abs().max()) < 1e-6
        # phrase across the folded term
        p_plain = s_plain.top_k(parse_query('"fast table"', ENGLISH_ANALYZER), k=10)
        p_fold = s_fold.top_k(parse_query('"fást table"', fold_an), k=10)
        assert p_fold.doc_id.tolist() == p_plain.doc_id.tolist()
    finally:
        plain.release()
        folded.release()


# --- PhoneticFilter / Soundex (analysis/phonetic.py) ---

NARA_CASES = {
    "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
    "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
    "Honeyman": "H555", "Washington": "W252", "Lee": "L000",
    "Gutierrez": "G362", "Jackson": "J250", "a": "A000", "": "",
}


def test_soundex_nara_pins():
    from lucene_solr_spark.analysis.phonetic import soundex
    for w, want in NARA_CASES.items():
        assert soundex(w) == want, w


def test_soundex_catalyst_differential(spark):
    from lucene_solr_spark.analysis.phonetic import soundex, soundex_expr
    words = [w for w in NARA_CASES if w] + [
        "merge", "mirge", "spark", "sbark", "table", "dable", "hw", "why"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    rows = df.select("w", soundex_expr("w").alias("code")).collect()
    for r in rows:
        assert r.code == soundex(r.w), r.w


def test_phonetic_terms_expansion(spark):
    """A misspelled query term expands to its phonetic dictionary
    neighbors (PhoneticFilter's recall use-case): soundex('mirge') ==
    soundex('merge'), so the expansion must surface 'merge'."""
    from lucene_solr_spark.analysis.phonetic import phonetic_terms, soundex
    from lucene_solr_spark.index.builder import IndexBuilder
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=128).build(spark, docs)
    try:
        assert soundex("mirge") == soundex("merge")
        terms = phonetic_terms(idx.terms, "mirge")
        assert "merge" in terms
        for t in terms:
            assert soundex(t) == soundex("mirge")
    finally:
        idx.release()

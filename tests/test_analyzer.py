"""Golden analyzer fixtures (FIXTURES.md §2) pinning StandardAnalyzer
semantics: UAX#29-style segmentation, Java simple lowercase, 33-word stop
set with position gaps, maxTokenLength-255 skip."""

import pandas as pd

from lucene_solr_spark.analysis.analyzer import (
    ENGLISH_ANALYZER, ENGLISH_STOP_WORDS, StandardAnalyzer, analyze_series,
)
from lucene_solr_spark.analysis.lowercase import simple_lowercase

NOSTOP = StandardAnalyzer()


def test_stop_set_is_33_words():
    assert len(ENGLISH_STOP_WORDS) == 33
    assert "the" in ENGLISH_STOP_WORDS and "with" in ENGLISH_STOP_WORDS


def test_basic_tokens():
    assert NOSTOP.tokens("Hello World") == ["hello", "world"]
    assert NOSTOP.tokens("") == []
    assert NOSTOP.tokens("   ") == []


def test_alphanumeric_and_medial():
    assert NOSTOP.tokens("o'neill can't B2B 3.14 wi.fi") == \
        ["o'neill", "can't", "b2b", "3.14", "wi.fi"]


def test_punct_boundaries():
    assert NOSTOP.tokens("foo,bar;baz! (qux)") == ["foo", "bar", "baz", "qux"]
    # trailing dot is not medial
    assert NOSTOP.tokens("end. Start") == ["end", "start"]


def test_stopword_gap_positions():
    toks, pos = ENGLISH_ANALYZER.tokens_positions("the quick brown fox and a dog")
    assert toks == ["quick", "brown", "fox", "dog"]
    assert pos == [1, 2, 3, 6]


def test_long_token_skipped_but_advances_position():
    long = "x" * 256
    ok255 = "y" * 255
    toks, pos = NOSTOP.tokens_positions(f"aa {long} bb {ok255}")
    assert toks == ["aa", "bb", ok255.lower()]
    assert pos == [0, 2, 3]


def test_unicode():
    assert NOSTOP.tokens("café naïve") == ["café", "naïve"]
    # CJK: one token per ideograph
    assert NOSTOP.tokens("日本語 test") == ["日", "本", "語", "test"]
    # emoji are dropped (not \w) — acceptable envelope deviation, pinned here
    assert NOSTOP.tokens("hi 👍 there") == ["hi", "there"]


def test_simple_lowercase_vs_full():
    # U+0130 full-lowers to 'i' + combining dot; Java simple mapping is 'i'
    assert "İstanbul".lower() != "istanbul"
    assert simple_lowercase("İstanbul") == "istanbul"
    # ASCII fast path
    assert simple_lowercase("ABC") == "abc"
    # ß unchanged under simple mapping
    assert simple_lowercase("STRASSE ß") == "strasse ß"


def test_term_freqs_and_norm_length():
    a = ENGLISH_ANALYZER
    tf = a.term_freqs("the cat and the cat sat")
    assert tf == {"cat": 2, "sat": 1}
    # norm length = post-stop token count
    assert sum(tf.values()) == 3


def test_analyze_series_vectorized():
    s = pd.Series(["Hello World", None, "the and a"])
    out = analyze_series(s, ENGLISH_ANALYZER)
    assert out.tolist() == [["hello", "world"], [], []]


def test_sigma_context_insensitive():
    """U+03A3 GREEK CAPITAL SIGMA: Java's Character.toLowerCase is
    context-free (always σ); Python full str.lower() yields final
    sigma ς word-finally. The exception table must force σ so the
    batch and per-doc paths agree (ADVICE r2)."""
    from lucene_solr_spark.analysis.lowercase import (simple_lowercase,
                                                      _multi_char_exceptions)
    assert simple_lowercase("ΑΣ") == "ασ"
    assert simple_lowercase("ΣΟΦΙΑΣ") == "σοφιασ"
    assert "Σ" in _multi_char_exceptions()


def test_invert_batch_path_equals_per_doc_path():
    """``invert_field_arrays`` on a batch mixing CJK rows (per-doc path)
    and plain rows (vectorized path) equals ``_invert_exact`` over every
    row — freqs, norms and the position, offset and payload blobs."""
    import numpy as np
    from lucene_solr_spark.index.builder import (_fallback_re,
                                                 _invert_exact,
                                                 invert_field_arrays)
    texts = pd.Series([
        "The quick brown fox jumps over the lazy dog; the fox ran.",
        "東京タワー is tall, 東京 is big",
        "Spark SQL and Spark streaming: spark's tables.",
        "数据 data analysis 数据 data",
        "",
        None,
        "Ünïcödé text wïth àccents and more text"])
    ids = np.arange(10, 10 + len(texts), dtype=np.int64)
    fb = [bool(_fallback_re().search(t or "")) for t in texts]
    assert any(fb) and not all(fb), "both invert paths must run"

    def rows(out):
        cols = ("freq", "norm", "pos_blob", "off_blob", "pay_blob")
        got = {(int(d), t): tuple(out[c][i] for c in cols)
               for i, (d, t) in enumerate(zip(out["doc_id"], out["term"]))}
        assert len(got) == len(out["doc_id"])
        return got

    batch = invert_field_arrays(ids, texts, ENGLISH_ANALYZER, True,
                                with_off=True, payload="position")
    exact = _invert_exact(ids, texts.fillna("").to_numpy(),
                          ENGLISH_ANALYZER, True, with_off=True,
                          payload="position")
    assert rows(batch) == rows(exact)


MIXED_TEXTS = pd.Series([
    "The quick brown fox jumps over the lazy dog; the fox ran.",
    "東京タワー is tall, 東京 is big",
    "Spark SQL and Spark streaming: spark's tables.",
    "数据 data analysis 数据 data",
    "",
    None,
    "ΣΟΦΙΑΣ and İstanbul: text, more text and text"])


def test_raw_rows_decode_to_analyzer_occurrences():
    """A check of the raw-row writer that does not use its encoder: every
    row's position, offset and payload streams, decoded by hand, equal
    ``term_occurrences`` of its doc; payload = position + 1 and norm =
    ``int_to_byte4(dl)``."""
    import numpy as np
    from lucene_solr_spark.functions import codec
    from lucene_solr_spark.functions.smallfloat import int_to_byte4
    from lucene_solr_spark.index.builder import (_fallback_re,
                                                 invert_field_arrays)
    ids = np.arange(100, 100 + len(MIXED_TEXTS), dtype=np.int64)
    fb = [bool(_fallback_re().search(t or "")) for t in MIXED_TEXTS]
    assert any(fb) and not all(fb), "both inversion fronts must run"
    want = {}
    for d, text in zip(ids, MIXED_TEXTS):
        occ = ENGLISH_ANALYZER.term_occurrences(text or "")
        norm = int(int_to_byte4(sum(len(v) for v in occ.values())))
        for term, v in occ.items():
            want[(int(d), term)] = (v, norm)

    out = invert_field_arrays(ids, MIXED_TEXTS, ENGLISH_ANALYZER, True,
                              with_off=True, payload="position")
    got = {}
    for i, (d, term) in enumerate(zip(out["doc_id"], out["term"])):
        f = int(out["freq"][i])
        blobs = [out[c][i] for c in ("pos_blob", "off_blob", "pay_blob")]
        # each stream holds exactly its values: one terminator byte each
        assert [sum(b < 0x80 for b in x) for x in blobs] == [f, 2 * f, f]
        pos = np.cumsum(codec.vbyte_decode(blobs[0], f))
        off = codec.vbyte_decode(blobs[1], 2 * f)
        start = np.cumsum(off[0::2])
        end = start + off[1::2]
        assert codec.vbyte_decode(blobs[2], f).tolist() == (pos + 1).tolist()
        got[(int(d), term)] = (
            list(zip(pos.tolist(), start.tolist(), end.tolist())),
            int(out["norm"][i]))
    assert got == want


def test_negative_payload_raises_on_both_fronts():
    """A negative callable payload cannot be VByte-stored: the one back
    end raises for plain rows (vectorized front) and CJK rows (per-doc
    front) alike."""
    import numpy as np
    import pytest
    from lucene_solr_spark.index.builder import invert_field_arrays
    for texts in (["plain english words here", "more plain text"],
                  ["東京タワー", "数据 分析"]):
        with pytest.raises(ValueError, match="non-negative"):
            invert_field_arrays(np.arange(len(texts)), pd.Series(texts),
                                ENGLISH_ANALYZER, True,
                                payload=lambda t, p: -1)

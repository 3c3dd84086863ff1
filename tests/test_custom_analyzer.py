"""CustomAnalyzer — composed char filters → tokenizer → token filters.

Mirrors `analysis/custom/CustomAnalyzer.java:100`.  The pinned
contract: a CustomAnalyzer configured to restate the StandardAnalyzer
chain produces a BIT-IDENTICAL index (postings/terms/norms) through
the per-doc reference path, position gaps follow Lucene's
FilteringTokenFilter rules, and expansion filters stack on the source
position.
"""

import pyspark.sql.functions as F
import pytest

from lucene_solr_spark.analysis.analyzer import (ENGLISH_ANALYZER,
                                                 ENGLISH_STOP_WORDS)
from lucene_solr_spark.analysis.charfilters import html_strip
from lucene_solr_spark.analysis.custom import (CustomAnalyzer, drop_filter,
                                               expand_filter,
                                               lowercase_filter, map_filter,
                                               stop_filter)
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.search import Searcher, parse_query

from conftest import SF_DIR

STANDARD_EQUIV = CustomAnalyzer(
    token_filters=(lowercase_filter(), stop_filter(ENGLISH_STOP_WORDS)))


def test_equivalence_to_standard_per_doc():
    texts = ["The quick brown fox", "spark AND Table merge",
             "a an the of", "", "one's possessive isn't stripped here"]
    for t in texts:
        assert STANDARD_EQUIV.term_positions(t) == \
            ENGLISH_ANALYZER.term_positions(t), t


def test_stop_gaps_preserved():
    toks, pos = STANDARD_EQUIV.tokens_positions("the quick the fox")
    assert toks == ["quick", "fox"]
    assert pos == [1, 3]            # gaps where stops sat


def test_expand_filter_stacks_position():
    an = CustomAnalyzer(token_filters=(
        lowercase_filter(),
        expand_filter(lambda t: [t, t + "x"])))
    toks, pos = an.tokens_positions("ab cd")
    assert toks == ["ab", "abx", "cd", "cdx"]
    assert pos == [0, 0, 1, 1]


def test_char_filter_chain():
    an = CustomAnalyzer(char_filters=(html_strip,),
                        token_filters=(lowercase_filter(),))
    assert an.tokens("<p>Hello <b>World</b></p><script>var x;</script>") == \
        ["hello", "world"]


def test_map_filter_none_drops_with_gap():
    an = CustomAnalyzer(token_filters=(
        lowercase_filter(),
        map_filter(lambda t: None if len(t) < 3 else t)))
    toks, pos = an.tokens_positions("go run it far")
    assert toks == ["run", "far"]
    assert pos == [1, 3]


def test_term_occurrences_raises():
    with pytest.raises(NotImplementedError):
        STANDARD_EQUIV.term_occurrences("x")


@pytest.fixture(scope="module")
def corpus(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") < 200).cache())


def test_index_bit_identical_to_standard(spark, corpus):
    """The custom restatement of the standard chain must build the
    SAME index through the per-doc path as the standard analyzer
    through the batch path."""
    kw = dict(grid=64, with_positions=True)
    std = IndexBuilder(ENGLISH_ANALYZER, **kw).build(spark, corpus)
    cus = IndexBuilder(STANDARD_EQUIV, **kw).build(spark, corpus)
    cols = ["field", "term", "bucket", "block_id", "doc_count",
            "last_doc", "doc_blob", "freq_blob", "norm_blob", "pos_blob"]
    a = sorted(map(tuple, std.postings.select(cols).collect()))
    b = sorted(map(tuple, cus.postings.select(cols).collect()))
    assert a == b
    ta = sorted(map(tuple, std.terms.collect()))
    tb = sorted(map(tuple, cus.terms.collect()))
    assert ta == tb

    q = parse_query("merge fast", ENGLISH_ANALYZER)
    pa = Searcher(spark, std).top_k(q, k=10)
    pb = Searcher(spark, cus).top_k(q, k=10)
    assert pa.values.tolist() == pb.values.tolist()


def test_custom_chain_searchable(spark, corpus):
    """A genuinely custom chain (drop 1-char tokens, no stops) builds
    and serves: every hit must actually contain the term."""
    an = CustomAnalyzer(token_filters=(
        lowercase_filter(), drop_filter(lambda t: len(t) <= 1)))
    idx = IndexBuilder(an, grid=64, with_positions=True).build(spark, corpus)
    s = Searcher(spark, idx)
    res = s.top_k(parse_query("merge", an), k=5)
    assert len(res) > 0
    hit = int(res.iloc[0]["doc_id"])
    text = corpus.filter(F.col("doc_id") == hit).collect()[0]["text"]
    assert "merge" in text.lower()


def test_analyze_debug_stages():
    from lucene_solr_spark.analysis.custom import analyze_debug
    from lucene_solr_spark.analysis.charfilters import html_strip
    an = CustomAnalyzer(
        char_filters=(html_strip,),
        token_filters=(lowercase_filter(),
                       stop_filter({"the"}),
                       expand_filter(lambda t: [t, t + "x"])))
    st = analyze_debug(an, "<b>The</b> Fox")
    names = [d["stage"] for d in st]
    assert names[0].startswith("charfilter:") and "tokenizer:" in names[1]
    assert st[0]["output"].split() == ["The", "Fox"]
    # tokenizer stage: raw tokens with positions
    assert st[1]["output"] == [("The", 0), ("Fox", 1)]
    # after lowercase
    assert st[2]["output"] == [("the", 0), ("fox", 1)]
    # after stop: 'the' dropped WITH ITS GAP
    assert st[3]["output"] == [("fox", 1)]
    # after expansion: stacked on the source position
    assert st[4]["output"] == [("fox", 1), ("foxx", 1)]


def test_analyze_debug_standard():
    from lucene_solr_spark.analysis.custom import analyze_debug
    st = analyze_debug(ENGLISH_ANALYZER, "The Quick fox")
    assert st[0]["output"][0] == ("The", 0)
    assert ("quick", 1) in st[1]["output"] and ("fox", 2) in st[1]["output"]
    assert all(t != "the" for t, _ in st[1]["output"])

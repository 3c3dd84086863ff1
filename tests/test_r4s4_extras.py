"""Round-4 session-4 operators: date math + date range facets,
timeseries stream, stats component, frange, diversified top-k, sampled
facets, gatherNodes graph walk, TextProfileSignature, unigram-LM
perplexity buckets.

References: Solr DateMathParser / RangeFacetProcessor /
TimeSeriesStream / StatsValuesFactory / ValueSourceRangeFilter /
GatherNodesStream / TextProfileSignature, Lucene
DiversifiedTopDocsCollector and RandomSamplingFacetsCollector, and the
CCNet head/middle/tail LM bucketing (Wenzek et al. 2020).
"""

import hashlib
import math
import re
from datetime import datetime

import pyspark.sql.functions as F
import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.datemath import (date_boundaries,
                                               parse_date_math)
from lucene_solr_spark.search.extras import diversified_topk
from lucene_solr_spark.search.facets import (date_range_facets,
                                             sampled_facet_counts,
                                             stats_field)
from lucene_solr_spark.search.function import function_range_filter
from lucene_solr_spark.search.graph import gather_nodes
from lucene_solr_spark.pipeline.dedup import text_profile_signature
from lucene_solr_spark.pipeline.textstats import (perplexity_buckets,
                                                  unigram_logprob)

from conftest import SF_DIR

NOW = datetime(2026, 8, 18, 13, 45, 59)


@pytest.fixture(scope="module")
def env(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=256).build(spark, docs)
    idx = idx.cache()
    yield docs, idx, Searcher(spark, idx)
    idx.release()


# -- date math ---------------------------------------------------------

def test_date_math_rounding_and_add():
    assert parse_date_math("NOW/DAY", NOW) == datetime(2026, 8, 18)
    assert parse_date_math("NOW/MONTH", NOW) == datetime(2026, 8, 1)
    assert parse_date_math("NOW/YEAR+6MONTHS", NOW) == datetime(2026, 7, 1)
    assert parse_date_math("NOW/HOUR-90MINUTES", NOW) == \
        datetime(2026, 8, 18, 11, 30)
    # literal base, mixed ops, plural/singular spellings
    assert parse_date_math("2024-03-15T10:20:30Z/MONTH+1MONTH-1DAY", NOW) \
        == datetime(2024, 3, 31)
    # month-add clamps day-of-month (Jan 31 + 1MONTH = Feb 29 in 2024)
    assert parse_date_math("2024-01-31T00:00:00Z+1MONTH", NOW) == \
        datetime(2024, 2, 29)
    assert parse_date_math("2023-01-31+1MONTH", NOW) == datetime(2023, 2, 28)
    with pytest.raises(ValueError):
        parse_date_math("NOW/FORTNIGHT", NOW)
    with pytest.raises(ValueError):
        parse_date_math("NOW+DAY", NOW)          # missing count


def test_date_boundaries_calendar_aware():
    b = date_boundaries("2024-01-01", "2024-05-01", "+1MONTH", now=NOW)
    assert b == [datetime(2024, m, 1) for m in (1, 2, 3, 4, 5)]
    # gap re-applies to the previous edge: variable month lengths held
    b2 = date_boundaries("2024-01-31", "2024-04-01", "+1MONTH", now=NOW)
    assert b2 == [datetime(2024, 1, 31), datetime(2024, 2, 29),
                  datetime(2024, 3, 29), datetime(2024, 4, 29)]
    # hardend=false: the last edge overshoots end by up to one gap
    b3 = date_boundaries("2024-01-01", "2024-01-10", "+7DAYS", now=NOW)
    assert b3 == [datetime(2024, 1, 1), datetime(2024, 1, 8),
                  datetime(2024, 1, 15)]


def test_date_range_facets_vs_manual(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = date_range_facets(ev, None, "ts", "2024-01-01", "2024-01-31",
                            "+7DAYS", now=NOW).collect()
    assert [r["bucket"] for r in got] == [
        "2024-01-01T00:00:00Z", "2024-01-08T00:00:00Z",
        "2024-01-15T00:00:00Z", "2024-01-22T00:00:00Z",
        "2024-01-29T00:00:00Z"]
    # exact membership check per bucket
    rows = ev.select("ts").collect()
    for r in got:
        lo = datetime.strptime(r["bucket"], "%Y-%m-%dT%H:%M:%SZ")
        hi = parse_date_math(r["bucket"].rstrip("Z") + "Z+7DAYS", NOW)
        want = sum(1 for x in rows if lo <= x["ts"] < hi)
        assert r["count"] == want
    assert sum(r["count"] for r in got) == ev.count()


# -- timeseries stream --------------------------------------------------

def test_timeseries_stream(spark):
    from lucene_solr_spark.search.streaming_expr import StreamFactory
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    f = StreamFactory({"events": (ev, None)})
    df = f.dataframe(
        'timeseries(events, q="*:*", field="ts", start="2024-01-01", '
        'end="2024-02-01", gap="+7DAYS", count(*), sum(value), avg(value))')
    rows = df.collect()
    assert [r["ts"] for r in rows] == [
        "2024-01-01T00:00:00Z", "2024-01-08T00:00:00Z",
        "2024-01-15T00:00:00Z", "2024-01-22T00:00:00Z",
        "2024-01-29T00:00:00Z"]
    raw = ev.select("ts", "value").collect()
    for r in rows:
        lo = datetime.strptime(r["ts"], "%Y-%m-%dT%H:%M:%SZ")
        hi = parse_date_math(r["ts"].rstrip("Z") + "Z+7DAYS", NOW)
        sel = [x["value"] for x in raw if lo <= x["ts"] < hi]
        assert r["count(*)"] == len(sel)
        assert r["sum(value)"] == pytest.approx(sum(sel))
        assert r["avg(value)"] == pytest.approx(sum(sel) / len(sel))
    # empty buckets report count 0 (range beyond the data)
    df2 = f.dataframe(
        'timeseries(events, q="*:*", field="ts", start="2025-01-01", '
        'end="2025-01-03", gap="+1DAY", count(*))')
    assert [(r["ts"], r["count(*)"]) for r in df2.collect()] == [
        ("2025-01-01T00:00:00Z", 0), ("2025-01-02T00:00:00Z", 0)]


# -- stats component ----------------------------------------------------

def test_stats_field_formulas(spark, env):
    docs, _, s = env
    m = s.match_docs(parse_query("merge", ENGLISH_ANALYZER))
    row = stats_field(docs, m, "n_chars").collect()[0]
    vals = [r["n_chars"] for r in
            docs.join(m.select("doc_id").distinct(), "doc_id")
            .select("n_chars").collect()]
    n = len(vals)
    assert row["count"] == n and row["missing"] == 0
    assert row["min"] == min(vals) and row["max"] == max(vals)
    assert row["sum"] == pytest.approx(sum(vals))
    assert row["sumOfSquares"] == pytest.approx(sum(v * v for v in vals))
    assert row["mean"] == pytest.approx(sum(vals) / n, abs=1e-4)
    want_sd = math.sqrt((n * sum(v * v for v in vals) - sum(vals) ** 2)
                        / (n * (n - 1)))
    assert row["stddev"] == pytest.approx(want_sd, abs=1e-4)
    # missing counts nulls; count excludes them (StatsValuesFactory)
    d2 = docs.withColumn(
        "nc", F.when(F.col("doc_id") % 3 == 0, None)
        .otherwise(F.col("n_chars")))
    r2 = stats_field(d2, None, "nc").collect()[0]
    assert r2["count"] + r2["missing"] == docs.count()
    assert r2["missing"] == docs.filter("doc_id % 3 = 0").count()


# -- frange -------------------------------------------------------------

def test_function_range_filter(env):
    docs, _, s = env
    q = parse_query("merge", ENGLISH_ANALYZER)
    base = {r["doc_id"]: r["score"]
            for r in s.score_all(q, mode="f64").collect()}
    nch = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    got = function_range_filter(s, q, docs, "n_chars / 100.0",
                                lower=2.0, upper=6.0).collect()
    want = {d for d in base if 200.0 <= nch[d] <= 600.0}
    assert {r["doc_id"] for r in got} == want
    # scores pass through unchanged (frange is a filter, not a scorer)
    assert all(r["score"] == pytest.approx(base[r["doc_id"]]) for r in got)
    # exclusive bounds
    ex = function_range_filter(s, q, docs, "n_chars / 100.0",
                               lower=2.0, upper=6.0, include_lower=False,
                               include_upper=False).collect()
    assert {r["doc_id"] for r in ex} == \
        {d for d in base if 200.0 < nch[d] < 600.0}
    # open upper bound
    op = function_range_filter(s, q, docs, "n_chars / 100.0", lower=2.0)
    assert {r["doc_id"] for r in op.collect()} == \
        {d for d in base if nch[d] >= 200.0}


# -- diversified top-k --------------------------------------------------

def test_diversified_topk(env):
    docs, _, s = env
    q = parse_query("merge table", ENGLISH_ANALYZER)
    hits = {r["doc_id"]: r["score"]
            for r in s.score_all(q, mode="f64").collect()}
    key = {r["doc_id"]: r["lang"] for r in docs.collect()}
    for cap in (1, 2):
        got = diversified_topk(s, q, docs, "lang", k=5,
                               max_per_key=cap).collect()
        # brute-force restatement of the collector's end state
        ranked = sorted(hits, key=lambda d: (-hits[d], d))
        taken, per_key = [], {}
        for d in ranked:
            if per_key.get(key[d], 0) < cap:
                per_key[key[d]] = per_key.get(key[d], 0) + 1
                taken.append(d)
            if len(taken) == 5:
                break
        assert [r["doc_id"] for r in got] == taken
        from collections import Counter
        assert max(Counter(r["key"] for r in got).values()) <= cap


# -- sampled facets ------------------------------------------------------

def test_sampled_facet_counts(env):
    docs, _, s = env
    got = sampled_facet_counts(docs, None, "lang", rate=0.5,
                               seed=7).collect()
    # deterministic md5 membership, amortized by 1/rate
    def frac(d):
        h = hashlib.md5(f"7|{d}".encode()).hexdigest()[:8]
        return int(h, 16) / float(1 << 32)
    rows = docs.select("doc_id", "lang").collect()
    want = {}
    for r in rows:
        if frac(r["doc_id"]) < 0.5:
            want[r["lang"]] = want.get(r["lang"], 0) + 1
    assert {r["value"]: r["sampled_count"] for r in got} == want
    assert all(r["estimate"] == pytest.approx(r["sampled_count"] / 0.5)
               for r in got)
    # rerun identical (no rand())
    again = sampled_facet_counts(docs, None, "lang", rate=0.5,
                                 seed=7).collect()
    assert got == again


# -- gatherNodes ---------------------------------------------------------

def test_gather_nodes_walk(spark):
    edges1 = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "y"), ("c", "z")], ["src", "dst"])
    edges2 = spark.createDataFrame(
        [("x", "p"), ("y", "p"), ("y", "q"), ("z", "r"), ("p", "dead")],
        ["src", "dst"])
    roots = spark.createDataFrame([("a",), ("b",)], ["node"])
    leaves = gather_nodes(roots, [(edges1, "src", "dst"),
                                  (edges2, "src", "dst")])
    assert sorted(r["node"] for r in leaves.collect()) == ["p", "q"]
    both = gather_nodes(roots, [(edges1, "src", "dst"),
                                (edges2, "src", "dst")], scatter="both")
    got = {(r["node"], r["level"]) for r in both.collect()}
    assert got == {("a", 0), ("b", 0), ("x", 1), ("y", 1),
                   ("p", 2), ("q", 2)}
    # trackTraversal: a node reached at level 1 is not re-emitted at 2
    edges_loop = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], ["src", "dst"])
    r2 = gather_nodes(spark.createDataFrame([("a",)], ["node"]),
                      [(edges_loop, "src", "dst"),
                       (edges_loop, "src", "dst")], scatter="both")
    got2 = {(r["node"], r["level"]) for r in r2.collect()}
    assert got2 == {("a", 0), ("b", 1), ("c", 2)}   # no a@2 revisit


def test_gather_nodes_on_tpch(spark):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    roots = (cust.filter("c_mktsegment = 'BUILDING' AND c_acctbal > 9000")
             .select("c_custkey"))
    got = gather_nodes(roots, [(orders, "o_custkey", "o_orderkey")])
    want = (orders.join(roots, orders.o_custkey == roots.c_custkey,
                        "left_semi")
            .select("o_orderkey").distinct().count())
    assert got.count() == want


# -- TextProfileSignature -------------------------------------------------

def _tps_py(text, quant_rate=0.01, min_token_len=2):
    """Line-by-line restatement of TextProfileSignature.add/getSignature
    (tie order pinned to token asc — see module docstring)."""
    counts = {}
    for tok in re.findall(r"[^\W_]+", text.lower(), re.UNICODE):
        if len(tok) > min_token_len:
            counts[tok] = counts.get(tok, 0) + 1
    if counts:
        maxf = max(counts.values())
        quant = int(maxf * quant_rate + 0.5)
        if quant < 2:
            quant = 2 if maxf > 1 else 1
        prof = [(t, c // quant * quant) for t, c in counts.items()
                if c // quant * quant >= quant]
        prof.sort(key=lambda x: (-x[1], x[0]))
        body = "\n".join(f"{t} {c}" for t, c in prof)
    else:
        body = ""
    return hashlib.md5(body.encode()).hexdigest()


def test_text_profile_signature_vs_python(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {r["doc_id"]: r["signature"]
           for r in text_profile_signature(docs).collect()}
    for r in docs.select("doc_id", "text").collect():
        assert got[r["doc_id"]] == _tps_py(r["text"]), r["doc_id"]


def test_text_profile_signature_pins(spark):
    rows = [
        # quant=1 (maxf=1): every token len>2 kept at its count
        (1, "alpha beta xy"),
        # maxf>1 → quant=2: odd counts floor to even, singletons drop
        (2, "dog dog dog cat cat bird"),
        # near-dup of 2 (one extra singleton) → same signature
        (3, "dog dog dog cat cat fish"),
        # token boundary: 'ab' (len 2) dropped, 'abc' kept; digits count
        (4, "ab abc ab abc a1b2 ab"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["signature"]
           for r in text_profile_signature(df).collect()}
    assert got[2] == got[3] != got[1]
    for i, t in rows:
        assert got[i] == _tps_py(t)
    # profile of doc 2: dog→2 (3//2*2), cat→2, bird dropped; ties by token
    assert got[2] == hashlib.md5(b"cat 2\ndog 2").hexdigest()


# -- unigram LM buckets ---------------------------------------------------

def test_unigram_logprob_formula(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c"), (3, "")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    # corpus: a=3, b=2, c=1, T=6
    pa, pb, pc = 3 / 6, 2 / 6, 1 / 6
    want1 = -(2 * math.log2(pa) + math.log2(pb)) / 3
    want2 = -(math.log2(pa) + math.log2(pb) + math.log2(pc)) / 3
    assert got[1]["bits"] == pytest.approx(want1)
    assert got[2]["bits"] == pytest.approx(want2)
    assert got[3]["n_tokens"] == 0 and got[3]["bits"] is None
    assert got[1]["bits"] < got[2]["bits"]   # rarer tokens → more bits


def test_perplexity_buckets_tercile_split(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = perplexity_buckets(docs).collect()
    assert len(got) == docs.count()
    bits = sorted(r["bits"] for r in got)
    n = len(bits)
    by_bucket = {}
    for r in got:
        by_bucket.setdefault(r["bucket"], []).append(r["bits"])
    assert set(by_bucket) == {"head", "middle", "tail"}
    # ordering invariant: every head ≤ every middle ≤ every tail
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    # tercile sizes within rounding of n/3
    assert abs(len(by_bucket["head"]) - n / 3) <= 2

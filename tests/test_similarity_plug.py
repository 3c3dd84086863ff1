"""Pluggable similarities — Classic TF-IDF and LMDirichlet vs an
in-test numpy oracle.

The reference makes scoring pluggable per-searcher
(`search/IndexSearcher.java:310` setSimilarity;
`search/similarities/ClassicSimilarity.java:39-63`,
`search/similarities/LMDirichletSimilarity.java:73-77`,
`search/similarities/LMSimilarity.java:150-158`). Our engine runs
non-BM25 similarities in f64 over TERM clauses and their boolean
compositions; doc length is the decoded norm byte (the SmallFloat
table), exactly as SimilarityBase reads it. The oracle here recomputes
both formulas directly from the OracleIndex postings:

  classic:      score = boost · (ln((N+1)/(df+1)) + 1) · √freq / √dl
  lmdirichlet:  score = max(0, boost · (ln(1 + freq/(μ·cp))
                                        + ln(μ/(dl+μ))))
                cp = (ttf+1)/(sumTotalTermFreq+1)
"""

import math

import numpy as np
import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.functions.smallfloat import LENGTH_TABLE
from lucene_solr_spark.index.builder import IndexBuilder
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import (BooleanQuery, Clause, Occur,
                                          PhraseQuery, TermQuery)

from conftest import SF_DIR

K = 10
MU = 2000.0


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pdf = docs.select("doc_id", "text").toPandas()
    oracle = OracleIndex(ENGLISH_ANALYZER)
    for d, t in zip(pdf["doc_id"], pdf["text"]):
        oracle.add(int(d), t)
    builder = IndexBuilder(ENGLISH_ANALYZER, grid=64, with_positions=True)
    idx = builder.build(spark, docs).cache()
    return docs, oracle, idx


def _dl(oracle, field, d):
    """Doc length as the engine sees it: decoded norm byte."""
    return float(LENGTH_TABLE[oracle.norms[field][d] & 0xFF])


def _classic_scores(oracle, term, boost=1.0, field="text"):
    plist = oracle.postings.get(field, {}).get(term, {})
    if not plist:
        return {}
    n = oracle.field_doc_count[field]
    idf = math.log((n + 1) / (len(plist) + 1.0)) + 1.0
    return {d: boost * idf * math.sqrt(f) / math.sqrt(_dl(oracle, field, d))
            for d, f in plist.items()}


def _lm_scores(oracle, term, boost=1.0, field="text", mu=MU):
    plist = oracle.postings.get(field, {}).get(term, {})
    if not plist:
        return {}
    ttf = sum(plist.values())
    cp = (ttf + 1.0) / (oracle.field_sum_ttf[field] + 1.0)
    out = {}
    for d, f in plist.items():
        dl = _dl(oracle, field, d)
        s = boost * (math.log(1.0 + f / (mu * cp)) + math.log(mu / (dl + mu)))
        out[d] = max(s, 0.0)
    return out


def _dfr_scores(oracle, term, boost=1.0, field="text", c=1.0):
    """DFR InB2 (DFRSimilarity.java:149, BasicModelIn.java:30,
    AfterEffectB.java:29, NormalizationH2.java:53)."""
    plist = oracle.postings.get(field, {}).get(term, {})
    if not plist:
        return {}
    n = oracle.field_doc_count[field]
    avgdl = oracle.field_sum_ttf[field] / float(n)
    df, ttf = len(plist), sum(plist.values())
    a = math.log2((n + 1) / (df + 0.5))
    ae = (ttf + 2.0) / (df + 1.0)
    out = {}
    for d, f in plist.items():
        tfn = f * math.log2(1.0 + c * avgdl / _dl(oracle, field, d))
        out[d] = boost * a * ae * (1.0 - 1.0 / (1.0 + tfn))
    return out


def _f2exp_scores(oracle, term, boost=1.0, field="text", s=0.25, k=0.35):
    """AxiomaticF2EXP (Axiomatic.java:52 combiner, AxiomaticF2EXP.java
    components; defaults s=0.25, k=0.35)."""
    plist = oracle.postings.get(field, {}).get(term, {})
    if not plist:
        return {}
    n = oracle.field_doc_count[field]
    avgdl = oracle.field_sum_ttf[field] / float(n)
    idf = ((n + 1.0) / len(plist)) ** k
    return {d: boost * idf * f / (f + s + s * _dl(oracle, field, d) / avgdl)
            for d, f in plist.items()}


def _ib_scores(oracle, term, boost=1.0, field="text", c=1.0):
    """IB LL-DF-H2 (IBSimilarity.java:105, LambdaDF.java:30,
    DistributionLL.java:29, NormalizationH2.java:53)."""
    plist = oracle.postings.get(field, {}).get(term, {})
    if not plist:
        return {}
    n = oracle.field_doc_count[field]
    avgdl = oracle.field_sum_ttf[field] / float(n)
    lam = (len(plist) + 1.0) / (n + 1.0)
    out = {}
    for d, f in plist.items():
        tfn = f * math.log2(1.0 + c * avgdl / _dl(oracle, field, d))
        out[d] = boost * math.log((tfn + lam) / lam)
    return out


def _dfi_scores(oracle, term, boost=1.0, field="text"):
    """DFI + IndependenceStandardized (DFISimilarity.java:61)."""
    plist = oracle.postings.get(field, {}).get(term, {})
    if not plist:
        return {}
    rate = (sum(plist.values()) + 1.0) / (oracle.field_sum_ttf[field] + 1.0)
    out = {}
    for d, f in plist.items():
        expected = rate * _dl(oracle, field, d)
        if f <= expected:
            out[d] = 0.0
        else:
            out[d] = boost * math.log2((f - expected)
                                       / math.sqrt(expected) + 1.0)
    return out


def _top_terms(oracle, n=6):
    post = oracle.postings["text"]
    return sorted(post, key=lambda t: (-len(post[t]), t))[:n]


def _expect_topk(acc, k=K):
    items = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))
    return items[:k]


def _check(pdf, expect):
    assert list(pdf["doc_id"].astype(int)) == [d for d, _ in expect]
    np.testing.assert_allclose(
        np.asarray(pdf["score"], dtype=np.float64),
        np.array([s for _, s in expect]), rtol=1e-12)


def test_classic_single_term(spark, corpus):
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="classic")
    t = _top_terms(oracle)[0]
    pdf = s.top_k(TermQuery(t), k=K)
    _check(pdf, _expect_topk(_classic_scores(oracle, t)))


def test_lmdirichlet_single_term(spark, corpus):
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="lmdirichlet", mu=MU)
    t = _top_terms(oracle)[2]
    pdf = s.top_k(TermQuery(t), k=K)
    _check(pdf, _expect_topk(_lm_scores(oracle, t)))


def test_dfr_single_term(spark, corpus):
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="dfr")
    t = _top_terms(oracle)[1]
    pdf = s.top_k(TermQuery(t), k=K)
    _check(pdf, _expect_topk(_dfr_scores(oracle, t)))


def test_f2exp_single_term(spark, corpus):
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="f2exp")
    t = _top_terms(oracle)[3]
    pdf = s.top_k(TermQuery(t), k=K)
    _check(pdf, _expect_topk(_f2exp_scores(oracle, t)))


def test_dfr_custom_c_and_boost(spark, corpus):
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="dfr", dfr_c=7.0)
    t = _top_terms(oracle)[0]
    pdf = s.top_k(parse_query(f"{t}^1.5", ENGLISH_ANALYZER), k=K)
    _check(pdf, _expect_topk(_dfr_scores(oracle, t, boost=1.5, c=7.0)))


def test_f2exp_custom_params(spark, corpus):
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="f2exp", ax_s=0.5, ax_k=0.2)
    t = _top_terms(oracle)[2]
    pdf = s.top_k(TermQuery(t), k=K)
    _check(pdf, _expect_topk(_f2exp_scores(oracle, t, s=0.5, k=0.2)))


def test_ib_single_term(spark, corpus):
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="ib")
    t = _top_terms(oracle)[4]
    pdf = s.top_k(TermQuery(t), k=K)
    _check(pdf, _expect_topk(_ib_scores(oracle, t)))


def test_dfi_single_term_and_clamp(spark, corpus):
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="dfi")
    t = _top_terms(oracle)[0]
    pdf = s.top_k(TermQuery(t), k=K)
    _check(pdf, _expect_topk(_dfi_scores(oracle, t)))
    all_pdf = s.score_all(TermQuery(t)).toPandas()
    assert (all_pdf["score"] >= 0).all()
    exp = _dfi_scores(oracle, t)
    got = dict(zip(all_pdf["doc_id"].astype(int), all_pdf["score"]))
    assert got.keys() == exp.keys()
    for d in exp:
        assert got[d] == pytest.approx(exp[d], rel=1e-12, abs=1e-15)


@pytest.mark.parametrize("sim,fn", [("classic", _classic_scores),
                                    ("lmdirichlet", _lm_scores),
                                    ("dfr", _dfr_scores),
                                    ("f2exp", _f2exp_scores),
                                    ("ib", _ib_scores),
                                    ("dfi", _dfi_scores)])
def test_boolean_composition(spark, corpus, sim, fn):
    """MUST t0 SHOULD t1 t2 — scores sum across clauses; matches are the
    MUST set (ReqOptSumScorer), identical boolean semantics to BM25."""
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity=sim)
    t0, t1, t2 = _top_terms(oracle)[:3]
    q = BooleanQuery((Clause(Occur.MUST, TermQuery(t0)),
                      Clause(Occur.SHOULD, TermQuery(t1)),
                      Clause(Occur.SHOULD, TermQuery(t2))))
    per = [fn(oracle, t) for t in (t0, t1, t2)]
    acc = {d: per[0][d] + per[1].get(d, 0.0) + per[2].get(d, 0.0)
           for d in per[0]}
    _check(s.top_k(q, k=K), _expect_topk(acc))


def test_classic_boost_and_parse(spark, corpus):
    """Boost folds multiplicatively; parser-built queries work too."""
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="classic")
    t = _top_terms(oracle)[1]
    pdf = s.top_k(parse_query(f"{t}^2.5", ENGLISH_ANALYZER), k=K)
    _check(pdf, _expect_topk(_classic_scores(oracle, t, boost=2.5)))


def test_lm_scores_nonnegative(spark, corpus):
    """LMDirichlet clamps at 0 (LMDirichletSimilarity.java:76) — common
    terms in long docs go negative pre-clamp; engine must agree."""
    _, oracle, idx = corpus
    s = Searcher(spark, idx, similarity="lmdirichlet", mu=50.0)
    t = _top_terms(oracle)[0]
    all_pdf = s.score_all(TermQuery(t)).toPandas()
    assert (all_pdf["score"] >= 0).all()
    exp = _lm_scores(oracle, t, mu=50.0)
    got = dict(zip(all_pdf["doc_id"].astype(int), all_pdf["score"]))
    assert got.keys() == exp.keys()
    for d in exp:
        assert got[d] == pytest.approx(exp[d], rel=1e-12)


def test_phrase_rejected_and_unknown_sim(spark, corpus):
    _, oracle, idx = corpus
    with pytest.raises(ValueError):
        Searcher(spark, idx, similarity="notasim")
    s = Searcher(spark, idx, similarity="classic")
    t0, t1 = _top_terms(oracle)[:2]
    with pytest.raises(ValueError):
        s.top_k(PhraseQuery((t0, t1)), k=K)


def _sweetspot_scores(oracle, term, boost=1.0, field="text",
                      l=1, h=1, steep=0.5, tb=0.0, tm=0.0):
    """SweetSpotSimilarity (misc/SweetSpotSimilarity.java:39): Classic
    idf × baselineTf(:121) × lengthNorm plateau(:100)."""
    plist = oracle.postings.get(field, {}).get(term, {})
    if not plist:
        return {}
    n = oracle.field_doc_count[field]
    idf = math.log((n + 1.0) / (len(plist) + 1.0)) + 1.0
    out = {}
    for d, f in plist.items():
        dl = _dl(oracle, field, d)
        tf = tb if f <= tm else math.sqrt(f + tb * tb - tm)
        ln = 1.0 / math.sqrt(
            steep * (abs(dl - l) + abs(dl - h) - (h - l)) + 1.0)
        out[d] = boost * idf * tf * ln
    return out


def test_sweetspot_default_degenerates_to_classic(spark, corpus):
    # l=h=1, s=0.5 → lengthNorm = 1/sqrt(2·0.5·(dl−1)+1) = 1/sqrt(dl):
    # the default SweetSpot IS ClassicSimilarity (same idf, √freq tf)
    _, oracle, idx = corpus
    t = _top_terms(oracle)[0]
    a = Searcher(spark, idx, similarity="sweetspot").top_k(
        TermQuery(t), k=K, mode="f64")
    b = Searcher(spark, idx, similarity="classic").top_k(
        TermQuery(t), k=K, mode="f64")
    assert list(a["doc_id"]) == list(b["doc_id"])
    np.testing.assert_allclose(np.asarray(a["score"], dtype=np.float64),
                               np.asarray(b["score"], dtype=np.float64),
                               rtol=1e-12)


def test_sweetspot_plateau_single_term(spark, corpus):
    _, oracle, idx = corpus
    t = _top_terms(oracle)[0]
    s = Searcher(spark, idx, similarity="sweetspot",
                 ss_min=20, ss_max=120, ss_steep=0.5)
    pdf = s.top_k(TermQuery(t), k=K, mode="f64")
    _check(pdf, _expect_topk(_sweetspot_scores(oracle, t, l=20, h=120)))


def test_sweetspot_or_composition(spark, corpus):
    _, oracle, idx = corpus
    t1, t2 = _top_terms(oracle)[:2]
    s = Searcher(spark, idx, similarity="sweetspot",
                 ss_min=20, ss_max=120, ss_steep=0.5)
    q = BooleanQuery((Clause(Occur.SHOULD, TermQuery(t1)),
                      Clause(Occur.SHOULD, TermQuery(t2))))
    acc = {}
    for part in (_sweetspot_scores(oracle, t1, l=20, h=120),
                 _sweetspot_scores(oracle, t2, l=20, h=120)):
        for d, v in part.items():
            acc[d] = acc.get(d, 0.0) + v
    _check(s.top_k(q, k=K, mode="f64"), _expect_topk(acc))


def test_sweetspot_pruned_equals_exhaustive(spark, corpus):
    # lengthNorm is NOT anti-monotone in dl — the skyline bound uses the
    # plateau max (executor._max_impact special case); this differential
    # is the guard that the bound never over-prunes
    _, oracle, idx = corpus
    t1, t2, t3 = _top_terms(oracle)[:3]
    s = Searcher(spark, idx, similarity="sweetspot",
                 ss_min=5, ss_max=40, ss_steep=0.7)
    q = BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(t))
                           for t in (t1, t2, t3)))
    a = s.top_k(q, k=K, mode="f64", prune=True)
    b = s.top_k(q, k=K, mode="f64", prune=False)
    assert list(a["doc_id"]) == list(b["doc_id"])
    np.testing.assert_allclose(np.asarray(a["score"], dtype=np.float64),
                               np.asarray(b["score"], dtype=np.float64),
                               rtol=0)


def test_sweetspot_baseline_tf_gate(spark, corpus):
    # tf_min=1 with tf_base=0 zeroes single-occurrence matches
    _, oracle, idx = corpus
    t = _top_terms(oracle)[0]
    s = Searcher(spark, idx, similarity="sweetspot",
                 ss_tf_base=0.0, ss_tf_min=1.0)
    pdf = s.top_k(TermQuery(t), k=K, mode="f64")
    expect = _expect_topk(_sweetspot_scores(oracle, t, tm=1.0))
    _check(pdf, [kv for kv in expect])

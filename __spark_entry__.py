"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs on the engine's own index tables (built
once per sf_dir and cached); each ``oracle_sql()`` entry recomputes the
same result in ANSI SQL over the raw parquet (DuckDB). Floats are rounded
to 4 decimals on BOTH sides; every computed column is aliased identically.

Engine scoring for these oracle-gated queries runs in float64 (DuckDB
computes in double); the Lucene-exact float32 path is verified separately
in tests/ against the pure-Python oracle (rank + float32 score identity).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lucene_solr_spark.analysis.analyzer import (ENGLISH_ANALYZER,
                                                 ENGLISH_MINIMAL_ANALYZER,
                                                 ENGLISH_STEM_ANALYZER,
                                                 ENGLISH_STOP_WORDS)
from lucene_solr_spark.functions.smallfloat import LENGTH_TABLE
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.pipeline import dedup as dd
from lucene_solr_spark.pipeline import multimodal as mm
from lucene_solr_spark.pipeline import similarity as sim
from lucene_solr_spark.pipeline import textstats as tstat
from lucene_solr_spark.pipeline.hashing import P31, md5h60_sql, perm_sql
from lucene_solr_spark.pipeline.textstats import DE_STOP_WORDS, FP_BASE
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import (BooleanQuery, Clause,
                                          DisjunctionMaxQuery,
                                          MultiPhraseQuery, Occur,
                                          PhraseQuery, TermQuery)
from lucene_solr_spark.search import multiterm as mt

_CACHE: dict = {}
_RAW_CACHE: dict = {}

K1, B = 1.2, 0.75


TITLE_EXPR = "concat_ws(' ', slice(regexp_extract_all(text, '[a-z0-9]+', 0), 1, 5))"


def _index(spark: SparkSession, sf_dir: str):
    key = sf_dir.rstrip("/")
    if key not in _CACHE:
        docs = spark.read.parquet(f"{key}/documents.parquet")
        # title = first 5 regex tokens of text (deterministic, SQL-replicable)
        docs = docs.withColumn("title", F.expr(TITLE_EXPR))
        builder = IndexBuilder(ENGLISH_ANALYZER, grid=2048,
                               with_positions=True, fields=("text", "title"))
        idx = builder.build(spark, docs).cache()
        _CACHE[key] = (docs, idx, Searcher(spark, idx, k1=K1, b=B))
    return _CACHE[key]


def _docs(spark, sf_dir) -> DataFrame:
    return _index(spark, sf_dir)[0]


def _searcher(spark, sf_dir) -> Searcher:
    return _index(spark, sf_dir)[2]


def _topk(searcher, query, k=10) -> DataFrame:
    raw = searcher.score_all(query, mode="f64")
    return (raw.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def _should(*terms):
    return BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(t)) for t in terms))


def _must(*terms):
    return BooleanQuery(tuple(Clause(Occur.MUST, TermQuery(t)) for t in terms))


# ---------------------------------------------------------------------------
# queries (Spark side)
# ---------------------------------------------------------------------------

def q_term_topk(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), TermQuery("merge"))


def q_or_topk(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), _should("spark", "merge", "fast"))


def q_and_topk(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), _must("spark", "table"))


def q_andnot_topk(spark, sf_dir):
    q = BooleanQuery((Clause(Occur.MUST, TermQuery("spark")),
                      Clause(Occur.MUST_NOT, TermQuery("dup"))))
    return _topk(_searcher(spark, sf_dir), q)


def q_msm_topk(spark, sf_dir):
    q = BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(t))
                           for t in ("spark", "merge", "fast")),
                     min_should_match=2)
    return _topk(_searcher(spark, sf_dir), q)


def q_nested_bool_topk(spark, sf_dir):
    q = parse_query("(spark OR merge) AND fast", ENGLISH_ANALYZER)
    return _topk(_searcher(spark, sf_dir), q)


def q_phrase_topk(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), PhraseQuery(("key", "agg")))


def q_multiphrase_topk(spark, sf_dir):
    """MultiPhraseQuery (search/MultiPhraseQuery.java:58): exact phrase
    with a two-alternative second slot — "merge (group|order)"."""
    q = MultiPhraseQuery((("merge",), ("group", "order")))
    return _topk(_searcher(spark, sf_dir), q)


# The raw corpus vocabulary is a closed 31-word set with no inflected
# forms, so stemming queries run over a DERIVED text that injects
# inflections deterministically (odd doc_ids: merge→merging,
# table→tables) — the oracle SQL applies the identical derivation, so
# the gate verifies that the engine's analyzer chain merges the
# inflected class (df, tf, norms) exactly as an independent SQL
# restatement does.
_STEM_DERIVE_SQL = ("CASE WHEN doc_id % 2 = 1 THEN "
                    "replace(replace(text, 'merge', 'merging'), "
                    "'table', 'tables') ELSE text END")


def _stem_searcher(spark, sf_dir, which: str) -> Searcher:
    key = (sf_dir.rstrip("/"), "stem", which)
    if key not in _CACHE:
        docs = spark.read.parquet(f"{key[0]}/documents.parquet")
        derived = docs.select("doc_id", F.expr(_STEM_DERIVE_SQL).alias("text"))
        ana = (ENGLISH_STEM_ANALYZER if which == "porter"
               else ENGLISH_MINIMAL_ANALYZER)
        idx = (IndexBuilder(ana, grid=2048, with_positions=True)
               .build(spark, derived)
               .cache())
        _CACHE[key] = Searcher(spark, idx, k1=K1, b=B)
    return _CACHE[key]


def q_stem_override_topk(spark, sf_dir):
    """StemmerOverrideFilter + SetKeywordMarkerFilter
    (miscellaneous/StemmerOverrideFilter.java:37,
    SetKeywordMarkerFilter.java:31) on the porter chain: 'merging' is
    dictionary-mapped to the artificial stem 'mrg' (never porter's
    'merg'), and 'tables' is keyword-protected (porter would give
    'tabl'). OR of the two — each class's only surface form pins both
    filters against the derived corpus."""
    from dataclasses import replace as _dc_replace
    key = (sf_dir.rstrip("/"), "stem", "override")
    if key not in _CACHE:
        docs = spark.read.parquet(f"{key[0]}/documents.parquet")
        derived = docs.select("doc_id",
                              F.expr(_STEM_DERIVE_SQL).alias("text"))
        ana = _dc_replace(ENGLISH_STEM_ANALYZER,
                          stem_overrides=(("merging", "mrg"),),
                          keyword_terms=frozenset({"tables"}))
        idx = (IndexBuilder(ana, grid=2048, with_positions=True)
               .build(spark, derived)
               .cache())
        _CACHE[key] = Searcher(spark, idx, k1=K1, b=B)
    return _topk(_CACHE[key], _should("mrg", "tables"))


def q_stem_porter_topk(spark, sf_dir):
    """PorterStemFilter chain (en/EnglishAnalyzer.java:107-113,
    en/PorterStemmer.java): query text "merges" analyzes to the stem
    class "merg", which the index merged from raw tokens merge (even
    docs) and merging (odd docs). The oracle pins the class
    {merge, merging} by hand-applying the published Porter rules
    (step1 s-removal + step6 e-removal for merges/merge; step1b
    ing-removal for merging)."""
    s = _stem_searcher(spark, sf_dir, "porter")
    return _topk(s, parse_query("merges", ENGLISH_STEM_ANALYZER))


def q_stem_minimal_topk(spark, sf_dir):
    """EnglishMinimalStemFilter (en/EnglishMinimalStemmer.java:29):
    query "tables" stems to "table"; the oracle re-implements the full
    S-stemmer as a SQL CASE over every token — no hardcoded class."""
    s = _stem_searcher(spark, sf_dir, "minimal")
    return _topk(s, parse_query("tables", ENGLISH_MINIMAL_ANALYZER))


# Deterministic synthetic coordinates for geo queries (the parquet
# tables carry no lat/lon): derived identically on both sides from
# event_id. Step 0.01°, full globe coverage.
_GEO_LAT_SQL = "(event_id * 7919) % 18001 / 100.0 - 90.0"
_GEO_LON_SQL = "(event_id * 104729) % 36001 / 100.0 - 180.0"
_GEO_CTE = (f"SELECT event_id, value, {_GEO_LAT_SQL} AS lat, "
            f"{_GEO_LON_SQL} AS lon FROM events")


def _geo_events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    return ev.select("event_id", "value",
                     F.expr(_GEO_LAT_SQL).alias("lat"),
                     F.expr(_GEO_LON_SQL).alias("lon"))


_LINE_BOX = (10.0, 25.0, -10.0, 20.0)   # min_lat, max_lat, min_lon, max_lon


def q_line_shapes(spark, sf_dir):
    """LatLonShape indexed LINE relations (document/LatLonShape.java:49
    newLineQuery/newBoxQuery with QueryRelation): each event becomes a
    deterministic 2-point polyline; counts per relation against one
    box. INTERSECTS is the exact segment-vs-box SAT test in pure
    codegen; WITHIN is the sargable bbox predicate; DISJOINT the
    complement — intersects + disjoint must cover the corpus."""
    from lucene_solr_spark.search.geoshape import (DISJOINT, INTERSECTS,
                                                   WITHIN, index_lines,
                                                   line_box_query)
    ev = _geo_events(spark, sf_dir)
    lines = index_lines(ev.select(
        "event_id",
        F.array(
            F.struct(F.col("lat").alias("lat"), F.col("lon").alias("lon")),
            F.struct((F.col("lat") + (F.col("event_id") % 7 - 3))
                     .alias("lat"),
                     (F.col("lon") + (F.col("event_id") % 11 - 5))
                     .alias("lon"))).alias("line")))
    mnla, mxla, mnlo, mxlo = _LINE_BOX
    counts = [line_box_query(lines, mnla, mxla, mnlo, mxlo, relation=rel)
              .agg(F.count("*").cast("long").alias(name))
              for rel, name in ((INTERSECTS, "cnt_intersects"),
                                (WITHIN, "cnt_within"),
                                (DISJOINT, "cnt_disjoint"))]
    out = counts[0].crossJoin(counts[1]).crossJoin(counts[2])
    return out


def q_geo_box_stats(spark, sf_dir):
    """LatLonPoint.newBoxQuery (document/LatLonPoint.java:176-196):
    Catalyst range predicates over (lat, lon), aggregated."""
    from lucene_solr_spark.search.geo import box_filter
    b = box_filter(_geo_events(spark, sf_dir),
                   10.005, 55.005, -30.005, 40.005)
    return b.agg(F.count("*").cast("long").alias("cnt"),
                 F.round(F.avg("value"), 4).alias("avg_value"))


def q_geo_nearest_topk(spark, sf_dir):
    """LatLonDocValuesField distance sort
    (document/LatLonPointDistanceComparator.java:40): 10 nearest events
    to (48.8566, 2.3522), haversine meters on Lucene's mean earth
    radius (util/SloppyMath.java)."""
    from lucene_solr_spark.search.geo import nearest
    nn = nearest(_geo_events(spark, sf_dir), 48.8566, 2.3522, 10,
                 tie_break="event_id")
    return nn.select(F.col("event_id").cast("long"),
                     F.round(F.col("dist_m") / 1000.0, 4).alias("dist_km"))


def q_geo_distance_count(spark, sf_dir):
    """LatLonPoint.newDistanceQuery (document/LatLonPoint.java:241-252):
    bounding-box pre-filter + exact haversine refine, counted."""
    from lucene_solr_spark.search.geo import distance_filter
    d = distance_filter(_geo_events(spark, sf_dir),
                        48.8566, 2.3522, 2_000_000.0)
    return d.agg(F.count("*").cast("long").alias("cnt"))


# non-convex hexagon over Europe (the notch at (45,10) exercises the
# even-odd rule); shared by q_geo_polygon_count and its oracle
_POLY = [(35.0, -10.0), (60.0, -5.0), (65.0, 20.0),
         (50.0, 40.0), (35.0, 25.0), (45.0, 10.0)]


def q_geo_polygon_count(spark, sf_dir):
    """LatLonShape.newPolygonQuery (document/LatLonShape.java:62,
    geo/Polygon.java): bbox prefilter + even-odd crossing-number
    point-in-polygon as one codegen expression, counted + avg(value)."""
    from lucene_solr_spark.search.geo import polygon_filter
    p = polygon_filter(_geo_events(spark, sf_dir), _POLY)
    return p.agg(F.count("*").cast("long").alias("cnt"),
                 F.round(F.avg("value"), 4).alias("avg_value"))


def _poly_sql(poly) -> str:
    """DuckDB restatement of the same even-odd crossing test."""
    terms = []
    n = len(poly)
    for i in range(n):
        y1, x1 = poly[i]
        y2, x2 = poly[(i + 1) % n]
        if y1 == y2:
            continue
        terms.append(
            f"(CASE WHEN (({y1} > lat) != ({y2} > lat)) AND "
            f"lon < ({x2} - {x1}) * (lat - {y1}) / ({y2} - {y1}) + {x1} "
            f"THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ") % 2 = 1"


def _payload_searcher(spark, sf_dir) -> Searcher:
    """Index with the payload channel (payload='position': each
    occurrence carries its 1-based token position — a deterministic
    stand-in for model term-importance scores), built once per sf."""
    key = ("payload", sf_dir.rstrip("/"))
    if key not in _RAW_CACHE:
        docs = _raw_docs(spark, sf_dir)
        idx = IndexBuilder(ENGLISH_ANALYZER, grid=2048, with_positions=True,
                           payload="position").build(spark, docs).cache()
        _RAW_CACHE[key] = Searcher(spark, idx, k1=K1, b=B)
    return _RAW_CACHE[key]


def q_payload_score_topk(spark, sf_dir):
    """PayloadScoreQuery (queries/payloads/PayloadScoreQuery.java:46,
    SumPayloadFunction): score = Σ payloads of 'merge' occurrences
    (payload = 1-based token position), top-10 desc, doc_id tiebreak."""
    from lucene_solr_spark.search.payloads import payload_score_topk
    s = _payload_searcher(spark, sf_dir)
    res = payload_score_topk(s, "merge", k=10, func="sum")
    return res.select(F.col("doc_id").cast("long"),
                      F.round("score", 4).alias("score"))


def q_fuzzy_suggest(spark, sf_dir):
    """FuzzySuggester (suggest/analyzing/FuzzySuggester.java:77):
    typo-tolerant completion — suggestions whose PREFIX is within 1
    edit of the key (first char exact), df-desc ranked. One key per
    edit type: deletion-in-key ('spak'→spark, 'jon'→join), substitution
    ('mirge'→merge), insertion-in-key ('sparkk'→spark)."""
    from lucene_solr_spark.search.suggest import fuzzy_suggest
    s = _searcher(spark, sf_dir)
    out = None
    for key in ("spak", "jon", "mirge", "sparkk"):
        part = (fuzzy_suggest(s.index.terms, key, k=10, max_edits=1)
                .select(F.lit(key).alias("key"), "term",
                        F.col("df").cast("long").alias("df")))
        out = part if out is None else out.unionByName(part)
    return out.orderBy("key", F.desc("df"), "term")


def q_monitor_matches(spark, sf_dir):
    """Monitor / percolator (monitor/Monitor.java:48): four registered
    alert queries percolated against the documents batch → one
    (query_id, doc_id) row per alert hit, all queries evaluated in ONE
    kernel pass after the term-filtered presearcher."""
    from lucene_solr_spark.streaming.monitor import Monitor
    m = Monitor(ENGLISH_ANALYZER, grid=2048)
    m.register("a_term", "merge")
    m.register("a_conj", "spark AND table")
    m.register("a_phrase", '"key agg"')
    m.register("a_not", "spark NOT dup")
    res = m.match_batch(spark, _raw_docs(spark, sf_dir))
    return (res.select("query_id", F.col("doc_id").cast("long"))
            .orderBy("query_id", "doc_id"))


def _offsets_searcher(spark, sf_dir) -> Searcher:
    """Offsets-indexed searcher (IndexOptions ..._AND_OFFSETS), built
    once per sf — feeds passage-ranked highlighting."""
    key = ("offsets", sf_dir.rstrip("/"))
    if key not in _RAW_CACHE:
        docs = _raw_docs(spark, sf_dir)
        idx = IndexBuilder(ENGLISH_ANALYZER, grid=2048,
                           with_offsets=True).build(spark, docs).cache()
        _RAW_CACHE[key] = Searcher(spark, idx, k1=K1, b=B)
    return _RAW_CACHE[key]


def q_passage_highlight(spark, sf_dir):
    """UnifiedHighlighter passage ranking (UnifiedHighlighter.java:93,
    PassageScorer.java formulas): best 2 passages per top-5 'merge' doc
    for query terms {merge, spark}. Rows-only gate — the PassageScorer
    formula over char offsets is not restatable in DuckDB (no per-match
    offset function); semantics pinned against hand-computed scores in
    tests/test_passages.py."""
    from lucene_solr_spark.search.passages import passage_highlight
    s = _offsets_searcher(spark, sf_dir)
    docs = _raw_docs(spark, sf_dir)
    top = (s.score_all(TermQuery("merge"), mode="f64")
           .orderBy(F.desc("score"), F.asc("doc_id")).limit(5)
           .select("doc_id"))
    texts = {int(r["doc_id"]): r["text"]
             for r in docs.join(top, "doc_id").collect()}
    res = passage_highlight(s, ["merge", "spark"], texts, max_passages=2,
                            max_passage_chars=120)
    rows = [(int(d), int(ps), round(float(sc), 4), snip)
            for d in sorted(res) for (sc, ps, _pe, snip) in res[d]]
    return spark.createDataFrame(
        rows, "doc_id long, pstart long, score double, snippet string")


def _sorted_docvalues(spark, sf_dir):
    """Sort-keyed docvalues generation (IndexWriterConfig.setIndexSort
    analog), built once per sf over documents sorted by n_chars."""
    key = ("sorted_dv", sf_dir.rstrip("/"))
    if key not in _RAW_CACHE:
        import tempfile

        from lucene_solr_spark.index.sorted import (SortedDocValues,
                                                    build_sorted_docvalues)
        path = tempfile.mkdtemp(prefix="lss_sorted_")
        docs = (spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
                .select("doc_id", "n_chars"))
        build_sorted_docvalues(spark, docs, path, "n_chars")
        _RAW_CACHE[key] = SortedDocValues(spark, path)
    return _RAW_CACHE[key]


def q_sorted_index_topk(spark, sf_dir):
    """Sorted-index early termination (IndexWriterConfig.java:484
    setIndexSort + TopFieldCollector canEarlyTerminate): top-10 'merge'
    matches by n_chars asc served from a key-range-pruned scan of the
    sorted generation — no global sort of the match set; result equals
    the unsorted sort_by_fields path (pinned in tests/test_sorted.py)."""
    sdv = _sorted_docvalues(spark, sf_dir)
    s = _searcher(spark, sf_dir)
    res = sdv.topk(s.match_docs(TermQuery("merge")), k=10, ascending=True)
    return res.select(F.col("doc_id").cast("long"),
                      F.col("n_chars").cast("long"))


def _shingle_searcher(spark, sf_dir) -> Searcher:
    key = (sf_dir.rstrip("/"), "shingles")
    if key not in _CACHE:
        from lucene_solr_spark.analysis.shingles import with_shingles
        docs = spark.read.parquet(f"{key[0]}/documents.parquet")
        docs = with_shingles(docs.select("doc_id", "text"))
        idx = (IndexBuilder(ENGLISH_ANALYZER, grid=2048, with_positions=True,
                            fields=("text", "shingles"))
               .build(spark, docs).cache())
        _CACHE[key] = Searcher(spark, idx, k1=K1, b=B)
    return _CACHE[key]


def q_shingle_term_topk(spark, sf_dir):
    """Shingle field (analysis/shingle/ShingleFilter.java:34): the
    bigram key_agg served as a single-term BM25 lookup from the
    shingles field — the phrase-as-term indexing pattern; per-field
    stats (df, avgdl, norms) come from the bigram stream."""
    s = _shingle_searcher(spark, sf_dir)
    return _topk(s, TermQuery("key_agg", field="shingles"))


def q_common_terms_topk(spark, sf_dir):
    """CommonTermsQuery (queries/CommonTermsQuery.java:119-221): terms
    (dup, merge, table) at max_term_frequency=0.5 → low=[dup]
    (df 25 of 500) gates matching via MUST; high=[merge, table]
    (df ≈ 390 > ceil(0.5·500)) contribute score only."""
    from lucene_solr_spark.search.commonterms import (CommonTermsQuery,
                                                      rewrite_common_terms)
    s = _searcher(spark, sf_dir)
    q = rewrite_common_terms(s, CommonTermsQuery(("dup", "merge", "table"),
                                                 max_term_frequency=0.5))
    return _topk(s, q)


def q_classic_topk(spark, sf_dir):
    """ClassicSimilarity (TF-IDF) OR query — pluggable similarity
    surface (IndexSearcher.setSimilarity, ClassicSimilarity.java:39-63)."""
    s = Searcher(spark, _index(spark, sf_dir)[1], similarity="classic")
    return _topk(s, _should("spark", "merge"))


def q_lmdirichlet_topk(spark, sf_dir):
    """LMDirichlet single-term (LMDirichletSimilarity.java:73-77, μ=2000)."""
    s = Searcher(spark, _index(spark, sf_dir)[1],
                 similarity="lmdirichlet", mu=2000.0)
    return _topk(s, TermQuery("merge"))


def q_dfr_topk(spark, sf_dir):
    """DFR InB2 single-term (DFRSimilarity.java:149 with
    BasicModelIn.java:30 + AfterEffectB.java:29 + NormalizationH2.java:53,
    c=1): score = log2((N+1)/(df+0.5)) × (ttf+2)/(df+1) ×
    (1 − 1/(1 + freq·log2(1 + avgdl/dl)))."""
    s = Searcher(spark, _index(spark, sf_dir)[1], similarity="dfr")
    return _topk(s, TermQuery("merge"))


def q_sweetspot_topk(spark, sf_dir):
    """SweetSpotSimilarity (misc/SweetSpotSimilarity.java:39): Classic
    idf × baselineTf (base=0, min=0 → √freq) × the lengthNorm PLATEAU
    (flat 1.0 on dl ∈ [20,120], hyperbolic falloff at steepness 0.5
    outside) — two terms OR'd so the plateau reorders docs vs classic."""
    s = Searcher(spark, _index(spark, sf_dir)[1], similarity="sweetspot",
                 ss_min=20, ss_max=120, ss_steep=0.5)
    return _topk(s, _should("merge", "spark"))


def q_f2exp_topk(spark, sf_dir):
    """Axiomatic F2EXP single-term (Axiomatic.java:52 combiner,
    AxiomaticF2EXP.java components, s=0.25, k=0.35): score =
    ((N+1)/df)^k × freq/(freq + s + s·dl/avgdl)."""
    s = Searcher(spark, _index(spark, sf_dir)[1], similarity="f2exp")
    return _topk(s, TermQuery("merge"))


def q_ib_topk(spark, sf_dir):
    """IB LL-DF-H2 single-term (IBSimilarity.java:105,
    DistributionLL.java:29, LambdaDF.java:30): score =
    ln((tfn+λ)/λ), λ=(df+1)/(N+1), tfn = freq·log2(1 + avgdl/dl)."""
    s = Searcher(spark, _index(spark, sf_dir)[1], similarity="ib")
    return _topk(s, TermQuery("merge"))


def q_dfi_topk(spark, sf_dir):
    """DFI standardized single-term (DFISimilarity.java:61,
    IndependenceStandardized.java): expected = (ttf+1)·dl/(sumTTF+1);
    score = 0 when freq ≤ expected else
    log2((freq−expected)/√expected + 1)."""
    s = Searcher(spark, _index(spark, sf_dir)[1], similarity="dfi")
    return _topk(s, TermQuery("merge"))


def q_prefix_docs(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    terms = mt.prefix_terms(s.index.terms, "f")
    if not terms:
        return s.spark.createDataFrame([], "doc_id long")
    return (s.match_docs(mt.expanded_or(terms))
            .select(F.col("doc_id").cast("long")).distinct().orderBy("doc_id"))


def q_wildcard_terms(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    terms = mt.wildcard_terms(s.index.terms, "s*m")  # stream
    return (s.index.terms.filter((F.col("field") == "text")
                                 & F.col("term").isin(terms))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")).orderBy("term"))


def q_fuzzy_terms(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    terms = mt.fuzzy_terms(s.index.terms, "spank", max_edits=1)
    return (s.index.terms.filter((F.col("field") == "text")
                                 & F.col("term").isin(terms))
            .select("term", F.col("df").cast("long").alias("df")).orderBy("term"))


def q_range_terms(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    terms = mt.range_terms(s.index.terms, "a", "g")
    return (s.index.terms.filter((F.col("field") == "text")
                                 & F.col("term").isin(terms))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")).orderBy("term"))


def q_term_in_set_docs(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    return (s.match_docs(_should("dup", "spark"))
            .select(F.col("doc_id").cast("long")).distinct().orderBy("doc_id"))


def q_doc_freq(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    return (s.index.terms.filter(F.col("field") == "text")
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf"))
            .orderBy(F.desc("df"), F.asc("term")).limit(20))


def q_collection_stats(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    st = s.field_stats("text")
    avgdl = round(st["sum_ttf"] / float(st["doc_count"]), 4)
    return spark.createDataFrame(
        [(st["doc_count"], st["sum_ttf"], avgdl)],
        "doc_count long, sum_ttf long, avgdl double")


def q_norms(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    lt = F.array(*[F.lit(int(v)) for v in LENGTH_TABLE])
    return (s.index.norms.filter((F.col("field") == "text")
                                 & (F.col("doc_id") < 100))
            .select(F.col("doc_id").cast("long"),
                    F.col("dl").cast("long").alias("dl"),
                    F.element_at(lt, F.col("norm") + 1).cast("long").alias("dlq"))
            .orderBy("doc_id"))


def q_count_and(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    n = s.count(_must("spark", "table"))
    return spark.createDataFrame([(n,)], "n long")


def q_facet_source(spark, sf_dir):
    docs, _, s = _index(spark, sf_dir)
    hits = s.match_docs(_should("spark", "merge")).distinct()
    return (hits.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source").agg(F.count("*").cast("long").alias("n"))
            .orderBy("source"))


def q_group_top2_lang(spark, sf_dir):
    docs, _, s = _index(spark, sf_dir)
    raw = s.score_all(TermQuery("table"), mode="f64")
    j = raw.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    return (j.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
            .select("lang", F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score"),
                    F.col("rn").cast("long").alias("rn"))
            .orderBy("lang", "rn"))


def q_dismax_topk(spark, sf_dir):
    q = DisjunctionMaxQuery((TermQuery("spark"), TermQuery("merge")), 0.0)
    return _topk(_searcher(spark, sf_dir), q)


def q_dismax_tiebreak_topk(spark, sf_dir):
    q = DisjunctionMaxQuery((TermQuery("spark"), TermQuery("merge")), 0.3)
    return _topk(_searcher(spark, sf_dir), q)


def q_field_term_topk(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), TermQuery("part", "title"))


def q_multifield_bool_topk(spark, sf_dir):
    q = parse_query("title:part AND text:merge", ENGLISH_ANALYZER)
    return _topk(_searcher(spark, sf_dir), q)


def q_must_should_overlap_topk(spark, sf_dir):
    q = BooleanQuery((Clause(Occur.MUST, TermQuery("spark")),
                      Clause(Occur.SHOULD, TermQuery("spark"))))
    return _topk(_searcher(spark, sf_dir), q)


def q_sloppy_phrase_topk(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), PhraseQuery(("key", "agg"), slop=2))


def _spellchecker(spark, sf_dir):
    """Persisted candidate-pruned spell dictionary (built once per sf):
    length-partitioned dict + occurrence-indexed bigram table — the
    DirectSpellChecker posture, no per-query full dictionary scan."""
    from lucene_solr_spark.search.suggest import SpellChecker
    key = ("spell", sf_dir.rstrip("/"))
    if key not in _RAW_CACHE:
        import tempfile
        path = tempfile.mkdtemp(prefix="lss_spell_")
        s = _searcher(spark, sf_dir)
        _RAW_CACHE[key] = SpellChecker(spark, s.index.terms, path,
                                       fields=("text",))
    return _RAW_CACHE[key]


def q_spellcheck(spark, sf_dir):
    sc = _spellchecker(spark, sf_dir)
    return (sc.suggest("spak", max_edits=2, k=5)
            .select("term", F.col("distance").cast("long").alias("distance"),
                    F.col("df").cast("long").alias("df")))


def q_numeric_filter_topk(spark, sf_dir):
    from lucene_solr_spark.search.extras import numeric_range_filter
    docs, _, s = _index(spark, sf_dir)
    res = numeric_range_filter(s, TermQuery("merge"), docs, "n_chars",
                               lo=200, hi=400)
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_numeric_set_topk(spark, sf_dir):
    """PointInSetQuery (search/PointInSetQuery.java:59): text query ∧
    n_chars IN {200..300} (a 101-value set pushed as an In predicate)."""
    from lucene_solr_spark.search.extras import numeric_set_filter
    docs, _, s = _index(spark, sf_dir)
    res = numeric_set_filter(s, TermQuery("merge"), docs, "n_chars",
                             range(200, 301))
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_sort_multi(spark, sf_dir):
    """Multi-key Sort (search/Sort.java:44): hits of term 'spark'
    ordered by (lang ASC NULLS LAST, n_chars DESC, doc_id)."""
    from lucene_solr_spark.search.extras import sort_by_fields
    docs, _, s = _index(spark, sf_dir)
    res = sort_by_fields(s, TermQuery("spark"), docs,
                         [("lang", True, True), ("n_chars", False, False)],
                         k=10)
    return res.select(F.col("doc_id").cast("long"), "lang",
                      F.col("n_chars").cast("long"))


def q_mlt_interesting_terms(spark, sf_dir):
    """MoreLikeThis.retrieveInterestingTerms (MoreLikeThis.java:651-702
    createQueue + Solr mlt.interestingTerms=details): the selected
    (term, tf·idf) list itself for seed doc 7, same gates as
    q_mlt_classic_topk (minTermFreq=1, minDocFreq=2, maxQueryTerms=10)."""
    from lucene_solr_spark.search.mlt import interesting_terms
    docs, _, s = _index(spark, sf_dir)
    text = docs.filter(F.col("doc_id") == 7).select("text").collect()[0][0]
    rows = interesting_terms(s, text, min_term_freq=1, min_doc_freq=2,
                             max_query_terms=10)
    return spark.createDataFrame(
        [(t, round(float(v), 4)) for t, v in rows], "term string, ms double")


def q_mlt_classic_topk(spark, sf_dir):
    """Reference-exact MoreLikeThis (`queries/mlt/MoreLikeThis.java:651`
    createQueue: tf≥minTermFreq, minDocFreq≤df, ClassicSimilarity idf
    ln((N+1)/(df+1))+1, top maxQueryTerms by tf·idf): seed doc 7,
    minTermFreq=1 minDocFreq=2 maxQueryTerms=10, OR query through the
    BM25 kernel, seed excluded (Solr MLT handler shape)."""
    from lucene_solr_spark.search.mlt import more_like_this
    docs, _, s = _index(spark, sf_dir)
    res = more_like_this(s, docs, 7, k=10, mode="f64",
                         min_term_freq=1, min_doc_freq=2,
                         max_query_terms=10)
    return res.select(F.col("doc_id").cast("long"),
                      F.round("score", 4).alias("score"))


def q_dedup_components(spark, sf_dir):
    pairs = dd.minhash_dedup(_raw_docs(spark, sf_dir), threshold=0.8)
    res = dd.canonicalize_near_dups(pairs)
    return (res.select(F.col("doc_id").cast("long"),
                       F.col("canonical_id").cast("long"),
                       "is_duplicate")
            .orderBy("doc_id"))


def q_dedup_keep_best(spark, sf_dir):
    """Near-dup cluster representative selection (CCNet keep-best
    retention): the representative of each MinHash connected component
    is its highest-n_chars member (ties -> lowest doc_id), not the
    arbitrary min-id one — boilerplate families usually hold one full
    article and many truncated mirrors."""
    pairs = dd.minhash_dedup(_raw_docs(spark, sf_dir), threshold=0.8)
    comps = dd.canonicalize_near_dups(pairs)
    qual = _raw(spark, sf_dir, "documents").select("doc_id", "n_chars")
    res = dd.component_representatives(comps, qual, quality_col="n_chars")
    return (res.select(F.col("doc_id").cast("long"),
                       F.col("component").cast("long"),
                       F.col("rep_id").cast("long"), "is_duplicate")
            .orderBy("doc_id"))


def q_cross_dedup(spark, sf_dir):
    """Incremental-crawl dedup: near-dups of the 'new increment'
    (doc_id % 5 == 0) against the 'reference corpus' (the rest) via
    cross-corpus MinHash band join + exact Jaccard verify."""
    docs = _raw_docs(spark, sf_dir)
    new = docs.filter("doc_id % 5 = 0")
    ref = docs.filter("doc_id % 5 <> 0")
    res = dd.cross_corpus_neardups(new, ref, threshold=0.8)
    return (res.select(F.col("new_id").cast("long"),
                       F.col("ref_id").cast("long"),
                       F.round("jaccard", 4).alias("jaccard"))
            .orderBy("new_id", "ref_id"))


def q_bigram_logprob(spark, sf_dir):
    """CCNet-style quality signal, bigram edition: interpolated
    Jelinek-Mercer bits per doc (lambda 0.2 unigram floor + 0.8
    bigram MLE), both models trained on this corpus by aggregation."""
    res = tstat.bigram_logprob(_raw_docs(spark, sf_dir))
    return (res.select(F.col("doc_id").cast("long"),
                       F.col("n_bigrams").cast("long"),
                       F.round("bits", 4).alias("bits"))
            .orderBy("doc_id"))


def q_token_budget_mix(spark, sf_dir):
    """Exact per-source token budget (training mixes are quoted in
    tokens): md5-ordered prefix per source, keep while the running
    whitespace-token total fits the source's budget (src0-src4: 600,
    others: 300)."""
    from lucene_solr_spark.pipeline.sampling import token_budget_cut
    docs = _raw(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"))
    budgets = {f"src{i}": 600.0 for i in range(5)}
    res = token_budget_cut(docs, budgets, default_budget=300.0)
    return (res.select(F.col("doc_id").cast("long"), "source",
                       F.col("n_tok").cast("long"),
                       F.col("cum_tokens").cast("long"))
            .orderBy("doc_id"))


def q_windowed_events(spark, sf_dir):
    from lucene_solr_spark.streaming.windowed import windowed_event_counts
    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    res = windowed_event_counts(ev, window="30 minutes")
    return (res.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
        .alias("window_start"),
        "event_type", F.col("n").cast("long").alias("n"),
        F.round("value_sum", 4).alias("value_sum"))
        .orderBy("window_start", "event_type"))


def q_suggest_prefix(spark, sf_dir):
    from lucene_solr_spark.search.suggest import suggest_terms
    s = _searcher(spark, sf_dir)
    return (suggest_terms(s.index.terms, "s", k=10)
            .select("term", F.col("df").cast("long").alias("df")))


def q_highlight_topk(spark, sf_dir):
    from lucene_solr_spark.search.suggest import highlight
    docs, _, s = _index(spark, sf_dir)
    top = (s.score_all(TermQuery("merge"), mode="f64")
           .orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
           .select("doc_id"))
    hl = highlight(docs.join(top, "doc_id"), "merge", radius=30)
    return (hl.select(F.col("doc_id").cast("long"), "snippet")
            .orderBy("doc_id"))


def q_regexp_terms(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    terms = mt.regexp_terms(s.index.terms, "s.*k")
    return (s.index.terms.filter((F.col("field") == "text")
                                 & F.col("term").isin(terms))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")).orderBy("term"))


def q_tokens_per_lang(spark, sf_dir):
    docs, idx, s = _index(spark, sf_dir)
    # idx.raw is the persisted invert output — no re-analysis (VERDICT #4)
    raw = idx.raw.filter(F.col("field") == "text")
    j = raw.join(docs.select("doc_id", "lang"), "doc_id")
    return (j.groupBy("lang")
            .agg(F.sum("freq").cast("long").alias("n_tokens"),
                 F.countDistinct("doc_id").cast("long").alias("n_docs"))
            .orderBy("lang"))


def q_match_all_count(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    from lucene_solr_spark.search.ast import MatchAllQuery
    n = s.score_all(MatchAllQuery()).count()
    return spark.createDataFrame([(n,)], "n long")


# ---------------------------------------------------------------------------
# training-data pipeline queries (dedup / similarity / textstats / multimodal)
# ---------------------------------------------------------------------------

def _raw_docs(spark, sf_dir) -> DataFrame:
    key = ("docs", sf_dir.rstrip("/"))
    if key not in _RAW_CACHE:
        _RAW_CACHE[key] = spark.read.parquet(
            f"{key[1]}/documents.parquet").select("doc_id", "text").cache()
    return _RAW_CACHE[key]


def _raw(spark, sf_dir, table: str) -> DataFrame:
    key = (table, sf_dir.rstrip("/"))
    if key not in _RAW_CACHE:
        _RAW_CACHE[key] = spark.read.parquet(
            f"{key[1]}/{table}.parquet").cache()
    return _RAW_CACHE[key]


def _emb(spark, sf_dir) -> DataFrame:
    key = ("emb", sf_dir.rstrip("/"))
    if key not in _RAW_CACHE:
        _RAW_CACHE[key] = spark.read.parquet(
            f"{key[1]}/embeddings.parquet").cache()
    return _RAW_CACHE[key]


def q_dedup_exact(spark, sf_dir):
    docs = _raw_docs(spark, sf_dir)
    planted = (docs.filter(F.col("doc_id") < 20)
               .withColumn("doc_id", F.col("doc_id") + 100000))
    ed = dd.exact_dedup(docs.unionByName(planted))
    return (ed.filter("is_duplicate")
            .select(F.col("doc_id").cast("long"),
                    F.col("canonical_id").cast("long"))
            .orderBy("doc_id"))


def q_dedup_minhash(spark, sf_dir):
    res = dd.minhash_dedup(_raw_docs(spark, sf_dir), threshold=0.8)
    return (res.select(F.col("doc_a").cast("long"),
                       F.col("doc_b").cast("long"),
                       F.round("jaccard", 4).alias("jaccard"))
            .orderBy("doc_a", "doc_b"))


def q_minhash_sigs(spark, sf_dir):
    sigs = dd.minhash_signatures(dd.shingles(_raw_docs(spark, sf_dir)), 16)
    return (sigs.filter(F.col("doc_id") < 30)
            .select(F.col("doc_id").cast("long"),
                    *[F.col(f"mh{j}").cast("long") for j in range(4)])
            .orderBy("doc_id"))


def q_minhash_query(spark, sf_dir):
    """MinHashQParser (solr/search/MinHashQParser.java:40): the query
    text (doc 133's full text — the corpus's densest near-dup family)
    is minhashed and matched component-wise against the corpus
    signatures — score = shared fraction (unbiased Jaccard estimate,
    1.0 for the doc itself), sim = 1/16 requires a shared component."""
    docs = _raw_docs(spark, sf_dir)
    qtext = docs.filter(F.col("doc_id") == 133).select("text").collect()[0][0]
    res = dd.minhash_query(spark, docs, qtext, num_perms=16,
                           sim=1.0 / 16, top=10)
    return res.select(F.col("doc_id").cast("long"),
                      F.round("est_jaccard", 4).alias("est_jaccard"))


def q_dedup_simhash(spark, sf_dir):
    res = dd.simhash_dedup(_raw_docs(spark, sf_dir), max_hamming=1)
    return (res.select(F.col("doc_a").cast("long"),
                       F.col("doc_b").cast("long"),
                       F.col("hamming").cast("long"))
            .orderBy("doc_a", "doc_b"))


def q_simhash_sigs(spark, sf_dir):
    sigs = dd.simhash_signatures(_raw_docs(spark, sf_dir))
    return (sigs.filter(F.col("doc_id") < 30)
            .select(F.col("doc_id").cast("long"),
                    F.col("simhash").cast("long"))
            .orderBy("doc_id"))


def q_dedup_ngram(spark, sf_dir):
    res = dd.ngram_jaccard_pairs(_raw_docs(spark, sf_dir), threshold=0.8,
                                 df_cutoff=100)
    return (res.select(F.col("doc_a").cast("long"),
                       F.col("doc_b").cast("long"),
                       F.round("jaccard", 4).alias("jaccard"))
            .orderBy("doc_a", "doc_b"))


def _qvec(spark, sf_dir):
    return _emb(spark, sf_dir).filter("vec_id = 0").select(
        "embedding").collect()[0][0]


def q_ann_cosine_topk(spark, sf_dir):
    top = sim.cosine_topk(_emb(spark, sf_dir), _qvec(spark, sf_dir), 10)
    return top.select(F.col("vec_id").cast("long"),
                      F.round("cos", 4).alias("cos"))


def _ivf_path(spark, sf_dir) -> str:
    key = ("ivf", sf_dir.rstrip("/"))
    if key not in _RAW_CACHE:
        import tempfile
        path = tempfile.mkdtemp(prefix="lss_ivf_")
        sim.build_ivf_index(spark, _emb(spark, sf_dir), path,
                            n_cells=8, iters=1)
        _RAW_CACHE[key] = path
    return _RAW_CACHE[key]


def q_ann_ivf_topk(spark, sf_dir):
    # assignment is PRECOMPUTED+persisted partitioned-by-cell; the probe
    # scans only the probed cells (Parquet partition pruning)
    top = sim.ivf_topk_persisted(spark, _ivf_path(spark, sf_dir),
                                 _qvec(spark, sf_dir), n_probe=2, k=10)
    return top.select(F.col("vec_id").cast("long"),
                      F.round("cos", 4).alias("cos"))


def q_ann_sq8_topk(spark, sf_dir):
    """Two-stage ANN: int8 scalar-quantized candidate scan (top-100 by
    cosine over dequantized 8-bit codes — the 4x-narrower read at
    100 TB) + exact re-rank of the candidates only."""
    top = sim.sq8_topk(_emb(spark, sf_dir), _qvec(spark, sf_dir),
                       k=10, candidates=100)
    return top.select(F.col("vec_id").cast("long"),
                      F.round("cos", 4).alias("cos"))


def q_ann_pq_topk(spark, sf_dir):
    """Two-stage PQ ANN (Jégou 2011): 16-subspace ADC candidate scan
    over uint8 codes (16 B/vector — the 16x-narrower read at 100 TB)
    + exact cosine re-rank of the top-100 candidates. Codebook is the
    deterministic seed rule (vec_id 1..16 sub-slices, no refinement) so
    the oracle reproduces the WHOLE approximate pipeline in SQL, not
    just the final ranking."""
    top = sim.pq_topk(_emb(spark, sf_dir), _qvec(spark, sf_dir),
                      k=10, m=16, n_centroids=16, candidates=100)
    return top.select(F.col("vec_id").cast("long"),
                      F.round("cos", 4).alias("cos"))


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas 2023): embedding-cluster semantic dedup — seed
    centroids + max-cosine assignment (the IVF machinery), within-cell
    pairs >= 0.4, connected components, keep the lowest-centroid-cosine
    member per group (the paper's diversity-preserving keep rule)."""
    out = sim.semdedup(_emb(spark, sf_dir), threshold=0.4, n_cells=8)
    return (out.select(F.col("vec_id").cast("long"),
                       F.col("cell").cast("int"),
                       F.col("canonical_id").cast("long"),
                       F.col("keep"))
            .orderBy("vec_id"))


def q_embed_neardup_lsh(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    planes = (emb.filter("vec_id >= 1 AND vec_id <= 4")
              .select((F.col("vec_id") - 1).alias("pid"),
                      F.col("embedding").alias("pvec")))
    res = sim.lsh_neardup_pairs(emb, planes, threshold=0.45)
    return (res.select(F.col("vec_a").cast("long"),
                       F.col("vec_b").cast("long"),
                       F.round("cos", 4).alias("cos"))
            .orderBy("vec_a", "vec_b"))


def q_embed_neardup(spark, sf_dir):
    """Corpus-scale cosine near-dup via banded hyperplane LSH (8 bands x
    2 planes, deterministic data-vector planes): candidate generation is
    an equi-join on (band, bucket), NEVER a cartesian product; exact
    cosine verifies candidates. The plane budget gives recall 1.0 on
    this fixture (pinned differentially vs the test-only all-pairs
    baseline in tests/test_pipeline.py), so the oracle stays the
    exhaustive SQL."""
    emb = _emb(spark, sf_dir)
    planes = (emb.filter("vec_id >= 1 AND vec_id <= 16")
              .select((F.col("vec_id") - 1).alias("pid"),
                      F.col("embedding").alias("pvec")))
    res = sim.banded_lsh_neardup_pairs(emb, planes, band_size=2,
                                       threshold=0.45)
    return (res.select(F.col("vec_a").cast("long"),
                       F.col("vec_b").cast("long"),
                       F.round("cos", 4).alias("cos"))
            .orderBy("vec_a", "vec_b"))


def q_script_profile(spark, sf_dir):
    """Unicode-script histogram + dominant script per doc — ONE codegen
    projection (multilingual corpus routing; pipeline/textstats.py
    script_profile)."""
    res = tstat.script_profile(_raw_docs(spark, sf_dir))
    return (res.filter(F.col("doc_id") < 200)
            .select(F.col("doc_id").cast("long"), "latin", "cyrillic",
                    "arabic", "devanagari", "han", "hangul", "greek",
                    "letters", "dominant")
            .orderBy("doc_id"))


def q_lang_id(spark, sf_dir):
    res = tstat.lang_id(_raw_docs(spark, sf_dir))
    return (res.filter(F.col("doc_id") < 100)
            .select(F.col("doc_id").cast("long"),
                    F.col("n_tokens").cast("long"),
                    F.col("en_hits").cast("long"),
                    F.col("de_hits").cast("long"), "pred_lang")
            .orderBy("doc_id"))


def q_quality_score(spark, sf_dir):
    res = tstat.quality_score(_raw_docs(spark, sf_dir))
    return (res.filter(F.col("doc_id") < 100)
            .select(F.col("doc_id").cast("long"),
                    F.col("n_chars").cast("long"),
                    F.col("n_tokens").cast("long"),
                    F.round("stop_ratio", 4).alias("stop_ratio"),
                    F.round("mean_token_len", 4).alias("mean_token_len"),
                    F.round("quality", 4).alias("quality"))
            .orderBy("doc_id"))


def q_token_counts(spark, sf_dir):
    res = tstat.token_counts(_raw_docs(spark, sf_dir))
    return (res.filter(F.col("doc_id") < 100)
            .select(F.col("doc_id").cast("long"),
                    F.col("ws_tokens").cast("long"),
                    F.col("re_tokens").cast("long"))
            .orderBy("doc_id"))


def q_fingerprint(spark, sf_dir):
    res = tstat.fingerprint(_raw_docs(spark, sf_dir))
    return (res.filter(F.col("doc_id") < 100)
            .select(F.col("doc_id").cast("long"), F.col("fp").cast("long"))
            .orderBy("doc_id"))


def q_image_meta(spark, sf_dir):
    res = mm.extract_binary_meta(mm.attach_binary(_raw_docs(spark, sf_dir)))
    return res.filter(F.col("doc_id") < 100).orderBy("doc_id")


# ---------------------------------------------------------------------------
# extra query operators (synonym / paging / boost / constant / sort-by-field)
# ---------------------------------------------------------------------------

def q_synonym_topk(spark, sf_dir):
    from lucene_solr_spark.search import extras
    s = _searcher(spark, sf_dir)
    raw = extras.synonym_score_all(s, ["spark", "merge"])
    return (raw.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_blended_topk(spark, sf_dir):
    """BlendedTermQuery (`search/BlendedTermQuery.java:63`): per-term
    BM25 with docFreq blended to the max across the term set, combined
    DisjunctionMax(tie=0.1) — distinct from q_synonym_topk's one
    pseudo-term over summed freqs."""
    from lucene_solr_spark.search import extras
    s = _searcher(spark, sf_dir)
    raw = extras.blended_term_score_all(s, ["spark", "merge"], tie=0.1)
    return (raw.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_localparams_topk(spark, sf_dir):
    """Solr local-params syntax end-to-end (`solr/.../QueryParsing.java`
    parseLocalParams + QParser dispatch): {!dismax qf='text'} over the
    analyzed body — single-field qf degenerates to the SHOULD-sum of
    the per-token scores."""
    from lucene_solr_spark.search.localparams import solr_query
    s = _searcher(spark, sf_dir)
    raw = solr_query(s, "{!dismax qf='text'}spark merge",
                     analyzer=ENGLISH_ANALYZER)
    return (raw.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_search_after(spark, sf_dir):
    from lucene_solr_spark.search import extras
    s = _searcher(spark, sf_dir)
    q = _should("spark", "merge", "fast")
    page1 = (s.score_all(q, mode="f64")
             .orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect())
    after = page1[-1]
    nxt = extras.search_after(s, q, float(after["score"]),
                              int(after["doc_id"]), k=10)
    return nxt.select(F.col("doc_id").cast("long"),
                      F.round("score", 4).alias("score"))


def q_boosted_or_topk(spark, sf_dir):
    from lucene_solr_spark.search import extras
    s = _searcher(spark, sf_dir)
    raw = extras.boosted_sum_score_all(s, {"spark": 2.0, "merge": 1.0})
    return (raw.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_constant_score_docs(spark, sf_dir):
    from lucene_solr_spark.search import extras
    s = _searcher(spark, sf_dir)
    res = extras.constant_score(s, _should("fast", "dup"), 1.0)
    return (res.select(F.col("doc_id").cast("long"),
                       F.col("score").cast("double").alias("score"))
            .orderBy("doc_id"))


def q_proximity_topk(spark, sf_dir):
    from lucene_solr_spark.search import extras
    s = _searcher(spark, sf_dir)
    raw = extras.proximity_score_all(s, "key", "agg", window=3)
    return (raw.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_sort_by_nchars(spark, sf_dir):
    from lucene_solr_spark.search import extras
    s = _searcher(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    res = extras.sort_by_field(s, TermQuery("table"), docs, "n_chars",
                               ascending=False, k=10)
    return res.select(F.col("doc_id").cast("long"),
                      F.col("n_chars").cast("long"))


# ---------------------------------------------------------------------------
# round-3 operators: nested boolean composition, dismax over phrases,
# top-terms multi-term rewrite
# ---------------------------------------------------------------------------

def q_deep_bool_topk(spark, sf_dir):
    """(spark AND table) OR (merge AND fast) — OR of ANDs, the recursive
    tree-plan path (Boolean2ScorerSupplier.java:100-127): each AND arm
    contributes its sum only where BOTH its terms match."""
    q = parse_query("(spark AND table) OR (merge AND fast)", ENGLISH_ANALYZER)
    return _topk(_searcher(spark, sf_dir), q)


def q_nested_msm_topk(spark, sf_dir):
    """+spark +((merge fast table) msm=2) — minShouldMatch inside a
    nested required group."""
    inner = BooleanQuery(tuple(Clause(Occur.SHOULD, TermQuery(t))
                               for t in ("merge", "fast", "table")),
                         min_should_match=2)
    q = BooleanQuery((Clause(Occur.MUST, TermQuery("spark")),
                      Clause(Occur.MUST, inner)))
    return _topk(_searcher(spark, sf_dir), q)


def q_dismax_phrase_topk(spark, sf_dir):
    """Dismax of a PHRASE and a term with tie=0.3 — arbitrary disjuncts
    (DisjunctionMaxQuery.java:45 takes Collection<Query>)."""
    q = DisjunctionMaxQuery((PhraseQuery(("key", "agg")),
                             TermQuery("merge")), 0.3)
    return _topk(_searcher(spark, sf_dir), q)


def q_span_near_topk(spark, sf_dir):
    """Ordered span-near key...agg within slop 3 (SpanNearQuery.java:63
    in_order=true): later terms chain to their FIRST occurrence after
    the previous link; 1/(1+matchLength) span freq."""
    from lucene_solr_spark.search.ast import SpanNearQuery
    q = SpanNearQuery(("key", "agg"), slop=3)
    return _topk(_searcher(spark, sf_dir), q)


def q_span_fieldmask_topk(spark, sf_dir):
    """FieldMaskingSpanQuery (spans/FieldMaskingSpanQuery.java:61):
    title:part masked as 'text' chained before text:merge in one
    ordered SpanNear — cross-field spans via the mask, positions read
    from each clause's REAL field, scored with the mask field's norms.
    (title = first 5 tokens of text, so the position spaces align.)"""
    from lucene_solr_spark.search.ast import (FieldMaskingSpanQuery,
                                              SpanNearQuery, SpanTermQuery)
    q = SpanNearQuery(clauses=(
        FieldMaskingSpanQuery(SpanTermQuery("part", field="title"),
                              field="text"),
        SpanTermQuery("merge", field="text")), slop=6, in_order=True)
    return _topk(_searcher(spark, sf_dir), q)


def q_span_wildcard_topk(spark, sf_dir):
    """SpanMultiTermQueryWrapper(wildcard s*) chained before 'key' in an
    ordered span-near, slop 3 (SpanMultiTermQueryWrapper.java:40: the
    MTQ rewrites to a SpanOr of the expanded terms, which then composes
    under spanNear). Expansion runs against the index dictionary; the
    oracle re-derives the same set with LIKE 's%' over the corpus."""
    from lucene_solr_spark.search import multiterm as mt
    from lucene_solr_spark.search.ast import SpanNearQuery, SpanTermQuery
    s = _searcher(spark, sf_dir)
    wrap = mt.span_multiterm_wrapper(s.index.terms, "s*", kind="wildcard")
    q = SpanNearQuery(clauses=(wrap, SpanTermQuery("key")), slop=3,
                      in_order=True)
    return _topk(s, q)


def q_check_index(spark, sf_dir):
    """CheckIndex analog (CheckIndex.java:450-900): decode every
    postings block where it lives, re-derive df/ttf per term and
    compare with the dictionary, cross-check norms and collection
    stats. Totals gate index == corpus; the *_delta / mismatch rows
    are identically 0 on a healthy index (the oracle pins them)."""
    from lucene_solr_spark.index.check import check_field
    idx = _index(spark, sf_dir)[1]
    return check_field(idx, "text").orderBy("check_name")


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling): per-doc log p_target/p_raw under add-1
    smoothed hashed-unigram bag models (target = lang='en' docs, raw =
    whole corpus, 64 md5 buckets — identical bits in the SQL oracle)."""
    from lucene_solr_spark.pipeline.dsir import dsir_weights
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (dsir_weights(docs, F.col("lang") == "en", buckets=64)
            .select(F.col("doc_id").cast("long"),
                    F.col("n_tokens").cast("long"),
                    F.round("weight", 4).alias("weight"))
            .orderBy("doc_id"))


def q_dsir_select(spark, sf_dir):
    """DSIR step 3 — Gumbel-top-k resampling without replacement over
    the importance weights (Xie et al. 2023 §3): key = weight + G with
    G = −ln(−ln(u)), u deterministic from md5(doc_id), take the 50
    largest keys. One TakeOrderedAndProject; no rand(), so the selected
    subset is reshard-stable and bit-restatable in SQL."""
    from lucene_solr_spark.pipeline.dsir import dsir_select, dsir_weights
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_weights(docs, F.col("lang") == "en", buckets=64)
    return (dsir_select(w, n=50)
            .select(F.col("doc_id").cast("long"),
                    F.round("gkey", 4).alias("gkey"))
            .orderBy("doc_id"))


def q_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid lexical+vector retrieval: BM25 top-50 for term 'key'
    fused with cosine-ANN top-50 (query = vector 0, vec_id ≡ doc_id)
    by Reciprocal Rank Fusion, k=60 (Cormack 2009) — rank-based, so no
    score calibration across the two retrievers. n_lists records how
    many retrievers surfaced the doc."""
    from lucene_solr_spark.search.hybrid import rrf_fuse
    s = _searcher(spark, sf_dir)
    bm = (s.score_all(TermQuery("key"), mode="f64")
          .orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
          .select("doc_id", "score"))
    ann = (sim.cosine_topk(_emb(spark, sf_dir), _qvec(spark, sf_dir), 50)
           .select(F.col("vec_id").alias("doc_id"), "cos"))
    fused = rrf_fuse([bm, ann], k=60)
    return (fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("rrf", 4).alias("rrf"),
                    F.col("n_lists").cast("long")))


def q_eval_quality(spark, sf_dir):
    """Search-quality benchmark (benchmark/quality/QualityStats.java:30,
    QualityBenchmark.java:37): each lang is a 'query'; the run is its
    top-10 docs by (n_chars desc, doc_id); judgments grade docs with
    doc_id % 3 == 0 at 1 + doc_id % 2. P@10 / recall@10 / MRR / nDCG@10
    per query — one broadcast run⋈qrels join + map-side aggregations."""
    from lucene_solr_spark.search.quality import quality_stats
    docs = _raw(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    run = (docs.select(F.col("lang").alias("query_id"), "doc_id",
                       F.row_number().over(w).alias("rank"))
           .filter(F.col("rank") <= 10))
    qrels = (docs.filter(F.col("doc_id") % 3 == 0)
             .select(F.col("lang").alias("query_id"), "doc_id",
                     (1 + F.col("doc_id") % 2).cast("int").alias("grade")))
    out = quality_stats(run, qrels, k=10)
    return (out.select("query_id",
                       F.round("p_at_k", 4).alias("p_at_10"),
                       F.round("recall_at_k", 4).alias("recall_at_10"),
                       F.round("mrr", 4).alias("mrr"),
                       F.round("ndcg_at_k", 4).alias("ndcg_at_10"))
            .orderBy("query_id"))


def q_eval_map(spark, sf_dir):
    """QualityStats.getAvp (QualityStats.java:178): per-query average
    precision over the same synthetic run/qrels as q_eval_quality —
    AP = Σ_i (i / rank_i) / R over relevant hits in rank order."""
    from lucene_solr_spark.search.quality import average_precision
    docs = _raw(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    run = (docs.select(F.col("lang").alias("query_id"), "doc_id",
                       F.row_number().over(w).alias("rank"))
           .filter(F.col("rank") <= 10))
    qrels = (docs.filter(F.col("doc_id") % 3 == 0)
             .select(F.col("lang").alias("query_id"), "doc_id",
                     (1 + F.col("doc_id") % 2).cast("int").alias("grade")))
    out = average_precision(run, qrels)
    return (out.select("query_id",
                       F.round("avg_precision", 4).alias("avg_precision"))
            .orderBy("query_id"))


def q_phrase_wildcard_topk(spark, sf_dir):
    """PhraseWildcardQuery (sandbox/.../PhraseWildcardQuery.java:64):
    phrase "merge s*" — the wildcard slot expands against the term
    dictionary (top-terms-capped, df desc) and the phrase executes as
    MultiPhraseQuery on the positions kernel."""
    from lucene_solr_spark.search.phrase_wildcard import (
        phrase_wildcard_query)
    s = _searcher(spark, sf_dir)
    q = phrase_wildcard_query(s.index.terms, ("merge", "s*"))
    return _topk(s, q)


def q_luke_fields(spark, sf_dir):
    """LukeRequestHandler /admin/luke per-field stats
    (handler/admin/LukeRequestHandler.java:85 over Terms.java:82-120
    metadata): distinct terms, docs-with-field, sumDocFreq,
    sumTotalTermFreq for each indexed field — pure aggregations over
    the distributed dictionary and norms tables."""
    from lucene_solr_spark.search.luke import luke_field_stats
    _, idx, _ = _index(spark, sf_dir)
    return luke_field_stats(idx).orderBy("field")


# Deterministic synthetic URLs exercising every canonicalization rule:
# scheme/host case, www. label, default :443 port, trailing slash,
# tracking params, param order, fragment. Plain ANSI so the SAME string
# feeds Spark's F.expr and the DuckDB oracle.
_URL_SYNTH_SQL = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END, '://', "
    "CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END, "
    "source, '.Example.COM', "
    "CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END, "
    "'/Docs/', CAST(doc_id % 50 AS STRING), "
    "CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&b=2&a=1' "
    "WHEN doc_id % 3 = 1 THEN '?a=1&b=2&gclid=xyz' ELSE '' END, "
    "'#frag')")


def q_url_dedup(spark, sf_dir):
    """URL-canonicalization dedup (CCNet §3.1 keep-one-per-URL; RFC
    3986 §6 syntax-based normalization): canonicalize synthesized URLs
    with one codegen projection, group on the canonical string, keep
    the best member (longest text, ties → lowest doc_id)."""
    from lucene_solr_spark.pipeline.urldedup import url_dedup
    docs = (_raw(spark, sf_dir, "documents")
            .withColumn("url", F.expr(_URL_SYNTH_SQL)))
    return (url_dedup(docs, "url", "doc_id", "n_chars")
            .select("canonical_url", F.col("rep_id").cast("long"),
                    F.col("n_dups"))
            .orderBy("canonical_url"))


# deterministic synthetic HTML per doc — plain ANSI so the SAME string
# feeds Spark's F.expr and the DuckDB oracle
_HTML_SYNTH_SQL = (
    "concat('<div class=\"d', CAST(doc_id % 5 AS STRING), '\"><p>', "
    "lang, ' &amp; ', source, '</p>"
    "<script>var q=', CAST(doc_id % 3 AS STRING), ';</script>"
    "<!-- note -->"
    "<b>tail', CAST(doc_id % 7 AS STRING), '</b></div>')")


def q_html_strip_terms(spark, sf_dir):
    """HTMLStripCharFilter (`analysis/charfilter/HTMLStripCharFilter.
    java:58`): strip synthesized per-doc HTML (tags, a script ELEMENT
    including content, a comment, an &amp; entity) with the pure-codegen
    Catalyst chain, then term-count the surviving text — the visible
    words (lang, source, tailN) must count exactly once per doc and no
    markup/script token may leak through."""
    from lucene_solr_spark.analysis.charfilters import html_strip_expr
    docs = _raw(spark, sf_dir, "documents")
    stripped = html_strip_expr(F.expr(_HTML_SYNTH_SQL))
    toks = F.expr("regexp_extract_all(stripped, '[a-z0-9&]+', 0)")
    return (docs.select(F.lower(stripped).alias("stripped"))
            .select(F.explode(toks).alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("term")).limit(20))


# deterministic synthetic filesystem-ish path per doc
_PATH_SYNTH_SQL = ("concat('/', lang, '/', source, '/d', "
                   "CAST(doc_id % 7 AS STRING))")


def q_path_facet(spark, sf_dir):
    """PathHierarchyTokenizer faceting (`analysis/path/
    PathHierarchyTokenizer.java:43`; Solr descendent_path field type):
    explode each synthesized path into its cumulative prefixes (one
    codegen split+sequence+transform projection) and count docs per
    prefix — the standard URL-path facet over a web corpus."""
    from lucene_solr_spark.analysis.path import path_hierarchy_expr
    docs = _raw(spark, sf_dir, "documents")
    prefixes = path_hierarchy_expr(F.expr(_PATH_SYNTH_SQL))
    return (docs.select(F.explode(prefixes).alias("prefix"))
            .groupBy("prefix")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("prefix")).limit(25))


# deterministic web-ish sentence: one URL (with shed-able trailing
# comma), one e-mail, four plain words
_WEB_SYNTH_SQL = (
    "concat('read https://', source, '.example.com/', lang, '/p', "
    "CAST(doc_id % 5 AS STRING), '?q=1, or mail ', lang, '.user@', "
    "source, '.org soon')")


def q_urlemail_tokens(spark, sf_dir):
    """UAX29URLEmailTokenizer (`analysis/email/UAX29URLEmailTokenizer.
    java:41`): tokenize synthesized web text so URLs and e-mails
    survive as single typed tokens (<URL>/<EMAIL>, trailing sentence
    punctuation shed from URLs), then roll up token count + distinct
    tokens per type — one codegen regexp_extract_all projection."""
    from lucene_solr_spark.analysis.urlemail import url_email_tokens_expr
    docs = _raw(spark, sf_dir, "documents")
    toks = url_email_tokens_expr(F.expr(_WEB_SYNTH_SQL))
    return (docs.select(F.explode(toks).alias("t"))
            .select(F.col("t.token").alias("token"),
                    F.col("t.type").alias("type"))
            .groupBy("type")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"),
                 F.countDistinct("token").cast("long").alias("n_distinct"))
            .orderBy("type"))


def q_curation_manifest(spark, sf_dir):
    """End-to-end curation manifest (Gopher §A1 quality → exact dedup
    → GPT-3 appx-C decontamination, the published pipeline order):
    one keep/reason row per doc from one corpus pass + one
    fingerprint-width shuffle + one broadcast gram join. Duplicates
    injected (doc_id+100000 clones of docs <20), benchmark = docs with
    doc_id % 97 == 0."""
    from lucene_solr_spark.pipeline.curate import curate_manifest
    docs = _raw_docs(spark, sf_dir)
    clones = (docs.filter(F.col("doc_id") < 20)
              .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    all_docs = docs.unionByName(clones)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return (curate_manifest(all_docs, bench, hashed=False)
            .select(F.col("doc_id").cast("long"), "quality", "duplicate",
                    "contaminated", "keep", "reason")
            .orderBy("doc_id"))


def q_perfield_topk(spark, sf_dir):
    """PerFieldAnalyzerWrapper (`analysis/miscellaneous/
    PerFieldAnalyzerWrapper.java:33`): the title field indexed under a
    NO-stopwords chain beside the stopworded text chain in one build —
    `title:the AND text:merge` scores the stopword term against real
    title postings (impossible under a single shared chain), analysis
    resolved per field at BOTH index and query time."""
    from lucene_solr_spark.analysis.analyzer import StandardAnalyzer
    from lucene_solr_spark.analysis.perfield import PerFieldAnalyzer
    wrapped = PerFieldAnalyzer(default=ENGLISH_ANALYZER,
                               overrides=(("title", StandardAnalyzer()),))
    key = ("__perfield__", sf_dir.rstrip("/"))
    if key not in _CACHE:
        docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .withColumn("title", F.expr(TITLE_EXPR)))
        idx = IndexBuilder(wrapped, grid=2048, with_positions=True,
                           fields=("text", "title")).build(spark, docs).cache()
        _CACHE[key] = Searcher(spark, idx, k1=K1, b=B)
    s = _CACHE[key]
    return _topk(s, parse_query("title:the AND text:merge", wrapped))


def q_shortest_path(spark, sf_dir):
    """ShortestPathStream (`solrj/io/graph/ShortestPathStream.java`):
    ALL shortest paths 1 ⇝ 777 over the deterministic functional graph
    doc_id → (2i+1)%1000 and (3i+7)%1000 — frontier-BFS with a
    min-level parents table, reconstructed backward; the oracle
    enumerates walks with a recursive CTE and keeps the min-length
    ones. Two equal 8-hop paths exist."""
    from lucene_solr_spark.search.graph import shortest_path
    docs = _raw(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    n = F.lit(1000)
    e = (docs.select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") * 2 + 1) % n).alias("dst"))
         .unionByName(
             docs.select(F.col("doc_id").alias("src"),
                         ((F.col("doc_id") * 3 + 7) % n).alias("dst"))))
    return (shortest_path(e, "src", "dst", 1, 777, max_depth=8)
            .orderBy("path"))


def q_custom_analyzer_topk(spark, sf_dir):
    """CustomAnalyzer (`analysis/custom/CustomAnalyzer.java:100`): an
    index built through the user-composed chain tokenizer → lowercase
    → stop (the StandardAnalyzer restated as custom components, forced
    onto the per-doc reference path via batch_vectorizable=False) must
    score BM25 'merge fast' exactly like the standard pipeline — the
    oracle is the same SQL restatement the standard OR query carries,
    so the driver independently verifies the custom code path end to
    end."""
    from lucene_solr_spark.analysis.custom import (CustomAnalyzer,
                                                   lowercase_filter,
                                                   stop_filter)
    key = ("__custom__", sf_dir.rstrip("/"))
    if key not in _CACHE:
        an = CustomAnalyzer(token_filters=(
            lowercase_filter(), stop_filter(ENGLISH_STOP_WORDS)))
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        idx = IndexBuilder(an, grid=2048,
                           with_positions=True).build(spark, docs).cache()
        _CACHE[key] = Searcher(spark, idx, k1=K1, b=B)
    s = _CACHE[key]
    return _topk(s, parse_query("merge fast", ENGLISH_ANALYZER))


def q_edge_ngram_terms(spark, sf_dir):
    """EdgeNGramTokenFilter (`analysis/ngram/EdgeNGramTokenFilter.
    java:39`): prefixes 2..4 of each document's first token — the
    search-as-you-type index shape — exploded to term counts. One
    codegen sequence+substring projection."""
    from lucene_solr_spark.analysis.grams import edge_ngram_expr
    docs = _raw(spark, sf_dir, "documents")
    tok = F.element_at(
        F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)"), 1)
    return (docs.select(F.explode(edge_ngram_expr(tok, 2, 4)).alias("gram"))
            .groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("gram")).limit(20))


_COMMON_WORDS = ["a", "and", "in", "of", "the", "to"]


def q_common_grams(spark, sf_dir):
    """CommonGramsFilter (`analysis/commongrams/CommonGramsFilter.
    java:35`): unigrams + overlaid "w1_w2" bigrams where either member
    is a common word, over each document's first 6 tokens — the
    phrase-acceleration index stream. Pure codegen transform+flatten."""
    from lucene_solr_spark.analysis.grams import common_grams_expr
    docs = _raw(spark, sf_dir, "documents")
    toks = F.slice(
        F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)"), 1, 6)
    return (docs.select(
                F.explode(common_grams_expr(toks, _COMMON_WORDS))
                 .alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("term")).limit(20))


def q_fingerprint_filter(spark, sf_dir):
    """FingerprintFilter (`analysis/miscellaneous/FingerprintFilter.
    java:38`): sorted-deduped join of each doc's first 8 tokens (the
    Solr clustering/linking fingerprint), rolled up per lang as
    (distinct fingerprints, docs with one)."""
    from lucene_solr_spark.analysis.grams import fingerprint_expr
    docs = _raw(spark, sf_dir, "documents")
    toks = F.slice(
        F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)"), 1, 8)
    return (docs.select("lang", fingerprint_expr(toks).alias("fp"))
            .groupBy("lang")
            .agg(F.countDistinct("fp").cast("long").alias("n_fp"),
                 F.count("fp").cast("long").alias("n_docs"))
            .orderBy("lang"))


# deterministic synthetic IPv4 per doc — plain ANSI (%, *, CAST) so the
# SAME string feeds Spark's F.expr and the DuckDB oracle
_IP_SYNTH_SQL = ("concat('10.', CAST(doc_id % 4 AS STRING), '.', "
                 "CAST((doc_id * 7) % 256 AS STRING), '.', "
                 "CAST((doc_id * 13) % 256 AS STRING))")


def q_ip_cidr_stats(spark, sf_dir):
    """InetAddressPoint.newPrefixQuery (misc/.../InetAddressPoint.java):
    encode synthetic dotted-quads to sortable longs (the ingest-time
    encode), filter CIDR 10.2.0.0/15 as one numeric BETWEEN, roll up
    per /16 network: count + min/max encoded address."""
    from lucene_solr_spark.search.ip import (ip_cidr, ipv4_to_long,
                                             long_to_ipv4)
    docs = (_raw(spark, sf_dir, "documents")
            .withColumn("ip", F.expr(_IP_SYNTH_SQL))
            .withColumn("ipl", ipv4_to_long(F.col("ip"))))
    hits = ip_cidr(docs, "ipl", "10.2.0.0/15")
    net16 = F.shiftright(F.col("ipl"), 16) * (1 << 16)
    return (hits.groupBy(long_to_ipv4(net16).alias("network"))
            .agg(F.count(F.lit(1)).alias("count"),
                 F.min("ipl").cast("long").alias("min_ip"),
                 F.max("ipl").cast("long").alias("max_ip"))
            .orderBy("network"))


def q_shuffle_shards(spark, sf_dir):
    """Deterministic corpus shuffle/sharding (GPT-3 appx B data-order
    reproducibility): shard = md5h60(id) mod 8, audited per shard as
    (count, min_key, max_key) — assignment is one codegen projection,
    reshard-invariant, no global sort."""
    from lucene_solr_spark.pipeline.sharding import shard_manifest
    docs = _raw(spark, sf_dir, "documents")
    return (shard_manifest(docs, 8)
            .select(F.col("shard").cast("int"),
                    F.col("count").cast("long"),
                    F.col("min_key").cast("long"),
                    F.col("max_key").cast("long"))
            .orderBy("shard"))


def q_bpe_pair_counts(spark, sf_dir):
    """BPE vocabulary learning, round-0 pair statistics (Sennrich 2016
    §3.2): adjacent symbol-pair frequencies (chars + </w>) over the
    word-frequency table — the single corpus-wide pass of BPE training
    (all later rounds run on the bounded vocab). Top-20 by (count
    desc, pair)."""
    from lucene_solr_spark.pipeline.bpe import pair_counts, word_freqs
    docs = _raw(spark, sf_dir, "documents")
    pc = pair_counts(word_freqs(docs))
    return (pc.orderBy(F.desc("count"), F.asc("pair")).limit(20)
            .select("pair", F.col("count").cast("long").alias("count")))


def q_strdist_topk(spark, sf_dir):
    """Solr strdist() function query (ValueSourceParser strdist over
    StrDistanceFunction): 1 − levenshtein/max(len) similarity of each
    title to 'merge sort fast' — top-10 most similar (ties → doc_id)."""
    from lucene_solr_spark.search.function import strdist
    docs, _, _ = _index(spark, sf_dir)
    sim_col = strdist("title", F.lit("merge sort fast"))
    return (docs.select(F.col("doc_id").cast("long"),
                        F.round(sim_col, 4).alias("sim"))
            .orderBy(F.desc("sim"), F.asc("doc_id")).limit(10))


def q_span_or_topk(spark, sf_dir):
    """SpanOr(key, part) (SpanOrQuery.java:360): union of the two term
    span streams, each span width 0 → freq = tf(key)+tf(part); one
    SimScorer over the aggregated stats (SpanWeight.java:100-118), so
    weight = idf(key)+idf(part)."""
    from lucene_solr_spark.search.ast import SpanOrQuery, SpanTermQuery
    q = SpanOrQuery((SpanTermQuery("key"), SpanTermQuery("part")))
    return _topk(_searcher(spark, sf_dir), q)


def q_span_unordered_topk(spark, sf_dir):
    """Unordered span-near key/agg within slop 3
    (NearSpansUnordered.java:93-96,163): per 'key' position, the 'agg'
    span NEAREST by start (ties → the right one); window extent − Σ
    child lengths ≤ slop matches, contributing 1/(1+extent)."""
    from lucene_solr_spark.search.ast import SpanNearQuery
    q = SpanNearQuery(("key", "agg"), slop=3, in_order=False)
    return _topk(_searcher(spark, sf_dir), q)


def q_span_not_topk(spark, sf_dir):
    """SpanNot(include=key, exclude=agg, pre=1, post=1)
    (SpanNotQuery.java:66,180-191): 'key' occurrences with no 'agg'
    within one position either side; weight from the include term only
    (SpanNotQuery.java:126-128)."""
    from lucene_solr_spark.search.ast import SpanNotQuery, SpanTermQuery
    q = SpanNotQuery(SpanTermQuery("key"), SpanTermQuery("agg"),
                     pre=1, post=1)
    return _topk(_searcher(spark, sf_dir), q)


def q_span_first_topk(spark, sf_dir):
    """SpanFirst(key, end=10) (SpanFirstQuery.java:38-43): 'key' spans
    ending at position ≤ 10, i.e. raw token position ≤ 9; freq = count
    of such occurrences."""
    from lucene_solr_spark.search.ast import SpanFirstQuery, SpanTermQuery
    q = SpanFirstQuery(SpanTermQuery("key"), end=10)
    return _topk(_searcher(spark, sf_dir), q)


def q_span_containing_topk(spark, sf_dir):
    """SpanContaining(big=near(key, agg, slop 3), little=merge)
    (SpanContainingQuery.java:36 / ContainSpans.java): big spans that
    hold a 'merge' occurrence keep their gap-sum width; freq = Σ
    1/(1+width); weight from BOTH sides' terms (SpanContainQuery
    extractTermStates)."""
    from lucene_solr_spark.search.ast import (SpanContainingQuery,
                                              SpanNearQuery, SpanTermQuery)
    q = SpanContainingQuery(SpanNearQuery(("key", "agg"), slop=3,
                                          in_order=True),
                            SpanTermQuery("merge"))
    return _topk(_searcher(spark, sf_dir), q)


def q_span_within_topk(spark, sf_dir):
    """SpanWithin(big=near(key, agg, slop 3), little=merge)
    (SpanWithinQuery.java:36): the 'merge' occurrences enclosed by a
    big span are the result spans (width 0 → each contributes 1)."""
    from lucene_solr_spark.search.ast import (SpanNearQuery, SpanTermQuery,
                                              SpanWithinQuery)
    q = SpanWithinQuery(SpanNearQuery(("key", "agg"), slop=3,
                                      in_order=True),
                        SpanTermQuery("merge"))
    return _topk(_searcher(spark, sf_dir), q)


def q_span_posrange_topk(spark, sf_dir):
    """SpanPositionRange(key, 2, 20) (SpanPositionRangeQuery.java:33):
    'key' occurrences with start ≥ 2 and end ≤ 20."""
    from lucene_solr_spark.search.ast import (SpanPositionRangeQuery,
                                              SpanTermQuery)
    q = SpanPositionRangeQuery(SpanTermQuery("key"), start=2, end=20)
    return _topk(_searcher(spark, sf_dir), q)


def q_infix_suggest(spark, sf_dir):
    """AnalyzingInfixSuggester (AnalyzingInfixSuggester.java:92):
    titles containing a token starting with 'par', weighted by n_chars
    desc (the suggester's weight field), text then doc_id ties."""
    from lucene_solr_spark.search.suggest import suggest_infix
    docs = _docs(spark, sf_dir)
    res = suggest_infix(docs, "par", k=10, text_col="title",
                        weight_col="n_chars")
    return res.select(F.col("doc_id").cast("long"), "title",
                      F.col("weight").cast("long"))


def q_geo_heatmap(spark, sf_dir):
    """Heatmap facets (spatial-extras HeatmapFacetCounter.java:40 /
    Solr SpatialHeatmapFacets): 4×6 cell counts over the box, max-edge
    points counted in the boundary cell."""
    from lucene_solr_spark.search.geo import heatmap_facets
    res = heatmap_facets(_geo_events(spark, sf_dir),
                         10.005, 55.005, -30.005, 40.005, rows=4, cols=6)
    return res.select("gy", "gx", F.col("count").cast("long"))


def q_freetext_suggest(spark, sf_dir):
    """FreeTextSuggester (suggest/analyzing/FreeTextSuggester.java:112):
    next-word prediction after 'key ' — bigram stupid backoff, score =
    c(key,w)/c(key) for context hits, 0.4 × c(w)/T backed off; a term
    keeps its highest-order score."""
    from lucene_solr_spark.search.suggest import FreeTextSuggester
    docs = _docs(spark, sf_dir)
    f = FreeTextSuggester(spark, docs, ENGLISH_ANALYZER)
    return f.lookup("key ", num=10)


def q_cursor_page2(spark, sf_dir):
    """CursorMark deep paging (solr/search/CursorMark.java): page 2 of
    the 'table' match set sorted (lang asc nulls-last, n_chars desc,
    doc_id) — fetched via the after-cursor predicate from page 1's last
    row, NOT an offset; must equal rows 6-10 of the global order."""
    from lucene_solr_spark.search.extras import cursor_page
    docs, _, s = _index(spark, sf_dir)
    keys = [("lang", True, True), ("n_chars", False, False)]
    p1 = cursor_page(s, TermQuery("table"), docs, keys, k=5)
    last = p1.collect()[-1]
    cur = (last["lang"], last["n_chars"], last["doc_id"])
    p2 = cursor_page(s, TermQuery("table"), docs, keys, k=5, cursor=cur)
    return p2.select(F.col("doc_id").cast("long"), "lang",
                     F.col("n_chars").cast("long"))


def q_complex_phrase_topk(spark, sf_dir):
    """ComplexPhraseQueryParser (queryparser complexPhrase
    ComplexPhraseQueryParser.java:60 / Solr ComplexPhraseQParserPlugin):
    wildcard INSIDE a quoted phrase — "s* merge" expands s* against the
    dictionary and runs as a MultiPhraseQuery (weight = Σ idf over all
    surviving slot terms)."""
    from lucene_solr_spark.search.multiterm import complex_phrase_query
    s = _searcher(spark, sf_dir)
    return _topk(s, complex_phrase_query(s, "s* merge"))


def q_expand_topk(spark, sf_dir):
    """ExpandComponent (handler/component/ExpandComponent.java:94):
    after collapsing OR(spark, merge) on source, the next 2 best hits
    of each group (leader excluded)."""
    from lucene_solr_spark.search.grouping import expand_groups
    docs, _, s = _index(spark, sf_dir)
    hits = s.score_all(_should("spark", "merge"), mode="f64")
    res = expand_groups(hits, docs, "source", expand_rows=2)
    return res.select("source", F.col("doc_id").cast("long"),
                      F.round("score", 4).alias("score"))


def q_significant_terms(spark, sf_dir):
    """SignificantTermsQParserPlugin
    (solr/search/SignificantTermsQParserPlugin.java:212): top terms of
    the 'spark' docset by ln(tf) × (ln((N+1)/(df+1)) + 1), df band
    [5, 0.8N], term length ≥ 3 (the synthetic corpus's vocabulary is
    small and high-df, so the band is set to keep the gate non-empty)."""
    from lucene_solr_spark.search.grouping import significant_terms
    _, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("spark"), mode="f64")
    res = significant_terms(s, matches, min_doc_freq=5, max_doc_freq=0.8,
                            min_term_length=3, k=10)
    return res.select("term", F.round("score", 4).alias("score"),
                      "tf", "df")


def q_elevation_topk(spark, sf_dir):
    """QueryElevationComponent (editorial ranking): docs 42 then 7 are
    pinned above the organic 'merge' ranking (forced into the result
    even without a match, score 0)."""
    from lucene_solr_spark.search.grouping import elevate
    _, _, s = _index(spark, sf_dir)
    hits = s.score_all(TermQuery("merge"), mode="f64")
    res = elevate(hits, [42, 7], k=10)
    return res.select(F.col("doc_id").cast("long"),
                      F.round("score", 4).alias("score"),
                      F.col("elevated").cast("long"))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021 A1.1):
    per-doc duplicated-3-gram fraction and top-3-gram share."""
    from lucene_solr_spark.pipeline.textstats import repetition_stats
    res = repetition_stats(_raw_docs(spark, sf_dir), n=3)
    return (res.filter(F.col("doc_id") < 100)
            .select("doc_id", "n_ngrams", "n_distinct",
                    F.round("dup_frac", 4).alias("dup_frac"),
                    F.round("top_frac", 4).alias("top_frac"))
            .orderBy("doc_id"))


def q_facet_metrics(spark, sf_dir):
    """JSON Facet API nested metrics (Solr json.facet terms facet with
    sum/avg/min/max sub-aggregates): per-lang buckets of the 'merge'
    match set with n_chars metrics."""
    from lucene_solr_spark.search.facets import facet_metrics
    docs, _, s = _index(spark, sf_dir)
    m = s.score_all(TermQuery("merge"), mode="f64")
    res = facet_metrics(docs, m, "lang", "n_chars")
    return res.select("value", F.col("count").cast("long"),
                      F.col("sum").cast("long"),
                      F.round("avg", 4).alias("avg"),
                      F.col("min").cast("long"),
                      F.col("max").cast("long"))


def q_facet_query(spark, sf_dir):
    """Solr facet.query (SimpleFacets getFacetQueryCount): counts of
    the 'merge' docset intersected with three arbitrary sub-queries —
    a term, an exact phrase, and an OR."""
    from lucene_solr_spark.search.facets import facet_queries
    _, _, s = _index(spark, sf_dir)
    base = s.score_all(TermQuery("merge"), mode="f64")
    res = facet_queries(s, base, {
        "has_spark": TermQuery("spark"),
        "key_agg_phrase": PhraseQuery(("key", "agg")),
        "fast_or_scan": _should("fast", "scan")})
    return res.select("name", F.col("count").cast("long"))


def q_sloppy_lucene_topk(spark, sf_dir):
    """Lucene-exact sloppy matcher (SloppyPhraseMatcher.java:56 port,
    PhraseQuery(matcher="lucene")): repeated-term phrase "key agg key"~4
    with Lucene's distinct-position repeats semantics. Rows-only gate —
    the reference's lazy window enumeration is not SQL-expressible; the
    matcher itself is pinned against TestSloppyPhraseQuery.java goldens
    (tests/test_sloppy_lucene.py) and the engine path against the pure
    port."""
    q = PhraseQuery(("key", "agg", "key"), slop=4, matcher="lucene")
    return _topk(_searcher(spark, sf_dir), q)


def q_update_search_topk(spark, sf_dir):
    """updateDocument (index/IndexWriter.java:1514 — atomic delete+add):
    every doc with doc_id % 97 == 0 is replaced by a patched text
    ('refreshed merge content ' prefix) under a FRESH doc_id
    (max_doc + rank over old id); Lucene update semantics — the OLD
    versions keep counting in df/ttf/doc_count/avgdl (tombstones hide,
    merge drops), the NEW versions extend the stats. Search: 'merge'."""
    from pyspark.sql import Window
    from lucene_solr_spark.index import update_documents
    docs, idx, _ = _index(spark, sf_dir)
    old = docs.filter((F.col("doc_id") % 97) == 0)
    m = docs.agg(F.max("doc_id")).collect()[0][0]
    w = Window.orderBy("doc_id")
    repl = (old.select(
        (F.lit(m) + F.row_number().over(w)).cast("long").alias("doc_id"),
        F.concat(F.lit("refreshed merge content "),
                 F.col("text")).alias("text"))
        .withColumn("title", F.expr(TITLE_EXPR)))
    builder = IndexBuilder(ENGLISH_ANALYZER, grid=2048, with_positions=True,
                           fields=("text", "title"))
    idx2 = update_documents(spark, idx, repl, old.select("doc_id"), builder)
    return _topk(Searcher(spark, idx2, k1=K1, b=B), TermQuery("merge"))


def q_soft_delete_search(spark, sf_dir):
    """Soft deletes + retention
    (`index/SoftDeletesRetentionMergePolicy.java:46`,
    `IndexWriterConfig.setSoftDeletesField`): docs with
    doc_id % 7 == 3 are soft-deleted (readers mask them, stats keep
    counting), then the index merges with retention query 'merge' —
    soft-deleted docs containing 'merge' stay PHYSICALLY present
    (counting in the rebuilt df/doc_count/avgdl) yet remain masked;
    the rest drop. Search: 'spark' top-10 over the post-merge stats."""
    from lucene_solr_spark.index import expunge_deletes, soft_delete_docs
    docs, idx, _ = _index(spark, sf_dir)
    soft = docs.filter("doc_id % 7 = 3").select("doc_id")
    idx2 = soft_delete_docs(spark, idx, soft)
    merged = expunge_deletes(spark, idx2, retention=TermQuery("merge"))
    return _topk(Searcher(spark, merged, k1=K1, b=B), TermQuery("spark"))


_FE_CACHE: dict = {}


def q_field_exists(spark, sf_dir):
    """FieldExistsQuery (`index/NormsFieldExistsQuery.java:34`) through
    the classic parser's Solr rewrite (`solr/core/.../FieldType.java:
    863-878`: `field:*` → exists, never a dictionary enumeration):
    index a sparse `tag` field present only on doc_id % 3 == 0, parse
    `merge AND tag:*` — the exists clause semi-joins the per-field
    norms doc-set (no term expansion, no extra scan) and contributes
    constant 1 to the BM25 sum like Lucene's BooleanWeight does."""
    key = sf_dir.rstrip("/")
    if key not in _FE_CACHE:
        docs = (_docs(spark, sf_dir)
                .withColumn("tag", F.when(F.col("doc_id") % 3 == 0,
                                          F.lit("alpha"))
                            .otherwise(F.lit(None).cast("string"))))
        builder = IndexBuilder(ENGLISH_ANALYZER, grid=2048,
                               with_positions=True, fields=("text", "tag"))
        _FE_CACHE[key] = Searcher(spark, builder.build(spark, docs).cache(),
                                  k1=K1, b=B)
    q = parse_query("merge AND tag:*", ENGLISH_ANALYZER)
    return _topk(_FE_CACHE[key], q)


def q_interval_ordered_topk(spark, sf_dir):
    """IntervalQuery maxgaps(3, ordered(key, agg))
    (queries/intervals/IntervalQuery.java:73): canonical minimal
    ordered intervals, gaps ≤ 3; freq = Σ 1/max(len − 2 + 1, 1),
    score = 1 − 1/(1 + freq) (IntervalScorer.java:66-72 +
    SaturationFunction pivot 1)."""
    from lucene_solr_spark.search.ast import (
        IntervalMaxGaps, IntervalOrdered, IntervalQuery, IntervalTerm)
    q = IntervalQuery(IntervalMaxGaps(
        IntervalOrdered((IntervalTerm("key"), IntervalTerm("agg"))), gaps=3))
    return _topk(_searcher(spark, sf_dir), q)


def q_interval_unordered_topk(spark, sf_dir):
    """IntervalQuery unordered(key, part)
    (UnorderedIntervalsSource.java): minimal envelopes in either order,
    saturation-scored."""
    from lucene_solr_spark.search.ast import (
        IntervalQuery, IntervalTerm, IntervalUnordered)
    q = IntervalQuery(IntervalUnordered((IntervalTerm("key"),
                                         IntervalTerm("part"))))
    return _topk(_searcher(spark, sf_dir), q)


def q_interval_block_topk(spark, sf_dir):
    """IntervalQuery block(key, agg) (BlockIntervalsSource.java —
    Intervals.phrase): contiguous runs; every interval has length =
    minExtent so freq = run count and score = freq/(1 + freq)."""
    from lucene_solr_spark.search.ast import IntervalBlock, IntervalQuery
    q = IntervalQuery(IntervalBlock(("key", "agg")))
    return _topk(_searcher(spark, sf_dir), q)


def q_interval_or_topk(spark, sf_dir):
    """Intervals.or (DisjunctionIntervalsSource.java): union of two
    term streams, minExtent = min(children) = 1 — every interval
    contributes 1, so freq = tf(key) + tf(part), saturation-scored."""
    from lucene_solr_spark.search.ast import (IntervalOr, IntervalQuery,
                                              IntervalTerm)
    q = IntervalQuery(IntervalOr((IntervalTerm("key"),
                                  IntervalTerm("part"))))
    return _topk(_searcher(spark, sf_dir), q)


def q_interval_containing_topk(spark, sf_dir):
    """Intervals.containing (ContainingIntervalsSource.java:52-57):
    minimal ordered(key, agg) intervals that hold a 'merge' occurrence;
    minExtent stays the big source's (= 2)."""
    from lucene_solr_spark.search.ast import (IntervalContaining,
                                              IntervalOrdered,
                                              IntervalQuery, IntervalTerm)
    q = IntervalQuery(IntervalContaining(
        IntervalOrdered((IntervalTerm("key"), IntervalTerm("agg"))),
        IntervalTerm("merge")))
    return _topk(_searcher(spark, sf_dir), q)


def q_interval_prefix_topk(spark, sf_dir):
    """Intervals.prefix (MultiTermIntervalsSource): ordered(s*, merge)
    within maxgaps 2 — the prefix expands against the dictionary into
    an interval disjunction before planning."""
    from lucene_solr_spark.search.ast import (IntervalMaxGaps,
                                              IntervalOrdered,
                                              IntervalPrefix,
                                              IntervalQuery, IntervalTerm)
    q = IntervalQuery(IntervalMaxGaps(IntervalOrdered(
        (IntervalPrefix("s"), IntervalTerm("merge"))), gaps=2))
    return _topk(_searcher(spark, sf_dir), q)


def q_interval_before_topk(spark, sf_dir):
    """Intervals.before (Intervals.java: containedBy against the
    right-extended reference): minimal ordered(key, agg) intervals that
    end before some 'merge' occurrence; the surviving subset is NOT
    re-minimalized, matching FilteringIntervalIterator."""
    from lucene_solr_spark.search.ast import (IntervalBefore,
                                              IntervalOrdered,
                                              IntervalQuery, IntervalTerm)
    q = IntervalQuery(IntervalBefore(
        IntervalOrdered((IntervalTerm("key"), IntervalTerm("agg"))),
        IntervalTerm("merge")))
    return _topk(_searcher(spark, sf_dir), q)


def q_interval_within_topk(spark, sf_dir):
    """Intervals.within(source, 2, reference) (Intervals.java:
    containedBy(source, extend(reference, 2, 2))): ordered(key, agg)
    intervals inside the ±2 extension of some 'merge' position."""
    from lucene_solr_spark.search.ast import (IntervalOrdered,
                                              IntervalQuery, IntervalTerm,
                                              IntervalWithin)
    q = IntervalQuery(IntervalWithin(
        IntervalOrdered((IntervalTerm("key"), IntervalTerm("agg"))),
        2, IntervalTerm("merge")))
    return _topk(_searcher(spark, sf_dir), q)


def q_interval_nonoverlap_topk(spark, sf_dir):
    """Intervals.nonOverlapping (NonOverlappingIntervalsSource):
    ordered(key, agg) intervals that overlap NO 'merge' position —
    docs with no 'merge' at all keep their full interval set."""
    from lucene_solr_spark.search.ast import (IntervalNonOverlapping,
                                              IntervalOrdered,
                                              IntervalQuery, IntervalTerm)
    q = IntervalQuery(IntervalNonOverlapping(
        IntervalOrdered((IntervalTerm("key"), IntervalTerm("agg"))),
        IntervalTerm("merge")))
    return _topk(_searcher(spark, sf_dir), q)


def q_edismax_topk(spark, sf_dir):
    """DisMax handler surface (qf={text:1, title:2}, tie=0.3): each
    query term scores as max-over-fields + tie x rest
    (DisMaxQParser.java:184-192)."""
    from lucene_solr_spark.search.dismax import dismax_query
    q = dismax_query("part merge", ENGLISH_ANALYZER,
                     qf={"text": 1.0, "title": 2.0}, tie=0.3)
    return _topk(_searcher(spark, sf_dir), q)


def q_prefix_topterms_topk(spark, sf_dir):
    """Prefix s* under a top-terms cap of 4: expansion keeps the 4
    highest-df matches (ties term asc) instead of raising — the
    TopTermsRewrite / TOP_TERMS_BLENDED_FREQ posture — then scores the
    OR of the kept terms."""
    s = _searcher(spark, sf_dir)
    terms = mt.prefix_terms(s.index.terms, "s", size=4)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return _topk(s, mt.expanded_or(terms))


def q_lmjm_topk(spark, sf_dir):
    """LMJelinekMercer single-term (LMJelinekMercerSimilarity.java:63-69,
    λ=0.1)."""
    s = Searcher(spark, _index(spark, sf_dir)[1],
                 similarity="lmjelinekmercer", lam=0.1)
    return _topk(s, TermQuery("merge"))


def q_boolean_sim_topk(spark, sf_dir):
    """BooleanSimilarity (BooleanSimilarity.java:38): score = sum of
    matched clause boosts; spark^2 OR merge."""
    from lucene_solr_spark.search.ast import BoostQuery
    s = Searcher(spark, _index(spark, sf_dir)[1], similarity="boolean")
    q = BooleanQuery((
        Clause(Occur.SHOULD, BoostQuery(TermQuery("spark"), 2.0)),
        Clause(Occur.SHOULD, TermQuery("merge"))))
    return _topk(s, q)


def q_join_topk(spark, sf_dir):
    """JoinUtil.createJoinQuery analog (join/JoinUtil.java:90-130,
    ScoreMode.Max): from = docs matching 'merge', from/to field =
    source; every doc of a matched source scores the max from-score."""
    from lucene_solr_spark.search.join import join_query
    docs, _, s = _index(spark, sf_dir)
    res = join_query(s, TermQuery("merge"), docs, "source",
                     docs, "source", score_mode="max")
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_blockjoin_topk(spark, sf_dir):
    """ToParentBlockJoinQuery analog (join/ToParentBlockJoinQuery.java:63,
    ScoreMode.Total): lineitem children with l_quantity ≥ 45 roll up
    their quantity to the parent order."""
    from lucene_solr_spark.search.join import block_join_to_parent
    li = _raw(spark, sf_dir, "lineitem")
    res = block_join_to_parent(li, "l_orderkey",
                               F.col("l_quantity") >= 45,
                               score_mode="total",
                               child_score=F.col("l_quantity"))
    return (res.orderBy(F.desc("score"), F.asc("l_orderkey")).limit(10)
            .select(F.col("l_orderkey").cast("long"),
                    F.round("score", 4).alias("score")))


def q_blockjoin_children(spark, sf_dir):
    """ToChildBlockJoinQuery analog (join/ToChildBlockJoinQuery.java:45):
    children of top-priced orders, carrying o_totalprice down as the
    parent score."""
    from lucene_solr_spark.search.join import block_join_to_child
    li = _raw(spark, sf_dir, "lineitem")
    od = _raw(spark, sf_dir, "orders")
    res = block_join_to_child(od, li, "o_orderkey", "l_orderkey",
                              F.col("o_totalprice") >= 400000,
                              parent_score=F.col("o_totalprice"))
    return (res.select(F.col("l_orderkey").cast("long"),
                       F.col("l_linenumber").cast("long"),
                       F.round("score", 4).alias("score"))
            .orderBy("l_orderkey", "l_linenumber"))


def q_blockjoin_facet(spark, sf_dir):
    """Block-join faceting (BlockJoinFacetComponent.java:38 /
    json.facet uniqueBlock): l_returnflag buckets over high-quantity
    lineitems, each counting DISTINCT parent orders — two matching
    lines of one order contribute 1, not 2."""
    from lucene_solr_spark.search.join import block_join_facet
    li = _raw(spark, sf_dir, "lineitem")
    return (block_join_facet(li, F.col("l_quantity") >= 45,
                             "l_orderkey", "l_returnflag")
            .select("value", F.col("count").cast("long").alias("count")))


def q_facet_range(spark, sf_dir):
    """LongRangeFacetCounts analog (facet/range/LongRangeFacetCounts.java:40)
    over the 'merge' match set: n_chars ranges [lo, hi)."""
    from lucene_solr_spark.search.facets import range_facets
    docs, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("merge"), mode="f64")
    return range_facets(docs, matches, "n_chars",
                        [("r0_0_100", 0, 100), ("r1_100_200", 100, 200),
                         ("r2_200_400", 200, 400),
                         ("r3_400_2000", 400, 2000)])


def q_facet_range_other(spark, sf_dir):
    """Solr facet.range with generated gap buckets + the FacetRangeOther
    before/after/between buckets (start=100 end=500 gap=150, hardend) —
    docs below 100 land in 'before', >= 500 in 'after'."""
    from lucene_solr_spark.search.facets import solr_range_facets
    docs, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("merge"), mode="f64")
    return (solr_range_facets(docs, matches, "n_chars", 100, 500, 150,
                              other=("before", "after", "between"),
                              hardend=True)
            .select("label", F.col("count").cast("long").alias("count")))


def q_facet_pivot(spark, sf_dir):
    """Solr facet.pivot analog: lang → source counts over the 'merge'
    match set, path-ordered."""
    from lucene_solr_spark.search.facets import pivot_facets
    docs, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("merge"), mode="f64")
    return (pivot_facets(docs, matches, ["lang", "source"])
            .select("lang", "source", F.col("count").cast("long")
                    .alias("count")))


def q_facet_params(spark, sf_dir):
    """Classic facet.field parameter block (SimpleFacets.java:432):
    prefix filter + mincount + index sort + offset/limit pagination +
    the unconditional facet.missing NULL bucket, over the 'merge'
    match set on the source field."""
    from lucene_solr_spark.search.facets import facet_field_params
    docs, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("merge"), mode="f64")
    return (facet_field_params(docs, matches, "source", prefix="src1",
                               mincount=2, sort="index", offset=1,
                               limit=4, missing=True)
            .select("value", F.col("count").cast("long").alias("count")))


def q_relatedness(spark, sf_dir):
    """JSON-facet relatedness() — Semantic Knowledge Graph scoring
    (RelatednessAgg.java:699, Grainger 2016): lang buckets of the
    'merge' foreground vs the whole-corpus background, ranked by the
    5-sigmoid-blended approximate z-score."""
    from lucene_solr_spark.search.facets import relatedness_facets
    docs, _, s = _index(spark, sf_dir)
    fg = s.score_all(TermQuery("merge"), mode="f64")
    return relatedness_facets(docs, fg, None, "lang", mincount=1,
                              limit=20).select(
        "value", F.col("fg_count").cast("long"),
        F.col("fg_size").cast("long"), F.col("bg_count").cast("long"),
        F.col("bg_size").cast("long"), "fg_pop", "bg_pop", "relatedness")


def q_facet_assoc(spark, sf_dir):
    """Association facets (TaxonomyFacetSumIntAssociations.java:34):
    Σ n_chars per taxonomy path prefix over the 'merge' match set —
    parent = Σ children over VALUES, not counts."""
    from lucene_solr_spark.search.facets import taxonomy_facet_sum
    docs, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("merge"), mode="f64")
    path = F.concat_ws(
        "/", F.col("lang"), F.col("source"),
        F.when(F.col("n_chars") < 300, F.lit("small")).otherwise("large"))
    return (taxonomy_facet_sum(docs, matches, path, "n_chars")
            .select("path", F.col("sum").cast("long").alias("sum")))


def q_standard_parser(spark, sf_dir):
    """StandardQueryParser (flexible/standard/StandardQueryParser.java:103):
    multi-field expansion of the fieldless term over (text, title),
    per-field boost title^2, points-config n_chars as an int range
    pushed to the doc table, AND default operator — top-10 by the
    summed BM25."""
    from lucene_solr_spark.search.standard_parser import (
        StandardQueryParser, standard_search)
    docs, _, s = _index(spark, sf_dir)
    p = (StandardQueryParser(ENGLISH_ANALYZER)
         .set_multi_fields(["text", "title"])
         .set_fields_boost({"title": 2.0})
         .set_points_config("n_chars", int)
         .set_default_operator("AND"))
    parsed = p.parse("merge AND n_chars:[240 TO 400]")
    out = standard_search(s, docs, parsed)
    return (out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_facet_taxonomy(spark, sf_dir):
    """Taxonomy rollup facets (FastTaxonomyFacetCounts.java:39): every
    prefix of the synthesized path lang/source/size-bucket counts over
    the 'merge' match set — parent counts = Σ children (all docs are
    labeled at leaf depth 3)."""
    from lucene_solr_spark.search.facets import taxonomy_facets
    docs, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("merge"), mode="f64")
    path = F.concat_ws(
        "/", F.col("lang"), F.col("source"),
        F.when(F.col("n_chars") < 300, F.lit("small")).otherwise("large"))
    return (taxonomy_facets(docs, matches, path)
            .select("path", F.col("count").cast("long").alias("count")))


def q_function_score_topk(spark, sf_dir):
    """FunctionScoreQuery.boostByValue analog
    (queries/function/FunctionScoreQuery.java:74): BM25('merge') ×
    ln(1 + n_chars) — DoubleValuesSource as a Catalyst expression."""
    from lucene_solr_spark.search.function import function_score
    docs, _, s = _index(spark, sf_dir)
    res = function_score(s, TermQuery("merge"), docs, "ln(1 + n_chars)")
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_scale_boost_topk(spark, sf_dir):
    """Solr scale() function query (ScaleFloatFunction.java:111-123):
    BM25('merge') + scale(n_chars, 0, 1) as a Solr bf additive boost —
    source min/max observed over the WHOLE corpus (the reference's
    ScaleInfo pass), not the match set."""
    from lucene_solr_spark.search.function import function_score, scale_expr
    docs, _, s = _index(spark, sf_dir)
    res = function_score(s, TermQuery("merge"), docs,
                         scale_expr(docs, "n_chars", 0.0, 1.0),
                         combine="add")
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_boost_by_query_topk(spark, sf_dir):
    """FunctionScoreQuery.boostByQuery analog
    (queries/function/FunctionScoreQuery.java:88): hits of 'merge',
    ×3 where 'spark' also matches."""
    from lucene_solr_spark.search.function import boost_by_query
    _, _, s = _index(spark, sf_dir)
    res = boost_by_query(s, TermQuery("merge"), TermQuery("spark"), 3.0)
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_collapse_topk(spark, sf_dir):
    """Field collapse (Solr CollapsingQParserPlugin): best hit per
    source for OR(spark, merge)."""
    from lucene_solr_spark.search.grouping import collapse
    docs, _, s = _index(spark, sf_dir)
    hits = s.score_all(_should("spark", "merge"), mode="f64")
    res = collapse(hits, docs, "source")
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_top_groups(spark, sf_dir):
    """Two-pass grouping (grouping/FirstPassGroupingCollector.java:44):
    top-3 langs by leader score, top-2 docs each."""
    from lucene_solr_spark.search.grouping import top_groups
    docs, _, s = _index(spark, sf_dir)
    hits = s.score_all(TermQuery("table"), mode="f64")
    res = top_groups(hits, docs, "lang", n_groups=3, group_size=2)
    return res.select("lang", F.col("doc_id").cast("long"),
                      F.round("score", 4).alias("score"))


def q_field_stats(spark, sf_dir):
    """Solr StatsComponent: n_chars stats over the 'merge' match set."""
    from lucene_solr_spark.search.grouping import field_stats
    docs, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("merge"), mode="f64")
    res = field_stats(docs, matches, "n_chars")
    return res.select(F.col("count").cast("long"),
                      F.col("missing").cast("long"),
                      F.col("min").cast("long"), F.col("max").cast("long"),
                      F.col("sum").cast("long"),
                      F.round("mean", 4).alias("mean"),
                      F.round("stddev", 4).alias("stddev"))


def q_rescore_topk(spark, sf_dir):
    """QueryRescorer (search/QueryRescorer.java:33-50): top-20 hits of
    OR(spark, fast) rescored with 2 × phrase("key agg")."""
    from lucene_solr_spark.search.rescorer import rescore
    _, _, s = _index(spark, sf_dir)
    first = s.score_all(_should("spark", "fast"), mode="f64")
    res = rescore(s, PhraseQuery(("key", "agg")), first, top_n=20,
                  weight=2.0)
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_ltr_rescore(spark, sf_dir):
    """Solr LTR (contrib/ltr LTRRescorer.java:40 + LinearModel.java:58):
    rerank the top-20 of OR(spark, fast) with
    0.6·originalScore + 0.001·n_chars + 1.5·phraseScore("key agg")."""
    from lucene_solr_spark.search.ltr import (LinearModel,
                                              field_value_feature,
                                              ltr_rescore,
                                              original_score_feature,
                                              solr_feature)
    docs, _, s = _index(spark, sf_dir)
    first = s.score_all(_should("spark", "fast"), mode="f64")
    feats = [original_score_feature("orig"),
             field_value_feature("nlen", "n_chars"),
             solr_feature("ph", PhraseQuery(("key", "agg")))]
    model = LinearModel((("orig", 0.6), ("nlen", 0.001), ("ph", 1.5)))
    res = ltr_rescore(s, docs, first, feats, model, rerank_docs=20)
    return (res.limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_facet_interval(spark, sf_dir):
    """Solr facet.interval (IntervalFacets): overlapping n_chars
    intervals with per-end inclusivity over the 'merge' match set —
    a doc counts in EVERY containing interval."""
    from lucene_solr_spark.search.facets import interval_facets
    docs, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("merge"), mode="f64")
    res = interval_facets(docs, matches, "n_chars",
                          [("short", 0, 120, True, False),
                           ("mid", 80, 200, True, True),
                           ("long", 200, 100000, False, True)])
    return res.select("key", F.col("count").cast("long"))


def q_drill_sideways(spark, sf_dir):
    """DrillSideways (facet/DrillSideways.java:56): drill-down =
    merge ∧ lang='en' ∧ source∈{web,wiki}; each dim's sideways counts
    drop only that dim's own filter."""
    from lucene_solr_spark.search.facets import drill_sideways
    docs, _, s = _index(spark, sf_dir)
    matches = s.score_all(TermQuery("merge"), mode="f64")
    _, sideways = drill_sideways(docs, matches,
                                 {"lang": ["en"],
                                  "source": ["src1", "src2", "src3"]})
    parts = []
    for dim in sorted(sideways):
        parts.append(sideways[dim].select(
            F.lit(dim).alias("dim"), F.col("value"),
            F.col("count").cast("long")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("dim", F.desc("count"), F.asc("value"))


def q_expression_sort(spark, sf_dir):
    """lucene/expressions (JavascriptCompiler.java:87 +
    Expression#getSortField): top-10 'merge' hits re-ranked by the
    compiled expression `_score + ln(1 + n_chars) * (n_chars > 150 ?
    0.5 : 0.25)` — parsed once on the driver, evaluated entirely in
    Catalyst codegen."""
    from lucene_solr_spark.search.expressions import expression_sort
    _, _, s = _index(spark, sf_dir)
    docs = _raw(spark, sf_dir, "documents")
    res = expression_sort(
        s, TermQuery("merge"), docs,
        "_score + ln(1 + n_chars) * (n_chars > 150 ? 0.5 : 0.25)", k=10)
    return res.select(F.col("doc_id").cast("long"),
                      F.round("score", 4).alias("score"))


def q_terms_enum(spark, sf_dir):
    """Solr TermsComponent (TermsComponent.java:54): dictionary terms
    with prefix 's', terms.sort=count (df desc, term asc), limit 15 —
    a pushed-prefix scan of the terms table."""
    from lucene_solr_spark.search.extras import terms_enum
    _, _, s = _index(spark, sf_dir)
    return (terms_enum(s, prefix="s", sort="count", limit=15)
            .select("term", F.col("df").cast("long")))


def _stream_factory(spark, sf_dir):
    from lucene_solr_spark.search.streaming_expr import StreamFactory
    _, _, s = _index(spark, sf_dir)
    return StreamFactory({"documents": (_raw(spark, sf_dir, "documents"),
                                        s)})


def q_sql_group_topk(spark, sf_dir):
    """Parallel SQL (`solr/.../SQLHandler.java:54`): SQL compiled to a
    streaming expression (search → rollup → top) and executed by the
    same StreamFactory the q_stream_* family uses."""
    from lucene_solr_spark.search.sql_interface import solr_sql
    f = _stream_factory(spark, sf_dir)
    out = solr_sql(f, "SELECT lang, count(*) AS cnt FROM documents "
                      "WHERE text = 'spark' GROUP BY lang "
                      "ORDER BY cnt DESC, lang ASC LIMIT 5")
    return out["df"].select("lang", F.col("cnt").cast("long").alias("cnt"))


def q_stream_rollup(spark, sf_dir):
    """Solr streaming expression (solrj/io/stream RollupStream.java:48 +
    HavingStream.java:40): rollup of the 'merge' match set over lang
    with sum/count/avg metrics, kept where count > 1."""
    f = _stream_factory(spark, sf_dir)
    df = f.dataframe(
        'having(rollup(search(documents, q="merge", '
        'fl="doc_id,lang,n_chars", sort="lang asc", qt="/export"), '
        'over="lang", sum(n_chars), count(*), avg(n_chars)), '
        'gt(count(*), 1))')
    return df.select(
        "lang", F.col("sum(n_chars)").cast("long").alias("sum_nc"),
        F.col("count(*)").cast("long").alias("cnt"),
        F.round("avg(n_chars)", 4).alias("avg_nc")).orderBy("lang")


def q_stream_innerjoin(spark, sf_dir):
    """InnerJoinStream.java:37: join of two search() streams on doc_id —
    docs matching both 'merge' and 'fast' with fields from each side."""
    f = _stream_factory(spark, sf_dir)
    df = f.dataframe(
        'innerJoin(search(documents, q="merge", fl="doc_id,lang", '
        'sort="doc_id asc", qt="/export"), search(documents, q="fast", '
        'fl="doc_id,n_chars", sort="doc_id asc", qt="/export"), '
        'on="doc_id")')
    return df.select(F.col("doc_id").cast("long"), "lang",
                     F.col("n_chars").cast("long"))


def q_stream_unique_top(spark, sf_dir):
    """UniqueStream.java:40 + RankStream.java:41: per-lang champion by
    (n_chars desc, doc_id asc) stream order, then global top-5."""
    f = _stream_factory(spark, sf_dir)
    df = f.dataframe(
        'top(unique(search(documents, q="*:*", fl="doc_id,lang,n_chars", '
        'sort="n_chars desc, doc_id asc", qt="/export"), over="lang"), '
        'n="5", sort="n_chars desc, doc_id asc")')
    return df.select(F.col("doc_id").cast("long"), "lang",
                     F.col("n_chars").cast("long"))


def q_gopher_filter(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021 §A1.1; used by RefinedWeb/
    Dolma): per-doc rule inputs + keep flag — one codegen map stage that
    fuses with the parquet scan."""
    from lucene_solr_spark.pipeline.textstats import gopher_rules
    res = gopher_rules(_raw_docs(spark, sf_dir), min_words=20)
    return res.select(
        F.col("doc_id").cast("long"), F.col("n_words"),
        F.round("mean_wlen", 4).alias("mean_wlen"),
        F.round("symbol_ratio", 4).alias("symbol_ratio"),
        F.round("alpha_frac", 4).alias("alpha_frac"),
        F.col("stop_hits"), F.col("keep").cast("int").alias("keep"))


def _pii_docs(spark, sf_dir):
    """documents with deterministic synthetic PII appended (the corpus
    itself is keyword soup with no PII; the injection makes the scrub
    observable and is reproduced verbatim in the oracle SQL)."""
    inject = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"),
        F.lit("@example.com or 192.168."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit(" call 555-123-4567")).otherwise(F.lit("")))
    return _raw_docs(spark, sf_dir).select("doc_id", inject.alias("text"))


def q_pii_scrub(spark, sf_dir):
    """PII detect+mask (Dolma-style email/phone/IPv4 rules): pure
    codegen regexp projection, no shuffle; masked text value-hashed."""
    from lucene_solr_spark.pipeline.scrub import pii_scrub
    res = pii_scrub(_pii_docs(spark, sf_dir))
    return res.select(F.col("doc_id").cast("long"), "n_email", "n_phone",
                      "n_ipv4", "clean_text")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appx C / Gopher §A3): 8-gram
    overlap of each doc vs a broadcast benchmark gram set (docs with
    doc_id % 97 == 0 stand in for the eval set)."""
    from lucene_solr_spark.pipeline.scrub import (benchmark_grams,
                                                  decontaminate)
    docs = _raw_docs(spark, sf_dir)
    bench = benchmark_grams(docs.filter(F.col("doc_id") % 97 == 0), n=8)
    res = decontaminate(docs, bench, n=8)
    return res.select(F.col("doc_id").cast("long"),
                      F.col("n_grams").cast("long"),
                      F.col("n_hits").cast("long"),
                      F.col("contaminated").cast("int")
                      .alias("contaminated"))


def q_substring_dup(spark, sf_dir):
    """Exact-substring duplication per doc (Lee et al. 2022 ExactSubstr
    re-expressed as stride-1 13-token windows): docs whose windows also
    occur verbatim in another doc."""
    from lucene_solr_spark.pipeline.dedup import substring_dup_stats
    res = substring_dup_stats(_raw_docs(spark, sf_dir), width=13)
    return (res.filter(F.col("dup_windows") > 0)
            .select(F.col("doc_id").cast("long"),
                    F.col("n_windows").cast("long"),
                    F.col("dup_windows").cast("long"),
                    F.round("dup_frac", 4).alias("dup_frac")))


def q_docvalues_update(spark, sf_dir):
    """Numeric doc-values updates (IndexWriter.updateNumericDocValue /
    DocValuesFieldUpdates dvGen): gen-1 sets n_chars = doc_id*10 on the
    'merge' match set, gen-2 sets 7 on the 'fast' match set (newer gen
    wins on the overlap); read back the overlaid column for all docs."""
    import tempfile

    from lucene_solr_spark.index.dv_updates import (
        read_numeric_docvalues, update_by_term, update_numeric_docvalues)
    docs, _, s = _index(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="lss_dvu_")
    merge = (s.match_docs(TermQuery("merge"))
             .select("doc_id", (F.col("doc_id") * 10).alias("value")))
    update_numeric_docvalues(spark, path, "n_chars", merge)
    update_by_term(s, path, "fast", "n_chars", 7)
    served = read_numeric_docvalues(
        spark, docs.select("doc_id", "n_chars"), path, "n_chars")
    return served.select(F.col("doc_id").cast("long"),
                         F.col("n_chars").cast("long"))


def q_analyzing_suggest(spark, sf_dir):
    """AnalyzingSuggester (`suggest/analyzing/AnalyzingSuggester.java:121`):
    titles analyzed into SEP_LABEL-joined keys (stop words drop, so
    'the merge plan' keys as 'merge<US>plan' and an analyzed 'merge'
    lookup finds it where a raw surface prefix misses); lookup 'merge',
    exactFirst, weight = surface length, top-10."""
    from lucene_solr_spark.search.suggest import (analyzing_suggest,
                                                  build_analyzing_suggest)
    docs = _docs(spark, sf_dir)
    tbl = build_analyzing_suggest(docs, ENGLISH_ANALYZER,
                                  text_col="title")
    return analyzing_suggest(tbl, ENGLISH_ANALYZER, "merge", k=10)


def q_docvalues_update_binary(spark, sf_dir):
    """Binary + sorted-set doc-values updates (VERDICT r4 #6:
    `index/IndexWriter.java:1864` updateBinaryDocValue,
    `index/BinaryDocValuesFieldUpdates.java`; SORTED_SET for tag sets):
    gen-1 relabels lang='xx' on doc_id%10==0, gen-2 lang='yy' on
    doc_id%20==0 (newest generation wins on the overlap); gen-3 replaces
    the tag SET on doc_id%9==0 with sorted+deduped
    {'curated', source}. Read back both overlays, tags exploded."""
    import tempfile

    from lucene_solr_spark.index.dv_updates import (
        read_docvalues, update_binary_docvalues,
        update_sortedset_docvalues)
    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="lss_dvb_")
    base = docs.select("doc_id", "lang",
                       F.array("lang", "source").alias("tags"))
    update_binary_docvalues(spark, path, "lang", docs.filter(
        "doc_id % 10 = 0").select("doc_id", F.lit("xx").alias("value")))
    update_binary_docvalues(spark, path, "lang", docs.filter(
        "doc_id % 20 = 0").select("doc_id", F.lit("yy").alias("value")))
    update_sortedset_docvalues(spark, path, "tags", docs.filter(
        "doc_id % 9 = 0").select("doc_id", F.array(
            F.lit("curated"), F.col("source"),
            F.lit("curated")).alias("value")))
    served = read_docvalues(spark, base, path, "lang")
    served = read_docvalues(spark, served, path, "tags")
    return served.select(F.col("doc_id").cast("long"), "lang",
                         F.explode("tags").alias("tag"))


def q_term_vectors_positions(spark, sf_dir):
    """TermVectorComponent with tv.df + tv.positions: terms, tf, corpus
    df, and positions for 5 requested docs — pushed doc_id-IN fetch +
    re-invert through the real indexing chain (q_term_vectors gates the
    plain tf slice)."""
    from lucene_solr_spark.search.extras import term_vectors_positions
    docs, _, s = _index(spark, sf_dir)
    res = term_vectors_positions(s, docs, [1, 2, 3, 5, 8], field="text")
    return res.select(F.col("doc_id").cast("long"), "term",
                      F.col("freq").cast("long"), "df", "positions")


def q_facet_percentiles(spark, sf_dir):
    """json.facet percentile metric (PercentileAgg.java): per lang of
    the 'merge' match set, count + exact p25/p50/p75 of n_chars."""
    from lucene_solr_spark.search.facets import facet_percentiles
    docs, _, s = _index(spark, sf_dir)
    m = s.match_docs(TermQuery("merge"))
    res = facet_percentiles(docs, m, "lang", "n_chars")
    return res.select(F.col("value"), F.col("count").cast("long"),
                      F.round("p25", 4).alias("p25"),
                      F.round("p50", 4).alias("p50"),
                      F.round("p75", 4).alias("p75"))


def q_feature_score_topk(spark, sf_dir):
    """FeatureField saturation scoring (document/FeatureField.java:323):
    BM25('merge') + 2·(1 − 300/(n_chars+300)) — static feature combined
    additively, the documented SHOULD-clause pattern."""
    from lucene_solr_spark.search.function import feature_score
    docs, _, s = _index(spark, sf_dir)
    res = feature_score(s, TermQuery("merge"), docs, "n_chars",
                        function="saturation", weight=2.0, pivot=300.0)
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_stream_fetch(spark, sf_dir):
    """Streaming-expression fetch decorator (FetchStream.java:48):
    decorate the 'fast' match stream with lang/n_chars stored fields."""
    f = _stream_factory(spark, sf_dir)
    df = f.dataframe(
        'fetch(documents, search(documents, q="fast", fl="doc_id", '
        'sort="doc_id asc", qt="/export"), on="doc_id=doc_id", '
        'fl="lang,n_chars")')
    return df.select(F.col("doc_id").cast("long"), "lang",
                     F.col("n_chars").cast("long"))


def q_spellcheck_collate(spark, sf_dir):
    """SpellCheckCollator (spellcheck.collate): per-term top-3
    suggestions for 'spak tabel', every combination re-queried as an
    AND count, collations with hits ranked best-first."""
    from lucene_solr_spark.search.suggest import collate
    sc = _spellchecker(spark, sf_dir)
    _, _, s = _index(spark, sf_dir)

    def suggester(w, k):
        return [r["term"] for r in
                sc.suggest(w, max_edits=2, k=k).collect()]

    return collate(s, ["spak", "tabel"], suggester, max_cands=3,
                   max_collations=5)


def q_surround_topk(spark, sf_dir):
    """Surround parser (queryparser/surround): '(key 4w agg) or
    (fast n scan)' — W ordered / N unordered distance ops compiled to
    span-near with slop = distance−1 (DistanceQuery.java:97), OR'd at
    the boolean level."""
    from lucene_solr_spark.search.surround import (parse_surround,
                                                   rewrite_surround)
    _, _, s = _index(spark, sf_dir)
    q = rewrite_surround(s, parse_surround("(key 4w agg) or (fast n scan)"))
    return _topk(s, q)


_NB_TEXT = "key agg merge spark fast table row scan"
_KNN_TEXT = "spark merge fast table"


def q_nb_classify(spark, sf_dir):
    """SimpleNaiveBayesClassifier (classification/
    SimpleNaiveBayesClassifier.java:48) over class field 'lang': per
    class, log prior + add-1-smoothed log likelihood with den =
    avgUniqueTermsPerDoc x df(c) + docsWithClass, softmax-normalized
    (normClassificationResults)."""
    from lucene_solr_spark.pipeline.classify import NaiveBayesClassifier
    nb = NaiveBayesClassifier(_raw(spark, sf_dir, "documents"),
                              class_col="lang")
    res = nb.class_scores(_NB_TEXT)
    return (spark.createDataFrame(res, "cls string, score double")
            .select("cls", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("cls")))


def q_knn_classify(spark, sf_dir):
    """KNearestNeighborClassifier (classification/
    KNearestNeighborClassifier.java:60): MLT top-10 over the input
    text, class votes weighted by score/maxScore, / k."""
    from lucene_solr_spark.pipeline.classify import KNNClassifier
    docs, _, s = _index(spark, sf_dir)
    knn = KNNClassifier(s, docs, class_col="lang", k=10, max_terms=5)
    res = knn.class_scores(_KNN_TEXT, mode="f64")
    return (spark.createDataFrame(res, "cls string, score double, "
                                       "votes long")
            .select("cls", F.round("score", 4).alias("score"), "votes")
            .orderBy(F.desc("score"), F.asc("cls")))


def q_term_vectors(spark, sf_dir):
    """TermVectors (index/IndexReader.java:288-295): per-doc term/freq
    vectors for docs 0-4."""
    from lucene_solr_spark.search.extras import term_vectors
    _, _, s = _index(spark, sf_dir)
    return (term_vectors(s, range(5))
            .select(F.col("doc_id").cast("long"), "term",
                    F.col("freq").cast("long"))
            .orderBy("doc_id", "term"))


def q_frange_topk(spark, sf_dir):
    """Solr {!frange} (search/function/ValueSourceRangeFilter.java:40):
    'merge' hits filtered to n_chars/100 ∈ [2, 6] — a function-value
    range FILTER; relevance scores pass through untouched."""
    from lucene_solr_spark.search.function import function_range_filter
    docs, _, s = _index(spark, sf_dir)
    res = function_range_filter(s, TermQuery("merge"), docs,
                                "n_chars / 100.0", lower=2.0, upper=6.0)
    return (res.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select(F.col("doc_id").cast("long"),
                    F.round("score", 4).alias("score")))


def q_stats_field(spark, sf_dir):
    """Solr StatsComponent stats.field (handler/component/StatsField.java,
    StatsValuesFactory NumericStatsValues incl. the exact stddev formula
    at :600) over the 'merge' match set on n_chars."""
    from lucene_solr_spark.search.facets import stats_field
    docs, _, s = _index(spark, sf_dir)
    m = s.match_docs(TermQuery("merge"))
    return (stats_field(docs, m, "n_chars")
            .select(F.col("count").cast("long"),
                    F.col("missing").cast("long"),
                    F.col("min").cast("double"),
                    F.col("max").cast("double"),
                    "sum", "sumOfSquares", "mean", "stddev"))


def q_diversified_topk(spark, sf_dir):
    """DiversifiedTopDocsCollector (misc/search/
    DiversifiedTopDocsCollector.java:61): top-5 of 'merge OR table'
    with at most one hit per lang."""
    from lucene_solr_spark.search.extras import diversified_topk
    docs, _, s = _index(spark, sf_dir)
    res = diversified_topk(s, _should("merge", "table"), docs, "lang",
                           k=5, max_per_key=1)
    return res.select(F.col("doc_id").cast("long"), "key",
                      F.round("score", 4).alias("score"))


def q_facet_date_range(spark, sf_dir):
    """Solr date range faceting (RangeFacetProcessor + DateMathParser):
    weekly buckets of January-2024 click events; gap re-applied as date
    math per edge; empty buckets reported with count 0."""
    from lucene_solr_spark.search.facets import date_range_facets
    ev = _raw(spark, sf_dir, "events").filter("event_type = 'click'")
    return date_range_facets(ev, None, "ts", "2024-01-01", "2024-01-31",
                             "+7DAYS")


def q_stream_timeseries(spark, sf_dir):
    """TimeSeriesStream (solrj/io/stream/TimeSeriesStream.java:62):
    weekly count/sum/avg of event value over January 2024."""
    from lucene_solr_spark.search.streaming_expr import StreamFactory
    f = StreamFactory({"events": (_raw(spark, sf_dir, "events"), None)})
    df = f.dataframe(
        'timeseries(events, q="*:*", field="ts", start="2024-01-01", '
        'end="2024-02-01", gap="+7DAYS", count(*), sum(value), '
        'avg(value))')
    return df.select(
        F.col("ts").alias("bucket"),
        F.col("count(*)").cast("long").alias("cnt"),
        F.round("sum(value)", 4).alias("sum_v"),
        F.round("avg(value)", 4).alias("avg_v"))


def q_facet_sampled(spark, sf_dir):
    """RandomSamplingFacetsCollector (facet/
    RandomSamplingFacetsCollector.java): lang facet of the 'table'
    match set counted on a deterministic-md5 half sample, amortized by
    1/rate (amortizeFacetCounts)."""
    from lucene_solr_spark.search.facets import sampled_facet_counts
    docs, _, s = _index(spark, sf_dir)
    m = s.match_docs(TermQuery("table"))
    return (sampled_facet_counts(docs, m, "lang", rate=0.5, seed=7)
            .select("value", F.col("sampled_count").cast("long"),
                    "estimate"))


def q_graph_nodes(spark, sf_dir):
    """gatherNodes/nodes graph expression (solrj/io/graph/
    GatherNodesStream.java): two-hop walk — rich BUILDING customers →
    their orders → the parts on those orders (scatter=leaves,
    trackTraversal)."""
    from lucene_solr_spark.search.graph import gather_nodes
    cust = _raw(spark, sf_dir, "customer")
    orders = _raw(spark, sf_dir, "orders")
    li = _raw(spark, sf_dir, "lineitem")
    roots = (cust.filter("c_mktsegment = 'BUILDING' AND c_acctbal > 9000")
             .select("c_custkey"))
    leaves = gather_nodes(roots, [(orders, "o_custkey", "o_orderkey"),
                                  (li, "l_orderkey", "l_partkey")])
    return (leaves.select(F.col("node").cast("long").alias("part"),
                          F.col("level").cast("int"))
            .orderBy("part"))


def q_text_profile_dedup(spark, sf_dir):
    """Solr SignatureUpdateProcessor TextProfileSignature
    (update/processor/TextProfileSignature.java): quantized
    term-frequency-profile near-dup fingerprint per document (ties
    broken token-asc — the reference's HashMap tie order is
    unspecified)."""
    from lucene_solr_spark.pipeline.dedup import text_profile_signature
    return (text_profile_signature(_raw_docs(spark, sf_dir))
            .select(F.col("doc_id").cast("long"), "signature")
            .orderBy("doc_id"))


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style LM quality signal (Wenzek et al. 2020) with an
    exactly-restatable unigram model: per-doc bits = −mean log2 of the
    corpus unigram probability of each token."""
    from lucene_solr_spark.pipeline.textstats import unigram_logprob
    return (unigram_logprob(_raw_docs(spark, sf_dir))
            .select(F.col("doc_id").cast("long"),
                    F.col("n_tokens").cast("long"),
                    F.round("bits", 4).alias("bits"))
            .orderBy("doc_id"))


_TAGGER_DICT = (("tbl", "table"), ("hv", "hash value"),
                ("fm", "fast merge"), ("vtp", "value table part"))


def q_text_tagger(spark, sf_dir):
    """SolrTextTagger (`solr/core/.../handler/tagger/TaggerRequestHandler
    .java:85`): dictionary phrase tagging over the corpus — broadcast
    dictionary, posexplode starts pruned on the first token, slice
    equality verify; per-tag occurrence + doc counts returned."""
    from lucene_solr_spark.search.tagger import tag_counts
    return (tag_counts(_raw_docs(spark, sf_dir), _TAGGER_DICT)
            .select("tag", F.col("n_tags").cast("long"),
                    F.col("n_docs").cast("long"))
            .orderBy("tag"))


def q_covering_topk(spark, sf_dir):
    """CoveringQuery (`lucene/sandbox/.../search/CoveringQuery.java:43`):
    per-doc dynamic minimumNumberMatch (1 + doc_id % 2 as the
    LongValuesSource), score = sum of matching clause BM25."""
    from lucene_solr_spark.search.extras import covering_query
    docs, _, searcher = _index(spark, sf_dir)
    clauses = [TermQuery(t) for t in ("spark", "merge", "fast")]
    thr = (F.col("doc_id") % 2 + 1).cast("long")
    return (covering_query(searcher, clauses, docs, thr, k=10)
            .select(F.col("doc_id").cast("long"),
                    F.col("n_matching").cast("long"),
                    F.round("score", 4).alias("score")))


def q_facet_unique(spark, sf_dir):
    """json.facet unique(source) per lang bucket over the 'table' match
    set (`solr/.../search/facet/UniqueAgg.java:35`)."""
    from lucene_solr_spark.search.facets import facet_unique
    docs, _, searcher = _index(spark, sf_dir)
    matches = searcher.match_docs(TermQuery("table"))
    return (facet_unique(docs, matches, "lang", "source")
            .select("bucket", F.col("unique").cast("long"),
                    F.col("count").cast("long"))
            .orderBy("bucket"))


def _c4_docs(spark, sf_dir):
    """documents reshaped into deterministic multi-line pages (the
    corpus is single-line keyword soup with no punctuation; the
    reshaping makes every C4 rule observable and is reproduced verbatim
    in the oracle SQL)."""
    l1 = F.concat(F.substring("text", 1, 50), F.lit("."))
    l2 = F.lit("short line.")
    l3 = F.when(F.col("doc_id") % 3 == 0,
                F.lit("lorem ipsum appears right here now.")) \
         .otherwise(F.lit("a perfectly normal line of text."))
    l4 = F.when(F.col("doc_id") % 5 == 0,
                F.lit("code { brace } inside this line.")) \
         .otherwise(F.lit("another good and complete line here!"))
    l5 = F.when(F.col("doc_id") % 7 == 0,
                F.lit("uses javascript for rendering the page today.")) \
         .otherwise(F.substring("text", 51, 60))
    return _raw_docs(spark, sf_dir).select(
        "doc_id", F.concat_ws("\n", l1, l2, l3, l4, l5).alias("text"))


def q_c4_filter(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. 2020 §2.2): line-level terminal
    punctuation / ≥5 words / no-javascript filter, page-level lorem
    ipsum, '{' and min-sentences drops — one codegen projection."""
    from lucene_solr_spark.pipeline.textstats import c4_rules
    res = c4_rules(_c4_docs(spark, sf_dir))
    return res.select(
        F.col("doc_id").cast("long"),
        F.col("n_lines").cast("long"),
        F.col("n_kept_lines").cast("long"),
        F.col("n_sentences").cast("long"),
        F.col("has_lorem").cast("int").alias("has_lorem"),
        F.col("has_brace").cast("int").alias("has_brace"),
        F.col("keep").cast("int").alias("keep"), "clean_text")


def q_suggest_context(spark, sf_dir):
    """Context-filtered completion (`lucene/suggest/.../document/
    ContextQuery.java:63`): title suggestions restricted to sources
    {src0, src2}, weighted by n_chars."""
    from lucene_solr_spark.search.suggest import suggest_with_contexts
    return suggest_with_contexts(_docs(spark, sf_dir), "table",
                                 ["src0", "src2"], k=10)


def q_cluster_topdocs(spark, sf_dir):
    """Search-results clustering (`solr/contrib/clustering/.../
    ClusteringComponent.java:72`, carrot2): deterministic spherical
    k-means over the 'table' top-20 page. Declared rows-only: iterative
    k-means is not SQL-expressible; pinned vs planted-topic fixtures in
    tests/test_r4s5_extras.py."""
    from lucene_solr_spark.search.clustering import cluster_top_docs
    docs, _, searcher = _index(spark, sf_dir)
    return cluster_top_docs(searcher, TermQuery("table"), docs,
                            k=20, n_clusters=3)


def q_synonym_graph_topk(spark, sf_dir):
    """Multi-word synonym graph phrase (SynonymGraphFilter +
    QueryBuilder.analyzeGraphPhrase finite-strings: `analysis/synonym/
    SynonymGraphFilter.java:47`, `util/QueryBuilder.java`): "key agg"
    with the rule `key agg => merge` expands to SHOULD(phrase(key agg),
    term(merge)); a doc scores the sum of its matching alternatives."""
    from lucene_solr_spark.search.syngraph import (SynonymGraph,
                                                   SynonymRule,
                                                   graph_phrase_query)
    s = _searcher(spark, sf_dir)
    g = SynonymGraph([SynonymRule(("key", "agg"), ("merge",))])
    return _topk(s, graph_phrase_query(g, ("key", "agg")))


def q_blended_suggest(spark, sf_dir):
    """BlendedInfixSuggester (`suggest/analyzing/
    BlendedInfixSuggester.java:60`, POSITION_LINEAR): 'mer' title
    suggestions scored weight × (1 − 0.10 × first-match position)."""
    from lucene_solr_spark.search.suggest import blended_infix_suggest
    res = blended_infix_suggest(_docs(spark, sf_dir), "mer", k=10,
                                text_col="title", weight_col="n_chars")
    return res.select(F.col("doc_id").cast("long"), "title",
                      F.col("position").cast("long").alias("position"),
                      F.round("score", 4).alias("score"))


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup signal (CCNet §3.1 / Dolma §4.1)
    over the deterministically reshaped multi-line pages: per doc the
    number of paragraphs whose normalized hash occurs in ≥2 docs."""
    from lucene_solr_spark.pipeline.dedup import paragraph_dup_stats
    res = paragraph_dup_stats(_c4_docs(spark, sf_dir))
    return res.select(F.col("doc_id").cast("long"),
                      F.col("n_paras").cast("long"),
                      F.col("dup_paras").cast("long"),
                      F.round("dup_frac", 4).alias("dup_frac"))


def q_temperature_mix(spark, sf_dir):
    """Temperature-flattened training mixture (XLM-R §3.1 / mT5 §3.2:
    p^α multinomial, α=0.5, 40% budget): md5-deterministic per-lang
    keep rates derived from one per-stratum count aggregate."""
    from lucene_solr_spark.pipeline.sampling import temperature_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    samp = temperature_sample(docs, "doc_id", "lang",
                              alpha=0.5, sample_frac=0.4)
    return (samp.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("kept"),
                 F.sum("n_chars").cast("long").alias("sum_chars"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB side)
# ---------------------------------------------------------------------------

_STOPLIST = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))

# shared prelude: tokens → tf → doc length → quantized length → stats → df →
# per-(doc,term) BM25 partial in double precision.
# dlq reproduces SmallFloat intToByte4∘byte4ToInt (util/SmallFloat.java:101-169):
# exact < 40, else 24 + ((((y>>s)&7)|8)<<s), y=dl-24, s=bit_length(y)-4.
_PRELUDE = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
  FROM documents
), tokf AS (
  SELECT doc_id, term FROM tok WHERE term NOT IN ({_STOPLIST})
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS freq FROM tokf GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(freq)::BIGINT AS dl FROM tf GROUP BY doc_id
), dlq AS (
  SELECT doc_id, dl,
    CASE WHEN dl < 40 THEN dl
         ELSE 24 + ((((dl-24) >> (length(bin(dl-24))-4)) & 7 | 8)
                    << (length(bin(dl-24))-4)) END AS dlq
  FROM dl
), stats AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sttf,
         sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
), dfreq AS (
  SELECT term, count(*)::BIGINT AS df, sum(freq)::BIGINT AS ttf
  FROM tf GROUP BY term
), sc AS (
  SELECT tf.doc_id, tf.term, tf.freq, dlq.dlq,
         ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.freq / (tf.freq + {K1} * (1 - {B} + {B} * dlq.dlq / stats.avgdl))
           AS s
  FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
)
"""



# title-field prelude: title = first 5 raw tokens of text; same
# tokenize→stop→tf→dl→dlq→stats→df→BM25 chain as _PRELUDE, per-field
# collection stats exactly as the engine computes them
# (IndexSearcher.java:914-933).
_TITLE_CTES = f"""
, ttok AS (
  SELECT doc_id,
         unnest(list_slice(regexp_extract_all(text, '[a-z0-9]+'), 1, 5)) AS term
  FROM documents
), ttokf AS (
  SELECT doc_id, term FROM ttok WHERE term NOT IN ({_STOPLIST})
), ttf AS (
  SELECT doc_id, term, count(*)::BIGINT AS freq FROM ttokf GROUP BY doc_id, term
), tdl AS (
  SELECT doc_id, sum(freq)::BIGINT AS dl FROM ttf GROUP BY doc_id
), tdlq AS (
  SELECT doc_id, dl,
    CASE WHEN dl < 40 THEN dl
         ELSE 24 + ((((dl-24) >> (length(bin(dl-24))-4)) & 7 | 8)
                    << (length(bin(dl-24))-4)) END AS dlq
  FROM tdl
), tstats AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sttf,
         sum(dl)::DOUBLE / count(*) AS avgdl FROM tdl
), tdfreq AS (
  SELECT term, count(*)::BIGINT AS df, sum(freq)::BIGINT AS ttf
  FROM ttf GROUP BY term
), tsc AS (
  SELECT ttf.doc_id, ttf.term, ttf.freq, tdlq.dlq,
         ln(1 + (tstats.n - tdfreq.df + 0.5) / (tdfreq.df + 0.5))
           * ttf.freq / (ttf.freq + {K1} * (1 - {B} + {B} * tdlq.dlq / tstats.avgdl))
           AS s
  FROM ttf JOIN tdlq USING (doc_id) JOIN tdfreq USING (term) CROSS JOIN tstats
)
"""


_BLOOM_CACHE: dict = {}


def q_bloom_or_topk(spark, sf_dir):
    """Bloom-pruned disjunction (BloomFilteringPostingsFormat.java:60 /
    FuzzySet.java:39 analog): a per-field bloom sidecar built once from
    the terms table answers seekExact-style "definitely absent" BEFORE
    any Spark job launches, so the two planted absent terms are dropped
    driver-side and the cluster only ever sees the surviving clauses.
    Blooms have no false negatives, so pruning is semantics-free — the
    oracle is the plain 4-term OR (absent terms contribute no rows)."""
    from lucene_solr_spark.index.bloom import build_term_bloom, bloom_prune
    key = ("bloom", sf_dir)
    if key not in _BLOOM_CACHE:
        _BLOOM_CACHE[key] = build_term_bloom(
            _index(spark, sf_dir)[1].terms, field="text")
    keep, drop = bloom_prune(
        _BLOOM_CACHE[key],
        ["merge", "qqzzabsentterm", "fast", "xxyynotindexed"])
    assert "qqzzabsentterm" in drop and "xxyynotindexed" in drop
    return _topk(_searcher(spark, sf_dir), _should(*keep))


def _sql_topk_sum(term_list, extra=""):
    terms = ", ".join(f"'{t}'" for t in term_list)
    return _PRELUDE + f"""
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM sc WHERE term IN ({terms})
GROUP BY doc_id {extra}
ORDER BY SUM(s) DESC, doc_id LIMIT 10"""


def oracle_sql() -> dict[str, str]:
    sql = {}
    sql["q_term_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(s, 4) AS score FROM sc WHERE term = 'merge'
ORDER BY s DESC, doc_id LIMIT 10"""

    sql["q_or_topk"] = _sql_topk_sum(["spark", "merge", "fast"])

    # bloom pruning is semantics-free (no false negatives): the oracle is
    # the un-pruned OR — absent terms contribute no sc rows either way
    sql["q_bloom_or_topk"] = _sql_topk_sum(
        ["merge", "qqzzabsentterm", "fast", "xxyynotindexed"])

    sql["q_and_topk"] = _sql_topk_sum(
        ["spark", "table"], extra="HAVING count(DISTINCT term) = 2")

    sql["q_andnot_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM sc WHERE term = 'spark'
  AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'dup')
GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10"""

    sql["q_msm_topk"] = _sql_topk_sum(
        ["spark", "merge", "fast"], extra="HAVING count(DISTINCT term) >= 2")

    sql["q_nested_bool_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM sc WHERE term IN ('spark', 'merge', 'fast')
GROUP BY doc_id
HAVING count(DISTINCT CASE WHEN term IN ('spark','merge') THEN 1 END) >= 1
   AND count(DISTINCT CASE WHEN term = 'fast' THEN 1 END) >= 1
ORDER BY SUM(s) DESC, doc_id LIMIT 10"""

    # phrase: adjacency in the RAW token stream (stopword gaps preserved);
    # pf = number of adjacent (key, agg) pairs; weight = idf(key)+idf(agg)
    sql["q_phrase_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS pf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
)
SELECT pf.doc_id, ROUND(
  idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4)
  AS score
FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
ORDER BY idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
  DESC, pf.doc_id LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    # ClassicSimilarity: (ln((n+1)/(df+1))+1) · √freq / √dl over the SAME
    # quantized doc length the engine decodes from the norm byte
    sql["q_classic_topk"] = _PRELUDE + """
SELECT tf.doc_id, ROUND(SUM(
    (ln((stats.n + 1) / (dfreq.df + 1.0)) + 1.0)
      * sqrt(tf.freq) / sqrt(dlq.dlq)), 4) AS score
FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
WHERE tf.term IN ('spark', 'merge')
GROUP BY tf.doc_id
ORDER BY SUM((ln((stats.n + 1) / (dfreq.df + 1.0)) + 1.0)
      * sqrt(tf.freq) / sqrt(dlq.dlq)) DESC, tf.doc_id LIMIT 10"""

    # LMDirichlet: max(0, ln(1 + freq/(μ·cp)) + ln(μ/(dl+μ))),
    # cp = (ttf+1)/(sumTotalTermFreq+1), μ = 2000
    # LMJelinekMercer: ln(1 + ((1−λ)·freq/dl)/(λ·cp)), λ=0.1,
    # cp = (ttf+1)/(sttf+1), dl = quantized decoded length
    sql["q_lmjm_topk"] = _PRELUDE + """
SELECT tf.doc_id, ROUND(
    ln(1 + (0.9 * tf.freq / dlq.dlq)
         / (0.1 * (dfreq.ttf + 1.0) / (stats.sttf + 1.0))), 4) AS score
FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
WHERE tf.term = 'merge'
ORDER BY ln(1 + (0.9 * tf.freq / dlq.dlq)
         / (0.1 * (dfreq.ttf + 1.0) / (stats.sttf + 1.0))) DESC,
         tf.doc_id LIMIT 10"""

    # BooleanSimilarity: score = sum of matched clause boosts
    sql["q_boolean_sim_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(SUM(CASE WHEN term = 'spark' THEN 2.0 ELSE 1.0 END), 4)
  AS score
FROM tf WHERE term IN ('spark', 'merge') GROUP BY doc_id
ORDER BY SUM(CASE WHEN term = 'spark' THEN 2.0 ELSE 1.0 END) DESC, doc_id
LIMIT 10"""

    # field collapse: best hit per source
    sql["q_collapse_topk"] = _PRELUDE + """
, hits AS (SELECT doc_id, SUM(s) AS s FROM sc
           WHERE term IN ('spark', 'merge') GROUP BY doc_id)
, g AS (
  SELECT h.doc_id, h.s,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY h.s DESC, h.doc_id) AS rn
  FROM hits h JOIN documents d USING (doc_id))
SELECT doc_id, ROUND(s, 4) AS score FROM g WHERE rn = 1
ORDER BY s DESC, doc_id LIMIT 10"""

    # two-pass grouping: top-3 langs by leader, top-2 docs each
    sql["q_top_groups"] = _PRELUDE + """
, hits AS (SELECT doc_id, SUM(s) AS s FROM sc
           WHERE term = 'table' GROUP BY doc_id)
, r AS (
  SELECT h.doc_id, h.s, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY h.s DESC, h.doc_id) AS rn
  FROM hits h JOIN documents d USING (doc_id))
, ld AS (
  SELECT lang, row_number() OVER (ORDER BY s DESC, doc_id) AS gr
  FROM r WHERE rn = 1)
SELECT r.lang, r.doc_id, ROUND(r.s, 4) AS score
FROM r JOIN ld USING (lang)
WHERE r.rn <= 2 AND ld.gr <= 3
ORDER BY ld.gr, r.rn"""

    # stats component over the match set
    sql["q_field_stats"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
SELECT count(d.n_chars)::BIGINT AS count,
       sum(CASE WHEN d.n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS missing,
       min(d.n_chars)::BIGINT AS min, max(d.n_chars)::BIGINT AS max,
       sum(d.n_chars)::BIGINT AS sum,
       ROUND(avg(d.n_chars), 4) AS mean,
       ROUND(stddev_samp(d.n_chars), 4) AS stddev
FROM documents d JOIN m USING (doc_id)"""

    # rescore: top-20 of OR(spark,fast) + 2 × phrase("key agg")
    sql["q_rescore_topk"] = _PRELUDE + """
, hits AS (SELECT doc_id, SUM(s) AS s FROM sc
           WHERE term IN ('spark', 'fast') GROUP BY doc_id)
, cut AS (SELECT doc_id, s FROM hits ORDER BY s DESC, doc_id LIMIT 20)
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS pf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
), ph AS (
  SELECT pf.doc_id,
    idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
    AS s2
  FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id
  CROSS JOIN stats CROSS JOIN idfs)
SELECT cut.doc_id,
       ROUND(cut.s + 2.0 * COALESCE(ph.s2, 0), 4) AS score
FROM cut LEFT JOIN ph ON cut.doc_id = ph.doc_id
ORDER BY cut.s + 2.0 * COALESCE(ph.s2, 0) DESC, cut.doc_id
LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    sql["q_term_vectors"] = _PRELUDE + """
SELECT doc_id, term, freq FROM tf WHERE doc_id < 5
ORDER BY doc_id, term"""

    # multiphrase: exact "merge (group|order)", weight = sum idf of all 3
    sql["q_multiphrase_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS pf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'merge' AND b.term IN ('group', 'order')
  GROUP BY a.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats
  WHERE dfreq.term IN ('merge', 'group', 'order')
)
SELECT pf.doc_id, ROUND(
  idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4)
  AS score
FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
ORDER BY idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
  DESC, pf.doc_id LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    # shingle field: bigram BM25 with the bigram stream's own field
    # stats (dl = tokens−1 per doc, df over bigrams)
    sql["q_shingle_term_topk"] = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), big0 AS (
  SELECT doc_id,
         term || '_' || lead(term) OVER (PARTITION BY doc_id ORDER BY p)
           AS term
  FROM tok
), big AS (
  SELECT doc_id, term FROM big0 WHERE term IS NOT NULL
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS freq FROM big GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM big GROUP BY doc_id
), dlq AS (
  SELECT doc_id, dl,
    CASE WHEN dl < 40 THEN dl
         ELSE 24 + ((((dl-24) >> (length(bin(dl-24))-4)) & 7 | 8)
                    << (length(bin(dl-24))-4)) END AS dlq
  FROM dl
), stats AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
), dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
)
SELECT tf.doc_id, ROUND(
  ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * tf.freq
  / (tf.freq + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4) AS score
FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
WHERE tf.term = 'key_agg'
ORDER BY ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * tf.freq
  / (tf.freq + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)) DESC,
  tf.doc_id
LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    # geo: box stats / nearest-k / distance count over derived coords
    # indexed LINE shapes: the same endpoint-in-box OR separating-axis
    # test restated over the 2-point segments, plus bbox WITHIN and the
    # DISJOINT complement
    mnla, mxla, mnlo, mxlo = _LINE_BOX
    sql["q_line_shapes"] = f"""
WITH pts AS ({_GEO_CTE}),
seg AS (
  SELECT event_id, lat AS ay, lon AS ax,
         lat + (event_id % 7 - 3) AS "by", lon + (event_id % 11 - 5) AS bx
  FROM pts),
t AS (
  SELECT *,
    (GREATEST(ay, "by") >= {mnla} AND LEAST(ay, "by") <= {mxla} AND
     GREATEST(ax, bx) >= {mnlo} AND LEAST(ax, bx) <= {mxlo}) AS sb,
    ((ay >= {mnla} AND ay <= {mxla} AND ax >= {mnlo} AND ax <= {mxlo}) OR
     ("by" >= {mnla} AND "by" <= {mxla} AND bx >= {mnlo} AND bx <= {mxlo}))
      AS inside,
    (bx - ax) * ({mnla} - ay) - ("by" - ay) * ({mnlo} - ax) AS s1,
    (bx - ax) * ({mnla} - ay) - ("by" - ay) * ({mxlo} - ax) AS s2,
    (bx - ax) * ({mxla} - ay) - ("by" - ay) * ({mnlo} - ax) AS s3,
    (bx - ax) * ({mxla} - ay) - ("by" - ay) * ({mxlo} - ax) AS s4
  FROM seg),
rel AS (
  SELECT
    (sb AND (inside OR (NOT (s1 > 0 AND s2 > 0 AND s3 > 0 AND s4 > 0)
                        AND NOT (s1 < 0 AND s2 < 0 AND s3 < 0 AND s4 < 0))))
      AS inter,
    (LEAST(ay, "by") >= {mnla} AND GREATEST(ay, "by") <= {mxla} AND
     LEAST(ax, bx) >= {mnlo} AND GREATEST(ax, bx) <= {mxlo}) AS win
  FROM t)
SELECT SUM(CASE WHEN inter THEN 1 ELSE 0 END)::BIGINT AS cnt_intersects,
       SUM(CASE WHEN win THEN 1 ELSE 0 END)::BIGINT AS cnt_within,
       SUM(CASE WHEN NOT inter THEN 1 ELSE 0 END)::BIGINT AS cnt_disjoint
FROM rel"""

    sql["q_geo_box_stats"] = f"""
WITH pts AS ({_GEO_CTE})
SELECT count(*)::BIGINT AS cnt, ROUND(avg(value), 4) AS avg_value
FROM pts
WHERE lat >= 10.005 AND lat <= 55.005
  AND lon >= -30.005 AND lon <= 40.005"""

    _HAVERSINE_KM = """(2 * 6371008.7714 * asin(sqrt(
      pow(sin((radians(lat) - radians(48.8566)) / 2), 2)
      + cos(radians(48.8566)) * cos(radians(lat))
        * pow(sin((radians(lon) - radians(2.3522)) / 2), 2))) / 1000.0)"""

    sql["q_geo_nearest_topk"] = f"""
WITH pts AS ({_GEO_CTE})
SELECT event_id, ROUND({_HAVERSINE_KM}, 4) AS dist_km
FROM pts
ORDER BY {_HAVERSINE_KM} ASC, event_id
LIMIT 10"""

    sql["q_geo_distance_count"] = f"""
WITH pts AS ({_GEO_CTE})
SELECT count(*)::BIGINT AS cnt
FROM pts
WHERE {_HAVERSINE_KM} * 1000.0 <= 2000000.0"""

    _pla = (min(p[0] for p in _POLY), max(p[0] for p in _POLY))
    _plo = (min(p[1] for p in _POLY), max(p[1] for p in _POLY))
    sql["q_geo_polygon_count"] = f"""
WITH pts AS ({_GEO_CTE})
SELECT count(*)::BIGINT AS cnt, ROUND(avg(value), 4) AS avg_value
FROM pts
WHERE lat >= {_pla[0]} AND lat <= {_pla[1]}
  AND lon >= {_plo[0]} AND lon <= {_plo[1]}
  AND {_poly_sql(_POLY)}"""

    # CommonTermsQuery: match gated by the rare term, all three terms
    # contribute score where present
    sql["q_common_terms_topk"] = _PRELUDE + """
, hit AS (
  SELECT doc_id, SUM(s) AS score0 FROM sc
  WHERE term IN ('dup', 'merge', 'table')
  GROUP BY doc_id
  HAVING SUM(CASE WHEN term = 'dup' THEN 1 ELSE 0 END) > 0
)
SELECT doc_id, ROUND(score0, 4) AS score FROM hit
ORDER BY score0 DESC, doc_id LIMIT 10"""

    # Porter class query on the derived corpus: df/tf of the class
    # {merge, merging} (hand-derived from the published Porter rules —
    # step1 's' removal + step6 'e' removal stem both merges and merge
    # to merg; step1b 'ing' removal stems merging to merg), full BM25
    # over all post-stop tokens for n/avgdl/norms (token count is
    # stem-invariant).
    # override/keyword classes: 'mrg' ← only 'merging' (dictionary
    # mapping), 'tables' ← only literal 'tables' (keyword-protected);
    # porter never produces either string from any other surface form
    sql["q_stem_override_topk"] = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all({_STEM_DERIVE_SQL}, '[a-z0-9]+')) AS term
  FROM documents
), tokf AS (
  SELECT doc_id, term FROM tok WHERE term NOT IN ({_STOPLIST})
), dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM tokf GROUP BY doc_id
), dlq AS (
  SELECT doc_id, dl,
    CASE WHEN dl < 40 THEN dl
         ELSE 24 + ((((dl-24) >> (length(bin(dl-24))-4)) & 7 | 8)
                    << (length(bin(dl-24))-4)) END AS dlq
  FROM dl
), stats AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
), cls AS (
  SELECT doc_id, 'mrg' AS k, count(*)::BIGINT AS freq FROM tokf
  WHERE term = 'merging' GROUP BY doc_id
  UNION ALL
  SELECT doc_id, 'tables' AS k, count(*)::BIGINT AS freq FROM tokf
  WHERE term = 'tables' GROUP BY doc_id
), dfs AS (
  SELECT k, count(*)::BIGINT AS df FROM cls GROUP BY k
), s2 AS (
  SELECT cls.doc_id,
    ln(1 + (stats.n - dfs.df + 0.5) / (dfs.df + 0.5)) * cls.freq
      / (cls.freq + {K1} * (1 - {B} + {B} * dlq.dlq / stats.avgdl)) AS s
  FROM cls JOIN dfs USING (k) JOIN dlq USING (doc_id) CROSS JOIN stats)
SELECT doc_id, ROUND(SUM(s), 4) AS score FROM s2
GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10"""

    sql["q_stem_porter_topk"] = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all({_STEM_DERIVE_SQL}, '[a-z0-9]+')) AS term
  FROM documents
), tokf AS (
  SELECT doc_id, term FROM tok WHERE term NOT IN ({_STOPLIST})
), dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM tokf GROUP BY doc_id
), dlq AS (
  SELECT doc_id, dl,
    CASE WHEN dl < 40 THEN dl
         ELSE 24 + ((((dl-24) >> (length(bin(dl-24))-4)) & 7 | 8)
                    << (length(bin(dl-24))-4)) END AS dlq
  FROM dl
), stats AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
), cls AS (
  SELECT doc_id, count(*)::BIGINT AS freq FROM tokf
  WHERE term IN ('merge', 'merging')
  GROUP BY doc_id
), idf AS (
  SELECT ln(1 + (stats.n - (SELECT count(*) FROM cls) + 0.5)
            / ((SELECT count(*) FROM cls) + 0.5)) AS w FROM stats
)
SELECT cls.doc_id, ROUND(idf.w * cls.freq
  / (cls.freq + {K1} * (1 - {B} + {B} * dlq.dlq / stats.avgdl)), 4) AS score
FROM cls JOIN dlq USING (doc_id) CROSS JOIN stats CROSS JOIN idf
ORDER BY idf.w * cls.freq
  / (cls.freq + {K1} * (1 - {B} + {B} * dlq.dlq / stats.avgdl)) DESC,
  cls.doc_id
LIMIT 10"""

    # Minimal (S-)stemmer: the FULL EnglishMinimalStemmer.java:29-48
    # branch structure as a SQL CASE over every token — an independent
    # complete restatement, no hardcoded stem class.
    sql["q_stem_minimal_topk"] = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all({_STEM_DERIVE_SQL}, '[a-z0-9]+')) AS term
  FROM documents
), tokf AS (
  SELECT doc_id, term FROM tok WHERE term NOT IN ({_STOPLIST})
), stem AS (
  SELECT doc_id,
    CASE WHEN length(term) < 3 OR right(term, 1) != 's' THEN term
         WHEN right(term, 2) IN ('us', 'ss') THEN term
         WHEN right(term, 2) = 'es' THEN
           CASE WHEN length(term) > 3 AND right(term, 3) = 'ies'
                     AND substr(term, length(term) - 3, 1) NOT IN ('a', 'e')
                THEN left(term, length(term) - 3) || 'y'
                WHEN substr(term, length(term) - 2, 1) IN ('i','a','o','e')
                THEN term
                ELSE left(term, length(term) - 1) END
         ELSE left(term, length(term) - 1) END AS term
  FROM tokf
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS freq FROM stem GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(freq)::BIGINT AS dl FROM tf GROUP BY doc_id
), dlq AS (
  SELECT doc_id, dl,
    CASE WHEN dl < 40 THEN dl
         ELSE 24 + ((((dl-24) >> (length(bin(dl-24))-4)) & 7 | 8)
                    << (length(bin(dl-24))-4)) END AS dlq
  FROM dl
), stats AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
), dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
)
SELECT tf.doc_id, ROUND(
  ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * tf.freq
  / (tf.freq + {K1} * (1 - {B} + {B} * dlq.dlq / stats.avgdl)), 4) AS score
FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
WHERE tf.term = 'table'
ORDER BY ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * tf.freq
  / (tf.freq + {K1} * (1 - {B} + {B} * dlq.dlq / stats.avgdl)) DESC,
  tf.doc_id
LIMIT 10"""

    # JoinUtil ScoreMode.Max on source
    sql["q_join_topk"] = _PRELUDE + """
, frs AS (
  SELECT doc_id, SUM(s) AS s FROM sc WHERE term = 'merge' GROUP BY doc_id
), jv AS (
  SELECT d.source AS src, MAX(frs.s) AS js
  FROM frs JOIN documents d USING (doc_id) GROUP BY d.source
)
SELECT d.doc_id, ROUND(jv.js, 4) AS score
FROM documents d JOIN jv ON d.source = jv.src
ORDER BY jv.js DESC, d.doc_id LIMIT 10"""

    sql["q_blockjoin_topk"] = """
SELECT l_orderkey, ROUND(SUM(l_quantity), 4) AS score FROM lineitem
WHERE l_quantity >= 45 GROUP BY l_orderkey
ORDER BY SUM(l_quantity) DESC, l_orderkey LIMIT 10"""

    sql["q_blockjoin_children"] = """
SELECT l.l_orderkey, l.l_linenumber, ROUND(o.o_totalprice, 4) AS score
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice >= 400000
ORDER BY l.l_orderkey, l.l_linenumber"""

    sql["q_facet_range"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
, md AS (SELECT d.n_chars FROM documents d JOIN m USING (doc_id))
SELECT * FROM (
  SELECT 'r0_0_100' AS label,
    (SELECT count(*) FROM md WHERE n_chars >= 0 AND n_chars < 100) AS count
  UNION ALL SELECT 'r1_100_200',
    (SELECT count(*) FROM md WHERE n_chars >= 100 AND n_chars < 200)
  UNION ALL SELECT 'r2_200_400',
    (SELECT count(*) FROM md WHERE n_chars >= 200 AND n_chars < 400)
  UNION ALL SELECT 'r3_400_2000',
    (SELECT count(*) FROM md WHERE n_chars >= 400 AND n_chars < 2000)
) ORDER BY label"""

    sql["q_blockjoin_facet"] = """
SELECT l_returnflag AS value, count(DISTINCT l_orderkey)::BIGINT AS count
FROM lineitem WHERE l_quantity >= 45 AND l_returnflag IS NOT NULL
GROUP BY l_returnflag HAVING count(DISTINCT l_orderkey) >= 1
ORDER BY count DESC, value"""

    sql["q_scale_boost_topk"] = _PRELUDE + """
, mm AS (SELECT min(n_chars)::DOUBLE AS mn, max(n_chars)::DOUBLE AS mx
         FROM documents)
SELECT sc.doc_id, ROUND(sc.s + (d.n_chars - mm.mn) *
  (CASE WHEN mm.mx = mm.mn THEN 0 ELSE 1.0 / (mm.mx - mm.mn) END), 4)
  AS score
FROM sc JOIN documents d USING (doc_id) CROSS JOIN mm
WHERE sc.term = 'merge'
ORDER BY sc.s + (d.n_chars - mm.mn) *
  (CASE WHEN mm.mx = mm.mn THEN 0 ELSE 1.0 / (mm.mx - mm.mn) END)
  DESC, sc.doc_id LIMIT 10"""

    sql["q_facet_range_other"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'),
d AS (SELECT dd.n_chars AS v FROM documents dd JOIN m USING (doc_id))
SELECT '100' AS label,
       sum(CASE WHEN v >= 100 AND v < 250 THEN 1 ELSE 0 END)::BIGINT AS count
FROM d
UNION ALL SELECT '250',
       sum(CASE WHEN v >= 250 AND v < 400 THEN 1 ELSE 0 END)::BIGINT FROM d
UNION ALL SELECT '400',
       sum(CASE WHEN v >= 400 AND v < 500 THEN 1 ELSE 0 END)::BIGINT FROM d
UNION ALL SELECT 'before',
       sum(CASE WHEN v < 100 THEN 1 ELSE 0 END)::BIGINT FROM d
UNION ALL SELECT 'after',
       sum(CASE WHEN v >= 500 THEN 1 ELSE 0 END)::BIGINT FROM d
UNION ALL SELECT 'between',
       sum(CASE WHEN v >= 100 AND v < 500 THEN 1 ELSE 0 END)::BIGINT FROM d"""

    sql["q_facet_pivot"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
SELECT d.lang, d.source, count(*)::BIGINT AS count
FROM documents d JOIN m USING (doc_id)
GROUP BY d.lang, d.source
ORDER BY d.lang, d.source"""

    # Monitor/percolator: each registered alert restated as its match
    # set over the same batch
    sql["q_facet_params"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'),
base AS (
  SELECT d.source AS value, count(*)::BIGINT AS count
  FROM documents d JOIN m USING (doc_id)
  WHERE d.source IS NOT NULL AND d.source LIKE 'src1%'
  GROUP BY d.source HAVING count(*) >= 2
  ORDER BY value LIMIT 4 OFFSET 1),
miss AS (
  SELECT NULL::VARCHAR AS value,
         sum(CASE WHEN d.source IS NULL THEN 1 ELSE 0 END)::BIGINT AS count
  FROM documents d JOIN m USING (doc_id))
SELECT * FROM base UNION ALL SELECT * FROM miss"""

    # relatedness(): the exact RelatednessAgg.java:699 arithmetic —
    # z-score vs background probability, 5-sigmoid blend, Math.round
    # (floor(x*1e5+0.5)) truncation on pop/relatedness
    sql["q_relatedness"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'),
fg AS (SELECT d.* FROM documents d JOIN m USING (doc_id)),
sizes AS (SELECT (SELECT count(*) FROM fg)::BIGINT AS fgs,
                 (SELECT count(*) FROM documents)::BIGINT AS bgs),
fgc AS (SELECT lang AS value, count(*)::BIGINT AS fg_count
        FROM fg WHERE lang IS NOT NULL GROUP BY lang),
bgc AS (SELECT lang AS value, count(*)::BIGINT AS bg_count
        FROM documents WHERE lang IS NOT NULL GROUP BY lang),
z AS (
  SELECT b.value, COALESCE(f.fg_count, 0) AS fg_count, b.bg_count,
         s.fgs, s.bgs,
         (COALESCE(f.fg_count, 0)::DOUBLE
          - s.fgs * (b.bg_count::DOUBLE / s.bgs)) /
         (CASE WHEN sqrt(s.fgs * (b.bg_count::DOUBLE / s.bgs)
                         * (1 - b.bg_count::DOUBLE / s.bgs)) = 0
               THEN 1e-10
               ELSE sqrt(s.fgs * (b.bg_count::DOUBLE / s.bgs)
                         * (1 - b.bg_count::DOUBLE / s.bgs)) END) AS zv
  FROM bgc b LEFT JOIN fgc f USING (value) CROSS JOIN sizes s)
SELECT value, fg_count, fgs AS fg_size, bg_count, bgs AS bg_size,
       floor(fg_count::DOUBLE / bgs * 1e5 + 0.5) / 1e5 AS fg_pop,
       floor(bg_count::DOUBLE / bgs * 1e5 + 0.5) / 1e5 AS bg_pop,
       floor((0.2 * ((zv - 80) / (50 + abs(zv - 80)))
            + 0.2 * ((zv - 30) / (30 + abs(zv - 30)))
            + 0.2 * (zv / (30 + abs(zv)))
            + 0.2 * ((zv + 30) / (30 + abs(zv + 30)))
            + 0.2 * ((zv + 80) / (50 + abs(zv + 80)))) * 1e5 + 0.5) / 1e5
         AS relatedness
FROM z WHERE fg_count >= 1
ORDER BY relatedness DESC, value LIMIT 20"""

    sql["q_monitor_matches"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents)
, ph AS (
  SELECT DISTINCT a.doc_id FROM pos a
  JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'key' AND b.term = 'agg')
SELECT 'a_term' AS query_id, doc_id
FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
UNION ALL
SELECT 'a_conj', doc_id FROM (
  SELECT doc_id FROM tf WHERE term IN ('spark', 'table')
  GROUP BY doc_id HAVING count(DISTINCT term) = 2)
UNION ALL
SELECT 'a_phrase', doc_id FROM ph
UNION ALL
SELECT 'a_not', doc_id
FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'spark')
WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'dup')
ORDER BY query_id, doc_id"""

    # FuzzySuggester: prefix edit distance <= 1 == bounded OR of
    # substring levenshteins over prefix lengths |key|±1
    def _fz(key):
        n = len(key)
        ors = " OR ".join(
            f"levenshtein(substring(term, 1, {j}), '{key}') <= 1"
            for j in range(max(1, n - 1), n + 2))
        return (f"SELECT key, term, df FROM ("
                f"SELECT '{key}' AS key, term, df, "
                f"row_number() OVER (ORDER BY df DESC, term) AS rn "
                f"FROM dfreq WHERE ({ors}) AND term LIKE '{key[0]}%'"
                f") WHERE rn <= 10")
    sql["q_fuzzy_suggest"] = (_PRELUDE + "\nUNION ALL\n".join(
        _fz(k) for k in ("spak", "jon", "mirge", "sparkk"))
        + "\nORDER BY key, df DESC, term")

    # payload channel: Σ (1-based raw-token-stream positions) of the
    # term's occurrences per doc — the engine's positions count stopword
    # slots (position gaps), so the unfiltered tok CTE is the oracle
    sql["q_payload_score_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), ps AS (
  SELECT doc_id, SUM(p + 1)::DOUBLE AS s FROM pos
  WHERE term = 'merge' GROUP BY doc_id)
SELECT doc_id, ROUND(s, 4) AS score FROM ps
ORDER BY s DESC, doc_id LIMIT 10"""

    # sorted-index early termination: identical rows to an ORDER BY over
    # the match set (the acceleration must be invisible in results)
    sql["q_sorted_index_topk"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
SELECT d.doc_id, d.n_chars
FROM documents d JOIN m USING (doc_id)
ORDER BY d.n_chars, d.doc_id LIMIT 10"""

    # taxonomy rollup: every path prefix of lang/source/bucket counts
    sql["q_facet_taxonomy"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
, paths AS (
  SELECT d.lang || '/' || d.source || '/' ||
         (CASE WHEN d.n_chars < 300 THEN 'small' ELSE 'large' END) AS p
  FROM documents d JOIN m USING (doc_id))
, pre AS (
  SELECT unnest([
    string_split(p, '/')[1],
    string_split(p, '/')[1] || '/' || string_split(p, '/')[2],
    p]) AS path
  FROM paths)
SELECT path, count(*)::BIGINT AS count FROM pre
GROUP BY path ORDER BY path"""

    # association facets: Σ n_chars (not count) per path prefix
    sql["q_facet_assoc"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
, paths AS (
  SELECT d.lang || '/' || d.source || '/' ||
         (CASE WHEN d.n_chars < 300 THEN 'small' ELSE 'large' END) AS p,
         d.n_chars AS v
  FROM documents d JOIN m USING (doc_id))
, pre AS (
  SELECT unnest([
    string_split(p, '/')[1],
    string_split(p, '/')[1] || '/' || string_split(p, '/')[2],
    p]) AS path, v
  FROM paths)
SELECT path, sum(v)::BIGINT AS sum FROM pre
GROUP BY path ORDER BY path"""

    sql["q_function_score_topk"] = _PRELUDE + """
, qs AS (SELECT doc_id, SUM(s) AS s FROM sc WHERE term = 'merge'
         GROUP BY doc_id)
SELECT qs.doc_id, ROUND(qs.s * ln(1 + d.n_chars), 4) AS score
FROM qs JOIN documents d USING (doc_id)
ORDER BY qs.s * ln(1 + d.n_chars) DESC, qs.doc_id LIMIT 10"""

    sql["q_boost_by_query_topk"] = _PRELUDE + """
, qs AS (SELECT doc_id, SUM(s) AS s FROM sc WHERE term = 'merge'
         GROUP BY doc_id)
, bq AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'spark')
SELECT qs.doc_id,
  ROUND(CASE WHEN bq.doc_id IS NOT NULL THEN qs.s * 3.0 ELSE qs.s END, 4)
  AS score
FROM qs LEFT JOIN bq USING (doc_id)
ORDER BY (CASE WHEN bq.doc_id IS NOT NULL THEN qs.s * 3.0 ELSE qs.s END)
  DESC, qs.doc_id LIMIT 10"""

    sql["q_lmdirichlet_topk"] = _PRELUDE + """
SELECT tf.doc_id, ROUND(GREATEST(0,
    ln(1 + tf.freq / (2000.0 * (dfreq.ttf + 1.0) / (stats.sttf + 1.0)))
      + ln(2000.0 / (dlq.dlq + 2000.0))), 4) AS score
FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
WHERE tf.term = 'merge'
ORDER BY GREATEST(0,
    ln(1 + tf.freq / (2000.0 * (dfreq.ttf + 1.0) / (stats.sttf + 1.0)))
      + ln(2000.0 / (dlq.dlq + 2000.0))) DESC, tf.doc_id LIMIT 10"""

    # DFR InB2 (BasicModelIn + AfterEffectB + NormalizationH2, c=1)
    sql["q_dfr_topk"] = _PRELUDE + """
, dfr AS (
  SELECT tf.doc_id,
    log2((stats.n + 1) / (dfreq.df + 0.5))
      * (dfreq.ttf + 2.0) / (dfreq.df + 1.0)
      * (1 - 1 / (1 + tf.freq * log2(1 + stats.avgdl / dlq.dlq))) AS s
  FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
  WHERE tf.term = 'merge')
SELECT doc_id, ROUND(s, 4) AS score FROM dfr
ORDER BY s DESC, doc_id LIMIT 10"""

    # SweetSpot: classic idf, baselineTf defaults (= sqrt(freq)),
    # lengthNorm plateau l=20 h=120 s=0.5 over the quantized dl
    sql["q_sweetspot_topk"] = _PRELUDE + """
, ss AS (
  SELECT tf.doc_id,
    (ln((stats.n + 1.0) / (dfreq.df + 1.0)) + 1.0)
      * sqrt(tf.freq)
      * (1.0 / sqrt(0.5 * (abs(dlq.dlq - 20) + abs(dlq.dlq - 120) - 100)
                    + 1.0)) AS s
  FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
  WHERE tf.term IN ('merge', 'spark'))
SELECT doc_id, ROUND(SUM(s), 4) AS score FROM ss
GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10"""

    # IB LL-DF-H2
    sql["q_ib_topk"] = _PRELUDE + """
, ib AS (
  SELECT tf.doc_id,
    ln((tf.freq * log2(1 + stats.avgdl / dlq.dlq)
        + (dfreq.df + 1.0) / (stats.n + 1.0))
       / ((dfreq.df + 1.0) / (stats.n + 1.0))) AS s
  FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
  WHERE tf.term = 'merge')
SELECT doc_id, ROUND(s, 4) AS score FROM ib
ORDER BY s DESC, doc_id LIMIT 10"""

    # DFI + IndependenceStandardized (clamped at 0 when freq <= expected)
    sql["q_dfi_topk"] = _PRELUDE + """
, dfi AS (
  SELECT tf.doc_id,
    CASE WHEN tf.freq <= (dfreq.ttf + 1.0) * dlq.dlq / (stats.sttf + 1.0)
         THEN 0.0
         ELSE log2((tf.freq - (dfreq.ttf + 1.0) * dlq.dlq / (stats.sttf + 1.0))
                   / sqrt((dfreq.ttf + 1.0) * dlq.dlq / (stats.sttf + 1.0))
                   + 1) END AS s
  FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
  WHERE tf.term = 'merge')
SELECT doc_id, ROUND(s, 4) AS score FROM dfi
ORDER BY s DESC, doc_id LIMIT 10"""

    # Axiomatic F2EXP (s=0.25, k=0.35)
    sql["q_f2exp_topk"] = _PRELUDE + """
, f2 AS (
  SELECT tf.doc_id,
    pow((stats.n + 1.0) / dfreq.df, 0.35)
      * tf.freq / (tf.freq + 0.25 + 0.25 * dlq.dlq / stats.avgdl) AS s
  FROM tf JOIN dlq USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
  WHERE tf.term = 'merge')
SELECT doc_id, ROUND(s, 4) AS score FROM f2
ORDER BY s DESC, doc_id LIMIT 10"""

    sql["q_prefix_docs"] = _PRELUDE + """
SELECT DISTINCT doc_id FROM tokf WHERE term LIKE 'f%' ORDER BY doc_id"""

    sql["q_wildcard_terms"] = _PRELUDE + """
SELECT term, df, ttf FROM dfreq WHERE regexp_matches(term, '^s.*m$')
ORDER BY term"""

    # engine default now matches FuzzyQuery.defaultTranspositions=true
    # (OSA); DuckDB's damerau_levenshtein is the UNRESTRICTED variant —
    # identical for every pair this vocabulary can produce (the models
    # diverge only on edited-transposition chains like ca→abc, pinned
    # engine-side in tests)
    sql["q_fuzzy_terms"] = _PRELUDE + """
SELECT term, df FROM dfreq WHERE damerau_levenshtein(term, 'spank') <= 1
ORDER BY term"""

    sql["q_range_terms"] = _PRELUDE + """
SELECT term, df, ttf FROM dfreq WHERE term >= 'a' AND term < 'g'
ORDER BY term"""

    sql["q_term_in_set_docs"] = _PRELUDE + """
SELECT DISTINCT doc_id FROM tf WHERE term IN ('dup', 'spark') ORDER BY doc_id"""

    sql["q_doc_freq"] = _PRELUDE + """
SELECT term, df, ttf FROM dfreq ORDER BY df DESC, term LIMIT 20"""

    sql["q_collection_stats"] = _PRELUDE + """
SELECT n AS doc_count, sttf AS sum_ttf, ROUND(avgdl, 4) AS avgdl FROM stats"""

    sql["q_norms"] = _PRELUDE + """
SELECT doc_id, dl, dlq FROM dlq WHERE doc_id < 100 ORDER BY doc_id"""

    sql["q_count_and"] = _PRELUDE + """
SELECT count(*)::BIGINT AS n FROM (
  SELECT doc_id FROM tf WHERE term IN ('spark', 'table')
  GROUP BY doc_id HAVING count(DISTINCT term) = 2)"""

    sql["q_facet_source"] = _PRELUDE + """
SELECT d.source AS source, count(*)::BIGINT AS n
FROM (SELECT DISTINCT doc_id FROM tf WHERE term IN ('spark', 'merge')) h
JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source"""

    sql["q_group_top2_lang"] = _PRELUDE + """
, scored AS (
  SELECT d.lang, sc.doc_id, sc.s,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY sc.s DESC, sc.doc_id) AS rn
  FROM sc JOIN documents d USING (doc_id) WHERE sc.term = 'table')
SELECT lang, doc_id, ROUND(s, 4) AS score, rn::BIGINT AS rn
FROM scored WHERE rn <= 2 ORDER BY lang, rn"""

    sql["q_dismax_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(MAX(s), 4) AS score
FROM sc WHERE term IN ('spark', 'merge')
GROUP BY doc_id ORDER BY MAX(s) DESC, doc_id LIMIT 10"""

    # DisjunctionMaxQuery.java:51 — max + tie × (sum − max)
    sql["q_dismax_tiebreak_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(MAX(s) + 0.3 * (SUM(s) - MAX(s)), 4) AS score
FROM sc WHERE term IN ('spark', 'merge')
GROUP BY doc_id
ORDER BY MAX(s) + 0.3 * (SUM(s) - MAX(s)) DESC, doc_id LIMIT 10"""

    # (spark AND table) OR (merge AND fast): each AND arm contributes its
    # sum only where BOTH its terms match (recursive tree-plan semantics)
    sql["q_deep_bool_topk"] = _PRELUDE + """
, agg AS (
  SELECT doc_id,
    MAX(CASE WHEN term = 'spark' THEN s END) AS s_spark,
    MAX(CASE WHEN term = 'table' THEN s END) AS s_table,
    MAX(CASE WHEN term = 'merge' THEN s END) AS s_merge,
    MAX(CASE WHEN term = 'fast'  THEN s END) AS s_fast
  FROM sc WHERE term IN ('spark', 'table', 'merge', 'fast') GROUP BY doc_id
), arms AS (
  SELECT doc_id,
    CASE WHEN s_spark IS NOT NULL AND s_table IS NOT NULL
         THEN s_spark + s_table ELSE 0 END
    + CASE WHEN s_merge IS NOT NULL AND s_fast IS NOT NULL
         THEN s_merge + s_fast ELSE 0 END AS sc2,
    ((s_spark IS NOT NULL AND s_table IS NOT NULL)
     OR (s_merge IS NOT NULL AND s_fast IS NOT NULL)) AS m
  FROM agg)
SELECT doc_id, ROUND(sc2, 4) AS score FROM arms WHERE m
ORDER BY sc2 DESC, doc_id LIMIT 10"""

    # +spark +((merge fast table) msm=2): nested minShouldMatch
    sql["q_nested_msm_topk"] = _PRELUDE + """
, agg AS (
  SELECT doc_id,
    MAX(CASE WHEN term = 'spark' THEN s END) AS s0,
    MAX(CASE WHEN term = 'merge' THEN s END) AS s1,
    MAX(CASE WHEN term = 'fast'  THEN s END) AS s2,
    MAX(CASE WHEN term = 'table' THEN s END) AS s3
  FROM sc WHERE term IN ('spark', 'merge', 'fast', 'table') GROUP BY doc_id)
SELECT doc_id,
  ROUND(s0 + COALESCE(s1, 0) + COALESCE(s2, 0) + COALESCE(s3, 0), 4) AS score
FROM agg
WHERE s0 IS NOT NULL
  AND (CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END
     + CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END
     + CASE WHEN s3 IS NOT NULL THEN 1 ELSE 0 END) >= 2
ORDER BY s0 + COALESCE(s1, 0) + COALESCE(s2, 0) + COALESCE(s3, 0) DESC, doc_id
LIMIT 10"""

    # dismax("key agg" phrase, merge) with tie=0.3: max + tie*(sum-max)
    sql["q_dismax_phrase_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS pf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
), ph AS (
  SELECT pf.doc_id,
         idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq
                                           / stats.avgdl)) AS s
  FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
), mg AS (
  SELECT doc_id, s FROM sc WHERE term = 'merge'
), u AS (
  SELECT COALESCE(ph.doc_id, mg.doc_id) AS doc_id,
         COALESCE(ph.s, 0) AS sp, COALESCE(mg.s, 0) AS sm
  FROM ph FULL OUTER JOIN mg ON ph.doc_id = mg.doc_id)
SELECT doc_id,
  ROUND(GREATEST(sp, sm) + 0.3 * (sp + sm - GREATEST(sp, sm)), 4) AS score
FROM u
ORDER BY GREATEST(sp, sm) + 0.3 * (sp + sm - GREATEST(sp, sm)) DESC, doc_id
LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    # ordered span-near key...agg, slop 3: per 'key' position, the FIRST
    # 'agg' strictly after it; gap = bp-ap-1 <= 3 contributes 1/(1+gap)
    sql["q_span_near_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), chain AS (
  SELECT a.doc_id, a.p AS ap, MIN(b.p) AS bp
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p > a.p
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id, a.p
), pf AS (
  SELECT doc_id, SUM(1.0 / (1 + (bp - ap - 1))) AS pf
  FROM chain WHERE bp - ap - 1 <= 3 GROUP BY doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
)
SELECT pf.doc_id, ROUND(
  idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4)
  AS score
FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
ORDER BY idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
  DESC, pf.doc_id LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    # FieldMaskingSpanQuery: title positions are the first-5-token
    # prefix of text's raw positions (TITLE_EXPR), so the masked chain
    # is pos(p<5, 'part') -> first 'merge' after it; idf of the title
    # key uses the TITLE field's df and docCount, norms are the mask
    # field's (text dlq)
    sql["q_span_fieldmask_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), tdf AS (
  SELECT count(DISTINCT doc_id) AS df FROM pos
  WHERE p < 5 AND term = 'part'
), tn AS (
  SELECT count(DISTINCT doc_id) AS n FROM pos
  WHERE p < 5 AND term NOT IN ({stop})
), chain AS (
  SELECT a.doc_id, a.p AS ap, MIN(b.p) AS bp
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p > a.p
  WHERE a.term = 'part' AND a.p < 5 AND b.term = 'merge'
  GROUP BY a.doc_id, a.p
), pf AS (
  SELECT doc_id, SUM(1.0 / (1 + (bp - ap - 1))) AS pf
  FROM chain WHERE bp - ap - 1 <= 6 GROUP BY doc_id
), idfs AS (
  SELECT (SELECT ln(1 + (tn.n - tdf.df + 0.5) / (tdf.df + 0.5))
          FROM tn CROSS JOIN tdf)
       + (SELECT ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
          FROM dfreq CROSS JOIN stats WHERE dfreq.term = 'merge') AS w)
SELECT pf.doc_id, ROUND(
  idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4)
  AS score
FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
ORDER BY idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
  DESC, pf.doc_id LIMIT 10""".replace("{k1}", str(K1)) \
        .replace("{b}", str(B)).replace("{stop}", _STOPLIST)

    # shared BM25 scoring tail over a per-doc span freq CTE `pf(doc_id, pf)`
    # and a term-set idf CTE `idfs(w)`
    _SPAN_TAIL = """
SELECT pf.doc_id, ROUND(
  idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4)
  AS score
FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
ORDER BY idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
  DESC, pf.doc_id LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    _POS_CTE = """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
)"""

    # span-or(key, part): freq = tf(key) + tf(part), w = idf(key)+idf(part)
    sql["q_span_or_topk"] = _PRELUDE + """
, pf AS (
  SELECT doc_id, SUM(freq)::DOUBLE AS pf FROM tf
  WHERE term IN ('key', 'part') GROUP BY doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'part')
)""" + _SPAN_TAIL

    # SpanMultiTermQueryWrapper(wildcard s*) before 'key', ordered,
    # slop 3: the first child is the SpanOr over the s* dictionary
    # expansion (stop words are never indexed, so they are excluded
    # here too); per expansion-term position, chain to the FIRST 'key'
    # strictly after it; one SimScorer over the aggregated stats →
    # w = Σ idf over {s*-terms} ∪ {key} (SpanWeight.java:100-118)
    sql["q_span_wildcard_topk"] = _PRELUDE + _POS_CTE + f"""
, chain AS (
  SELECT a.doc_id, a.p AS ap, MIN(b.p) AS bp
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p > a.p
  WHERE a.term LIKE 's%' AND a.term NOT IN ({_STOPLIST})
    AND b.term = 'key'
  GROUP BY a.doc_id, a.p
), pf AS (
  SELECT doc_id, SUM(1.0 / (1 + (bp - ap - 1))) AS pf
  FROM chain WHERE bp - ap - 1 <= 3 GROUP BY doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats
  WHERE dfreq.term = 'key' OR dfreq.term LIKE 's%'
)""" + _SPAN_TAIL

    # unordered near key/agg slop 3: per 'key' position, the nearest
    # 'agg' by |Δstart| (ties → the later one); extent = |Δ|+1 matches
    # when extent − 2 ≤ 3, contributing 1/(1+extent)
    sql["q_span_unordered_topk"] = _PRELUDE + _POS_CTE + """
, chain AS (
  SELECT a.doc_id, a.p AS ap,
         arg_min(b.p, abs(b.p - a.p) * 2
                      + CASE WHEN b.p < a.p THEN 1 ELSE 0 END) AS bp
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id, a.p
), pf AS (
  SELECT doc_id, SUM(1.0 / (1 + abs(bp - ap) + 1)) AS pf
  FROM chain WHERE abs(bp - ap) + 1 - 2 <= 3 GROUP BY doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
)""" + _SPAN_TAIL

    # span-not(key, agg, pre=1, post=1): keep 'key' at p unless an 'agg'
    # sits at p−1, p, or p+1; weight from 'key' alone
    sql["q_span_not_topk"] = _PRELUDE + _POS_CTE + """
, keep AS (
  SELECT a.doc_id, a.p FROM pos a
  WHERE a.term = 'key' AND NOT EXISTS (
    SELECT 1 FROM pos b WHERE b.doc_id = a.doc_id AND b.term = 'agg'
      AND b.p BETWEEN a.p - 1 AND a.p + 1)
), pf AS (
  SELECT doc_id, count(*)::DOUBLE AS pf FROM keep GROUP BY doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key')
)""" + _SPAN_TAIL

    # term vectors for docs 1,2,3,5,8: tf + corpus df + gap-preserving
    # positions (raw token index; stopwords removed but counted)
    sql["q_term_vectors_positions"] = _PRELUDE + f"""
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents WHERE doc_id IN (1, 2, 3, 5, 8)
), pv AS (
  SELECT doc_id, term, string_agg(p, ',' ORDER BY p) AS positions
  FROM pos WHERE term NOT IN ({_STOPLIST}) GROUP BY doc_id, term
)
SELECT tf.doc_id, tf.term, tf.freq, dfreq.df, pv.positions
FROM tf JOIN dfreq USING (term)
JOIN pv ON pv.doc_id = tf.doc_id AND pv.term = tf.term
WHERE tf.doc_id IN (1, 2, 3, 5, 8)"""

    # percentile facet: exact interpolated quantiles per lang bucket
    sql["q_facet_percentiles"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
SELECT d.lang AS value, count(*)::BIGINT AS count,
       ROUND(quantile_cont(d.n_chars, 0.25), 4) AS p25,
       ROUND(quantile_cont(d.n_chars, 0.50), 4) AS p50,
       ROUND(quantile_cont(d.n_chars, 0.75), 4) AS p75
FROM documents d JOIN m USING (doc_id)
GROUP BY d.lang"""

    # spellcheck collation: 3x3 candidate combos re-queried as ANDs
    sql["q_spellcheck_collate"] = _PRELUDE + """
, c1 AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (
      ORDER BY levenshtein(term, 'spak'), df DESC, term) AS rk
    FROM dfreq WHERE levenshtein(term, 'spak') <= 2) WHERE rk <= 3
), c2 AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (
      ORDER BY levenshtein(term, 'tabel'), df DESC, term) AS rk
    FROM dfreq WHERE levenshtein(term, 'tabel') <= 2) WHERE rk <= 3
), m AS (
  SELECT c1.term AS t1, c2.term AS t2, count(DISTINCT a.doc_id) AS hits
  FROM c1 CROSS JOIN c2
  JOIN tf a ON a.term = c1.term
  JOIN tf b ON b.term = c2.term AND b.doc_id = a.doc_id
  GROUP BY c1.term, c2.term
)
SELECT t1 || ' ' || t2 AS "collation", hits::BIGINT AS hits
FROM m WHERE hits > 0
ORDER BY hits DESC, "collation" LIMIT 5"""

    # FeatureField saturation: additive static-feature combine
    sql["q_feature_score_topk"] = _PRELUDE + """
, qs AS (SELECT doc_id, SUM(s) AS s FROM sc WHERE term = 'merge'
         GROUP BY doc_id)
SELECT qs.doc_id,
       ROUND(qs.s + 2.0 * (1 - 300.0 / (d.n_chars + 300.0)), 4) AS score
FROM qs JOIN documents d USING (doc_id)
ORDER BY qs.s + 2.0 * (1 - 300.0 / (d.n_chars + 300.0)) DESC,
         qs.doc_id LIMIT 10"""

    # streaming fetch: the 'fast' match set decorated with stored fields
    sql["q_stream_fetch"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'fast')
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN m USING (doc_id)"""

    # docvalues updates: gen-2 ('fast' -> 7) wins over gen-1
    # ('merge' -> doc_id*10) on the overlap; base n_chars elsewhere
    sql["q_docvalues_update"] = _PRELUDE + """
, mm AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
, ff AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'fast')
SELECT d.doc_id,
       CASE WHEN d.doc_id IN (SELECT doc_id FROM ff) THEN 7
            WHEN d.doc_id IN (SELECT doc_id FROM mm) THEN d.doc_id * 10
            ELSE d.n_chars END::BIGINT AS n_chars
FROM documents d"""

    # binary + sorted-set dv updates: newest generation wins per doc;
    # sorted-set values dedupe+sort at write; tags exploded per row
    sql["q_docvalues_update_binary"] = """
WITH served AS (
  SELECT doc_id,
         CASE WHEN doc_id % 20 = 0 THEN 'yy'
              WHEN doc_id % 10 = 0 THEN 'xx'
              ELSE lang END AS lang,
         CASE WHEN doc_id % 9 = 0
              THEN list_sort(list_distinct(['curated', source]))
              ELSE [lang, source] END AS tags
  FROM documents)
SELECT doc_id, lang, unnest(tags) AS tag FROM served"""

    # AnalyzingSuggester: analyzed-form completion — stop-filtered
    # title tokens joined by chr(31) form the key; prefix lookup on the
    # analyzed key; exactFirst, weight desc, surface asc
    sql["q_analyzing_suggest"] = f"""
WITH sugg AS (
  SELECT DISTINCT array_to_string(
    list_slice(regexp_extract_all(text, '[a-z0-9]+'), 1, 5), ' ')
    AS surface
  FROM documents),
tok AS (
  SELECT surface,
         unnest(regexp_extract_all(surface, '[a-z0-9]+')) AS term,
         generate_subscripts(regexp_extract_all(surface, '[a-z0-9]+'), 1)
           AS ord
  FROM sugg),
keyed AS (
  SELECT surface, string_agg(term, chr(31) ORDER BY ord) AS akey
  FROM tok WHERE term NOT IN ({_STOPLIST}) GROUP BY surface)
SELECT surface, length(surface)::DOUBLE AS weight,
       (akey = 'merge') AS is_exact
FROM keyed
WHERE akey LIKE 'merge%'
ORDER BY is_exact DESC, weight DESC, surface LIMIT 10"""

    # surround '(key 4w agg) or (fast n scan)': boolean SHOULD sum of
    # an ordered near (slop 3) and an unordered near (slop 0) clause
    sql["q_surround_topk"] = _PRELUDE + _POS_CTE + """
, c1 AS (
  SELECT a.doc_id, a.p AS ap, MIN(b.p) AS bp
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p > a.p
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id, a.p
), p1 AS (
  SELECT doc_id, SUM(1.0 / (1 + (bp - ap - 1))) AS pf
  FROM c1 WHERE bp - ap - 1 <= 3 GROUP BY doc_id
), i1 AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
), c2 AS (
  SELECT a.doc_id, a.p AS ap,
         arg_min(b.p, abs(b.p - a.p) * 2
                      + CASE WHEN b.p < a.p THEN 1 ELSE 0 END) AS bp
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
  WHERE a.term = 'fast' AND b.term = 'scan'
  GROUP BY a.doc_id, a.p
), p2 AS (
  SELECT doc_id, SUM(1.0 / (1 + abs(bp - ap) + 1)) AS pf
  FROM c2 WHERE abs(bp - ap) + 1 - 2 <= 0 GROUP BY doc_id
), i2 AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('fast', 'scan')
), s1 AS (
  SELECT p1.doc_id,
         i1.w * p1.pf / (p1.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)) AS s
  FROM p1 JOIN dlq ON p1.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN i1
), s2 AS (
  SELECT p2.doc_id,
         i2.w * p2.pf / (p2.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)) AS s
  FROM p2 JOIN dlq ON p2.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN i2
), u AS (
  SELECT coalesce(s1.doc_id, s2.doc_id) AS doc_id,
         coalesce(s1.s, 0) + coalesce(s2.s, 0) AS score
  FROM s1 FULL OUTER JOIN s2 ON s1.doc_id = s2.doc_id
)
SELECT doc_id, ROUND(score, 4) AS score FROM u
ORDER BY score DESC, doc_id LIMIT 10""".replace(
        "{k1}", str(K1)).replace("{b}", str(B))

    # span-first(key, end=10): 'key' occurrences at raw position ≤ 9
    sql["q_span_first_topk"] = _PRELUDE + _POS_CTE + """
, pf AS (
  SELECT doc_id, count(*)::DOUBLE AS pf FROM pos
  WHERE term = 'key' AND p + 1 <= 10 GROUP BY doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key')
)""" + _SPAN_TAIL

    # infix suggest: token-start containment over the derived title
    # column (first 5 raw tokens), weight = n_chars
    sql["q_infix_suggest"] = f"""
WITH t AS (
  SELECT doc_id,
         array_to_string(list_slice(
           regexp_extract_all(text, '[a-z0-9]+'), 1, 5), ' ') AS title,
         n_chars
  FROM documents
)
SELECT doc_id, title, n_chars::BIGINT AS weight FROM t
WHERE (' ' || lower(title)) LIKE '% par%'
ORDER BY n_chars DESC, title, doc_id LIMIT 10"""

    sql["q_geo_heatmap"] = f"""
WITH pts AS ({_GEO_CTE})
SELECT LEAST(FLOOR((lat - 10.005) / ((55.005 - 10.005) / 4)), 3)::BIGINT
         AS gy,
       LEAST(FLOOR((lon - -30.005) / ((40.005 - -30.005) / 6)), 5)::BIGINT
         AS gx,
       count(*)::BIGINT AS count
FROM pts
WHERE lat >= 10.005 AND lat <= 55.005
  AND lon >= -30.005 AND lon <= 40.005
GROUP BY gy, gx"""

    # FreeText suggester: bigrams over the STOP-FILTERED token stream
    # with contiguous re-numbered positions (stop removal makes its
    # neighbors adjacent in the model)
    sql["q_freetext_suggest"] = _PRELUDE + _POS_CTE + f"""
, posf AS (
  SELECT doc_id, term,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) - 1 AS q
  FROM pos WHERE term NOT IN ({_STOPLIST})
), big AS (
  SELECT a.term AS w1, b.term AS w2, count(*)::BIGINT AS c
  FROM posf a JOIN posf b ON a.doc_id = b.doc_id AND b.q = a.q + 1
  GROUP BY a.term, b.term
), ctx AS (SELECT SUM(c)::DOUBLE AS cc FROM big WHERE w1 = 'key')
, uni AS (
  SELECT term, count(*)::BIGINT AS c FROM tokf GROUP BY term
), tot AS (SELECT SUM(c)::DOUBLE AS t FROM uni)
, cand AS (
  SELECT w2 AS term, c / ctx.cc AS score FROM big CROSS JOIN ctx
  WHERE w1 = 'key'
  UNION ALL
  SELECT term, 0.4 * c / tot.t AS score FROM uni CROSS JOIN tot
)
SELECT term, ROUND(MAX(score), 6) AS score FROM cand
GROUP BY term ORDER BY MAX(score) DESC, term LIMIT 10"""

    # cursor page 2 == rows 6-10 of the global order (the deep-paging
    # contract: cursor filtering must reproduce offset semantics)
    sql["q_cursor_page2"] = _PRELUDE + """
SELECT d.doc_id, d.lang, d.n_chars::BIGINT AS n_chars
FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'table') m
JOIN documents d USING (doc_id)
ORDER BY d.lang ASC NULLS LAST, d.n_chars DESC, d.doc_id
OFFSET 5 LIMIT 5"""

    sql["q_complex_phrase_topk"] = _PRELUDE + _POS_CTE + """
, sterms AS (SELECT term FROM dfreq WHERE term LIKE 's%')
, pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS pf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term IN (SELECT term FROM sterms) AND b.term = 'merge'
  GROUP BY a.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats
  WHERE dfreq.term IN (SELECT term FROM sterms) OR dfreq.term = 'merge'
)
SELECT pf.doc_id, ROUND(
  idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4)
  AS score
FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
ORDER BY idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
  DESC, pf.doc_id LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    sql["q_expand_topk"] = _PRELUDE + """
, hits AS (
  SELECT doc_id, SUM(s) AS score FROM sc
  WHERE term IN ('spark', 'merge') GROUP BY doc_id
), ranked AS (
  SELECT d.source, h.doc_id, h.score,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY h.score DESC, h.doc_id) AS rn
  FROM hits h JOIN documents d USING (doc_id)
)
SELECT source, doc_id, ROUND(score, 4) AS score
FROM ranked WHERE rn > 1 AND rn <= 3"""

    sql["q_significant_terms"] = _PRELUDE + """
, basedocs AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'spark')
, tfx AS (
  SELECT term, count(*)::BIGINT AS tf FROM tf
  WHERE doc_id IN (SELECT doc_id FROM basedocs) GROUP BY term
), dic AS (
  SELECT dfreq.term, dfreq.df FROM dfreq CROSS JOIN stats
  WHERE dfreq.df >= 5 AND dfreq.df <= 0.8 * stats.n
    AND length(dfreq.term) >= 3
)
SELECT t.term,
       ROUND(ln(t.tf) * (ln((stats.n + 1.0) / (d.df + 1.0)) + 1.0), 4)
         AS score,
       t.tf, d.df::BIGINT AS df
FROM tfx t JOIN dic d USING (term) CROSS JOIN stats
ORDER BY ln(t.tf) * (ln((stats.n + 1.0) / (d.df + 1.0)) + 1.0) DESC, t.term
LIMIT 10"""

    sql["q_elevation_topk"] = _PRELUDE + """
, hits AS (SELECT doc_id, s AS score FROM sc WHERE term = 'merge')
, ev(edoc, ord) AS (VALUES (42, 0), (7, 1))
, u AS (
  SELECT COALESCE(h.doc_id, e.edoc) AS doc_id,
         COALESCE(h.score, 0.0) AS score, e.ord
  FROM hits h FULL OUTER JOIN ev e ON h.doc_id = e.edoc
)
SELECT doc_id, ROUND(score, 4) AS score,
       CASE WHEN ord IS NOT NULL THEN 1 ELSE 0 END AS elevated
FROM u
ORDER BY CASE WHEN ord IS NOT NULL THEN 0 ELSE 1 END, ord,
         score DESC, doc_id LIMIT 10"""

    sql["q_repetition_stats"] = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts FROM documents
), g AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
  FROM tok, unnest(range(1, len(ts) - 1)) AS t(i)
), per AS (
  SELECT doc_id, gram, count(*)::BIGINT AS c FROM g GROUP BY doc_id, gram
), st AS (
  SELECT doc_id, SUM(c)::BIGINT AS n_ngrams, count(*)::BIGINT AS n_distinct,
         MAX(c)::BIGINT AS top_c
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(st.n_ngrams, 0) AS n_ngrams,
       COALESCE(st.n_distinct, 0) AS n_distinct,
       ROUND(COALESCE(1.0 - st.n_distinct::DOUBLE / st.n_ngrams, 0.0), 4)
         AS dup_frac,
       ROUND(COALESCE(st.top_c::DOUBLE / st.n_ngrams, 0.0), 4) AS top_frac
FROM documents d LEFT JOIN st USING (doc_id)
WHERE d.doc_id < 100 ORDER BY d.doc_id"""

    sql["q_facet_metrics"] = _PRELUDE + """
SELECT d.lang AS value, count(*)::BIGINT AS count,
       SUM(d.n_chars)::BIGINT AS sum, ROUND(AVG(d.n_chars), 4) AS avg,
       MIN(d.n_chars)::BIGINT AS min, MAX(d.n_chars)::BIGINT AS max
FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge') m
JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY count(*) DESC, d.lang"""

    sql["q_facet_query"] = _PRELUDE + _POS_CTE + """
, basedocs AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
SELECT name, count FROM (
  SELECT 'has_spark' AS name, count(*)::BIGINT AS count FROM (
    SELECT DISTINCT doc_id FROM tf
    WHERE term = 'spark' AND doc_id IN (SELECT doc_id FROM basedocs))
  UNION ALL
  SELECT 'key_agg_phrase', count(DISTINCT a.doc_id)::BIGINT
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'key' AND b.term = 'agg'
    AND a.doc_id IN (SELECT doc_id FROM basedocs)
  UNION ALL
  SELECT 'fast_or_scan', count(*)::BIGINT FROM (
    SELECT DISTINCT doc_id FROM tf
    WHERE term IN ('fast', 'scan')
      AND doc_id IN (SELECT doc_id FROM basedocs))
) ORDER BY name"""

    # updateDocument: the patched corpus is base ∪ replacements; STATS
    # run over the whole union (tombstoned originals still count — the
    # Lucene delete model), matches exclude the replaced ids
    sql["q_update_search_topk"] = ("""
WITH base AS (SELECT doc_id, text FROM documents),
mx AS (SELECT MAX(doc_id) AS m FROM base),
upd AS (
  SELECT doc_id AS old_id,
         mx.m + ROW_NUMBER() OVER (ORDER BY doc_id) AS doc_id,
         'refreshed merge content ' || text AS text
  FROM base, mx WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, text FROM base
           UNION ALL SELECT doc_id, text FROM upd)"""
        + _PRELUDE.replace("WITH tok AS", ", tok AS")
                  .replace("FROM documents", "FROM corpus") + """
SELECT doc_id, ROUND(s, 4) AS score FROM sc
WHERE term = 'merge' AND doc_id NOT IN (SELECT old_id FROM upd)
ORDER BY s DESC, doc_id LIMIT 10""")

    # soft deletes + retention: the physical corpus after the merge is
    # survivors + retained (soft docs containing the retention term);
    # stats recompute over it; hits still exclude EVERY soft-deleted doc
    sql["q_soft_delete_search"] = ("""
WITH ret AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 7 = 3
    AND list_contains(regexp_extract_all(text, '[a-z0-9]+'), 'merge')),
corpus AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 7 <> 3 OR doc_id IN (SELECT doc_id FROM ret))"""
        + _PRELUDE.replace("WITH tok AS", ", tok AS")
                  .replace("FROM documents", "FROM corpus") + """
SELECT doc_id, ROUND(s, 4) AS score FROM sc
WHERE term = 'spark' AND doc_id % 7 <> 3
ORDER BY s DESC, doc_id LIMIT 10""")

    # FieldExistsQuery: the exists clause is a pure doc_id-set
    # predicate (tag exists ⇔ doc_id % 3 = 0 by construction) plus
    # the MUST constant 1 in the score sum
    sql["q_field_exists"] = _PRELUDE + """
SELECT doc_id, ROUND(1.0 + s, 4) AS score FROM sc
WHERE term = 'merge' AND doc_id % 3 = 0
ORDER BY 1.0 + s DESC, doc_id LIMIT 10"""

    # interval queries: canonical minimal-interval sets stated directly
    # in SQL — all admissible pairs, keep min end per start, strip
    # intervals containing a later-start/≤-end one; saturation scoring
    # is norm/idf-free (1 − 1/(1 + freq), pivot 1, boost 1)
    _IV_TAIL = """
SELECT doc_id, ROUND(1.0 - 1.0 / (1.0 + freq), 4) AS score
FROM pf ORDER BY 1.0 - 1.0 / (1.0 + freq) DESC, doc_id LIMIT 10"""

    sql["q_interval_ordered_topk"] = _PRELUDE + _POS_CTE + """
, opair AS (
  SELECT a.doc_id, a.p AS s, b.p AS e
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.p < b.p
  WHERE a.term = 'key' AND b.term = 'agg'
), omin1 AS (
  SELECT doc_id, s, MIN(e) AS e FROM opair GROUP BY doc_id, s
), omin AS (
  SELECT doc_id, s, e FROM omin1 m
  WHERE NOT EXISTS (SELECT 1 FROM omin1 m2 WHERE m2.doc_id = m.doc_id
                    AND m2.s > m.s AND m2.e <= m.e)
), pf AS (
  SELECT doc_id, SUM(1.0 / GREATEST(e - s + 1 - 2 + 1, 1)) AS freq
  FROM omin WHERE (e - s + 1) - 2 <= 3 GROUP BY doc_id
)""" + _IV_TAIL

    sql["q_interval_unordered_topk"] = _PRELUDE + _POS_CTE + """
, upair AS (
  SELECT a.doc_id, LEAST(a.p, b.p) AS s, GREATEST(a.p, b.p) AS e
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
  WHERE a.term = 'key' AND b.term = 'part'
), umin1 AS (
  SELECT doc_id, s, MIN(e) AS e FROM upair GROUP BY doc_id, s
), umin AS (
  SELECT doc_id, s, e FROM umin1 m
  WHERE NOT EXISTS (SELECT 1 FROM umin1 m2 WHERE m2.doc_id = m.doc_id
                    AND m2.s > m.s AND m2.e <= m.e)
), pf AS (
  SELECT doc_id, SUM(1.0 / GREATEST(e - s + 1 - 2 + 1, 1)) AS freq
  FROM umin GROUP BY doc_id
)""" + _IV_TAIL

    sql["q_interval_block_topk"] = _PRELUDE + _POS_CTE + """
, pf AS (
  SELECT a.doc_id, count(*)::DOUBLE AS freq
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id
)""" + _IV_TAIL

    sql["q_interval_prefix_topk"] = _PRELUDE + _POS_CTE + """
, sterms AS (SELECT term FROM dfreq WHERE term LIKE 's%')
, opair AS (
  SELECT a.doc_id, a.p AS s, b.p AS e
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.p < b.p
  WHERE a.term IN (SELECT term FROM sterms) AND b.term = 'merge'
), omin1 AS (
  SELECT doc_id, s, MIN(e) AS e FROM opair GROUP BY doc_id, s
), omin AS (
  SELECT doc_id, s, e FROM omin1 m
  WHERE NOT EXISTS (SELECT 1 FROM omin1 m2 WHERE m2.doc_id = m.doc_id
                    AND m2.s > m.s AND m2.e <= m.e)
), pf AS (
  SELECT doc_id, SUM(1.0 / GREATEST(e - s + 1 - 2 + 1, 1)) AS freq
  FROM omin WHERE (e - s + 1) - 2 <= 2 GROUP BY doc_id
)""" + _IV_TAIL

    sql["q_interval_or_topk"] = _PRELUDE + """
, pf AS (
  SELECT doc_id, SUM(freq)::DOUBLE AS freq FROM tf
  WHERE term IN ('key', 'part') GROUP BY doc_id
)""" + _IV_TAIL

    sql["q_interval_containing_topk"] = _PRELUDE + _POS_CTE + """
, opair AS (
  SELECT a.doc_id, a.p AS s, b.p AS e
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.p < b.p
  WHERE a.term = 'key' AND b.term = 'agg'
), omin1 AS (
  SELECT doc_id, s, MIN(e) AS e FROM opair GROUP BY doc_id, s
), omin AS (
  SELECT doc_id, s, e FROM omin1 m
  WHERE NOT EXISTS (SELECT 1 FROM omin1 m2 WHERE m2.doc_id = m.doc_id
                    AND m2.s > m.s AND m2.e <= m.e)
), held AS (
  SELECT o.doc_id, o.s, o.e FROM omin o
  WHERE EXISTS (SELECT 1 FROM pos p WHERE p.doc_id = o.doc_id
                AND p.term = 'merge' AND p.p >= o.s AND p.p <= o.e)
), pf AS (
  SELECT doc_id, SUM(1.0 / GREATEST(e - s + 1 - 2 + 1, 1)) AS freq
  FROM held GROUP BY doc_id
)""" + _IV_TAIL

    # LTR linear rescore of the OR(spark, fast) top-20:
    # 0.6*orig + 0.001*n_chars + 1.5*phrase("key agg")
    sql["q_ltr_rescore"] = _PRELUDE + """
, hits AS (SELECT doc_id, SUM(s) AS s FROM sc
           WHERE term IN ('spark', 'fast') GROUP BY doc_id)
, cut AS (SELECT doc_id, s FROM hits ORDER BY s DESC, doc_id LIMIT 20)
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS pf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
), ph AS (
  SELECT pf.doc_id,
    idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
    AS s2
  FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id
  CROSS JOIN stats CROSS JOIN idfs)
SELECT cut.doc_id,
       ROUND(0.6 * cut.s + 0.001 * d.n_chars
             + 1.5 * COALESCE(ph.s2, 0), 4) AS score
FROM cut JOIN documents d USING (doc_id)
LEFT JOIN ph ON cut.doc_id = ph.doc_id
ORDER BY 0.6 * cut.s + 0.001 * d.n_chars + 1.5 * COALESCE(ph.s2, 0)
  DESC, cut.doc_id
LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    # expression sort: _score + ln(1+n_chars) * (n_chars>150 ? .5 : .25)
    sql["q_expression_sort"] = _PRELUDE + """
, hits AS (SELECT doc_id, SUM(s) AS s FROM sc
           WHERE term = 'merge' GROUP BY doc_id)
SELECT h.doc_id,
       ROUND(h.s + ln(1 + d.n_chars)
             * (CASE WHEN d.n_chars > 150 THEN 0.5 ELSE 0.25 END), 4)
       AS score
FROM hits h JOIN documents d USING (doc_id)
ORDER BY h.s + ln(1 + d.n_chars)
         * (CASE WHEN d.n_chars > 150 THEN 0.5 ELSE 0.25 END) DESC,
         h.doc_id
LIMIT 10"""

    # terms component: prefix 's', count sort, limit 15
    sql["q_terms_enum"] = _PRELUDE + """
SELECT term, df FROM dfreq WHERE term LIKE 's%'
ORDER BY df DESC, term ASC LIMIT 15"""

    # Gopher rules: exact integer-ratio reproduction of every rule input
    sql["q_gopher_filter"] = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words,
         string_split(text, chr(10)) AS lines, text
  FROM documents
), base AS (
  SELECT doc_id, len(words) AS n_words,
    list_sum(list_transform(words, x -> length(x)))::DOUBLE
      / greatest(len(words), 1) AS mean_wlen,
    (length(text) - length(regexp_replace(text, '#|…', '', 'g'))
     + len(regexp_extract_all(text, '\.\.\.')))::DOUBLE
      / greatest(len(words), 1) AS symbol_ratio,
    len(list_filter(lines, l -> regexp_matches(trim(l), '^[•\-\*]')))
      ::DOUBLE / greatest(len(lines), 1) AS bullet_frac,
    len(list_filter(lines, l -> regexp_matches(rtrim(l),
                                               '(…|\.\.\.)$')))::DOUBLE
      / greatest(len(lines), 1) AS ellipsis_frac,
    len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
      / greatest(len(words), 1) AS alpha_frac,
    len(list_filter(['the','be','to','of','and','that','have','with'],
        s -> list_contains(list_transform(words, x -> lower(x)), s)))
      AS stop_hits
  FROM w)
SELECT doc_id, n_words::BIGINT AS n_words,
       ROUND(mean_wlen, 4) AS mean_wlen,
       ROUND(symbol_ratio, 4) AS symbol_ratio,
       ROUND(alpha_frac, 4) AS alpha_frac,
       stop_hits::BIGINT AS stop_hits,
       (n_words >= 20 AND n_words <= 100000 AND mean_wlen >= 3.0
        AND mean_wlen <= 10.0 AND symbol_ratio <= 0.1
        AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        AND alpha_frac >= 0.8 AND stop_hits >= 2)::INT AS keep
FROM base"""

    # PII scrub: identical injection + identical Java∩RE2 regex subset
    sql["q_pii_scrub"] = r"""
WITH p AS (
  SELECT doc_id, text || ' contact user' || doc_id
         || '@example.com or 192.168.' || (doc_id % 256) || '.7'
         || CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567'
                 ELSE '' END AS text
  FROM documents),
s1 AS (SELECT doc_id,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '|||EMAIL|||', 'g') AS t1 FROM p),
s2 AS (SELECT doc_id, n_email,
  len(regexp_extract_all(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
  regexp_replace(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b',
                 '|||PHONE|||', 'g') AS t2 FROM s1),
s3 AS (SELECT doc_id, n_email, n_phone,
  len(regexp_extract_all(t2,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                 '|||IP|||', 'g') AS clean_text FROM s2)
SELECT doc_id, n_email::BIGINT AS n_email, n_phone::BIGINT AS n_phone,
       n_ipv4::BIGINT AS n_ipv4, clean_text
FROM s3"""

    # decontamination: 8-gram overlap vs the doc_id%97 benchmark slice
    sql["q_decontaminate"] = r"""
WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ws
           FROM documents),
g AS (SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
      FROM w, UNNEST(generate_series(1, greatest(len(ws)-7, 0))) AS t(i)),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
h AS (SELECT g.doc_id, count(*) AS n_hits
      FROM g JOIN b USING (gram) GROUP BY g.doc_id),
n AS (SELECT doc_id, greatest(len(ws)-7, 0) AS n_grams FROM w)
SELECT n.doc_id, n.n_grams::BIGINT AS n_grams,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (coalesce(h.n_hits, 0) > 0)::INT AS contaminated
FROM n LEFT JOIN h USING (doc_id)"""

    # exact-substring dup: stride-1 13-token windows shared across docs
    sql["q_substring_dup"] = r"""
WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ws
           FROM documents),
g AS (SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS gram
      FROM w, UNNEST(generate_series(1, greatest(len(ws)-12, 0))) AS t(i)),
c AS (SELECT gram, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram),
d AS (SELECT g.doc_id, count(*) AS n_windows,
             sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS dup_windows
      FROM g JOIN c USING (gram) GROUP BY g.doc_id)
SELECT doc_id, n_windows::BIGINT AS n_windows,
       dup_windows::BIGINT AS dup_windows,
       ROUND(dup_windows::DOUBLE / greatest(n_windows, 1), 4) AS dup_frac
FROM d WHERE dup_windows > 0"""

    # streaming rollup over lang of the merge match set, having cnt > 1
    sql["q_stream_rollup"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
SELECT d.lang, SUM(d.n_chars)::BIGINT AS sum_nc,
       COUNT(*)::BIGINT AS cnt, ROUND(AVG(d.n_chars), 4) AS avg_nc
FROM documents d JOIN m USING (doc_id)
GROUP BY d.lang HAVING COUNT(*) > 1 ORDER BY d.lang"""

    # streaming innerJoin: merge-hits x fast-hits on doc_id
    sql["q_stream_innerjoin"] = _PRELUDE + """
, a AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
, b AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'fast')
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN a USING (doc_id) JOIN b USING (doc_id)"""

    # streaming unique(over=lang) in (n_chars desc, doc_id asc) order,
    # then top-5 by the same comparator
    sql["q_stream_unique_top"] = """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents) WHERE rn = 1
ORDER BY n_chars DESC, doc_id ASC LIMIT 5"""

    # facet.interval over n_chars on the merge match set (overlapping,
    # per-end inclusivity)
    sql["q_facet_interval"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
, md AS (SELECT d.n_chars FROM documents d JOIN m USING (doc_id))
SELECT * FROM (
  SELECT 'short' AS key,
         SUM(CASE WHEN n_chars >= 0 AND n_chars < 120
             THEN 1 ELSE 0 END)::BIGINT AS count FROM md
  UNION ALL
  SELECT 'mid',
         SUM(CASE WHEN n_chars >= 80 AND n_chars <= 200
             THEN 1 ELSE 0 END)::BIGINT FROM md
  UNION ALL
  SELECT 'long',
         SUM(CASE WHEN n_chars > 200 AND n_chars <= 100000
             THEN 1 ELSE 0 END)::BIGINT FROM md)"""

    # drill-sideways: dims lang={en}, source={src1,src2,src3} over the
    # merge match set; each dim counts with the OTHER dim's filter only
    sql["q_drill_sideways"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
, md AS (SELECT d.* FROM documents d JOIN m USING (doc_id))
SELECT dim, value, count FROM (
  SELECT 'lang' AS dim, lang AS value, COUNT(*)::BIGINT AS count
  FROM md WHERE source IN ('src1', 'src2', 'src3') GROUP BY lang
  UNION ALL
  SELECT 'source', source, COUNT(*)::BIGINT
  FROM md WHERE lang = 'en' GROUP BY source)
ORDER BY dim, count DESC, value"""

    # span containing / within over big = ordered near(key, agg, slop 3)
    # (greedy chain: per key@ap the FIRST agg after it), little = merge
    _CHAIN_CTE = """
, chain AS (
  SELECT a.doc_id, a.p AS ap, MIN(b.p) AS bp
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p > a.p
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id, a.p
), spans AS (
  SELECT doc_id, ap, bp FROM chain WHERE bp - ap - 1 <= 3
)"""
    sql["q_span_containing_topk"] = _PRELUDE + _POS_CTE + _CHAIN_CTE + """
, pf AS (
  SELECT s.doc_id, SUM(1.0 / (1 + (s.bp - s.ap - 1))) AS pf
  FROM spans s
  WHERE EXISTS (SELECT 1 FROM pos m WHERE m.doc_id = s.doc_id
                AND m.term = 'merge' AND m.p BETWEEN s.ap AND s.bp)
  GROUP BY s.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats
  WHERE dfreq.term IN ('key', 'agg', 'merge')
)""" + _SPAN_TAIL

    sql["q_span_within_topk"] = _PRELUDE + _POS_CTE + _CHAIN_CTE + """
, pf AS (
  SELECT m.doc_id, count(*)::DOUBLE AS pf FROM pos m
  WHERE m.term = 'merge' AND EXISTS (
    SELECT 1 FROM spans s WHERE s.doc_id = m.doc_id
      AND s.ap <= m.p AND m.p <= s.bp)
  GROUP BY m.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats
  WHERE dfreq.term IN ('key', 'agg', 'merge')
)""" + _SPAN_TAIL

    sql["q_span_posrange_topk"] = _PRELUDE + _POS_CTE + """
, pf AS (
  SELECT doc_id, count(*)::DOUBLE AS pf FROM pos
  WHERE term = 'key' AND p >= 2 AND p + 1 <= 20 GROUP BY doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key')
)""" + _SPAN_TAIL

    # SimpleNaiveBayesClassifier over lang: raw (pre-stop) tokens on
    # both sides; den = avg-unique-terms-per-doc x df(c) + docsWithClass
    import re as _re
    _nb_toks = _re.findall("[a-z0-9]+", _NB_TEXT)
    _nb_vals = ", ".join(
        f"('{t}', {_nb_toks.count(t)})" for t in sorted(set(_nb_toks)))
    sql["q_nb_classify"] = _PRELUDE + f"""
, q(term, qn) AS (SELECT * FROM (VALUES {_nb_vals}))
, dterm AS (
  SELECT DISTINCT t.doc_id, t.term FROM tok t
  JOIN documents d ON t.doc_id = d.doc_id AND d.lang IS NOT NULL
), nwc AS (SELECT COUNT(*)::DOUBLE AS n FROM documents
           WHERE lang IS NOT NULL)
, uq AS (SELECT (SELECT COUNT(*)::DOUBLE FROM dterm) / n AS avg_unique
         FROM nwc)
, h AS (
  SELECT dt.term, d.lang AS cls, COUNT(*)::DOUBLE AS h
  FROM dterm dt JOIN documents d ON dt.doc_id = d.doc_id
  GROUP BY dt.term, d.lang
), cl AS (SELECT lang AS cls, COUNT(*)::DOUBLE AS dfc FROM documents
          WHERE lang IS NOT NULL GROUP BY lang)
, raw AS (
  SELECT c.cls,
         ln(c.dfc) - ln(nwc.n)
         - (SELECT SUM(qn) FROM q)
           * ln(uq.avg_unique * c.dfc + nwc.n)
         + COALESCE((SELECT SUM(q.qn * ln(h.h + 1)) FROM q
                     JOIN h ON h.term = q.term AND h.cls = c.cls), 0)
         AS lp
  FROM cl c CROSS JOIN nwc CROSS JOIN uq)
, mx AS (SELECT MAX(lp) AS m FROM raw)
, lse AS (SELECT mx.m + ln(SUM(exp(raw.lp - mx.m))) AS loga
          FROM raw CROSS JOIN mx GROUP BY mx.m)
SELECT raw.cls, ROUND(exp(raw.lp - lse.loga), 4) AS score
FROM raw CROSS JOIN lse
ORDER BY exp(raw.lp - lse.loga) DESC, raw.cls"""

    # KNearestNeighborClassifier: MLT top-5 interesting terms from the
    # ANALYZED input (tf x ln(N/df), term asc ties), BM25 top-10, class
    # votes Σ(s/maxs)/k
    _knn_tf = ENGLISH_ANALYZER.term_freqs(_KNN_TEXT)
    _knn_vals = ", ".join(f"('{t}', {c})" for t, c in sorted(_knn_tf.items()))
    sql["q_knn_classify"] = _PRELUDE + f"""
, qtf(term, qf) AS (SELECT * FROM (VALUES {_knn_vals}))
, mlt AS (
  SELECT qtf.term FROM qtf JOIN dfreq USING (term) CROSS JOIN stats
  ORDER BY qtf.qf * ln(stats.n / dfreq.df) DESC, qtf.term LIMIT 5
), top AS (
  SELECT doc_id, SUM(s) AS sc FROM sc JOIN mlt USING (term)
  GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10
), mx AS (SELECT MAX(sc) AS m FROM top)
, sd AS (SELECT COUNT(*)::BIGINT AS c FROM top t
         JOIN documents d USING (doc_id) WHERE d.lang IS NOT NULL)
SELECT d.lang AS cls,
       ROUND(SUM(t.sc / mx.m)
             / (CASE WHEN sd.c < 10 THEN sd.c ELSE 10 END), 4) AS score,
       COUNT(*)::BIGINT AS votes
FROM top t JOIN documents d USING (doc_id) CROSS JOIN mx CROSS JOIN sd
WHERE d.lang IS NOT NULL
GROUP BY d.lang, mx.m, sd.c
ORDER BY SUM(t.sc / mx.m) DESC, d.lang"""

    # relative-position filters over the same minimal ordered(key,agg)
    # set: before = ends before some ref start; within p = inside the
    # ±p extension of some ref; nonOverlapping = overlaps no ref
    _OMIN_CTES = """
, opair AS (
  SELECT a.doc_id, a.p AS s, b.p AS e
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.p < b.p
  WHERE a.term = 'key' AND b.term = 'agg'
), omin1 AS (
  SELECT doc_id, s, MIN(e) AS e FROM opair GROUP BY doc_id, s
), omin AS (
  SELECT doc_id, s, e FROM omin1 m
  WHERE NOT EXISTS (SELECT 1 FROM omin1 m2 WHERE m2.doc_id = m.doc_id
                    AND m2.s > m.s AND m2.e <= m.e)
)"""
    _OMIN_PF = """, pf AS (
  SELECT doc_id, SUM(1.0 / GREATEST(e - s + 1 - 2 + 1, 1)) AS freq
  FROM kept GROUP BY doc_id
)"""

    sql["q_interval_before_topk"] = _PRELUDE + _POS_CTE + _OMIN_CTES + """
, kept AS (
  SELECT o.doc_id, o.s, o.e FROM omin o
  WHERE EXISTS (SELECT 1 FROM pos p WHERE p.doc_id = o.doc_id
                AND p.term = 'merge' AND o.e < p.p)
)""" + _OMIN_PF + _IV_TAIL

    sql["q_interval_within_topk"] = _PRELUDE + _POS_CTE + _OMIN_CTES + """
, kept AS (
  SELECT o.doc_id, o.s, o.e FROM omin o
  WHERE EXISTS (SELECT 1 FROM pos p WHERE p.doc_id = o.doc_id
                AND p.term = 'merge'
                AND p.p - 2 <= o.s AND p.p + 2 >= o.e)
)""" + _OMIN_PF + _IV_TAIL

    sql["q_interval_nonoverlap_topk"] = _PRELUDE + _POS_CTE + _OMIN_CTES + """
, kept AS (
  SELECT o.doc_id, o.s, o.e FROM omin o
  WHERE NOT EXISTS (SELECT 1 FROM pos p WHERE p.doc_id = o.doc_id
                    AND p.term = 'merge'
                    AND p.p >= o.s AND p.p <= o.e)
)""" + _OMIN_PF + _IV_TAIL

    # edismax qf={text:1,title:2} tie=0.3 over terms (part, merge):
    # per term, dismax of the per-field BM25 partials; sum over terms
    sql["q_edismax_topk"] = _PRELUDE + _TITLE_CTES + """
, u AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.term, b.term) AS term,
         COALESCE(a.s, 0) AS st, COALESCE(b.s, 0) AS stt
  FROM (SELECT doc_id, term, s FROM sc WHERE term IN ('part', 'merge')) a
  FULL OUTER JOIN
       (SELECT doc_id, term, 2 * s AS s FROM tsc
        WHERE term IN ('part', 'merge')) b
    ON a.doc_id = b.doc_id AND a.term = b.term)
SELECT doc_id,
  ROUND(SUM(GREATEST(st, stt) + 0.3 * (st + stt - GREATEST(st, stt))), 4)
    AS score
FROM u GROUP BY doc_id
ORDER BY SUM(GREATEST(st, stt) + 0.3 * (st + stt - GREATEST(st, stt))) DESC,
         doc_id
LIMIT 10"""

    # top-terms rewrite: keep the 4 highest-df s* terms (ties term asc)
    sql["q_prefix_topterms_topk"] = _PRELUDE + """
, sel AS (
  SELECT term FROM dfreq WHERE term LIKE 's%'
  ORDER BY df DESC, term LIMIT 4)
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM sc WHERE term IN (SELECT term FROM sel)
GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10"""

    # field-scoped term query: BM25 on the TITLE field's own stats
    # StandardQueryParser: (text:merge OR title:merge^2) with the
    # points-config n_chars range as a pushed doc-table filter
    sql["q_standard_parser"] = _PRELUDE + _TITLE_CTES + """
, tx AS (SELECT doc_id, s FROM sc WHERE term = 'merge')
, ti AS (SELECT doc_id, 2.0 * s AS s FROM tsc WHERE term = 'merge')
, uni AS (
  SELECT COALESCE(tx.doc_id, ti.doc_id) AS doc_id,
         COALESCE(tx.s, 0) + COALESCE(ti.s, 0) AS s
  FROM tx FULL OUTER JOIN ti ON tx.doc_id = ti.doc_id)
SELECT uni.doc_id, ROUND(uni.s, 4) AS score
FROM uni JOIN documents d ON uni.doc_id = d.doc_id
WHERE d.n_chars BETWEEN 240 AND 400
ORDER BY uni.s DESC, uni.doc_id LIMIT 10"""

    sql["q_field_term_topk"] = _PRELUDE + _TITLE_CTES + """
SELECT doc_id, ROUND(s, 4) AS score FROM tsc WHERE term = 'part'
ORDER BY s DESC, doc_id LIMIT 10"""

    # cross-field conjunction: title:part AND text:merge, score = sum
    sql["q_multifield_bool_topk"] = _PRELUDE + _TITLE_CTES + """
SELECT a.doc_id, ROUND(a.s + b.s, 4) AS score
FROM tsc a JOIN sc b USING (doc_id)
WHERE a.term = 'part' AND b.term = 'merge'
ORDER BY a.s + b.s DESC, a.doc_id LIMIT 10"""

    # +spark spark — one scorer per clause: the term scores TWICE
    sql["q_must_should_overlap_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(2 * s, 4) AS score FROM sc WHERE term = 'spark'
ORDER BY 2 * s DESC, doc_id LIMIT 10"""

    # sloppy phrase "key agg"~2: per anchor position a of 'key', the
    # minimal displacement to 'agg' (expected at a+1); matches within
    # slop contribute 1/(1+d) to the phrase freq
    # (SloppyPhraseMatcher.java:56 sloppy weight)
    sql["q_sloppy_phrase_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), mind AS (
  SELECT a.doc_id, a.p AS ap, MIN(ABS(b.p - (a.p + 1))) AS d
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id, a.p
), pf AS (
  SELECT doc_id, SUM(1.0 / (1 + d)) AS pf FROM mind WHERE d <= 2
  GROUP BY doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
)
SELECT pf.doc_id, ROUND(
  idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4)
  AS score
FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
ORDER BY idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
  DESC, pf.doc_id LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    sql["q_spellcheck"] = _PRELUDE + """
SELECT term, levenshtein(term, 'spak') AS distance, df
FROM dfreq WHERE levenshtein(term, 'spak') <= 2
ORDER BY distance, df DESC, term LIMIT 5"""

    sql["q_numeric_filter_topk"] = _PRELUDE + """
SELECT sc.doc_id, ROUND(SUM(sc.s), 4) AS score
FROM sc JOIN documents d ON d.doc_id = sc.doc_id
WHERE sc.term = 'merge' AND d.n_chars BETWEEN 200 AND 400
GROUP BY sc.doc_id ORDER BY SUM(sc.s) DESC, sc.doc_id LIMIT 10"""

    # PointInSetQuery: text ∧ numeric IN-set
    sql["q_numeric_set_topk"] = _PRELUDE + """
SELECT sc.doc_id, ROUND(SUM(sc.s), 4) AS score
FROM sc JOIN documents d ON d.doc_id = sc.doc_id
WHERE sc.term = 'merge'
  AND d.n_chars IN (SELECT unnest(range(200, 301)))
GROUP BY sc.doc_id ORDER BY SUM(sc.s) DESC, sc.doc_id LIMIT 10"""

    # multi-key field sort with missing-last policy
    sql["q_sort_multi"] = _PRELUDE + """
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM sc WHERE term = 'spark')
ORDER BY d.lang ASC NULLS LAST, d.n_chars DESC, d.doc_id
LIMIT 10"""

    # reference-exact MLT (MoreLikeThis.java:651-702): tf/df filters,
    # ClassicSimilarity idf ln((N+1)/(df+1))+1, top-10 by tf*idf
    # (ties term asc), scored as OR via BM25, seed excluded
    sql["q_mlt_interesting_terms"] = _PRELUDE + """
, src AS (SELECT term, freq FROM tf WHERE doc_id = 7),
cand AS (
  SELECT src.term,
         src.freq * (ln((stats.n + 1.0) / (dfreq.df + 1.0)) + 1.0) AS ms
  FROM src JOIN dfreq USING (term) CROSS JOIN stats
  WHERE src.freq >= 1 AND dfreq.df >= 2
)
SELECT term, ROUND(ms, 4) AS ms FROM cand
ORDER BY ms DESC, term LIMIT 10"""

    sql["q_mlt_classic_topk"] = _PRELUDE + """
, src AS (SELECT term, freq FROM tf WHERE doc_id = 7),
cand AS (
  SELECT src.term,
         src.freq * (ln((stats.n + 1.0) / (dfreq.df + 1.0)) + 1.0) AS ms
  FROM src JOIN dfreq USING (term) CROSS JOIN stats
  WHERE src.freq >= 1 AND dfreq.df >= 2
), sel AS (SELECT term FROM cand ORDER BY ms DESC, term LIMIT 10)
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM sc WHERE term IN (SELECT term FROM sel) AND doc_id <> 7
GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10"""

    # connected components of the near-dup pair graph (min-label):
    # recursive min propagation expressed as a fixpoint CTE
    sql["q_dedup_components"] = _P2 + _MINHASH_CTES + """
, prs AS (
  SELECT doc_a, doc_b FROM jac WHERE j >= 0.8
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM prs
  UNION ALL SELECT doc_b AS u, doc_a AS v FROM prs
), nodes AS (
  SELECT DISTINCT u AS doc_id FROM edges
), lab AS (
  WITH RECURSIVE walk(src, doc_id) AS (
    SELECT doc_id AS src, doc_id FROM nodes
    UNION
    SELECT w.src, e.v FROM walk w JOIN edges e ON e.u = w.doc_id
  )
  SELECT src AS doc_id, MIN(doc_id) AS component
  FROM walk GROUP BY src
)
SELECT doc_id, component AS canonical_id,
       doc_id <> component AS is_duplicate
FROM lab ORDER BY doc_id"""

    # same CC chain as q_dedup_components, then per-component rep =
    # highest n_chars (ties -> lowest doc_id)
    sql["q_dedup_keep_best"] = _P2 + _MINHASH_CTES + """
, prs AS (
  SELECT doc_a, doc_b FROM jac WHERE j >= 0.8
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM prs
  UNION ALL SELECT doc_b AS u, doc_a AS v FROM prs
), nodes AS (
  SELECT DISTINCT u AS doc_id FROM edges
), lab AS (
  WITH RECURSIVE walk(src, doc_id) AS (
    SELECT doc_id AS src, doc_id FROM nodes
    UNION
    SELECT w.src, e.v FROM walk w JOIN edges e ON e.u = w.doc_id
  )
  SELECT src AS doc_id, MIN(doc_id) AS component
  FROM walk GROUP BY src
), memb AS (
  SELECT l.doc_id, l.component, d.n_chars
  FROM lab l JOIN documents d USING (doc_id)
), reps AS (
  SELECT component, doc_id AS rep_id FROM (
    SELECT component, doc_id,
      row_number() OVER (PARTITION BY component
                         ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM memb) WHERE rn = 1
)
SELECT m.doc_id, m.component, r.rep_id,
       m.doc_id <> r.rep_id AS is_duplicate
FROM memb m JOIN reps r USING (component) ORDER BY m.doc_id"""

    sql["q_token_budget_mix"] = r"""
WITH t AS (
  SELECT doc_id, source,
    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok,
    (('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT)::DOUBLE
      / 4294967296.0 AS frac
  FROM documents
), c AS (
  SELECT doc_id, source, n_tok,
    SUM(n_tok) OVER (PARTITION BY source ORDER BY frac, doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tok, cum_tokens::BIGINT AS cum_tokens
FROM c
WHERE cum_tokens <= CASE WHEN source IN ('src0','src1','src2','src3','src4')
                         THEN 600 ELSE 300 END
ORDER BY doc_id"""

    sql["q_windowed_events"] = """
SELECT strftime(time_bucket(INTERVAL 30 MINUTE, ts),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*)::BIGINT AS n,
       ROUND(SUM(value), 4) AS value_sum
FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

    sql["q_suggest_prefix"] = _PRELUDE + """
SELECT term, df FROM dfreq WHERE term LIKE 's%'
ORDER BY df DESC, term LIMIT 10"""

    # first-occurrence window snippet, all in-window occurrences tagged;
    # identical spec to search/suggest.py:highlight
    sql["q_highlight_topk"] = _PRELUDE + """
, hits AS (
  SELECT doc_id FROM sc WHERE term = 'merge'
  ORDER BY s DESC, doc_id LIMIT 10
)
SELECT d.doc_id,
  replace(substr(d.text, greatest(1, instr(d.text, 'merge') - 30), 65),
          'merge', '<b>merge</b>') AS snippet
FROM documents d JOIN hits USING (doc_id)
ORDER BY d.doc_id"""

    sql["q_regexp_terms"] = _PRELUDE + """
SELECT term, df, ttf FROM dfreq WHERE regexp_matches(term, '^(?:s.*k)$')
ORDER BY term"""

    sql["q_tokens_per_lang"] = _PRELUDE + """
SELECT d.lang AS lang, sum(tf.freq)::BIGINT AS n_tokens,
       count(DISTINCT tf.doc_id)::BIGINT AS n_docs
FROM tf JOIN documents d USING (doc_id) GROUP BY d.lang ORDER BY d.lang"""

    sql["q_match_all_count"] = _PRELUDE + """
SELECT count(*)::BIGINT AS n FROM dl"""

    # --- extra query operators ---
    sql["q_synonym_topk"] = _PRELUDE + f"""
, syn AS (
  SELECT tf.doc_id, SUM(tf.freq) AS f, dlq.dlq
  FROM tf JOIN dlq USING (doc_id) WHERE tf.term IN ('spark', 'merge')
  GROUP BY tf.doc_id, dlq.dlq
), sstats AS (
  SELECT max(df) AS dfx FROM dfreq WHERE term IN ('spark', 'merge')
)
SELECT doc_id, ROUND(ln(1 + (stats.n - sstats.dfx + 0.5) / (sstats.dfx + 0.5))
  * f / (f + {K1} * (1 - {B} + {B} * dlq / stats.avgdl)), 4) AS score
FROM syn CROSS JOIN stats CROSS JOIN sstats
ORDER BY ln(1 + (stats.n - sstats.dfx + 0.5) / (sstats.dfx + 0.5))
  * f / (f + {K1} * (1 - {B} + {B} * dlq / stats.avgdl)) DESC, doc_id
LIMIT 10"""

    # BlendedTermQuery: per-term BM25 with df lifted to max across the
    # set, DisjunctionMax(tie=0.1) over the per-term scores
    sql["q_blended_topk"] = _PRELUDE + f"""
, bstats AS (
  SELECT max(df) AS dfx FROM dfreq WHERE term IN ('spark', 'merge')
), bsc AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - bstats.dfx + 0.5) / (bstats.dfx + 0.5)) * tf.freq
           / (tf.freq + {K1} * (1 - {B} + {B} * dlq.dlq / stats.avgdl)) AS s
  FROM tf JOIN dlq USING (doc_id) CROSS JOIN stats CROSS JOIN bstats
  WHERE tf.term IN ('spark', 'merge')
)
SELECT doc_id, ROUND(max(s) + 0.1 * (sum(s) - max(s)), 4) AS score
FROM bsc GROUP BY doc_id
ORDER BY max(s) + 0.1 * (sum(s) - max(s)) DESC, doc_id LIMIT 10"""

    sql["q_localparams_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM sc WHERE term IN ('spark', 'merge')
GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10"""

    sql["q_sql_group_topk"] = _PRELUDE + """
SELECT d.lang, COUNT(*)::BIGINT AS cnt
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'spark')
GROUP BY d.lang ORDER BY cnt DESC, d.lang ASC LIMIT 5"""

    sql["q_search_after"] = _PRELUDE + """
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM sc WHERE term IN ('spark', 'merge', 'fast')
GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10 OFFSET 10"""

    sql["q_boosted_or_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(SUM(CASE WHEN term = 'spark' THEN 2.0 * s ELSE s END), 4)
  AS score
FROM sc WHERE term IN ('spark', 'merge')
GROUP BY doc_id
ORDER BY SUM(CASE WHEN term = 'spark' THEN 2.0 * s ELSE s END) DESC, doc_id
LIMIT 10"""

    sql["q_constant_score_docs"] = _PRELUDE + """
SELECT DISTINCT doc_id, 1.0::DOUBLE AS score
FROM tf WHERE term IN ('fast', 'dup') ORDER BY doc_id"""

    sql["q_proximity_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS pf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND abs(a.p - b.p) <= 3
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
)
SELECT pf.doc_id, ROUND(
  idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4)
  AS score
FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
ORDER BY idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
  DESC, pf.doc_id LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    sql["q_sort_by_nchars"] = _PRELUDE + """
SELECT h.doc_id, d.n_chars
FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'table') h
JOIN documents d USING (doc_id)
ORDER BY d.n_chars DESC, h.doc_id LIMIT 10"""

    # synonym graph phrase: SHOULD(phrase 'key agg', term 'merge') —
    # phrase leg scored exactly like q_phrase_topk, alternatives summed
    sql["q_synonym_graph_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS pf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'key' AND b.term = 'agg'
  GROUP BY a.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats WHERE dfreq.term IN ('key', 'agg')
), alt AS (
  SELECT pf.doc_id,
         idfs.w * pf.pf
           / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)) AS s
  FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
  UNION ALL
  SELECT doc_id, s FROM sc WHERE term = 'merge'
)
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM alt GROUP BY doc_id
ORDER BY SUM(s) DESC, doc_id LIMIT 10""".replace("{k1}", str(K1)) \
        .replace("{b}", str(B))

    # blended infix suggester: first token-prefix match position →
    # linear coefficient 1 - 0.10*position, score = n_chars × coef
    sql["q_blended_suggest"] = """
WITH t AS (
  SELECT doc_id, n_chars,
    array_to_string(list_slice(regexp_extract_all(text, '[a-z0-9]+'),
                               1, 5), ' ') AS title
  FROM documents
), m AS (
  SELECT doc_id, title, n_chars,
         list_position(list_transform(
             regexp_extract_all(title, '[a-z0-9]+'),
             x -> starts_with(x, 'mer')), true) AS pos1
  FROM t
)
SELECT doc_id, title, (pos1 - 1)::BIGINT AS position,
       ROUND(n_chars * (1.0 - 0.10 * (pos1 - 1)), 4) AS score
FROM m WHERE pos1 > 0
ORDER BY n_chars * (1.0 - 0.10 * (pos1 - 1)) DESC, title, doc_id
LIMIT 10"""

    # retrieval-quality eval: independent windowed restatement of the
    # run + judgments, standard exponential-gain nDCG
    sql["q_eval_quality"] = """
WITH run AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT lang AS query_id, doc_id,
           row_number() OVER (PARTITION BY lang
                              ORDER BY n_chars DESC, doc_id) AS rank
    FROM documents) WHERE rank <= 10
), qrels AS (
  SELECT lang AS query_id, doc_id,
         (1 + (doc_id % 2))::DOUBLE AS grade
  FROM documents WHERE doc_id % 3 = 0
), j AS (
  SELECT r.query_id, r.rank, COALESCE(q.grade, 0) AS grade
  FROM run r LEFT JOIN qrels q
    ON r.query_id = q.query_id AND r.doc_id = q.doc_id
), per AS (
  SELECT query_id,
         SUM(CASE WHEN grade > 0 THEN 1 ELSE 0 END)::DOUBLE / 10 AS p,
         COALESCE(MAX(CASE WHEN grade > 0 THEN 1.0 / rank END), 0) AS mrr,
         SUM((pow(2, grade) - 1) / log2(rank + 1)) AS dcg,
         SUM(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS rel_found
  FROM j GROUP BY query_id
), ideal AS (
  SELECT query_id,
         SUM(CASE WHEN rn <= 10
                  THEN (pow(2, grade) - 1) / log2(rn + 1)
                  ELSE 0 END) AS idcg,
         COUNT(*) AS total_rel
  FROM (SELECT query_id, grade,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY grade DESC) AS rn
        FROM qrels)
  GROUP BY query_id
)
SELECT per.query_id,
       ROUND(per.p, 4) AS p_at_10,
       ROUND(CASE WHEN i.total_rel > 0
                  THEN per.rel_found::DOUBLE / i.total_rel
                  ELSE 0 END, 4) AS recall_at_10,
       ROUND(per.mrr, 4) AS mrr,
       ROUND(CASE WHEN i.idcg > 0 THEN per.dcg / i.idcg ELSE 0 END, 4)
         AS ndcg_at_10
FROM per LEFT JOIN ideal i ON per.query_id = i.query_id
ORDER BY per.query_id"""

    # MAP: relevant hits numbered in rank order per query, AP = the
    # precision-at-each-relevant-hit mean over ALL judged relevant
    sql["q_eval_map"] = """
WITH run AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT lang AS query_id, doc_id,
           row_number() OVER (PARTITION BY lang
                              ORDER BY n_chars DESC, doc_id) AS rank
    FROM documents) WHERE rank <= 10
), qrels AS (
  SELECT lang AS query_id, doc_id, 1 + (doc_id % 2) AS grade
  FROM documents WHERE doc_id % 3 = 0
), hits AS (
  SELECT r.query_id, r.rank,
         row_number() OVER (PARTITION BY r.query_id ORDER BY r.rank) AS i
  FROM run r JOIN qrels q
    ON r.query_id = q.query_id AND r.doc_id = q.doc_id
  WHERE q.grade > 0
), total AS (
  SELECT query_id, COUNT(*) AS total_rel FROM qrels
  WHERE grade > 0 GROUP BY query_id
)
SELECT h.query_id,
       ROUND(SUM(h.i::DOUBLE / h.rank) / ANY_VALUE(t.total_rel), 4)
         AS avg_precision
FROM hits h JOIN total t ON h.query_id = t.query_id
GROUP BY h.query_id ORDER BY h.query_id"""

    # phrase wildcard: MultiPhrase scoring with the slot expanded by
    # LIKE against the post-stop dictionary (same as the engine's
    # dictionary scan)
    sql["q_phrase_wildcard_topk"] = _PRELUDE + """
, pos AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         unnest(range(len(regexp_extract_all(text, '[a-z0-9]+')))) AS p
  FROM documents
), pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS pf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'merge' AND b.term LIKE 's%'
    AND b.term IN (SELECT term FROM dfreq)
  GROUP BY a.doc_id
), idfs AS (
  SELECT SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) AS w
  FROM dfreq CROSS JOIN stats
  WHERE dfreq.term = 'merge' OR dfreq.term LIKE 's%'
)
SELECT pf.doc_id, ROUND(
  idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl)), 4)
  AS score
FROM pf JOIN dlq ON pf.doc_id = dlq.doc_id CROSS JOIN stats CROSS JOIN idfs
ORDER BY idfs.w * pf.pf / (pf.pf + {k1} * (1 - {b} + {b} * dlq.dlq / stats.avgdl))
  DESC, pf.doc_id LIMIT 10""".replace("{k1}", str(K1)).replace("{b}", str(B))

    # Luke per-field stats: independent re-tokenization of BOTH fields
    # (title = first 5 raw tokens, then the same stop filter)
    sql["q_luke_fields"] = f"""
WITH rawtok AS (
  SELECT doc_id, 'text' AS field,
         unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
  FROM documents
  UNION ALL
  SELECT doc_id, 'title' AS field,
         unnest(list_slice(regexp_extract_all(text, '[a-z0-9]+'), 1, 5))
           AS term
  FROM documents
), tokf AS (
  SELECT * FROM rawtok WHERE term NOT IN ({_STOPLIST})
), tf AS (
  SELECT field, doc_id, term, count(*)::BIGINT AS freq
  FROM tokf GROUP BY field, doc_id, term
)
SELECT field,
       count(DISTINCT term)::BIGINT AS distinct_terms,
       count(DISTINCT doc_id)::BIGINT AS doc_count,
       count(*)::BIGINT AS sum_df,
       SUM(freq)::BIGINT AS sum_ttf
FROM tf GROUP BY field ORDER BY field"""

    # URL dedup: the SAME synthetic URL expression, canonicalized with
    # DuckDB's string/list primitives, keep-best via window rank
    sql["q_url_dedup"] = f"""
WITH u0 AS (
  SELECT doc_id, n_chars,
         regexp_replace({_URL_SYNTH_SQL}, '#.*$', '') AS u
  FROM documents
), p1 AS (
  SELECT doc_id, n_chars,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://(.*)$', 1) AS rest
  FROM u0
), p2 AS (
  SELECT doc_id, n_chars, scheme,
         regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)),
                        '^www\\.', '') AS hostport,
         regexp_replace(rest, '^[^/?]*', '') AS pathq
  FROM p1
), p3 AS (
  SELECT doc_id, n_chars, scheme,
         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         CASE WHEN contains(pathq, '?')
              THEN regexp_extract(pathq, '^([^?]*)', 1)
              ELSE pathq END AS raw_path,
         CASE WHEN contains(pathq, '?')
              THEN regexp_replace(pathq, '^[^?]*\\?', '')
              ELSE '' END AS qs
  FROM p2
), p4 AS (
  SELECT doc_id, n_chars, scheme, host,
         CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(raw_path, '/+$', '') END AS path,
         array_to_string(list_sort(list_filter(string_split(qs, '&'),
           x -> x <> '' AND NOT regexp_matches(x,
             '^(utm_[^=]*|fbclid|gclid|msclkid)='))), '&') AS q2
  FROM p3
), c AS (
  SELECT doc_id, n_chars,
         concat(scheme, '://', host, path,
                CASE WHEN q2 <> '' THEN concat('?', q2) ELSE '' END)
           AS canonical_url
  FROM p4
), ranked AS (
  SELECT canonical_url, doc_id,
         row_number() OVER (PARTITION BY canonical_url
                            ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY canonical_url) AS n_dups
  FROM c
)
SELECT canonical_url, doc_id AS rep_id, n_dups::BIGINT AS n_dups
FROM ranked WHERE rn = 1 ORDER BY canonical_url"""

    # IP CIDR stats: independent octet-arithmetic encode; 10.2.0.0/15
    # = [167903232, 168034303] (net | hostmask computed by hand)
    sql["q_ip_cidr_stats"] = f"""
WITH ips AS (
  SELECT doc_id, {_IP_SYNTH_SQL} AS ip FROM documents
), enc AS (
  SELECT doc_id,
         CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
       + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
       + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
       + CAST(string_split(ip, '.')[4] AS BIGINT) AS ipl
  FROM ips
), hits AS (
  SELECT * FROM enc WHERE ipl BETWEEN 167903232 AND 168034303
)
SELECT concat(CAST((ipl >> 24) & 255 AS STRING), '.',
              CAST((ipl >> 16) & 255 AS STRING), '.0.0') AS network,
       count(*)::BIGINT AS count,
       MIN(ipl)::BIGINT AS min_ip, MAX(ipl)::BIGINT AS max_ip
FROM hits GROUP BY 1 ORDER BY network"""

    # deterministic shuffle shards: the identical md5h60 arithmetic
    sql["q_shuffle_shards"] = """
WITH a AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS STRING)), 1, 15))
              AS BIGINT) AS k
  FROM documents
)
SELECT CAST(k % 8 AS INT) AS shard, count(*)::BIGINT AS count,
       MIN(k)::BIGINT AS min_key, MAX(k)::BIGINT AS max_key
FROM a GROUP BY 1 ORDER BY shard"""

    # BPE round-0 pair counts: chars + </w> symbols over the
    # word-frequency table, adjacent pairs space-joined
    sql["q_bpe_pair_counts"] = """
WITH words AS (
  SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS w FROM documents
), wf AS (
  SELECT w, count(*)::BIGINT AS freq FROM words GROUP BY w
), sym AS (
  SELECT list_concat(regexp_extract_all(w, '.'), ['</w>']) AS s, freq FROM wf
), pairs AS (
  SELECT unnest(list_transform(range(1, len(s)),
                i -> concat(s[i], ' ', s[i + 1]))) AS pair, freq
  FROM sym
)
SELECT pair, SUM(freq)::BIGINT AS count FROM pairs GROUP BY pair
ORDER BY SUM(freq) DESC, pair LIMIT 20"""

    # strdist: levenshtein-normalized similarity, ordered by the SAME
    # rounded value both sides so the top-10 cut is deterministic
    sql["q_strdist_topk"] = """
WITH t AS (
  SELECT doc_id,
         array_to_string(list_slice(
           regexp_extract_all(text, '[a-z0-9]+'), 1, 5), ' ') AS title
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN greatest(length(title), 15) = 0 THEN 1.0
              ELSE 1.0 - levenshtein(title, 'merge sort fast')::DOUBLE
                   / greatest(length(title), 15) END AS sim
  FROM t
)
SELECT doc_id, ROUND(sim, 4) AS sim FROM s
ORDER BY ROUND(sim, 4) DESC, doc_id LIMIT 10"""

    # independent DuckDB restatement of the HTML strip: script element
    # (incl. content) first, then comments, then any tag, then the one
    # entity the synth emits — same construct order as the reference
    sql["q_html_strip_terms"] = f"""
WITH h AS (
  SELECT {_HTML_SYNTH_SQL} AS html FROM documents
), s AS (
  SELECT lower(replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(html, '<script[^>]*>.*?</script\\s*>', ' ', 'g'),
        '<!--.*?-->', ' ', 'g'),
      '<[^>]*>', ' ', 'g'),
    '&amp;', '&')) AS t
  FROM h
), e AS (
  SELECT unnest(regexp_extract_all(t, '[a-z0-9&]+')) AS term FROM s
)
SELECT term, count(*)::BIGINT AS cnt FROM e
GROUP BY term ORDER BY cnt DESC, term LIMIT 20"""

    sql["q_path_facet"] = f"""
WITH p AS (
  SELECT '/' || lang AS l1,
         '/' || lang || '/' || source AS l2,
         {_PATH_SYNTH_SQL} AS l3
  FROM documents
), e AS (
  SELECT unnest([l1, l2, l3]) AS prefix FROM p
)
SELECT prefix, count(*)::BIGINT AS cnt FROM e
GROUP BY prefix ORDER BY cnt DESC, prefix LIMIT 25"""

    # same alternation as analysis/urlemail.py (URL | EMAIL | word),
    # run through DuckDB's RE2 instead of Spark's Java regex — the gate
    # compares two regex ENGINES plus the type CASE and the shed rule
    _web_rx = (r"""(?:https?|ftp)://[^\s<>"''`{}|\\^\[\]]+"""
               r"""|www\.[^\s<>"''`{}|\\^\[\]]+"""
               r"""|[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
               r"""|[A-Za-z0-9_]+(?:[''.][A-Za-z0-9_]+)*""")
    sql["q_urlemail_tokens"] = f"""
WITH w AS (
  SELECT {_WEB_SYNTH_SQL} AS t FROM documents
), e AS (
  SELECT unnest(regexp_extract_all(t, '{_web_rx}')) AS tok FROM w
), c AS (
  SELECT CASE WHEN regexp_matches(tok, '^(?:(?:https?|ftp)://|www\\.)')
              THEN regexp_replace(tok, '[.,;:!?]+$', '')
              ELSE tok END AS token,
         CASE WHEN regexp_matches(tok, '^(?:(?:https?|ftp)://|www\\.)')
              THEN '<URL>'
              WHEN regexp_matches(tok,
                '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}$')
              THEN '<EMAIL>'
              ELSE '<ALPHANUM>' END AS type
  FROM e
)
SELECT type, count(*)::BIGINT AS cnt,
       count(DISTINCT token)::BIGINT AS n_distinct
FROM c GROUP BY type ORDER BY type"""

    # the custom chain restates the standard pipeline, so the oracle
    # is the standard OR restatement — the driver row verifies the
    # per-doc CustomAnalyzer path reproduces it bit-for-bit
    sql["q_custom_analyzer_topk"] = _sql_topk_sum(["merge", "fast"])

    # curation manifest: the gopher keep rule + md5 keep-first dedup
    # among quality survivors + 8-gram decontamination, composed from
    # the same fragments that gate the component queries
    sql["q_curation_manifest"] = r"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20
), w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words,
         string_split(text, chr(10)) AS lines, text
  FROM all_docs
), base AS (
  SELECT doc_id, len(words) AS n_words,
    list_sum(list_transform(words, x -> length(x)))::DOUBLE
      / greatest(len(words), 1) AS mean_wlen,
    (length(text) - length(regexp_replace(text, '#|…', '', 'g'))
     + len(regexp_extract_all(text, '\.\.\.')))::DOUBLE
      / greatest(len(words), 1) AS symbol_ratio,
    len(list_filter(lines, l -> regexp_matches(trim(l), '^[•\-\*]')))
      ::DOUBLE / greatest(len(lines), 1) AS bullet_frac,
    len(list_filter(lines, l -> regexp_matches(rtrim(l),
                                               '(…|\.\.\.)$')))::DOUBLE
      / greatest(len(lines), 1) AS ellipsis_frac,
    len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
      / greatest(len(words), 1) AS alpha_frac,
    len(list_filter(['the','be','to','of','and','that','have','with'],
        s -> list_contains(list_transform(words, x -> lower(x)), s)))
      AS stop_hits
  FROM w
), q AS (
  SELECT doc_id,
    (n_words >= 20 AND n_words <= 100000 AND mean_wlen >= 3.0
     AND mean_wlen <= 10.0 AND symbol_ratio <= 0.1
     AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
     AND alpha_frac >= 0.8 AND stop_hits >= 2) AS quality
  FROM base
), fp AS (
  SELECT doc_id, md5(text) AS f FROM all_docs
), canon AS (
  SELECT f, min(fp.doc_id) AS c
  FROM fp JOIN q USING (doc_id) WHERE q.quality GROUP BY f
), dup AS (
  SELECT q.doc_id, q.quality,
         (q.quality AND fp.doc_id <> canon.c) AS duplicate
  FROM q JOIN fp USING (doc_id) LEFT JOIN canon ON fp.f = canon.f
), ws AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM all_docs
), g AS (
  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
  FROM ws, UNNEST(generate_series(1, greatest(len(ws)-7, 0))) AS t(i)
), b AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0 AND doc_id < 100000
), h AS (
  SELECT g.doc_id, count(*) AS n_hits FROM g JOIN b USING (gram)
  GROUP BY g.doc_id
), cont AS (
  SELECT ws.doc_id, (coalesce(h.n_hits, 0) > 0) AS contaminated
  FROM ws LEFT JOIN h USING (doc_id)
)
SELECT dup.doc_id,
       dup.quality::INT AS quality,
       coalesce(dup.duplicate, FALSE)::INT AS duplicate,
       cont.contaminated::INT AS contaminated,
       (dup.quality AND NOT coalesce(dup.duplicate, FALSE)
        AND NOT cont.contaminated)::INT AS keep,
       CASE WHEN NOT dup.quality THEN 'quality'
            WHEN coalesce(dup.duplicate, FALSE) THEN 'duplicate'
            WHEN cont.contaminated THEN 'contaminated'
            ELSE '' END AS reason
FROM dup JOIN cont USING (doc_id) ORDER BY dup.doc_id"""

    # per-field analysis: the title CTE block minus its stop filter
    # (the no-stopwords title chain), conjoined with the standard text
    # score — the q_multifield shape over the re-analyzed field
    sql["q_perfield_topk"] = _PRELUDE + _TITLE_CTES.replace(
        f"WHERE term NOT IN ({_STOPLIST})", "") + """
SELECT a.doc_id, ROUND(a.s + b.s, 4) AS score
FROM tsc a JOIN sc b USING (doc_id)
WHERE a.term = 'the' AND b.term = 'merge'
ORDER BY a.s + b.s DESC, a.doc_id LIMIT 10"""

    # all WALKS of length <= 8 from node 1 (a shortest walk is simple,
    # so min-length walks == all shortest paths); ~2^8 rows total
    sql["q_shortest_path"] = """
WITH RECURSIVE e AS (
  SELECT doc_id AS src, (doc_id * 2 + 1) % 1000 AS dst
  FROM documents WHERE doc_id < 1000
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % 1000
  FROM documents WHERE doc_id < 1000
), walk(node, path, depth) AS (
  SELECT 1::BIGINT, '1', 0
  UNION ALL
  SELECT e.dst, walk.path || '->' || e.dst::VARCHAR, walk.depth + 1
  FROM walk JOIN e ON e.src = walk.node
  WHERE walk.depth < 8
)
SELECT DISTINCT path FROM walk
WHERE node = 777
  AND depth = (SELECT min(depth) FROM walk WHERE node = 777)
ORDER BY path"""

    sql["q_edge_ngram_terms"] = """
WITH t AS (
  SELECT regexp_extract_all(text, '[a-z0-9]+')[1] AS tok FROM documents
), g AS (
  SELECT unnest(list_transform(range(2, least(4, length(tok)) + 1),
                               g -> substring(tok, 1, g))) AS gram
  FROM t WHERE length(tok) >= 2
)
SELECT gram, count(*)::BIGINT AS cnt FROM g
GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20"""

    _cw = "['a','and','in','of','the','to']"
    sql["q_common_grams"] = f"""
WITH t AS (
  SELECT list_slice(regexp_extract_all(text, '[a-z0-9]+'), 1, 6) AS toks
  FROM documents
), u AS (
  SELECT unnest(flatten(list_transform(range(1, len(toks) + 1), i ->
    CASE WHEN i < len(toks)
          AND (list_contains({_cw}, toks[i])
               OR list_contains({_cw}, toks[i + 1]))
         THEN [toks[i], toks[i] || '_' || toks[i + 1]]
         ELSE [toks[i]] END))) AS term
  FROM t
)
SELECT term, count(*)::BIGINT AS cnt FROM u
GROUP BY term ORDER BY cnt DESC, term LIMIT 20"""

    sql["q_fingerprint_filter"] = """
WITH t AS (
  SELECT lang,
         list_slice(regexp_extract_all(text, '[a-z0-9]+'), 1, 8) AS toks
  FROM documents
), f AS (
  SELECT lang,
         CASE WHEN len(toks) >= 1
              THEN array_to_string(list_sort(list_distinct(toks)), ' ')
         END AS fp
  FROM t
)
SELECT lang, count(DISTINCT fp)::BIGINT AS n_fp, count(fp)::BIGINT AS n_docs
FROM f GROUP BY lang ORDER BY lang"""

    sql.update(_pipeline_oracle_sql())
    return sql


# ---------------------------------------------------------------------------
# pipeline oracle SQL (md5-derived hashing — identical bits in both engines)
# ---------------------------------------------------------------------------

# shingle prelude: tokens → distinct 3-gram shingles → 31-bit shingle hash
_P2 = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts FROM documents
), sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
  FROM tok, unnest(range(1, len(ts) - 1)) AS t(i)
), shh AS (
  SELECT doc_id, {md5h60_sql('s')} % {P31} AS h31 FROM sh
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id
)
"""

_MH_COLS = ",\n  ".join(f"min({perm_sql('h31', j)}) AS mh{j}"
                        for j in range(16))
_BANDS = "\n  UNION ALL\n  ".join(
    f"SELECT doc_id, {b} AS band, concat_ws('_', mh{4*b}, mh{4*b+1}, "
    f"mh{4*b+2}, mh{4*b+3}) AS sig FROM mh" for b in range(4))

_MINHASH_CTES = f""", mh AS (
  SELECT doc_id, {_MH_COLS} FROM shh GROUP BY doc_id
), bands AS (
  {_BANDS}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
), jac AS (
  SELECT i.doc_a, i.doc_b, i.inter / (sa.n + sb.n - i.inter) AS j
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
               JOIN sizes sb ON sb.doc_id = i.doc_b
)"""

_V_COLS = ",\n  ".join(
    f"sum(freq * (((h >> {k}) & 1) * 2 - 1)) AS v{k}" for k in range(32))
_SIG_SUM = " + ".join(
    f"(CASE WHEN v{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(32))

_SIMHASH_CTES = f""", tf2 AS (
  SELECT doc_id, term, count(*)::BIGINT AS freq
  FROM (SELECT doc_id, unnest(ts) AS term FROM tok) GROUP BY doc_id, term
), th AS (
  SELECT doc_id, freq, {md5h60_sql('term')} AS h FROM tf2
), votes AS (
  SELECT doc_id, {_V_COLS} FROM th GROUP BY doc_id
), ssig AS (
  SELECT doc_id, CAST({_SIG_SUM} AS BIGINT) AS simhash FROM votes
)"""

_COS_E = ("list_dot_product(e.embedding::DOUBLE[], q.qv) / "
          "(sqrt(list_dot_product(e.embedding::DOUBLE[], "
          "e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)))")


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in sorted(words)) + "]"


def _pipeline_oracle_sql() -> dict[str, str]:
    sql = {}

    sql["q_dedup_exact"] = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20
), fp AS (
  SELECT doc_id, md5(text) AS f FROM all_docs
), canon AS (
  SELECT f, min(doc_id) AS canonical_id FROM fp GROUP BY f
)
SELECT fp.doc_id, canon.canonical_id
FROM fp JOIN canon ON fp.f = canon.f
WHERE fp.doc_id <> canon.canonical_id ORDER BY fp.doc_id"""

    sql["q_dedup_minhash"] = _P2 + _MINHASH_CTES + """
SELECT doc_a, doc_b, ROUND(j, 4) AS jaccard
FROM jac WHERE j >= 0.8 ORDER BY doc_a, doc_b"""

    sql["q_minhash_sigs"] = _P2 + f""", mh AS (
  SELECT doc_id, {_MH_COLS} FROM shh GROUP BY doc_id
)
SELECT doc_id, mh0, mh1, mh2, mh3 FROM mh WHERE doc_id < 30
ORDER BY doc_id"""

    sql["q_minhash_query"] = _P2 + f""", mh AS (
  SELECT doc_id, {_MH_COLS} FROM shh GROUP BY doc_id
), qmh AS (
  SELECT * FROM mh WHERE doc_id = 133
)
SELECT mh.doc_id, ROUND(((CASE WHEN mh.mh0 = qmh.mh0 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh1 = qmh.mh1 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh2 = qmh.mh2 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh3 = qmh.mh3 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh4 = qmh.mh4 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh5 = qmh.mh5 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh6 = qmh.mh6 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh7 = qmh.mh7 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh8 = qmh.mh8 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh9 = qmh.mh9 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh10 = qmh.mh10 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh11 = qmh.mh11 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh12 = qmh.mh12 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh13 = qmh.mh13 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh14 = qmh.mh14 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh15 = qmh.mh15 THEN 1 ELSE 0 END)) / 16.0, 4) AS est_jaccard
FROM mh CROSS JOIN qmh
WHERE ((CASE WHEN mh.mh0 = qmh.mh0 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh1 = qmh.mh1 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh2 = qmh.mh2 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh3 = qmh.mh3 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh4 = qmh.mh4 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh5 = qmh.mh5 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh6 = qmh.mh6 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh7 = qmh.mh7 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh8 = qmh.mh8 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh9 = qmh.mh9 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh10 = qmh.mh10 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh11 = qmh.mh11 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh12 = qmh.mh12 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh13 = qmh.mh13 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh14 = qmh.mh14 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh15 = qmh.mh15 THEN 1 ELSE 0 END)) / 16.0 >= 1.0 / 16
ORDER BY ((CASE WHEN mh.mh0 = qmh.mh0 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh1 = qmh.mh1 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh2 = qmh.mh2 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh3 = qmh.mh3 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh4 = qmh.mh4 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh5 = qmh.mh5 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh6 = qmh.mh6 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh7 = qmh.mh7 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh8 = qmh.mh8 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh9 = qmh.mh9 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh10 = qmh.mh10 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh11 = qmh.mh11 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh12 = qmh.mh12 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh13 = qmh.mh13 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh14 = qmh.mh14 THEN 1 ELSE 0 END) + (CASE WHEN mh.mh15 = qmh.mh15 THEN 1 ELSE 0 END)) / 16.0 DESC, mh.doc_id LIMIT 10"""

    sql["q_dedup_simhash"] = _P2 + _SIMHASH_CTES + """
, sbands AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * 8)) & 255 AS key
  FROM ssig, (SELECT unnest([0, 1, 2, 3]) AS band) b
), scand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM sbands a JOIN sbands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM scand WHERE bit_count(xor(sig_a, sig_b)) <= 1 ORDER BY doc_a, doc_b"""

    sql["q_simhash_sigs"] = _P2 + _SIMHASH_CTES + """
SELECT doc_id, simhash FROM ssig WHERE doc_id < 30 ORDER BY doc_id"""

    # prefix filter: candidates only from shingles in <= 100 docs, then
    # EXACT Jaccard on the full shingle sets (the engine's df_cutoff path)
    sql["q_dedup_ngram"] = _P2 + """, rare AS (
  SELECT s FROM sh GROUP BY s HAVING count(*) <= 100
), shr AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
), inter2 AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, ROUND(inter / (sa.n + sb.n - inter), 4) AS jaccard
FROM inter2 JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.n + sb.n - inter) >= 0.8 ORDER BY doc_a, doc_b"""

    sql["q_ann_cosine_topk"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, ROUND({_COS_E}, 4) AS cos
FROM embeddings e CROSS JOIN q
ORDER BY {_COS_E} DESC, e.vec_id LIMIT 10"""

    sql["q_ann_ivf_topk"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seed AS (SELECT vec_id AS cell, v AS cvec FROM e WHERE vec_id < 8),
s1 AS (
  SELECT e.vec_id, s.cell,
    list_dot_product(e.v, s.cvec) /
      (sqrt(list_dot_product(e.v, e.v)) *
       sqrt(list_dot_product(s.cvec, s.cvec))) AS ccos
  FROM e CROSS JOIN seed s
), a1 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
    FROM s1) WHERE rn = 1
), memb AS (
  SELECT a1.cell, e.v FROM a1 JOIN e USING (vec_id)
), mexp AS (
  SELECT cell, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS x
  FROM memb
), mm AS (
  SELECT cell, pos, avg(x) AS m FROM mexp GROUP BY cell, pos
), cent2 AS (
  SELECT s.cell,
    CASE WHEN count(mm.m) = 0 THEN s.cvec
         ELSE list(mm.m ORDER BY mm.pos) END AS cvec
  FROM seed s LEFT JOIN mm ON mm.cell = s.cell
  GROUP BY s.cell, s.cvec
), s2 AS (
  SELECT e.vec_id, c.cell,
    list_dot_product(e.v, c.cvec) /
      (sqrt(list_dot_product(e.v, e.v)) *
       sqrt(list_dot_product(c.cvec, c.cvec))) AS ccos
  FROM e CROSS JOIN cent2 c
), a2 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
    FROM s2) WHERE rn = 1
), probe AS (
  SELECT cell FROM (
    SELECT c.cell, row_number() OVER (
      ORDER BY list_dot_product(c.cvec, q.qv) /
        (sqrt(list_dot_product(c.cvec, c.cvec)) *
         sqrt(list_dot_product(q.qv, q.qv))) DESC, c.cell) AS rn
    FROM cent2 c CROSS JOIN q) WHERE rn <= 2
)
SELECT e.vec_id, ROUND({_COS_E}, 4) AS cos
FROM embeddings e CROSS JOIN q
JOIN a2 ON a2.vec_id = e.vec_id JOIN probe ON probe.cell = a2.cell
ORDER BY {_COS_E} DESC, e.vec_id LIMIT 10"""

    # SQ8 two-stage ANN: per-dim min/max codebook -> int8 quantize ->
    # approx-cosine top-100 over DEQUANTIZED values -> exact re-rank.
    # round() is half-away-from-zero in both engines on the
    # non-negative inputs here, so candidate sets agree bit-for-bit.
    sql["q_ann_sq8_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
dims AS (
  SELECT i, min(x) AS mn, max(x) AS mx FROM (
    SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e)
  GROUP BY i),
dq AS (
  SELECT e.vec_id,
         list(CASE WHEN d.mx = d.mn THEN d.mn
              ELSE d.mn + (round(((e.v[d.i] - d.mn) / (d.mx - d.mn))
                                 * 255) / 255.0) * (d.mx - d.mn)
              END ORDER BY d.i) AS dv
  FROM e JOIN dims d ON true GROUP BY e.vec_id),
dqq AS (
  SELECT list(CASE WHEN d.mx = d.mn THEN d.mn
              ELSE d.mn + (round(((q.qv[d.i] - d.mn) / (d.mx - d.mn))
                                 * 255) / 255.0) * (d.mx - d.mn)
              END ORDER BY d.i) AS dv
  FROM q JOIN dims d ON true),
cand AS (
  SELECT dq.vec_id
  FROM dq CROSS JOIN dqq
  ORDER BY list_dot_product(dq.dv, dqq.dv) /
           (sqrt(list_dot_product(dq.dv, dq.dv)) *
            sqrt(list_dot_product(dqq.dv, dqq.dv))) DESC, dq.vec_id
  LIMIT 100)
SELECT e.vec_id,
       ROUND(list_dot_product(e.v, q.qv) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos
FROM e JOIN cand USING (vec_id) CROSS JOIN q
ORDER BY list_dot_product(e.v, q.qv) /
         (sqrt(list_dot_product(e.v, e.v)) *
          sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id
LIMIT 10"""

    # PQ ADC pipeline reproduced end-to-end: seeds = vec_id 1..16; 16
    # subspaces of 4 dims; per-subspace code = argmin(-2 x·c + |c|²)
    # (the |x|²-free form the Spark kernel uses — identical expression,
    # identical tie-break toward lower cid); approx cosine from the ADC
    # tables; top-100 candidates; exact re-rank. Matches
    # sim.pq_topk(m=16, n_centroids=16, candidates=100).
    sql["q_ann_pq_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
seeds AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 16),
sl AS (SELECT j, j*4+1 AS a, j*4+4 AS b
       FROM (SELECT unnest(range(16)) AS j)),
dist AS (
  SELECT e.vec_id, sl.j, s.cid,
         -2*list_dot_product(e.v[sl.a:sl.b], s.cv[sl.a:sl.b])
         + list_dot_product(s.cv[sl.a:sl.b], s.cv[sl.a:sl.b]) AS d2
  FROM e CROSS JOIN sl CROSS JOIN seeds s),
code AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d2, cid) AS rn
    FROM dist) WHERE rn = 1),
adc AS (
  SELECT sl.j, s.cid,
         list_dot_product(q.qv[sl.a:sl.b], s.cv[sl.a:sl.b]) AS dot,
         list_dot_product(s.cv[sl.a:sl.b], s.cv[sl.a:sl.b]) AS n2
  FROM sl CROSS JOIN seeds s CROSS JOIN q),
qn AS (SELECT sqrt(list_dot_product(qv, qv)) AS qn FROM q),
ap AS (
  SELECT c.vec_id, sum(a.dot) AS dot, sum(a.n2) AS n2
  FROM code c JOIN adc a ON a.j = c.j AND a.cid = c.cid
  GROUP BY c.vec_id),
cand AS (
  SELECT ap.vec_id FROM ap CROSS JOIN qn
  ORDER BY CASE WHEN sqrt(ap.n2) * qn.qn = 0 THEN 0
           ELSE ap.dot / (sqrt(ap.n2) * qn.qn) END DESC, ap.vec_id
  LIMIT 100)
SELECT e.vec_id,
       ROUND(list_dot_product(e.v, q.qv) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos
FROM e JOIN cand USING (vec_id) CROSS JOIN q
ORDER BY list_dot_product(e.v, q.qv) /
         (sqrt(list_dot_product(e.v, e.v)) *
          sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id
LIMIT 10"""

    # SemDeDup replayed end to end: same seed centroids / max-cosine
    # assignment as the IVF oracle, within-cell pairs, recursive-CTE
    # connected components (the q_dedup_components pattern), and the
    # paper's keep rule (min centroid-cosine, ties -> lower id).
    sql["q_semdedup"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
cc AS (
  SELECT e.vec_id, c.cell,
         list_dot_product(e.v, c.cv) /
         (sqrt(list_dot_product(e.v, e.v)) *
          sqrt(list_dot_product(c.cv, c.cv))) AS ccos
  FROM e CROSS JOIN cents c),
asg AS (
  SELECT vec_id, cell, ccos FROM (
    SELECT vec_id, cell, ccos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cell) AS rn
    FROM cc) WHERE rn = 1),
prs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_dot_product(ea.v, eb.v) /
        (sqrt(list_dot_product(ea.v, ea.v)) *
         sqrt(list_dot_product(eb.v, eb.v))) >= 0.4),
edges AS (
  SELECT doc_a AS u, doc_b AS w FROM prs
  UNION ALL SELECT doc_b AS u, doc_a AS w FROM prs),
nodes AS (SELECT DISTINCT u AS id FROM edges),
lab AS (
  WITH RECURSIVE walk(src, id) AS (
    SELECT id AS src, id FROM nodes
    UNION
    SELECT wk.src, ed.w FROM walk wk JOIN edges ed ON ed.u = wk.id
  )
  SELECT src AS id, MIN(id) AS component FROM walk GROUP BY src
),
reps AS (
  SELECT component, id AS rep FROM (
    SELECT l.component, l.id,
           row_number() OVER (PARTITION BY l.component
                              ORDER BY a.ccos, l.id) AS rn
    FROM lab l JOIN asg a ON a.vec_id = l.id) WHERE rn = 1)
SELECT a.vec_id, a.cell::INT AS cell,
       COALESCE(r.rep, a.vec_id) AS canonical_id,
       COALESCE(r.rep, a.vec_id) = a.vec_id AS keep
FROM asg a
LEFT JOIN lab l ON l.id = a.vec_id
LEFT JOIN reps r ON r.component = l.component
ORDER BY a.vec_id"""

    sql["q_embed_neardup"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  ROUND(list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) *
     sqrt(list_dot_product(b.v, b.v))), 4) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
  (sqrt(list_dot_product(a.v, a.v)) *
   sqrt(list_dot_product(b.v, b.v))) >= 0.45
ORDER BY vec_a, vec_b"""

    sql["q_embed_neardup_lsh"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT vec_id - 1 AS pid, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
bits AS (
  SELECT e.vec_id, p.pid,
    CASE WHEN list_dot_product(e.v, p.pv) > 0 THEN 1 ELSE 0 END AS bit
  FROM e CROSS JOIN p
), bk AS (
  SELECT vec_id, CAST(SUM(bit * (2 ** pid)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id
), wb AS (
  SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id)
)
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
  ROUND(list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) *
     sqrt(list_dot_product(b.v, b.v))), 4) AS cos
FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
  (sqrt(list_dot_product(a.v, a.v)) *
   sqrt(list_dot_product(b.v, b.v))) >= 0.45
ORDER BY vec_a, vec_b"""

    en, de = _sql_list(ENGLISH_STOP_WORDS), _sql_list(DE_STOP_WORDS)
    sql["q_script_profile"] = """
WITH sp AS (
  SELECT doc_id,
    (length(text) - length(regexp_replace(text, '\\p{Latin}', '', 'g')))::BIGINT AS latin,
    (length(text) - length(regexp_replace(text, '\\p{Cyrillic}', '', 'g')))::BIGINT AS cyrillic,
    (length(text) - length(regexp_replace(text, '\\p{Arabic}', '', 'g')))::BIGINT AS arabic,
    (length(text) - length(regexp_replace(text, '\\p{Devanagari}', '', 'g')))::BIGINT AS devanagari,
    (length(text) - length(regexp_replace(text, '\\p{Han}', '', 'g')))::BIGINT AS han,
    (length(text) - length(regexp_replace(text, '\\p{Hangul}', '', 'g')))::BIGINT AS hangul,
    (length(text) - length(regexp_replace(text, '\\p{Greek}', '', 'g')))::BIGINT AS greek,
    (length(text) - length(regexp_replace(text, '\\p{L}', '', 'g')))::BIGINT AS letters
  FROM documents WHERE doc_id < 200
), mx AS (
  SELECT *, greatest(latin, cyrillic, arabic, devanagari, han, hangul, greek) AS m,
    (latin = greatest(latin, cyrillic, arabic, devanagari, han, hangul, greek))::INT
    + (cyrillic = greatest(latin, cyrillic, arabic, devanagari, han, hangul, greek))::INT
    + (arabic = greatest(latin, cyrillic, arabic, devanagari, han, hangul, greek))::INT
    + (devanagari = greatest(latin, cyrillic, arabic, devanagari, han, hangul, greek))::INT
    + (han = greatest(latin, cyrillic, arabic, devanagari, han, hangul, greek))::INT
    + (hangul = greatest(latin, cyrillic, arabic, devanagari, han, hangul, greek))::INT
    + (greek = greatest(latin, cyrillic, arabic, devanagari, han, hangul, greek))::INT AS ties
  FROM sp
)
SELECT doc_id, latin, cyrillic, arabic, devanagari, han, hangul, greek, letters,
  CASE WHEN m = 0 OR ties > 1 THEN 'und'
       WHEN latin = m THEN 'latin' WHEN cyrillic = m THEN 'cyrillic'
       WHEN arabic = m THEN 'arabic' WHEN devanagari = m THEN 'devanagari'
       WHEN han = m THEN 'han' WHEN hangul = m THEN 'hangul'
       ELSE 'greek' END AS dominant
FROM mx ORDER BY doc_id"""

    sql["q_lang_id"] = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts FROM documents
), hits AS (
  SELECT doc_id, len(ts)::BIGINT AS n_tokens,
    len(list_filter(ts, t -> list_contains({en}, t)))::BIGINT AS en_hits,
    len(list_filter(ts, t -> list_contains({de}, t)))::BIGINT AS de_hits
  FROM tok
)
SELECT doc_id, n_tokens, en_hits, de_hits,
  CASE WHEN en_hits > de_hits THEN 'en'
       WHEN de_hits > en_hits THEN 'de' ELSE 'und' END AS pred_lang
FROM hits WHERE doc_id < 100 ORDER BY doc_id"""

    sql["q_quality_score"] = f"""
WITH t AS (
  SELECT doc_id, text, regexp_extract_all(text, '[a-z0-9]+') AS ts
  FROM documents
), s AS (
  SELECT doc_id, length(text)::BIGINT AS n_chars, len(ts)::BIGINT AS n_tokens,
    len(list_filter(ts, x -> list_contains({en}, x))) /
      greatest(len(ts), 1) AS stop_ratio,
    coalesce(list_sum(list_transform(ts, x -> length(x))), 0) /
      greatest(len(ts), 1) AS mean_token_len
  FROM t
)
SELECT doc_id, n_chars, n_tokens,
  ROUND(stop_ratio, 4) AS stop_ratio,
  ROUND(mean_token_len, 4) AS mean_token_len,
  ROUND(((n_tokens >= 20)::INT +
         (stop_ratio >= 0.05 AND stop_ratio <= 0.6)::INT +
         (mean_token_len >= 3.0 AND mean_token_len <= 10.0)::INT) / 3.0,
        4) AS quality
FROM s WHERE doc_id < 100 ORDER BY doc_id"""

    sql["q_token_counts"] = r"""
SELECT doc_id,
  len(string_split_regex(trim(text), '\s+'))::BIGINT AS ws_tokens,
  len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]+'))::BIGINT AS re_tokens
FROM documents WHERE doc_id < 100 ORDER BY doc_id"""

    sql["q_fingerprint"] = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts FROM documents
)
SELECT doc_id, list_reduce(
  list_prepend(CAST(0 AS BIGINT),
               list_transform(ts, t -> {md5h60_sql('t')} % {P31})),
  (acc, x) -> (acc * {FP_BASE} + x) % {P31}) AS fp
FROM tok WHERE doc_id < 100 ORDER BY doc_id"""

    sql["q_image_meta"] = f"""
WITH h AS (
  SELECT doc_id, text,
    {md5h60_sql('text')} AS hv
  FROM documents WHERE doc_id < 100
)
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
  substr(hex(encode(text)), 1, 16) AS prefix_hex,
  (16 + hv % 1024)::BIGINT AS fake_width,
  (16 + (hv // 1024) % 1024)::BIGINT AS fake_height,
  (1 + hv % 3)::BIGINT AS fake_channels
FROM h ORDER BY doc_id"""

    # --- round-4 session-3 additions ---
    sql["q_leading_wildcard_topk"] = _PRELUDE + """
, sel AS (
  SELECT term FROM dfreq WHERE term LIKE '%ge'
  ORDER BY df DESC, term LIMIT 8)
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM sc WHERE term IN (SELECT term FROM sel)
GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10"""

    sql["q_ascii_fold_topk"] = _PRELUDE + """
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM sc WHERE term IN ('fast', 'merge')
GROUP BY doc_id ORDER BY SUM(s) DESC, doc_id LIMIT 10"""

    sql["q_word_delimiter_terms"] = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts FROM documents
), s AS (
  SELECT upper(substring(ts[1],1,1)) || substring(ts[1],2)
      || upper(substring(ts[2],1,1)) || substring(ts[2],2)
      || (doc_id % 100)::VARCHAR AS synth
  FROM t WHERE len(ts) >= 2
), r AS (
  SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(synth,
    '([A-Z])([A-Z][a-z])', '\1 \2', 'g'),
    '([a-z])([A-Z])', '\1 \2', 'g'),
    '([A-Za-z])([0-9])', '\1 \2', 'g'),
    '([0-9])([A-Za-z])', '\1 \2', 'g') AS spaced
  FROM s
), e AS (
  SELECT lower(unnest(string_split(spaced, ' '))) AS term FROM r
)
SELECT term, count(*)::BIGINT AS cnt FROM e WHERE term <> ''
GROUP BY term ORDER BY cnt DESC, term LIMIT 20"""

    sql["q_facet_grouped"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tokf WHERE term = 'merge')
SELECT d.lang AS value, count(DISTINCT d.source)::BIGINT AS count
FROM documents d JOIN m USING (doc_id)
GROUP BY d.lang ORDER BY 2 DESC, 1"""

    sql["q_facet_nested"] = """
WITH base AS (
  SELECT lang AS outer_val, source AS inner_val,
         count(*)::BIGINT AS count, sum(n_chars)::BIGINT AS metric
  FROM documents GROUP BY 1, 2
), tot AS (
  SELECT outer_val, sum(count)::BIGINT AS outer_count FROM base GROUP BY 1
), topo AS (
  SELECT outer_val, outer_count,
         row_number() OVER (ORDER BY outer_count DESC, outer_val)::INT
           AS outer_rank
  FROM tot
), x AS (
  SELECT b.outer_val, t.outer_count, b.inner_val, b.count, b.metric,
         t.outer_rank,
         row_number() OVER (PARTITION BY b.outer_val
                            ORDER BY b.metric DESC, b.inner_val)::INT
           AS inner_rank
  FROM base b JOIN topo t USING (outer_val) WHERE t.outer_rank <= 3
)
SELECT outer_val, outer_count, inner_val, count, metric,
       outer_rank, inner_rank
FROM x WHERE inner_rank <= 2 ORDER BY outer_rank, inner_rank"""

    sql["q_sample_stratified"] = """
WITH f AS (
  SELECT *, (('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT)::DOUBLE
            / 4294967296.0 AS frac
  FROM documents
), k AS (
  SELECT * FROM f
  WHERE frac < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                         ELSE 0.1 END
)
SELECT lang, count(*)::BIGINT AS kept, sum(n_chars)::BIGINT AS sum_chars
FROM k GROUP BY lang ORDER BY lang"""

    sql["q_export_sorted"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tokf WHERE term = 'merge')
SELECT d.doc_id, d.n_chars::BIGINT AS n_chars
FROM documents d JOIN m USING (doc_id)
ORDER BY n_chars DESC, doc_id"""

    sql["q_pack_sequences"] = """
WITH d AS (
  SELECT doc_id,
    (('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8)::INT
      AS shard,
    ('0x' || substring(md5(doc_id::VARCHAR), 9, 8))::BIGINT AS ord_key,
    len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tok,
    sum(n_tok) OVER (PARTITION BY shard ORDER BY ord_key, doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, shard, n_tok, (cum - n_tok)::BIGINT AS start_off,
  ((cum - n_tok) // 256)::BIGINT AS first_bin,
  greatest((cum - n_tok) // 256, (cum - 1) // 256)::BIGINT AS last_bin
FROM c WHERE doc_id < 300 ORDER BY doc_id"""

    sql["q_phonetic_terms"] = r"""
WITH t AS (
  SELECT doc_id, (regexp_extract_all(text, '[a-z0-9]+'))[1] AS tok
  FROM documents
), x AS (
  SELECT doc_id, regexp_replace(lower(tok), '[^a-z]', '', 'g') AS x
  FROM t WHERE tok IS NOT NULL
), y AS (
  SELECT doc_id, x,
    substring(x, 1, 1) ||
      regexp_replace(substring(x, 2), '[hw]', '', 'g') AS y0
  FROM x WHERE x <> ''
), m AS (
  SELECT doc_id, x,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(y0,
      '[bfpv]', '1', 'g'), '[cgjkqsxz]', '2', 'g'), '[dt]', '3', 'g'),
      '[l]', '4', 'g'), '[mn]', '5', 'g'), '[r]', '6', 'g'),
      '[aeiouy]', '0', 'g') AS y1
  FROM y
), c AS (
  SELECT doc_id, x,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(y1,
      '0{2,}', '0', 'g'), '1{2,}', '1', 'g'), '2{2,}', '2', 'g'),
      '3{2,}', '3', 'g'), '4{2,}', '4', 'g'), '5{2,}', '5', 'g'),
      '6{2,}', '6', 'g') AS y2
  FROM m
), d AS (
  SELECT upper(substring(x, 1, 1)) ||
         substring(replace(substring(y2, 2), '0', '') || '000', 1, 3)
           AS code
  FROM c
)
SELECT code, count(*)::BIGINT AS cnt FROM d
GROUP BY code ORDER BY cnt DESC, code LIMIT 15"""

    # frange: function-value range FILTER over merge hits; scores untouched
    sql["q_frange_topk"] = _PRELUDE + """
SELECT sc.doc_id, ROUND(sc.s, 4) AS score
FROM sc JOIN documents d ON sc.doc_id = d.doc_id
WHERE sc.term = 'merge'
  AND d.n_chars / 100.0 >= 2.0 AND d.n_chars / 100.0 <= 6.0
ORDER BY sc.s DESC, sc.doc_id LIMIT 10"""

    # StatsComponent: one tuple; stddev per StatsValuesFactory.java:600
    sql["q_stats_field"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
, v AS (SELECT d.n_chars::DOUBLE AS x FROM documents d JOIN m USING (doc_id))
SELECT count(x)::BIGINT AS count,
       sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END)::BIGINT AS missing,
       min(x) AS min, max(x) AS max,
       ROUND(sum(x), 4) AS sum,
       ROUND(sum(x * x), 4) AS "sumOfSquares",
       ROUND(sum(x) / count(x), 4) AS mean,
       ROUND(CASE WHEN count(x) <= 1 THEN 0.0 ELSE
         sqrt((count(x) * sum(x * x) - sum(x) * sum(x))
              / (count(x) * (count(x) - 1.0))) END, 4) AS stddev
FROM v"""

    # DiversifiedTopDocsCollector: rank-within-key <= cap, then global k
    sql["q_diversified_topk"] = _PRELUDE + """
, hits AS (SELECT doc_id, SUM(s) AS s FROM sc
           WHERE term IN ('merge', 'table') GROUP BY doc_id)
, r AS (
  SELECT h.doc_id, h.s, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY h.s DESC, h.doc_id) AS rn
  FROM hits h JOIN documents d USING (doc_id))
SELECT doc_id, lang AS "key", ROUND(s, 4) AS score FROM r WHERE rn <= 1
ORDER BY s DESC, doc_id LIMIT 5"""

    # date range facet: weekly date-math ladder, empty buckets kept.
    # generate_series restates the ladder independently (fixed 7-day gap)
    sql["q_facet_date_range"] = """
WITH b AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                TIMESTAMP '2024-01-29',
                                INTERVAL 7 DAY)) AS lo)
SELECT strftime(b.lo, '%Y-%m-%dT%H:%M:%SZ') AS bucket,
       count(e.ts)::BIGINT AS count
FROM b LEFT JOIN events e
  ON e.ts >= b.lo AND e.ts < b.lo + INTERVAL 7 DAY
 AND e.event_type = 'click'
GROUP BY b.lo ORDER BY b.lo"""

    sql["q_stream_timeseries"] = """
WITH b AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                TIMESTAMP '2024-01-29',
                                INTERVAL 7 DAY)) AS lo)
SELECT strftime(b.lo, '%Y-%m-%dT%H:%M:%SZ') AS bucket,
       count(e.ts)::BIGINT AS cnt,
       ROUND(sum(e.value), 4) AS sum_v,
       ROUND(avg(e.value), 4) AS avg_v
FROM b LEFT JOIN events e
  ON e.ts >= b.lo AND e.ts < b.lo + INTERVAL 7 DAY
GROUP BY b.lo ORDER BY b.lo"""

    # sampled facets: deterministic md5 half-sample, amortized by 1/rate
    sql["q_facet_sampled"] = _PRELUDE + """
, m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'table')
, samp AS (
  SELECT d.doc_id, d.lang
  FROM documents d JOIN m USING (doc_id)
  WHERE (('0x' || substring(md5('7|' || d.doc_id::VARCHAR), 1, 8))::BIGINT)
          ::DOUBLE / 4294967296.0 < 0.5)
SELECT lang AS value, count(*)::BIGINT AS sampled_count,
       ROUND(count(*) / 0.5, 4) AS estimate
FROM samp GROUP BY lang
ORDER BY estimate DESC, value"""

    # gatherNodes two-hop walk; trackTraversal = EXCEPT prior levels
    sql["q_graph_nodes"] = """
WITH roots AS (
  SELECT DISTINCT c_custkey::VARCHAR AS node FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000),
l1 AS (
  SELECT DISTINCT o.o_orderkey::VARCHAR AS node
  FROM orders o JOIN roots r ON o.o_custkey::VARCHAR = r.node),
l1v AS (SELECT node FROM l1 EXCEPT SELECT node FROM roots),
l2 AS (
  SELECT DISTINCT l.l_partkey::VARCHAR AS node
  FROM lineitem l JOIN l1v ON l.l_orderkey::VARCHAR = l1v.node),
leaves AS (
  SELECT node FROM l2
  EXCEPT (SELECT node FROM roots UNION SELECT node FROM l1v))
SELECT node::BIGINT AS part, 2 AS level FROM leaves ORDER BY part"""

    # TextProfileSignature: quant profile, count-desc/token-asc lines
    sql["q_text_profile_dedup"] = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
         AS term
  FROM documents
), kept AS (
  SELECT doc_id, term FROM tok WHERE length(term) > 2
), tpf AS (
  SELECT doc_id, term, count(*)::BIGINT AS cnt
  FROM kept GROUP BY doc_id, term
), mx AS (
  SELECT doc_id, max(cnt) AS maxf FROM tpf GROUP BY doc_id
), qq AS (
  SELECT doc_id,
         CASE WHEN round(maxf * 0.01) >= 2 THEN round(maxf * 0.01)::BIGINT
              WHEN maxf > 1 THEN 2 ELSE 1 END AS quant
  FROM mx
), prof AS (
  SELECT t.doc_id, t.term,
         CAST(floor(t.cnt / q.quant) AS BIGINT) * q.quant AS qcnt, q.quant
  FROM tpf t JOIN qq q USING (doc_id)
  WHERE CAST(floor(t.cnt / q.quant) AS BIGINT) * q.quant >= q.quant
), body AS (
  SELECT doc_id,
         string_agg(term || ' ' || qcnt, chr(10)
                    ORDER BY qcnt DESC, term) AS b
  FROM prof GROUP BY doc_id)
SELECT d.doc_id, md5(coalesce(body.b, '')) AS signature
FROM documents d LEFT JOIN body USING (doc_id)
ORDER BY d.doc_id"""

    # unigram LM: p(t) = ttf/T over this corpus, bits = -mean log2 p
    sql["q_unigram_logprob"] = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
  FROM documents
), vocab AS (
  SELECT term, count(*)::DOUBLE AS ttf FROM tok GROUP BY term
), tot AS (SELECT sum(ttf) AS t FROM vocab
), sc2 AS (
  SELECT tk.doc_id, -log2(v.ttf / tot.t) AS bits
  FROM tok tk JOIN vocab v USING (term) CROSS JOIN tot
), pd AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, avg(bits) AS bits
  FROM sc2 GROUP BY doc_id)
SELECT d.doc_id, coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
       ROUND(pd.bits, 4) AS bits
FROM documents d LEFT JOIN pd USING (doc_id)
ORDER BY d.doc_id"""

    # cross-corpus dedup: same minhash/band CTEs over the whole table
    # (signatures are per-doc, so whole-corpus signing == per-side
    # signing), candidates restricted to new-side x ref-side
    sql["q_cross_dedup"] = _P2 + _MINHASH_CTES + """
, xc AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
), xinter AS (
  SELECT c.new_id, c.ref_id, count(*)::BIGINT AS inter
  FROM xc c JOIN sh a ON a.doc_id = c.new_id
            JOIN sh b ON b.doc_id = c.ref_id AND b.s = a.s
  GROUP BY c.new_id, c.ref_id
)
SELECT x.new_id, x.ref_id,
       ROUND(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard
FROM xc x JOIN xinter i USING (new_id, ref_id)
          JOIN sizes sa ON sa.doc_id = x.new_id
          JOIN sizes sb ON sb.doc_id = x.ref_id
WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.8
ORDER BY new_id, ref_id"""

    sql["q_bigram_logprob"] = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts
  FROM documents
), uni AS (
  SELECT unnest(ts) AS term FROM tok
), vocab AS (SELECT term, count(*)::DOUBLE AS ttf FROM uni GROUP BY term
), tot AS (SELECT sum(ttf) AS t FROM vocab
), bg AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        FROM tok WHERE len(ts) >= 2)
), pair AS (
  SELECT w1, w2, count(*)::DOUBLE AS c12 FROM bg GROUP BY w1, w2
), lft AS (SELECT w1, sum(c12) AS c1 FROM pair GROUP BY w1
), sc AS (
  SELECT b.doc_id,
    -log2(0.2 * (v.ttf / tot.t) + 0.8 * (p.c12 / l.c1)) AS bits
  FROM bg b JOIN pair p USING (w1, w2) JOIN lft l USING (w1)
            JOIN vocab v ON v.term = b.w2 CROSS JOIN tot
), pd AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams, avg(bits) AS bits
  FROM sc GROUP BY doc_id)
SELECT d.doc_id, coalesce(pd.n_bigrams, 0)::BIGINT AS n_bigrams,
       ROUND(pd.bits, 4) AS bits
FROM documents d LEFT JOIN pd USING (doc_id)
ORDER BY d.doc_id"""

    # CheckIndex: the corpus-comparable totals are recomputed from the
    # RAW documents through the identical analysis chain (tokenize →
    # stoplist → tf → df/ttf), proving index == corpus; the internal
    # consistency counters are pinned to 0 — any decode/dictionary/norms
    # drift in the engine breaks the hash match.
    sql["q_check_index"] = _PRELUDE + """
SELECT check_name, value FROM (
  SELECT 'doc_count' AS check_name, n::BIGINT AS value FROM stats
  UNION ALL SELECT 'distinct_terms', count(*)::BIGINT FROM dfreq
  UNION ALL SELECT 'sum_df', sum(df)::BIGINT FROM dfreq
  UNION ALL SELECT 'sum_ttf', sum(ttf)::BIGINT FROM dfreq
  UNION ALL SELECT 'bad_blocks', 0
  UNION ALL SELECT 'term_df_mismatches', 0
  UNION ALL SELECT 'term_ttf_mismatches', 0
  UNION ALL SELECT 'norms_ttf_delta', 0
  UNION ALL SELECT 'stats_delta', 0
) ORDER BY check_name"""

    # DSIR importance weights: identical md5 bucketing (hashing.md5h60),
    # add-1 smoothed log-ratio per bucket (target = lang='en'), per-doc
    # sum over hashed tokens; token-free docs pinned to 0
    sql["q_dsir_weights"] = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t
  FROM documents
), bk AS (
  SELECT doc_id, lang, {md5h60_sql('t')} % 64 AS b FROM tok
), counts AS (
  SELECT b, count(*)::BIGINT AS cr,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ct
  FROM bk GROUP BY b
), tot AS (SELECT sum(cr) AS r, sum(ct) AS t FROM counts
), lr AS (
  SELECT b, ln((ct + 1.0) / (t + 64)) - ln((cr + 1.0) / (r + 64)) AS logratio
  FROM counts CROSS JOIN tot
), w AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(logratio) AS weight
  FROM bk JOIN lr USING (b) GROUP BY doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(w.n_tokens, 0)::BIGINT AS n_tokens,
       ROUND(coalesce(w.weight, 0.0), 4) AS weight
FROM documents d LEFT JOIN w USING (doc_id)
ORDER BY doc_id"""

    # DSIR Gumbel-top-k selection: same weight pipeline, then
    # key = weight − ln(−ln(u)) with u = (md5h60(doc_id)+0.5)/2^60 —
    # identical md5 bits on both engines, top-50 keys
    sql["q_dsir_select"] = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t
  FROM documents
), bk AS (
  SELECT doc_id, lang, {md5h60_sql('t')} % 64 AS b FROM tok
), counts AS (
  SELECT b, count(*)::BIGINT AS cr,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ct
  FROM bk GROUP BY b
), tot AS (SELECT sum(cr) AS r, sum(ct) AS t FROM counts
), lr AS (
  SELECT b, ln((ct + 1.0) / (t + 64)) - ln((cr + 1.0) / (r + 64)) AS logratio
  FROM counts CROSS JOIN tot
), w AS (
  SELECT doc_id, sum(logratio) AS weight
  FROM bk JOIN lr USING (b) GROUP BY doc_id
), keyed AS (
  SELECT d.doc_id, coalesce(w.weight, 0.0)
    - ln(-ln(({md5h60_sql('CAST(d.doc_id AS VARCHAR)')} + 0.5)
             / 1152921504606846976.0)) AS gkey
  FROM documents d LEFT JOIN w USING (doc_id)
), sel AS (
  SELECT doc_id, gkey FROM keyed ORDER BY gkey DESC, doc_id LIMIT 50
)
SELECT doc_id::BIGINT AS doc_id, ROUND(gkey, 4) AS gkey
FROM sel ORDER BY doc_id"""

    # hybrid RRF: BM25('key') ranking from the shared analysis chain +
    # cosine ranking vs query vector 0 (vec_id ≡ doc_id), fused by
    # Σ 1/(60 + rank); ranks tie-break (score desc, doc_id asc) exactly
    # like the engine
    sql["q_hybrid_rrf_topk"] = _PRELUDE + f"""
, bm AS (
  SELECT doc_id, r FROM (
    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
    FROM sc WHERE term = 'key')
  WHERE r <= 50
), qc AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), an AS (
  SELECT doc_id, r FROM (
    SELECT e.vec_id AS doc_id,
           row_number() OVER (ORDER BY {_COS_E} DESC, e.vec_id) AS r
    FROM embeddings e CROSS JOIN qc q)
  WHERE r <= 50
), fused AS (
  SELECT doc_id, sum(1.0 / (60 + r)) AS rrf, count(*)::BIGINT AS n_lists
  FROM (SELECT * FROM bm UNION ALL SELECT * FROM an) GROUP BY doc_id
)
SELECT doc_id::BIGINT AS doc_id, ROUND(rrf, 4) AS rrf, n_lists
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10"""

    # text tagger: token-position restatement of every dictionary phrase
    # (overlap policy ALL — every start position counts)
    sql["q_text_tagger"] = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), pos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p FROM base
), tags AS (
  SELECT doc_id, 'tbl' AS tag FROM pos WHERE toks[p] = 'table'
  UNION ALL
  SELECT doc_id, 'hv' FROM pos
  WHERE toks[p] = 'hash' AND p + 1 <= len(toks) AND toks[p+1] = 'value'
  UNION ALL
  SELECT doc_id, 'fm' FROM pos
  WHERE toks[p] = 'fast' AND p + 1 <= len(toks) AND toks[p+1] = 'merge'
  UNION ALL
  SELECT doc_id, 'vtp' FROM pos
  WHERE toks[p] = 'value' AND p + 2 <= len(toks)
    AND toks[p+1] = 'table' AND toks[p+2] = 'part'
)
SELECT tag, count(*)::BIGINT AS n_tags,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM tags GROUP BY tag ORDER BY tag"""

    # CoveringQuery: dynamic per-doc threshold 1 + doc_id % 2
    sql["q_covering_topk"] = _PRELUDE + """
, cov AS (
  SELECT doc_id, count(*)::BIGINT AS n_matching, sum(s) AS raw
  FROM sc WHERE term IN ('spark', 'merge', 'fast')
  GROUP BY doc_id
)
SELECT doc_id, n_matching, ROUND(raw, 4) AS score
FROM cov WHERE n_matching >= doc_id % 2 + 1
ORDER BY raw DESC, doc_id LIMIT 10"""

    # json.facet unique(source) per lang over the 'table' match set
    sql["q_facet_unique"] = """
WITH m AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
    FROM documents) WHERE term = 'table'
)
SELECT d.lang AS bucket, count(DISTINCT d.source)::BIGINT AS "unique",
       count(*)::BIGINT AS "count"
FROM documents d JOIN m USING (doc_id)
GROUP BY d.lang ORDER BY bucket"""

    # C4 rules over the deterministically reshaped multi-line pages —
    # the page construction is reproduced verbatim from _c4_docs
    sql["q_c4_filter"] = r"""
WITH pages AS (
  SELECT doc_id,
    substr(text, 1, 50) || '.' AS l1,
    'short line.' AS l2,
    CASE WHEN doc_id % 3 = 0 THEN 'lorem ipsum appears right here now.'
         ELSE 'a perfectly normal line of text.' END AS l3,
    CASE WHEN doc_id % 5 = 0 THEN 'code { brace } inside this line.'
         ELSE 'another good and complete line here!' END AS l4,
    CASE WHEN doc_id % 7 = 0
         THEN 'uses javascript for rendering the page today.'
         ELSE substr(text, 51, 60) END AS l5
  FROM documents
), pg AS (
  SELECT doc_id, [l1, l2, l3, l4, l5] AS ls,
         l1 || chr(10) || l2 || chr(10) || l3 || chr(10) || l4
            || chr(10) || l5 AS page
  FROM pages
), rules AS (
  SELECT doc_id, len(ls)::BIGINT AS n_lines,
    list_filter(ls, l -> regexp_matches(rtrim(l), '[.!?]["”'']?$')
        AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
        AND NOT contains(lower(l), 'javascript')) AS kept,
    contains(lower(page), 'lorem ipsum') AS has_lorem,
    contains(page, '{') AS has_brace
  FROM pg
), o AS (
  SELECT doc_id, n_lines, len(kept)::BIGINT AS n_kept_lines,
    len(regexp_extract_all(array_to_string(kept, chr(10)), '[.!?]'))
      ::BIGINT AS n_sentences,
    has_lorem, has_brace, array_to_string(kept, chr(10)) AS clean_text
  FROM rules)
SELECT doc_id, n_lines, n_kept_lines, n_sentences,
       has_lorem::INT AS has_lorem, has_brace::INT AS has_brace,
       (NOT has_lorem AND NOT has_brace AND n_sentences >= 3)::INT AS keep,
       clean_text
FROM o"""

    # context-filtered completion: title suggestions from src0/src2
    sql["q_suggest_context"] = """
WITH t AS (
  SELECT doc_id, source, n_chars,
    array_to_string(list_slice(regexp_extract_all(text, '[a-z0-9]+'),
                               1, 5), ' ') AS title
  FROM documents)
SELECT title AS suggestion, source AS context,
       n_chars::BIGINT AS weight, doc_id
FROM t WHERE source IN ('src0', 'src2') AND title LIKE 'table%'
ORDER BY weight DESC, suggestion, doc_id LIMIT 10"""

    # paragraph dedup over the SAME reshaped pages as q_c4_filter:
    # normalized key = md5(lower, digits→0, whitespace collapsed)
    sql["q_paragraph_dedup"] = r"""
WITH pages AS (
  SELECT doc_id,
    substr(text, 1, 50) || '.' AS l1,
    'short line.' AS l2,
    CASE WHEN doc_id % 3 = 0 THEN 'lorem ipsum appears right here now.'
         ELSE 'a perfectly normal line of text.' END AS l3,
    CASE WHEN doc_id % 5 = 0 THEN 'code { brace } inside this line.'
         ELSE 'another good and complete line here!' END AS l4,
    CASE WHEN doc_id % 7 = 0
         THEN 'uses javascript for rendering the page today.'
         ELSE substr(text, 51, 60) END AS l5
  FROM documents
), pg AS (
  SELECT doc_id, l1 || chr(10) || l2 || chr(10) || l3 || chr(10) || l4
            || chr(10) || l5 AS page
  FROM pages
), p AS (
  SELECT doc_id,
         md5(regexp_replace(regexp_replace(lower(trim(para)),
                                           '[0-9]', '0', 'g'),
                            '\s+', ' ', 'g')) AS key
  FROM (SELECT doc_id, unnest(string_split(page, chr(10))) AS para
        FROM pg)
  WHERE trim(para) <> ''
), shared AS (
  SELECT key, 1 AS dup FROM p
  GROUP BY key HAVING count(DISTINCT doc_id) >= 2
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_paras,
         count(dup)::BIGINT AS dup_paras
  FROM p LEFT JOIN shared USING (key) GROUP BY doc_id
)
SELECT d.doc_id, coalesce(n_paras, 0)::BIGINT AS n_paras,
       coalesce(dup_paras, 0)::BIGINT AS dup_paras,
       ROUND(coalesce(dup_paras / n_paras::DOUBLE, 0.0), 4) AS dup_frac
FROM documents d LEFT JOIN agg USING (doc_id)"""

    # temperature mixture: rate_s = min(1, 0.4·total·√c_s / Σ√c / c_s),
    # md5 membership — identical arithmetic order to temperature_rates
    sql["q_temperature_mix"] = """
WITH cnt AS (
  SELECT lang, count(*)::DOUBLE AS c FROM documents GROUP BY lang
), tot AS (
  SELECT sum(c) AS total, sum(pow(c, 0.5)) AS wsum FROM cnt
), rate AS (
  SELECT lang, least(1.0, 0.4 * total * pow(c, 0.5) / wsum / c) AS r
  FROM cnt CROSS JOIN tot
), f AS (
  SELECT d.lang, d.n_chars, r,
         (('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT)::DOUBLE
           / 4294967296.0 AS frac
  FROM documents d JOIN rate USING (lang)
)
SELECT lang, count(*)::BIGINT AS kept, sum(n_chars)::BIGINT AS sum_chars
FROM f WHERE frac < r GROUP BY lang ORDER BY lang"""

    return sql


def q_leading_wildcard_topk(spark, sf_dir):
    """Leading wildcard *ge via the reversed-dictionary path (Solr
    ReversedWildcardFilterFactory): the suffix becomes a sargable
    PREFIX filter on reverse(term), top-terms-capped at 8 (df desc,
    term asc), then the OR of the kept terms is scored."""
    import lucene_solr_spark.search.multiterm as mt
    s = _searcher(spark, sf_dir)
    terms = mt.leading_wildcard_terms(s.index.terms, "ge", size=8)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return _topk(s, mt.expanded_or(terms))


def q_ascii_fold_topk(spark, sf_dir):
    """ASCIIFoldingFilter at query time: the accented query
    "fást mérge" under a folding analyzer scores exactly the OR of
    (fast, merge). Index-time folding is a no-op on this accent-free
    corpus (so the shared index is semantically the folded index);
    the folded-index build path is pinned in
    tests/test_folding_worddelim.py."""
    from lucene_solr_spark.analysis.analyzer import StandardAnalyzer
    fold_an = StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS,
                               ascii_folding=True)
    s = _searcher(spark, sf_dir)
    return _topk(s, parse_query("fást mérge", fold_an))


def q_word_delimiter_terms(spark, sf_dir):
    """WordDelimiterGraphFilter over synthesized intra-word tokens
    (initcap(tok1)+initcap(tok2)+doc_id%100, e.g. "KeyAgg42"): the
    Catalyst expression splits on case and letter↔digit boundaries,
    then term counts aggregate — all whole-stage codegen."""
    from lucene_solr_spark.analysis.worddelim import word_delimiter_expr
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")
    d = docs.select("doc_id", toks.alias("ts")).filter(F.size("ts") >= 2)
    synth = F.concat(
        F.upper(F.substring(F.element_at("ts", 1), 1, 1)),
        F.element_at("ts", 1).substr(F.lit(2), F.length(F.element_at("ts", 1))),
        F.upper(F.substring(F.element_at("ts", 2), 1, 1)),
        F.element_at("ts", 2).substr(F.lit(2), F.length(F.element_at("ts", 2))),
        (F.col("doc_id") % 100).cast("string"))
    parts = word_delimiter_expr(synth)
    return (d.select(F.explode(parts).alias("part"))
            .select(F.lower("part").alias("term"))
            .filter(F.col("term") != "")
            .groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("term")).limit(20))


def q_facet_grouped(spark, sf_dir):
    """Solr group.facet=true: lang facet over docs matching 'merge',
    each distinct source group counting once."""
    from lucene_solr_spark.search.facets import grouped_facet_counts
    docs, _, s = _index(spark, sf_dir)
    m = s.match_docs(parse_query("merge", ENGLISH_ANALYZER))
    return (grouped_facet_counts(docs, m, "lang", "source")
            .select("value", F.col("count").cast("long")))


def q_facet_nested(spark, sf_dir):
    """json.facet nested subfacets: top-3 langs by doc count, within
    each the top-2 sources ranked by the nested sum(n_chars) metric."""
    from lucene_solr_spark.search.facets import nested_facets
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return nested_facets(docs, None, "lang", "source", "n_chars",
                         outer_limit=3, inner_limit=2)


def q_sample_stratified(spark, sf_dir):
    """Training-mix stratified sampling: md5-deterministic keep rates
    per language (en 0.5, de 0.25, others 0.1), aggregated per lang —
    the exact sample is cluster-size-free and SQL-verifiable."""
    from lucene_solr_spark.pipeline.sampling import stratified_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    samp = stratified_sample(docs, "doc_id", "lang",
                             {"en": 0.5, "de": 0.25}, default_rate=0.1)
    return (samp.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("kept"),
                 F.sum("n_chars").cast("long").alias("sum_chars"))
            .orderBy("lang"))


def q_export_sorted(spark, sf_dir):
    """Solr /export: the ENTIRE match set of 'merge' streamed in
    (n_chars desc, doc_id asc) docvalue order — no top-k heap."""
    from lucene_solr_spark.search.extras import export_sorted
    docs, _, s = _index(spark, sf_dir)
    res = export_sorted(s, parse_query("merge", ENGLISH_ANALYZER), docs,
                        [("n_chars", False, True)])
    return res.select(F.col("doc_id").cast("long"),
                      F.col("n_chars").cast("long"))


def q_pack_sequences(spark, sf_dir):
    """Pretraining sequence packing (concat-and-chunk at 256 tokens,
    8 shards): every document's deterministic (shard, offset, bin
    span) from one hash-partitioned window cumsum — no driver state,
    identical result at any parallelism."""
    from lucene_solr_spark.pipeline.packing import pack_sequences
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (pack_sequences(docs, budget=256, n_shards=8)
            .filter(F.col("doc_id") < 300).orderBy("doc_id"))


def q_phonetic_terms(spark, sf_dir):
    """PhoneticFilter (Soundex): code of each document's first token,
    docs per code — the Catalyst encoder is the same uniform regex
    pipeline the oracle runs, all whole-stage codegen."""
    from lucene_solr_spark.analysis.phonetic import soundex_expr
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = F.element_at(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)"), 1)
    return (docs.select(soundex_expr(tok).alias("code"))
            .filter(F.col("code") != "")
            .groupBy("code").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("code")).limit(15))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order matters: the driver's correctness report caps at
    50 entries, so the window is MACHINE-CHECKED:
    tests/test_registry_window.py recomputes the never-driver-verified
    set from the CORRECTNESS_r*.json reports on disk and asserts every
    one of them sits inside ``queries()[:50]``. The set has 41
    entries (≤ 50), so all of them come first, in their earlier relative
    order; the driver-verified rest follows. Everything is re-gated every
    run by scripts/check_oracles.py (docs/CORRECTNESS_SELF_r*.log) +
    pytest."""
    return {
        # ---- (1) never driver-verified: every query without a rows
        # row in any CORRECTNESS_r*.json, rows-only ones included.
        # 41 entries, all inside the 50-slot window; the window
        # test recomputes this set from disk and fails on any drift. ----
        "q_sloppy_lucene_topk": q_sloppy_lucene_topk,
        "q_cluster_topdocs": q_cluster_topdocs,
        "q_dsir_select": q_dsir_select,
        "q_hybrid_rrf_topk": q_hybrid_rrf_topk,
        "q_eval_quality": q_eval_quality,
        "q_eval_map": q_eval_map,
        "q_phrase_wildcard_topk": q_phrase_wildcard_topk,
        "q_luke_fields": q_luke_fields,
        "q_url_dedup": q_url_dedup,
        "q_bpe_pair_counts": q_bpe_pair_counts,
        "q_strdist_topk": q_strdist_topk,
        "q_ip_cidr_stats": q_ip_cidr_stats,
        "q_shuffle_shards": q_shuffle_shards,
        "q_html_strip_terms": q_html_strip_terms,
        "q_path_facet": q_path_facet,
        "q_urlemail_tokens": q_urlemail_tokens,
        "q_edge_ngram_terms": q_edge_ngram_terms,
        "q_common_grams": q_common_grams,
        "q_fingerprint_filter": q_fingerprint_filter,
        "q_custom_analyzer_topk": q_custom_analyzer_topk,
        "q_shortest_path": q_shortest_path,
        "q_perfield_topk": q_perfield_topk,
        "q_curation_manifest": q_curation_manifest,
        "q_field_exists": q_field_exists,
        "q_blended_topk": q_blended_topk,
        "q_localparams_topk": q_localparams_topk,
        "q_sql_group_topk": q_sql_group_topk,
        "q_script_profile": q_script_profile,
        "q_passage_highlight": q_passage_highlight,
        "q_bloom_or_topk": q_bloom_or_topk,
        "q_ann_pq_topk": q_ann_pq_topk,
        "q_semdedup": q_semdedup,
        "q_facet_params": q_facet_params,
        "q_relatedness": q_relatedness,
        "q_facet_range_other": q_facet_range_other,
        "q_sweetspot_topk": q_sweetspot_topk,
        "q_span_fieldmask_topk": q_span_fieldmask_topk,
        "q_scale_boost_topk": q_scale_boost_topk,
        "q_blockjoin_facet": q_blockjoin_facet,
        "q_stem_override_topk": q_stem_override_topk,
        "q_mlt_interesting_terms": q_mlt_interesting_terms,
        # ---- (2) driver-verified green in an earlier round; all
        # re-gated every run by scripts/check_oracles.py + pytest. ----
        "q_dfi_topk": q_dfi_topk,
        "q_term_vectors_positions": q_term_vectors_positions,
        "q_facet_percentiles": q_facet_percentiles,
        "q_feature_score_topk": q_feature_score_topk,
        "q_stream_fetch": q_stream_fetch,
        "q_spellcheck_collate": q_spellcheck_collate,
        "q_leading_wildcard_topk": q_leading_wildcard_topk,
        "q_ascii_fold_topk": q_ascii_fold_topk,
        "q_word_delimiter_terms": q_word_delimiter_terms,
        "q_facet_grouped": q_facet_grouped,
        "q_facet_nested": q_facet_nested,
        "q_sample_stratified": q_sample_stratified,
        "q_export_sorted": q_export_sorted,
        "q_pack_sequences": q_pack_sequences,
        "q_phonetic_terms": q_phonetic_terms,
        "q_frange_topk": q_frange_topk,
        "q_stats_field": q_stats_field,
        "q_diversified_topk": q_diversified_topk,
        "q_facet_date_range": q_facet_date_range,
        "q_stream_timeseries": q_stream_timeseries,
        "q_facet_sampled": q_facet_sampled,
        "q_graph_nodes": q_graph_nodes,
        "q_text_profile_dedup": q_text_profile_dedup,
        "q_unigram_logprob": q_unigram_logprob,
        "q_text_tagger": q_text_tagger,
        "q_covering_topk": q_covering_topk,
        "q_facet_unique": q_facet_unique,
        "q_c4_filter": q_c4_filter,
        "q_suggest_context": q_suggest_context,
        "q_mlt_classic_topk": q_mlt_classic_topk,
        "q_synonym_graph_topk": q_synonym_graph_topk,
        "q_blended_suggest": q_blended_suggest,
        "q_paragraph_dedup": q_paragraph_dedup,
        "q_temperature_mix": q_temperature_mix,
        "q_soft_delete_search": q_soft_delete_search,
        "q_docvalues_update_binary": q_docvalues_update_binary,
        "q_analyzing_suggest": q_analyzing_suggest,
        "q_facet_assoc": q_facet_assoc,
        "q_line_shapes": q_line_shapes,
        "q_standard_parser": q_standard_parser,
        "q_ann_sq8_topk": q_ann_sq8_topk,
        "q_dedup_keep_best": q_dedup_keep_best,
        "q_token_budget_mix": q_token_budget_mix,
        "q_bigram_logprob": q_bigram_logprob,
        "q_cross_dedup": q_cross_dedup,
        "q_span_wildcard_topk": q_span_wildcard_topk,
        "q_check_index": q_check_index,
        "q_dsir_weights": q_dsir_weights,
        "q_span_near_topk": q_span_near_topk,
        "q_span_or_topk": q_span_or_topk,
        "q_span_unordered_topk": q_span_unordered_topk,
        "q_span_not_topk": q_span_not_topk,
        "q_span_first_topk": q_span_first_topk,
        "q_interval_prefix_topk": q_interval_prefix_topk,
        "q_interval_or_topk": q_interval_or_topk,
        "q_interval_containing_topk": q_interval_containing_topk,
        "q_interval_before_topk": q_interval_before_topk,
        "q_interval_within_topk": q_interval_within_topk,
        "q_interval_nonoverlap_topk": q_interval_nonoverlap_topk,
        "q_span_containing_topk": q_span_containing_topk,
        "q_span_within_topk": q_span_within_topk,
        "q_span_posrange_topk": q_span_posrange_topk,
        "q_nb_classify": q_nb_classify,
        "q_knn_classify": q_knn_classify,
        "q_ltr_rescore": q_ltr_rescore,
        "q_facet_interval": q_facet_interval,
        "q_drill_sideways": q_drill_sideways,
        "q_expression_sort": q_expression_sort,
        "q_terms_enum": q_terms_enum,
        "q_stream_rollup": q_stream_rollup,
        "q_stream_innerjoin": q_stream_innerjoin,
        "q_stream_unique_top": q_stream_unique_top,
        "q_gopher_filter": q_gopher_filter,
        "q_pii_scrub": q_pii_scrub,
        "q_decontaminate": q_decontaminate,
        "q_substring_dup": q_substring_dup,
        "q_surround_topk": q_surround_topk,
        "q_docvalues_update": q_docvalues_update,
        "q_facet_pivot": q_facet_pivot,
        "q_facet_metrics": q_facet_metrics,
        "q_boolean_sim_topk": q_boolean_sim_topk,
        "q_lmjm_topk": q_lmjm_topk,
        "q_infix_suggest": q_infix_suggest,
        "q_blockjoin_children": q_blockjoin_children,
        "q_minhash_query": q_minhash_query,
        "q_repetition_stats": q_repetition_stats,
        "q_geo_distance_count": q_geo_distance_count,
        "q_dfr_topk": q_dfr_topk,
        "q_f2exp_topk": q_f2exp_topk,
        "q_facet_taxonomy": q_facet_taxonomy,
        "q_geo_polygon_count": q_geo_polygon_count,
        "q_sorted_index_topk": q_sorted_index_topk,
        "q_payload_score_topk": q_payload_score_topk,
        "q_fuzzy_suggest": q_fuzzy_suggest,
        "q_monitor_matches": q_monitor_matches,
        "q_ib_topk": q_ib_topk,
        "q_spellcheck": q_spellcheck,
        "q_highlight_topk": q_highlight_topk,
        "q_dismax_topk": q_dismax_topk,
        "q_field_term_topk": q_field_term_topk,
        "q_multifield_bool_topk": q_multifield_bool_topk,
        "q_sloppy_phrase_topk": q_sloppy_phrase_topk,
        "q_term_topk": q_term_topk,
        "q_or_topk": q_or_topk,
        "q_and_topk": q_and_topk,
        "q_andnot_topk": q_andnot_topk,
        "q_msm_topk": q_msm_topk,
        "q_nested_bool_topk": q_nested_bool_topk,
        "q_deep_bool_topk": q_deep_bool_topk,
        "q_nested_msm_topk": q_nested_msm_topk,
        "q_phrase_topk": q_phrase_topk,
        "q_multiphrase_topk": q_multiphrase_topk,
        "q_complex_phrase_topk": q_complex_phrase_topk,
        "q_classic_topk": q_classic_topk,
        "q_lmdirichlet_topk": q_lmdirichlet_topk,
        "q_join_topk": q_join_topk,
        "q_blockjoin_topk": q_blockjoin_topk,
        "q_facet_range": q_facet_range,
        "q_facet_query": q_facet_query,
        "q_function_score_topk": q_function_score_topk,
        "q_boost_by_query_topk": q_boost_by_query_topk,
        "q_collapse_topk": q_collapse_topk,
        "q_top_groups": q_top_groups,
        "q_rescore_topk": q_rescore_topk,
        "q_cursor_page2": q_cursor_page2,
        "q_update_search_topk": q_update_search_topk,
        "q_prefix_topterms_topk": q_prefix_topterms_topk,
        "q_dismax_phrase_topk": q_dismax_phrase_topk,
        "q_interval_ordered_topk": q_interval_ordered_topk,
        "q_interval_unordered_topk": q_interval_unordered_topk,
        "q_interval_block_topk": q_interval_block_topk,
        "q_edismax_topk": q_edismax_topk,
        "q_field_stats": q_field_stats,
        "q_term_vectors": q_term_vectors,
        "q_stem_porter_topk": q_stem_porter_topk,
        "q_stem_minimal_topk": q_stem_minimal_topk,
        "q_common_terms_topk": q_common_terms_topk,
        "q_shingle_term_topk": q_shingle_term_topk,
        "q_numeric_set_topk": q_numeric_set_topk,
        "q_sort_multi": q_sort_multi,
        "q_geo_box_stats": q_geo_box_stats,
        "q_geo_nearest_topk": q_geo_nearest_topk,
        "q_geo_heatmap": q_geo_heatmap,
        "q_freetext_suggest": q_freetext_suggest,
        "q_expand_topk": q_expand_topk,
        "q_significant_terms": q_significant_terms,
        "q_elevation_topk": q_elevation_topk,
        "q_search_after": q_search_after,
        "q_boosted_or_topk": q_boosted_or_topk,
        "q_constant_score_docs": q_constant_score_docs,
        "q_proximity_topk": q_proximity_topk,
        "q_sort_by_nchars": q_sort_by_nchars,
        "q_suggest_prefix": q_suggest_prefix,
        "q_must_should_overlap_topk": q_must_should_overlap_topk,
        "q_dismax_tiebreak_topk": q_dismax_tiebreak_topk,
        "q_synonym_topk": q_synonym_topk,
        "q_numeric_filter_topk": q_numeric_filter_topk,
        "q_prefix_docs": q_prefix_docs,
        "q_wildcard_terms": q_wildcard_terms,
        "q_fuzzy_terms": q_fuzzy_terms,
        "q_range_terms": q_range_terms,
        "q_regexp_terms": q_regexp_terms,
        "q_term_in_set_docs": q_term_in_set_docs,
        "q_doc_freq": q_doc_freq,
        "q_collection_stats": q_collection_stats,
        "q_count_and": q_count_and,
        "q_match_all_count": q_match_all_count,
        "q_facet_source": q_facet_source,
        "q_group_top2_lang": q_group_top2_lang,
        "q_windowed_events": q_windowed_events,
        "q_dedup_exact": q_dedup_exact,
        "q_dedup_minhash": q_dedup_minhash,
        "q_dedup_simhash": q_dedup_simhash,
        "q_dedup_ngram": q_dedup_ngram,
        "q_dedup_components": q_dedup_components,
        "q_ann_cosine_topk": q_ann_cosine_topk,
        "q_ann_ivf_topk": q_ann_ivf_topk,
        "q_embed_neardup": q_embed_neardup,
        "q_embed_neardup_lsh": q_embed_neardup_lsh,
        "q_minhash_sigs": q_minhash_sigs,
        "q_simhash_sigs": q_simhash_sigs,
        "q_lang_id": q_lang_id,
        "q_quality_score": q_quality_score,
        "q_token_counts": q_token_counts,
        "q_fingerprint": q_fingerprint,
        "q_image_meta": q_image_meta,
        "q_tokens_per_lang": q_tokens_per_lang,
        "q_norms": q_norms,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multi-term OR BM25 top-10 on sf0.001."""
    return q_or_topk(spark, os.environ.get("SPARK_GRAFT_ENTRY_SF",
                                           "/root/testdata/sf0.001"))

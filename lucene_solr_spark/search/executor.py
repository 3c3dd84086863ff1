"""Distributed query execution: IndexSearcher → grid-sharded scoring kernel.

Plan shape (the Spark restatement of `search/IndexSearcher.java:513,
654-700`):

  driver   rewrite(query) → expand multi-term leaves against the
           dictionary → collect (field, term) stats (tiny broadcast) →
           per-CLAUSE weights (BooleanWeight builds one scorer per
           clause, so a term in both MUST and SHOULD scores twice)
  scan     postings.filter(field/term ∈ query) — Catalyst pushes the
           predicate into the Parquet scan; the (bucket, field, term)
           sort order makes this the FST/BlockTree seek analog
           (row-group pruning). The index layout is doc-sharded
           (bucket-major, whole grid cells per partition — Solr's shard
           model, QueryComponent.java:810), so the query plan is
           SHUFFLE-FREE: filter is narrow and every bucket's blocks are
           already contiguous. It is the one scan of every search-side
           reader (`Searcher._blocks`; the non-kernel readers decode
           through `Searcher._postings`, which drops tombstones).
  kernel   per slice, buckets in sequence: decode → vectorized
           TAAT scatter-add with block-max pruning (the WANDScorer /
           BlockMaxConjunctionScorer / BooleanScorer roles in one numpy
           kernel) → per-bucket top-k with a slice-carried threshold.
           The slice is picked as IndexSearcher does
           (IndexSearcher.java:307-359: one slice runs on the calling
           thread): a top_k_many call whose specs decode at most
           LOCAL_SCAN_POSTINGS postings (Σ df over each spec's live
           keys) collects the scan in one JVM-only Arrow job and runs
           the kernel on the driver, the whole scan one slice; above
           it, and always for score_all and _compose, each partition is
           a slice of one mapInPandas job. Measured on a 4-core host over the
           serve-small index (82 block rows, 80 KB): the Arrow collect
           takes 0.024 s and the in-process kernel 0.020 s, while a
           mapInPandas job whose body does nothing takes 0.18 s on 1
           partition and 0.24 s on 4 — Python task dispatch, not the
           3 ms each worker spends inside the body.
  reduce   driver merges tiny per-slice top-k frames with the reference
           tie-break: score desc, doc_id asc (HitQueue.java:76-81,
           TopDocs.merge TopDocs.java:34,70)

Because blocks never span grid cells (builder invariant), bucket sharding
is exact: every (field, term, doc) triple lands in exactly one bucket, so
AND / OR / NOT / minShouldMatch semantics are local to the kernel.

Clause kinds the kernel scores:
  term     TermQuery/BoostQuery(TermQuery) — BM25, weight = boost × idf
  phrase   PhraseQuery slop=0 (ExactPhraseMatcher.java:36) and slop>0
           (SloppyPhraseMatcher.java:56 semantics: a phrase occurrence
           anchored at each position p0 of the first term matches when
           the minimal total displacement Σᵢ min|posᵢ − (p0+i)| ≤ slop,
           contributing sloppyWeight = 1/(1+matchLength) to the phrase
           freq — the reference's sloppy weight formula; the matcher is
           fully vectorized, no per-doc Python)
  multiphrase  MultiPhraseQuery.java:58 — the phrase chain over per-slot
           unions of alternative terms
  spantree every span query (SpanTerm/Near/Or/Not/First/Containing/
           Within/PositionRange, FieldMaskingSpan): a span-op tree
           evaluated to flat spans, freq = Σ 1/(1+width) per doc
           (SpanScorer.java:106-112), weight over the distinct terms
           (SpanWeight.java:100-118)
  interval IntervalQuery — minimal-interval algebra, saturation score
           (IntervalScoreFunction.java:69-73)
  dismax   DisjunctionMaxQuery.java:45,51 — max + tie×(sum−max), over
           ARBITRARY disjuncts (any leaf or nested boolean)

Every scanned query runs as ONE plan form: the recursive tree
(`build_tree`, the Boolean2ScorerSupplier.java:100-127 composition
restated as nested mask/score reduction), scored by one bucket scorer
(`_score_bucket`) inside one kernel generator (`_bucket_kernel_multi`,
a list of specs — a single query is a batch of one). Pruning is
bucket-level (tree upper bound from the block-max skylines) plus
per-block skipping on term leaves whose score adds straight into the
root. The kernel emits per-PARTITION top-k heaps flushed once at
iterator exhaustion, so the driver merge reads at most
partitions × k rows per query.

What the key-filtered kernel cannot scan alone — a MatchAll root, an
ungrounded root (pure negation), a FieldExistsQuery at any depth —
takes the one other route, `Searcher._compose`: BooleanWeight's clause
rule as one groupBy over clause doc sets, every scannable clause scored
in one kernel job.

Scoring modes:
  f32 — Lucene-exact float32 (BM25Similarity.java:222-235 order of ops)
  f64 — double precision on decoded lengths, for DuckDB-oracle parity

Pruning safety: upper bounds are computed in float64 and inflated by a
relative epsilon before comparison (the WANDScorer.java:52-104 scaled-
long guard restated for floats), so mixed f32/f64 rounding can never
over-prune; pruned ≡ exhaustive is pinned by tests.
"""

from __future__ import annotations

import heapq
import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import bm25
from ..functions.smallfloat import LENGTH_TABLE
from ..index.builder import _CHANNEL_BLOBS, InvertedIndex, decode_blocks
from .ast import (DEFAULT_FIELD, MULTI_TERM_NODES, SPAN_NODES, BooleanQuery,
                  BoostQuery, Clause, DisjunctionMaxQuery,
                  FieldMaskingSpanQuery, FuzzyQuery,
                  IntervalAfter, IntervalBefore, IntervalBlock,
                  IntervalContainedBy, IntervalContaining,
                  IntervalMaxGaps, IntervalMaxWidth, IntervalNonOverlapping,
                  IntervalNotContainedBy, IntervalNotContaining,
                  IntervalNotWithin, IntervalOr, IntervalOrdered,
                  IntervalOverlapping, IntervalQuery, IntervalTerm,
                  IntervalUnordered, IntervalWithin,
                  FieldExistsQuery,
                  MatchAllQuery, MatchNoQuery, MultiPhraseQuery, Occur,
                  PhraseQuery, PrefixQuery,
                  RegexpQuery, SpanContainingQuery, SpanFirstQuery,
                  SpanNearQuery, SpanNotQuery,
                  SpanPositionRangeQuery, SpanWithinQuery,
                  SpanOrQuery, SpanTermQuery, TermQuery, TermRangeQuery,
                  WildcardQuery, rewrite)

KERNEL_SCHEMA = "doc_id long, score double"
MULTI_SCHEMA = "query_id int, doc_id long, score double"

# top_k_many scores on the driver when its specs decode at most this many
# postings (Σ df over each spec's live keys); above it, on the executors.
# Bounds the driver-side collect; on a 4-core local[4] host the two sites
# cross near 220k postings.
LOCAL_SCAN_POSTINGS = 200_000

# relative safety margin on float upper bounds (never over-prune)
_UB_EPS = 1e-6

# tree-plan leaf kinds (each evaluated by its _LEAF_EVAL entry)
_LEAF_KINDS = ("term", "phrase", "multiphrase", "spantree", "interval")


class Searcher:
    """similarity: "bm25" (default; the float32 rank-identity path),
    "classic" (TFIDFSimilarity/ClassicSimilarity.java:39-63 — score =
    (ln((docCount+1)/(df+1))+1) × √freq × boost / √dl), or
    "lmdirichlet" (LMDirichletSimilarity.java:73-77 — boost ×
    (ln(1 + freq/(μ·cp)) + ln(μ/(dl+μ))) clamped at 0, cp =
    (ttf+1)/(sumTotalTermFreq+1), LMSimilarity.java:155),
    "lmjelinekmercer" (LMJelinekMercerSimilarity.java:63-69 — boost ×
    ln(1 + ((1−λ)·freq/dl)/(λ·cp)), λ = ``lam``), or "boolean"
    (BooleanSimilarity.java:38 — score == boost, tf/idf/norms ignored),
    "dfr" (DFRSimilarity.java:80 with BasicModelIn + AfterEffectB +
    NormalizationH2(c) — score = boost × log2((N+1)/(df+0.5)) ×
    ((ttf+2)/(df+1)) × (1 − 1/(1+tfn)), tfn = freq·log2(1 + c·avgdl/dl),
    BasicModelIn.java:30, AfterEffectB.java:29, NormalizationH2.java:53),
    "f2exp" (AxiomaticF2EXP.java — score = boost ×
    ((N+1)/df)^k × freq/(freq + s + s·dl/avgdl), Axiomatic.java:52
    defaults s=0.25, k=0.35), "ib" (IBSimilarity.java:105 with
    DistributionLL + LambdaDF + NormalizationH2(c) — score = boost ×
    ln((tfn+λ)/λ), λ = (df+1)/(N+1), LambdaDF.java:30,
    DistributionLL.java:29), or "dfi" (DFISimilarity.java:61 with
    IndependenceStandardized — expected = (ttf+1)·dl/(sumTTF+1);
    score = 0 when freq ≤ expected else boost ×
    log2((freq−expected)/√expected + 1)).
    Non-BM25 similarities run in f64 mode over TERM clauses and their
    boolean compositions (the pluggable-Similarity surface);
    phrase/span leaves remain BM25-only."""

    SIMILARITIES = ("bm25", "classic", "lmdirichlet", "lmjelinekmercer",
                    "boolean", "dfr", "f2exp", "ib", "dfi", "sweetspot")

    def __init__(self, spark: SparkSession, index: InvertedIndex,
                 k1: float = 1.2, b: float = 0.75,
                 similarity: str = "bm25", mu: float = 2000.0,
                 lam: float = 0.1, dfr_c: float = 1.0,
                 ax_s: float = 0.25, ax_k: float = 0.35,
                 ss_min: int = 1, ss_max: int = 1,
                 ss_steep: float = 0.5, ss_tf_base: float = 0.0,
                 ss_tf_min: float = 0.0):
        if similarity not in self.SIMILARITIES:
            raise ValueError(f"unknown similarity {similarity!r}")
        self.spark = spark
        self.index = index
        self.k1, self.b = k1, b
        self.sim = similarity
        self.mu = float(mu)
        self.lam = float(lam)
        self.dfr_c = float(dfr_c)
        self.ax_s = float(ax_s)
        self.ax_k = float(ax_k)
        # SweetSpotSimilarity.java:41-51 lengthNorm plateau + baselineTf
        self.ss_min, self.ss_max = int(ss_min), int(ss_max)
        self.ss_steep = float(ss_steep)
        self.ss_tf_base = float(ss_tf_base)
        self.ss_tf_min = float(ss_tf_min)
        self.stats = index.stats
        # driver-side stats cache keyed by (field, term): the index is
        # immutable, queries repeat terms, and each miss costs a (tiny but
        # job-scheduling-bound) filtered collect — the TermStates analog
        self._term_stats_cache: dict[tuple[str, str], tuple[int, int]] = {}
        self._gram_index = None

    @property
    def gram_index(self):
        """Dictionary q-gram index (multiterm.build_gram_index), built
        lazily on first wildcard query and cached for the searcher's
        lifetime — the automaton∩dictionary intersection analog."""
        if self._gram_index is None:
            from . import multiterm as mt
            self._gram_index = mt.build_gram_index(self.index.terms).cache()
        return self._gram_index

    # -- driver-side stats (collectionStatistics/termStatistics analog) ----
    def term_stats(self, keys: list[tuple[str, str]]) -> dict:
        """{(field, term): (df, ttf)} for keys present in the dictionary."""
        if not keys:
            return {}
        cache = self._term_stats_cache
        missing = [k for k in keys if k not in cache]
        if missing:
            cond = _key_filter(missing)
            rows = (self.index.terms.filter(cond)
                    .select("field", "term", "df", "ttf").collect())
            found = {(r["field"], r["term"]): (int(r["df"]), int(r["ttf"]))
                     for r in rows}
            for k in missing:
                cache[k] = found.get(k, (0, 0))
        return {k: cache[k] for k in keys if cache[k][0] > 0}

    def field_stats(self, fld: str) -> dict:
        return self.index.field_stats(fld)

    # ------------------------------------------------------------------
    # multi-term expansion (MultiTermQuery.rewrite analog)
    # ------------------------------------------------------------------
    def expand_multiterm(self, q):
        """Replace prefix/wildcard/regexp/fuzzy/range leaves with the OR
        of their dictionary expansions (SCORING_BOOLEAN rewrite,
        `search/ScoringRewrite.java:30`); expansion runs executor-side
        over the terms table, the driver receives only matches."""
        from . import multiterm as mt
        if isinstance(q, MULTI_TERM_NODES):
            if isinstance(q, PrefixQuery):
                ts = mt.prefix_terms(self.index.terms, q.prefix, field=q.field)
            elif isinstance(q, WildcardQuery):
                ts = mt.wildcard_terms_ngram(self.index.terms,
                                             self.gram_index, q.pattern,
                                             field=q.field)
            elif isinstance(q, RegexpQuery):
                ts = mt.regexp_terms(self.index.terms, q.pattern, field=q.field)
            elif isinstance(q, FuzzyQuery):
                ts = mt.fuzzy_terms(self.index.terms, q.term,
                                    max_edits=q.max_edits, field=q.field)
            else:
                ts = mt.range_terms(self.index.terms, q.lower, q.upper,
                                    q.include_lower, q.include_upper,
                                    field=q.field)
            if not ts:
                return MatchNoQuery()
            return mt.expanded_or(ts, field=q.field)
        if isinstance(q, BooleanQuery):
            return BooleanQuery(
                tuple(Clause(c.occur, self.expand_multiterm(c.query))
                      for c in q.clauses), q.min_should_match)
        if isinstance(q, BoostQuery):
            return BoostQuery(self.expand_multiterm(q.query), q.boost)
        if isinstance(q, DisjunctionMaxQuery):
            return DisjunctionMaxQuery(
                tuple(self.expand_multiterm(d) for d in q.disjuncts),
                q.tie_breaker)
        if isinstance(q, IntervalQuery):
            return IntervalQuery(
                self._expand_interval_source(q.source, q.field),
                q.field, q.pivot)
        return q

    def _expand_interval_source(self, src, field: str):
        """Replace IntervalPrefix/IntervalWildcard with the IntervalOr
        of their dictionary expansions (MultiTermIntervalsSource role;
        Intervals.java DEFAULT_MAX_EXPANSIONS — past the cap the
        highest-df terms are kept, the top-terms posture, instead of
        the reference's IllegalStateException)."""
        from . import multiterm as mt
        from .ast import (IntervalContainedBy, IntervalContaining,
                          IntervalMaxGaps, IntervalMaxWidth,
                          IntervalNotContainedBy, IntervalNotContaining,
                          IntervalOr, IntervalOrdered, IntervalPrefix,
                          IntervalUnordered, IntervalWildcard)
        # (relative-position filters are imported at module level)
        s = src
        if isinstance(s, (IntervalPrefix, IntervalWildcard)):
            if isinstance(s, IntervalPrefix):
                ts = mt.prefix_terms(self.index.terms, s.prefix,
                                     field=field, size=s.max_expansions)
            else:
                ts = mt.wildcard_terms_ngram(self.index.terms,
                                             self.gram_index, s.pattern,
                                             field=field,
                                             size=s.max_expansions)
            if not ts:
                # unmatched expansion: an impossible term — the source
                # (and any conjunction over it) matches nothing
                return IntervalTerm("\0")
            if len(ts) == 1:
                return IntervalTerm(ts[0])
            return IntervalOr(tuple(IntervalTerm(t) for t in ts))
        rec = lambda x: self._expand_interval_source(x, field)  # noqa: E731
        if isinstance(s, (IntervalOrdered, IntervalUnordered, IntervalOr)):
            return type(s)(tuple(rec(ch) for ch in s.sources))
        if isinstance(s, (IntervalMaxGaps, IntervalMaxWidth)):
            return type(s)(rec(s.source),
                           s.gaps if isinstance(s, IntervalMaxGaps)
                           else s.width)
        if isinstance(s, IntervalContaining):
            return IntervalContaining(rec(s.big), rec(s.small))
        if isinstance(s, IntervalNotContaining):
            return IntervalNotContaining(rec(s.minuend), rec(s.subtrahend))
        if isinstance(s, IntervalContainedBy):
            return IntervalContainedBy(rec(s.small), rec(s.big))
        if isinstance(s, IntervalNotContainedBy):
            return IntervalNotContainedBy(rec(s.small), rec(s.big))
        if isinstance(s, (IntervalBefore, IntervalAfter,
                          IntervalOverlapping)):
            return type(s)(rec(s.source), rec(s.reference))
        if isinstance(s, IntervalNonOverlapping):
            return IntervalNonOverlapping(rec(s.minuend), rec(s.subtrahend))
        if isinstance(s, IntervalNotWithin):
            return IntervalNotWithin(rec(s.minuend), s.positions,
                                     rec(s.subtrahend))
        if isinstance(s, IntervalWithin):
            return IntervalWithin(rec(s.source), s.positions,
                                  rec(s.reference))
        return s

    # ------------------------------------------------------------------
    # plan: AST → tree plan (or a DataFrame composition)
    # ------------------------------------------------------------------
    def _plan(self, query):
        """→ None (matches nothing), {"tree": …} for a grounded tree the
        kernel scans alone, or {"compose": query} for everything else —
        a root MatchAll, an ungrounded root (pure negation) or a
        FieldExistsQuery at any depth, composed by :meth:`_compose`."""
        query = rewrite(self.expand_multiterm(rewrite(query)))
        if isinstance(query, MatchNoQuery):
            return None
        plan = _scan_plan(query)
        return {"compose": query} if plan is None else plan

    # ------------------------------------------------------------------
    def _stat_env(self, all_keys):
        """Shared per-query stat environment: term stats, per-field BM25
        caches and idf weights (IndexSearcher.java:914-933)."""
        st = self.term_stats(all_keys)
        fields = sorted({f for f, _ in all_keys})
        fstats = {f: self.field_stats(f) for f in fields}
        cache32 = {f: bm25.norm_inverse_cache(
            bm25.avg_field_length(fstats[f]["sum_ttf"], fstats[f]["doc_count"])
            if fstats[f]["doc_count"] else np.float32(1.0),
            self.k1, self.b) for f in fields}
        avgdl64 = {f: (fstats[f]["sum_ttf"] / float(fstats[f]["doc_count"])
                       if fstats[f]["doc_count"] else 1.0) for f in fields}

        def idf32(key):
            f, _ = key
            return bm25.idf(st[key][0], fstats[f]["doc_count"])

        def idf64(key):
            f, _ = key
            n, df = fstats[f]["doc_count"], st[key][0]
            return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

        weights = {}
        for key in all_keys:
            if key in st:
                f = key[0]
                n = fstats[f]["doc_count"]
                df, ttf = st[key]
                weights[key] = {
                    "df": df,
                    "idf32": float(idf32(key)),
                    "idf64": idf64(key),
                    # ClassicSimilarity.idf (ClassicSimilarity.java:61-63)
                    "cidf64": math.log((n + 1) / (df + 1.0)) + 1.0,
                    # LM collection probability (LMSimilarity.java:155)
                    "cp64": (ttf + 1.0) / (fstats[f]["sum_ttf"] + 1.0),
                    # DFR InB2 per-term constant: A × aeTimes1pTfn
                    # (BasicModelIn.java:30 A=log2((N+1)/(df+0.5));
                    #  AfterEffectB.java:29 ae=(F+2)/(n+1))
                    "dfrw64": (math.log2((n + 1) / (df + 0.5))
                               * (ttf + 2.0) / (df + 1.0)),
                    # AxiomaticF2EXP idf component ((N+1)/df)^k
                    "f2w64": ((n + 1.0) / df) ** self.ax_k,
                    # IB LambdaDF (LambdaDF.java:30; the ==1 guard only
                    # bites on a 1-doc corpus)
                    "ibl64": min((df + 1.0) / (n + 1.0), 1.0 - 1e-12),
                    # DFI expected-rate: expected = rate × dl
                    # (DFISimilarity.java:63 with numberOfFieldTokens)
                    "dfir64": (ttf + 1.0) / (fstats[f]["sum_ttf"] + 1.0),
                }
        return st, cache32, avgdl64, weights

    def _spec_for_plan(self, plan, mode, k, prune, collect_all=False):
        """Tree plan → (spec, live_keys, dead): per-leaf weights from the
        per-field collection stats (IndexSearcher.java:914-933); leaves
        that cannot match (df == 0) are dropped and deadness propagates
        up the tree (`_annotate_tree`)."""
        all_keys = list(dict.fromkeys(_tree_keys(plan["tree"])))
        st, cache32, avgdl64, weights = self._stat_env(all_keys)
        root = _annotate_tree(plan["tree"], st, weights, sim=self.sim)
        spec = dict(
            tree=root, deleted=self.index.deleted_array,
            cache32=cache32, avgdl64=avgdl64,
            k1=self.k1, b=self.b, sim=self.sim, mu=self.mu, lam=self.lam,
            dfr_c=self.dfr_c, ax_s=self.ax_s,
            ss=(self.ss_min, self.ss_max, self.ss_steep,
                self.ss_tf_base, self.ss_tf_min),
            grid=self.stats["grid"], mode=mode, k=k,
            collect_all=collect_all, prune=prune and not collect_all,
            with_positions=self.index.with_positions,
        )
        live = [key for key in all_keys if key in st]
        return spec, live, root is None

    def _blocks(self, keys, channels=(), buckets=None) -> DataFrame:
        """THE block scan of every search-side reader: the blocks of
        ``keys`` (pushed-down (field, term) predicate, plus a bucket IN
        predicate when ``buckets`` is given), minus the blob columns of
        channels not requested (``decode_blocks`` names), plus the
        tombstone carrier. The driver array rides the spec or the
        reader's closure; a distributed set joins its per-cell
        ``del_offsets`` on ``bucket`` (liveDocs-file analog) — unique
        on the table side, so per-partition row order is preserved and
        every bucket group sees its own offsets."""
        blocks = self.index.postings.filter(
            _key_filter(list(dict.fromkeys(keys))))
        if buckets is not None:
            blocks = blocks.filter(F.col("bucket").isin(list(buckets)))
        blocks = blocks.drop(*(_CHANNEL_BLOBS[c] for c in _CHANNEL_BLOBS
                               if c not in channels))
        dtab = self.index.del_table
        return blocks if dtab is None else blocks.join(dtab, "bucket", "left")

    def _collect_blocks(self, keys, buckets=None) -> pd.DataFrame:
        """The :meth:`_blocks` scan with every channel the kernel reads,
        collected to the driver through one Arrow ``toPandas`` and put
        in the kernel's (bucket, field, term, block_id) order — the
        input of an in-process kernel or explain run."""
        channels = ("pos",) if self.index.with_positions else ()
        return (self._blocks(keys, channels, buckets).toPandas()
                .sort_values(["bucket", "field", "term", "block_id"]))

    def _kernel(self, specs, live) -> DataFrame:
        """ONE term-filtered scan over the union of the specs' live keys;
        every bucket is scored for every spec from the same Arrow
        batches → (query_id, doc_id, score), query_id = spec index."""
        def kernel(batches):
            yield from _bucket_kernel_multi(batches, specs)

        # No shuffle: the index layout is bucket-major (whole grid cells per
        # partition, sorted by bucket/field/term/block), so the narrow filter
        # keeps every bucket's blocks contiguous within its partition.
        channels = ("pos",) if self.index.with_positions else ()
        return self._blocks(live, channels).mapInPandas(
            kernel, schema=MULTI_SCHEMA)

    def _postings(self, keys, fn, schema, channels=(), buckets=None):
        """The live postings of ``keys`` as a DataFrame of ``schema``:
        ``fn`` maps an iterator of (batch, postings) pairs — each
        non-empty Arrow batch of the :meth:`_blocks` scan with its
        ``decode_blocks`` output, tombstoned postings dropped — to
        pandas frames. Every reader outside the kernel gets liveDocs
        by construction."""
        deleted, grid = self.index.deleted_array, int(self.stats["grid"])

        def run(batches):
            yield from fn(_live_postings(batches, channels, deleted, grid))

        return self._blocks(keys, channels, buckets).mapInPandas(run, schema)

    # ------------------------------------------------------------------
    # public API
    # ------------------------------------------------------------------
    def _dispatch(self, query, mode, k, prune, collect_all):
        """The one routing step shared by top_k, top_k_many and score_all:
        → None (matches nothing), the (doc_id, score) DataFrame of
        :meth:`_compose` for a "compose" plan, or (spec, live_keys) for
        the kernel."""
        plan = self._plan(query)
        if plan is None:
            return None
        if "compose" in plan:
            return self._compose(plan["compose"])
        spec, live, dead = self._spec_for_plan(plan, mode, k, prune,
                                               collect_all)
        return None if dead else (spec, live)

    def top_k_many(self, queries: list, k: int = 10, mode: str = "f32",
                   prune: bool = True) -> list:
        """Batch top-k: every kernel query in ONE Spark job — one
        term-filtered scan over the union of query terms, one pass over
        each bucket scoring every query from the same Arrow batches,
        per-query heaps and thresholds. → list of pandas DataFrames
        (rank, doc_id, score), parallel to `queries`. The throughput
        mode for query logs (the benchmark harness shape,
        ReadTask.java:54).

        Where the kernel runs follows the IndexSearcher slice rule
        (IndexSearcher.java:307-359: one slice runs on the calling
        thread): when the postings the specs decode — Σ df over each
        spec's live keys, TermQuery's cost — are at most
        ``LOCAL_SCAN_POSTINGS``, their blocks are collected in one
        JVM-only Arrow job and scored in-process, one heap threshold
        carried across every bucket; above it the kernel runs as one
        executor job. k = 0 answers empty frames with no job."""
        if k < 0:
            raise ValueError(f"k must be >= 0, got {k}")
        if self.sim != "bm25":
            mode = "f64"      # non-BM25 similarities are f64-only
        if k == 0:
            return [_ranked(None, 0, mode) for _ in queries]
        hits = [None] * len(queries)
        specs, live, qids = [], [], []
        for qi, query in enumerate(queries):
            r = self._dispatch(query, mode, k, prune, collect_all=False)
            if isinstance(r, DataFrame):
                hits[qi] = (r.orderBy(F.desc("score"), F.asc("doc_id"))
                            .limit(k).toPandas())
            elif r is not None:
                specs.append(r[0])
                live.extend(r[1])
                qids.append(qi)
        if specs:
            st = self.term_stats(live)      # cached by the spec build
            if sum(st[key][0] for key in live) <= LOCAL_SCAN_POSTINGS:
                frames = list(_bucket_kernel_multi(
                    [self._collect_blocks(live)], specs))
                pdf = (pd.concat(frames, ignore_index=True) if frames else
                       pd.DataFrame(columns=["query_id", "doc_id", "score"]))
            else:
                pdf = self._kernel(specs, live).toPandas()
            for local_qi, qi in enumerate(qids):
                hits[qi] = pdf[pdf["query_id"] == local_qi]
        return [_ranked(h, k, mode) for h in hits]

    def top_k(self, query, k: int = 10, mode: str = "f32", prune: bool = True):
        """→ pandas DataFrame (rank, doc_id, score) — TopDocs.merge analog."""
        return self.top_k_many([query], k=k, mode=mode, prune=prune)[0]

    def score_all(self, query, mode: str = "f64") -> DataFrame:
        """All matching docs with scores, as a Spark DataFrame (exhaustive,
        ScoreMode.COMPLETE analog). Used by the DuckDB-oracle queries."""
        if self.sim != "bm25":
            mode = "f64"      # non-BM25 similarities are f64-only
        r = self._dispatch(query, mode, 0, False, collect_all=True)
        if r is None:
            return self.spark.createDataFrame([], KERNEL_SCHEMA)
        if isinstance(r, DataFrame):
            return r
        return self._kernel([r[0]], r[1]).select("doc_id", "score")

    def _all_live_docs(self) -> DataFrame:
        """Every doc with at least one indexed term, minus tombstones
        (liveDocs): the corpus stream the key-filtered kernel never
        scans."""
        return self.index.drop_deleted(
            self.index.norms.select("doc_id").distinct())

    def _compose(self, query) -> DataFrame:
        """(doc_id, f64 score) of a "compose" plan: BooleanWeight's rule
        (Boolean2ScorerSupplier.java:100-127) over clause doc sets.

        A MatchAll root is the live docs and a FieldExistsQuery root the
        field's live norms rows, each scoring its boost (ConstantScore
        semantics). A BooleanQuery root scores every clause the kernel
        can scan alone in ONE kernel job (query_id → clause index) and
        composes the others recursively; one groupBy on doc_id then
        keeps a doc when every MUST/FILTER clause matched, at least msm
        SHOULD clauses did (at least 1 when nothing is required) and no
        MUST_NOT clause did. Score = boost × (the MUST scores, then the
        SHOULD scores) summed in clause order, so the f64 sum is
        deterministic."""
        q, boost = _unboost(query)
        if isinstance(q, MatchAllQuery):
            return self._all_live_docs().select(
                "doc_id", F.lit(boost).alias("score"))
        if isinstance(q, FieldExistsQuery):
            docs = self.index.drop_deleted(
                self.index.norms.filter(F.col("field") == q.field)
                .select("doc_id"))
            return docs.select("doc_id", F.lit(boost).alias("score"))
        if not isinstance(q, BooleanQuery):
            raise ValueError(
                "unbounded query: the match set is not anchored by any "
                "positive clause and is not a boolean composition — add "
                "a grounding clause")
        frames, specs, live, spec_clause = [], [], [], []
        for i, cl in enumerate(q.clauses):
            plan = _scan_plan(cl.query)
            if plan is None:
                frames.append(self._compose(cl.query)
                              .select(F.lit(i).alias("clause"),
                                      "doc_id", "score"))
                continue
            spec, keys, dead = self._spec_for_plan(plan, "f64", 0, False,
                                                   collect_all=True)
            if not dead:
                specs.append(spec)
                live.extend(keys)
                spec_clause.append(i)
        if specs:
            clause = F.array(*map(F.lit, spec_clause))[F.col("query_id")]
            frames.append(self._kernel(specs, live).select(
                clause.alias("clause"), "doc_id", "score"))
        df = reduce(DataFrame.unionByName, frames).groupBy("doc_id").agg(
            *(F.max(F.when(F.col("clause") == i, F.col("score")))
              .alias(f"c{i}") for i in range(len(q.clauses))))

        def cols(*occurs):
            return [F.col(f"c{i}") for i, cl in enumerate(q.clauses)
                    if cl.occur in occurs]

        required = cols(Occur.MUST, Occur.FILTER)
        should = cols(Occur.SHOULD)
        keep = F.lit(True)
        for c in required:
            keep &= c.isNotNull()
        for c in cols(Occur.MUST_NOT):
            keep &= c.isNull()
        need = q.min_should_match if required else max(1, q.min_should_match)
        if need:
            hits = sum((c.isNotNull().cast("int") for c in should), F.lit(0))
            keep &= hits >= need
        score = sum(cols(Occur.MUST)
                    + [F.coalesce(c, F.lit(0.0)) for c in should],
                    F.lit(0.0))
        return df.filter(keep).select(
            "doc_id", (F.lit(boost) * score).alias("score"))

    def match_docs(self, query) -> DataFrame:
        """Just the matching doc_ids (FILTER semantics / ConstantScore)."""
        return self.score_all(query, mode="f64").select("doc_id")

    def count(self, query) -> int:
        """TotalHitCountCollector analog."""
        return self.score_all(query).count()


def _ranked(hits, k: int, mode: str) -> pd.DataFrame:
    """Merged hits → the top-k frame (rank, doc_id, score) under the
    reference tie-break: score desc, doc_id asc (HitQueue.java:76-81)."""
    if hits is None or len(hits) == 0:
        return pd.DataFrame({
            "rank": np.zeros(0, np.int64), "doc_id": np.zeros(0, np.int64),
            "score": np.zeros(0, np.float32 if mode == "f32" else np.float64)})
    pdf = (hits.sort_values(["score", "doc_id"], ascending=[False, True],
                            kind="mergesort")
           .head(k).reset_index(drop=True))
    pdf["rank"] = np.arange(1, len(pdf) + 1)
    if mode == "f32":
        pdf["score"] = pdf["score"].astype(np.float32)
    return pdf[["rank", "doc_id", "score"]]


def flatten_plan(query):
    """Normalize a REWRITTEN AST into a kernel plan → None (MatchNo),
    "ALL" (MatchAll) or {"tree": build_tree(query)} — the one plan form
    for every scanned query, from a bare term to arbitrary nesting.
    Shared with the pure-Python oracle so node ordering — and therefore
    float32 accumulation order — agrees by construction."""
    if isinstance(query, MatchNoQuery):
        return None
    if isinstance(query, MatchAllQuery):
        return "ALL"
    return {"tree": build_tree(query)}


def _unboost(q):
    """BoostQuery(…BoostQuery(x)) → (x, product of the boosts)."""
    boost = 1.0
    while isinstance(q, BoostQuery):
        boost *= q.boost
        q = q.query
    return q, float(boost)


def _has_exists(q) -> bool:
    """True when a FieldExistsQuery sits anywhere under ``q`` (only
    boolean, boost and dismax nodes can hold one)."""
    if isinstance(q, FieldExistsQuery):
        return True
    if isinstance(q, BoostQuery):
        return _has_exists(q.query)
    if isinstance(q, BooleanQuery):
        return any(_has_exists(c.query) for c in q.clauses)
    if isinstance(q, DisjunctionMaxQuery):
        return any(_has_exists(d) for d in q.disjuncts)
    return False


def _scan_plan(query):
    """{"tree": …} when the key-filtered kernel can evaluate the
    rewritten ``query`` alone — its tree is grounded (`tree_grounded`)
    and holds no MatchAll root or FieldExistsQuery — else None."""
    if isinstance(_unboost(query)[0], MatchAllQuery) or _has_exists(query):
        return None
    plan = flatten_plan(query)
    return plan if tree_grounded(plan["tree"]) else None


def _span_op(q):
    """Compile a span AST node → span-op dict (the spantree IR):
      {"op": "sterm", "key": (f, t)}
      {"op": "sor",   "children": [...]}
      {"op": "snear", "children": [...], "slop": int, "ordered": bool}
      {"op": "snot",  "include": ..., "exclude": ..., "pre": i, "post": i}
      {"op": "sfirst","child": ..., "end": int}
    All leaves must share one field (SpanNearQuery.java:73 enforces
    same-field clauses); validated by the caller via span_leaf_keys."""
    if isinstance(q, SpanTermQuery):
        return {"op": "sterm", "key": (q.field, q.term)}
    if isinstance(q, SpanNearQuery):
        if bool(q.terms) == bool(q.clauses):
            raise ValueError(
                "SpanNearQuery takes exactly one of terms= or clauses=")
        children = ([{"op": "sterm", "key": (q.field, t)} for t in q.terms]
                    or [_span_op(ch) for ch in q.clauses])
        if len(children) < 2:
            raise ValueError("span-near needs >= 2 children")
        return {"op": "snear", "children": children, "slop": int(q.slop),
                "ordered": bool(q.in_order)}
    if isinstance(q, SpanOrQuery):
        if not q.clauses:
            raise ValueError("span-or needs >= 1 child")
        return {"op": "sor", "children": [_span_op(ch) for ch in q.clauses]}
    if isinstance(q, SpanNotQuery):
        return {"op": "snot", "include": _span_op(q.include),
                "exclude": _span_op(q.exclude),
                "pre": int(q.pre), "post": int(q.post)}
    if isinstance(q, SpanFirstQuery):
        return {"op": "sfirst", "child": _span_op(q.match),
                "end": int(q.end)}
    if isinstance(q, (SpanContainingQuery, SpanWithinQuery)):
        op = ("scontain" if isinstance(q, SpanContainingQuery)
              else "swithin")
        return {"op": op, "big": _span_op(q.big),
                "little": _span_op(q.little)}
    if isinstance(q, SpanPositionRangeQuery):
        return {"op": "sposrange", "child": _span_op(q.match),
                "start": int(q.start), "end": int(q.end)}
    if isinstance(q, FieldMaskingSpanQuery):
        # FieldMaskingSpanQuery.java:61 — getSpans delegates verbatim;
        # the mask only affects getField() (validation + scoring field)
        return _span_op(q.match)
    raise ValueError(f"not a span query: {q!r}")


def _span_leaf(q, boost: float):
    """Span AST → kernel leaf clause {"kind": "spantree"} — every span
    shape, a plain term-near included (Lucene has one SpanNearQuery)."""
    from .ast import span_effective_fields, span_leaf_keys
    root = _span_op(q)
    keys = span_leaf_keys(q)
    fields = span_effective_fields(q)
    if len(fields) > 1:
        raise ValueError(
            f"span query clauses must share one field, got {sorted(fields)}"
            " (wrap cross-field clauses in FieldMaskingSpanQuery)")
    # scoring field = the EFFECTIVE field (under masking this is the
    # mask, so norms/stats of the masking field apply — the reference's
    # documented caveat)
    eff = next(iter(fields)) if fields else getattr(q, "field", None)
    if keys and eff not in {f for f, _ in keys}:
        raise ValueError(
            "fully-masked span query: no clause actually reads the "
            f"masking field {eff!r}, so its norms/stats are not on any "
            "leaf posting — include at least one unmasked clause of the "
            "masking field (FieldMaskingSpanQuery.java pairs a masked "
            "clause WITH native ones)")
    return {"kind": "spantree", "root": root, "boost": boost, "field": eff}


def _interval_op(src, field: str):
    """Compile an interval source AST → iv-op dict with its static
    minExtent (OrderedIntervalsSource.java:83-88 — Σ child minExtents;
    filters delegate to the wrapped source)."""
    if isinstance(src, IntervalTerm):
        return {"op": "iterm", "key": (field, src.term), "min_extent": 1}
    if isinstance(src, IntervalBlock):
        if len(src.terms) < 2:
            raise ValueError("interval block needs >= 2 terms")
        return {"op": "iblock", "keys": [(field, t) for t in src.terms],
                "min_extent": len(src.terms)}
    if isinstance(src, IntervalOrdered):
        if len(src.sources) < 2:
            raise ValueError("ordered intervals need >= 2 sources")
        kids = [_interval_op(ch, field) for ch in src.sources]
        return {"op": "iord", "children": kids,
                "min_extent": sum(k["min_extent"] for k in kids)}
    if isinstance(src, IntervalUnordered):
        if len(src.sources) != 2:
            raise ValueError(
                "the kernel supports unordered intervals over exactly 2 "
                "sources (the k-source queue shape is not vectorized)")
        kids = [_interval_op(ch, field) for ch in src.sources]
        return {"op": "iunord", "children": kids,
                "min_extent": sum(k["min_extent"] for k in kids)}
    if isinstance(src, IntervalOr):
        if len(src.sources) < 2:
            raise ValueError("interval or needs >= 2 sources")
        kids = [_interval_op(ch, field) for ch in src.sources]
        return {"op": "ior", "children": kids,
                "min_extent": min(k["min_extent"] for k in kids)}
    if isinstance(src, IntervalContaining):
        big = _interval_op(src.big, field)
        small = _interval_op(src.small, field)
        return {"op": "icontaining", "big": big, "small": small,
                "min_extent": big["min_extent"]}
    if isinstance(src, IntervalNotContaining):
        big = _interval_op(src.minuend, field)
        small = _interval_op(src.subtrahend, field)
        return {"op": "inotcontaining", "big": big, "small": small,
                "min_extent": big["min_extent"]}
    if isinstance(src, IntervalContainedBy):
        small = _interval_op(src.small, field)
        big = _interval_op(src.big, field)
        return {"op": "icontainedby", "small": small, "big": big,
                "min_extent": small["min_extent"]}
    if isinstance(src, IntervalNotContainedBy):
        small = _interval_op(src.small, field)
        big = _interval_op(src.big, field)
        return {"op": "inotcontainedby", "small": small, "big": big,
                "min_extent": small["min_extent"]}
    if isinstance(src, (IntervalBefore, IntervalAfter,
                        IntervalOverlapping)):
        s_op = _interval_op(src.source, field)
        r_op = _interval_op(src.reference, field)
        name = {IntervalBefore: "ibefore", IntervalAfter: "iafter",
                IntervalOverlapping: "ioverlap"}[type(src)]
        return {"op": name, "src": s_op, "ref": r_op, "positions": 0,
                "min_extent": s_op["min_extent"]}
    if isinstance(src, IntervalNonOverlapping):
        return {"op": "inonoverlap",
                "src": _interval_op(src.minuend, field),
                "ref": _interval_op(src.subtrahend, field), "positions": 0,
                "min_extent": _interval_op(src.minuend,
                                           field)["min_extent"]}
    if isinstance(src, IntervalNotWithin):
        # Intervals.java: nonOverlapping(minuend, extend(sub, p, p))
        s_op = _interval_op(src.minuend, field)
        return {"op": "inonoverlap", "src": s_op,
                "ref": _interval_op(src.subtrahend, field),
                "positions": int(src.positions),
                "min_extent": s_op["min_extent"]}
    if isinstance(src, IntervalWithin):
        # containedBy(source, extend(reference, p, p))
        s_op = _interval_op(src.source, field)
        return {"op": "iwithin", "src": s_op,
                "ref": _interval_op(src.reference, field),
                "positions": int(src.positions),
                "min_extent": s_op["min_extent"]}
    if isinstance(src, IntervalMaxGaps):
        kid = _interval_op(src.source, field)
        return {"op": "imaxgaps", "child": kid, "gaps": int(src.gaps),
                "min_extent": kid["min_extent"]}
    if isinstance(src, IntervalMaxWidth):
        kid = _interval_op(src.source, field)
        return {"op": "imaxwidth", "child": kid, "width": int(src.width),
                "min_extent": kid["min_extent"]}
    raise ValueError(f"not an interval source: {src!r}")


def _interval_leaf(q: IntervalQuery, boost: float):
    """IntervalQuery AST → kernel leaf clause (kind "interval")."""
    if not (q.pivot > 0):
        raise ValueError(f"pivot must be > 0, got {q.pivot}")
    return {"kind": "interval", "root": _interval_op(q.source, q.field),
            "boost": boost, "pivot": float(q.pivot), "field": q.field}


def build_tree(query, boost: float = 1.0):
    """AST → recursive kernel plan node (arbitrary boolean nesting).

    The reference composes scorers recursively
    (`search/Boolean2ScorerSupplier.java:100-127`); here every node
    evaluates to a (match mask, score array) pair over the bucket grid:
    bool nodes AND their MUST/FILTER masks, count SHOULD matches against
    minShouldMatch, and subtract MUST_NOT. Boosts distribute
    multiplicatively into leaf weights (BM25 scores are linear in the
    leaf weight and dismax is positively homogeneous, so the fold is
    exact — `search/BoostQuery.java:34`).

    Node kinds: term/phrase/multiphrase/spantree/interval leaves,
    dismax nodes whose children may be ANY node, and
    {"kind": "bool", "must": [...], "filter": [...], "should": [...],
     "must_not": [...], "msm": int}.
    """
    if isinstance(query, BoostQuery):
        return build_tree(query.query, boost * query.boost)
    if isinstance(query, TermQuery):
        return {"kind": "term", "key": (query.field, query.term),
                "boost": boost}
    if isinstance(query, PhraseQuery):
        return {"kind": "phrase",
                "keys": [(query.field, t) for t in query.terms],
                "slop": int(query.slop), "boost": boost,
                "matcher": query.matcher,
                "positions": (list(query.positions)
                              if query.positions is not None else None)}
    if isinstance(query, MultiPhraseQuery):
        return {"kind": "multiphrase",
                "slots": [[(query.field, t) for t in slot]
                          for slot in query.slots],
                "slop": int(query.slop), "boost": boost}
    if isinstance(query, SPAN_NODES):
        return _span_leaf(query, boost)
    if isinstance(query, IntervalQuery):
        return _interval_leaf(query, boost)
    if isinstance(query, DisjunctionMaxQuery):
        return {"kind": "dismax",
                "children": [build_tree(d, boost) for d in query.disjuncts],
                "tie": float(query.tie_breaker)}
    if isinstance(query, BooleanQuery):
        node = {"kind": "bool", "must": [], "filter": [], "should": [],
                "must_not": [], "msm": int(query.min_should_match),
                "const": 0.0, "all_should": 0, "all_must": 0,
                "never": False}
        slot = {Occur.MUST: "must", Occur.FILTER: "filter",
                Occur.SHOULD: "should", Occur.MUST_NOT: "must_not"}
        for cl in query.clauses:
            b = boost if cl.occur in (Occur.MUST, Occur.SHOULD) else 1.0
            # MatchAll/MatchNo clauses fold into node constants instead
            # of leaves (the key-filtered kernel has no all-docs stream;
            # MatchAllDocsQuery scores its boost — ConstantScore
            # semantics). This is the SimpleQueryParser NOT-wrapper
            # shape: BQ(MUST_NOT x, SHOULD MatchAll).
            inner, bb = _unboost(cl.query)
            bb *= b
            if isinstance(inner, MatchAllQuery):
                if cl.occur is Occur.MUST:
                    node["all_must"] += 1
                    node["const"] += bb
                elif cl.occur is Occur.FILTER:
                    node["all_must"] += 1
                elif cl.occur is Occur.SHOULD:
                    node["all_should"] += 1
                    node["const"] += bb
                else:                       # MUST_NOT all → never matches
                    node["never"] = True
                continue
            if isinstance(inner, MatchNoQuery):
                if cl.occur in (Occur.MUST, Occur.FILTER):
                    node["never"] = True    # required no-match
                continue                    # SHOULD/MUST_NOT no-op
            node[slot[cl.occur]].append(build_tree(cl.query, b))
        return node
    raise ValueError(f"unsupported query in nested plan: {query!r}")


def tree_grounded(node) -> bool:
    """True when the node's match set is bounded by scanned postings —
    the key-filtered kernel only sees blocks of the plan's keys, so an
    UNGROUNDED node (one whose mask covers docs carrying none of those
    keys, e.g. a NOT-wrapper at the root) must not be evaluated by the
    kernel alone. Nested ungrounded nodes are fine: the parent
    conjunction bounds them."""
    if node["kind"] != "bool":
        if node["kind"] == "dismax":
            return all(tree_grounded(ch) for ch in node["children"])
        return True
    if node.get("never"):
        return True                          # matches nothing — bounded
    if any(tree_grounded(ch)
           for ch in node["must"] + node["filter"]):
        return True
    if node.get("all_must"):
        return False                         # required-everything mask
    need = max(1, node["msm"])
    if node.get("all_should", 0) >= need:
        return False                         # baseline satisfies msm
    return bool(node["should"]) and all(tree_grounded(ch)
                                        for ch in node["should"])


def _leaf_keys(c) -> list:
    """All (field, term) keys under a leaf (spantree includes
    exclude-branch keys — their postings are needed for evaluation even
    though they don't score)."""
    if c["kind"] == "term":
        return [c["key"]]
    if c["kind"] == "phrase":
        return list(c["keys"])
    if c["kind"] == "multiphrase":
        return [k for slot in c["slots"] for k in slot]
    if c["kind"] == "spantree":
        return _span_op_keys(c["root"], scoring_only=False)
    return _interval_op_keys(c["root"])


def _interval_op_keys(op) -> list:
    """ALL leaf keys of an iv-op tree (postings to fetch)."""
    o = op["op"]
    if o == "iterm":
        return [op["key"]]
    if o == "iblock":
        return list(op["keys"])
    if o in ("iord", "iunord", "ior"):
        return [k for ch in op["children"] for k in _interval_op_keys(ch)]
    if o in ("icontaining", "inotcontaining"):
        return _interval_op_keys(op["big"]) + _interval_op_keys(op["small"])
    if o in ("icontainedby", "inotcontainedby"):
        return _interval_op_keys(op["small"]) + _interval_op_keys(op["big"])
    if o in ("ibefore", "iafter", "ioverlap", "inonoverlap", "iwithin"):
        return _interval_op_keys(op["src"]) + _interval_op_keys(op["ref"])
    return _interval_op_keys(op["child"])    # imaxgaps / imaxwidth


def _interval_required_keys(op) -> list:
    """Keys that MUST exist for the op to emit any interval — the
    presence/death analysis: ordered/unordered/block are conjunctions,
    ior alternatives contribute none, a NOT-side (subtrahend /
    non-containing big) contributes none, but containing/contained-by
    need BOTH sides."""
    o = op["op"]
    if o == "iterm":
        return [op["key"]]
    if o == "iblock":
        return list(op["keys"])
    if o in ("iord", "iunord"):
        return [k for ch in op["children"]
                for k in _interval_required_keys(ch)]
    if o == "ior":
        return []
    if o == "icontaining":
        return (_interval_required_keys(op["big"])
                + _interval_required_keys(op["small"]))
    if o == "inotcontaining":
        return _interval_required_keys(op["big"])
    if o == "icontainedby":
        return (_interval_required_keys(op["small"])
                + _interval_required_keys(op["big"]))
    if o == "inotcontainedby":
        return _interval_required_keys(op["small"])
    if o in ("ibefore", "iafter", "ioverlap", "iwithin"):
        # positive relative filters need BOTH sides to emit anything
        return (_interval_required_keys(op["src"])
                + _interval_required_keys(op["ref"]))
    if o == "inonoverlap":
        return _interval_required_keys(op["src"])
    return _interval_required_keys(op["child"])


def _span_op_keys(op, scoring_only: bool) -> list:
    """Leaf keys of a span-op tree, appearance order. With
    scoring_only=True, snot exclude branches are skipped — the
    reference builds the SimWeight from include terms only
    (SpanNotQuery.java:126-128 extractTermStates)."""
    o = op["op"]
    if o == "sterm":
        return [op["key"]]
    if o in ("sor", "snear"):
        return [k for ch in op["children"]
                for k in _span_op_keys(ch, scoring_only)]
    if o == "snot":
        out = _span_op_keys(op["include"], scoring_only)
        if not scoring_only:
            out += _span_op_keys(op["exclude"], scoring_only)
        return out
    if o in ("scontain", "swithin"):
        # both sides feed the SimWeight (SpanContainQuery
        # extractTermStates collects big AND little)
        return (_span_op_keys(op["big"], scoring_only)
                + _span_op_keys(op["little"], scoring_only))
    return _span_op_keys(op["child"], scoring_only)    # sfirst/sposrange


def _span_required_keys(op) -> list:
    """Keys that MUST be present for the op to produce any span — the
    presence/death analysis (sor alternatives contribute none; snot
    excludes contribute none)."""
    o = op["op"]
    if o == "sterm":
        return [op["key"]]
    if o == "snear":
        return [k for ch in op["children"] for k in _span_required_keys(ch)]
    if o == "sor":
        return []
    if o == "snot":
        return _span_required_keys(op["include"])
    if o in ("scontain", "swithin"):
        # positive filters: no span without both streams emitting
        return (_span_required_keys(op["big"])
                + _span_required_keys(op["little"]))
    return _span_required_keys(op["child"])            # sfirst/sposrange


def _annotate_span_op(op, st):
    """Stats-level simplification of a span-op tree → op or None (the
    op cannot match anywhere: a required leaf has df == 0). Dead sor
    children are dropped; a dead snot exclude leaves plain include
    (SpanNotQuery.java:136-139 — null excludeSpans → includeSpans)."""
    o = op["op"]
    if o == "sterm":
        return op if op["key"] in st else None
    if o == "snear":
        kids = [_annotate_span_op(ch, st) for ch in op["children"]]
        if any(k is None for k in kids):
            return None
        return dict(op, children=kids)
    if o == "sor":
        kids = [x for x in (_annotate_span_op(ch, st)
                            for ch in op["children"]) if x is not None]
        if not kids:
            return None
        return dict(op, children=kids)
    if o == "snot":
        inc = _annotate_span_op(op["include"], st)
        if inc is None:
            return None
        exc = _annotate_span_op(op["exclude"], st)
        if exc is None:
            return inc
        return dict(op, include=inc, exclude=exc)
    if o in ("scontain", "swithin"):
        big = _annotate_span_op(op["big"], st)
        little = _annotate_span_op(op["little"], st)
        if big is None or little is None:
            return None
        return dict(op, big=big, little=little)
    ch = _annotate_span_op(op["child"], st)             # sfirst/sposrange
    return None if ch is None else dict(op, child=ch)


def _tree_keys(node, parts=("must", "filter", "should", "must_not")):
    """The (field, term) keys under a tree node, descending into the
    given bool slots (default: all of them, MUST_NOT included)."""
    if node["kind"] == "dismax":
        return [k for ch in node["children"] for k in _tree_keys(ch, parts)]
    if node["kind"] != "bool":
        return _leaf_keys(node)
    return [k for part in parts for ch in node[part]
            for k in _tree_keys(ch, parts)]


def _annotate_leaf(c, st, weights, sim: str = "bm25"):
    """Attach f32/f64 weights to a leaf, or return None if a required
    key has df == 0 (the leaf cannot match). The leaf's boost already
    carries every enclosing boost (`build_tree` folds them — exact,
    because scores are linear in the weight, BoostQuery.java:34).
    Non-BM25 similarities carry their own per-key values (classic idf /
    LM collection probability)."""
    kind = c["kind"]
    if kind == "term":
        key = c["key"]
        if key not in st:
            return None
        b = c["boost"]
        w = weights[key]
        if sim in ("classic", "sweetspot"):
            return dict(c, w32=None, w64=b * w["cidf64"])
        if sim == "dfr":
            # the freq/dl-dependent factor (1 − 1/(1+tfn)) < 1, so the
            # per-term constant A·ae IS the impact upper bound too
            return dict(c, w32=None, w64=b * w["dfrw64"])
        if sim == "f2exp":
            # tfln component freq/(freq+s+s·dl/avgdl) < 1 likewise
            return dict(c, w32=None, w64=b * w["f2w64"])
        if sim in ("lmdirichlet", "lmjelinekmercer"):
            return dict(c, w32=None, w64=b, cp64=w["cp64"])
        if sim == "ib":
            # cp64 carries the per-key collection constant (λ here)
            return dict(c, w32=None, w64=b, cp64=w["ibl64"])
        if sim == "dfi":
            return dict(c, w32=None, w64=b, cp64=w["dfir64"])
        if sim == "boolean":
            # BooleanSimilarity.java:38 — score == boost, tf/idf ignored
            return dict(c, w32=None, w64=b)
        return dict(c, w32=float(np.float32(
            np.float32(b) * np.float32(w["idf32"]))),
            w64=b * w["idf64"])
    if kind == "interval":
        # saturation scoring is norm/idf-free (IntervalScorer scores via
        # the score function, never the session Similarity) — the only
        # weight is the boost, which also bounds the score from above:
        # boost × (1 − pivot/(pivot+freq)) < boost for any finite freq
        keys = _interval_required_keys(c["root"])
        if not all(k in st for k in keys):
            return None    # a required interval key is dead
        b = c["boost"]
        return dict(c, w32=float(np.float32(b)), w64=b)
    if kind not in ("phrase", "multiphrase", "spantree"):
        raise ValueError(f"not a leaf: {kind!r}")
    if sim != "bm25":
        raise ValueError(
            "phrase/span clauses support the BM25 similarity only")
    if kind == "phrase":
        keys = c["keys"]
        if not all(k in st for k in keys):
            return None
        return dict(c, anchor=keys[0], **_idf_sum_weight(c, keys, weights))
    if kind == "multiphrase":
        # MultiPhraseWeight ctor: one SimScorer over ALL terms' stats,
        # slot-major order (f32 sum order shared with the pyoracle).
        # Engine spec: df == 0 terms are dropped from both the weight
        # and matching; an empty slot kills the clause (pinned in
        # tests/test_multiphrase.py).
        slots = [[k for k in slot if k in st] for slot in c["slots"]]
        if any(not slot for slot in slots):
            return None
        keys = [k for slot in slots for k in slot]
        return dict(c, slots=slots, **_idf_sum_weight(c, keys, weights))
    root = _annotate_span_op(c["root"], st)                  # spantree
    if root is None:
        return None
    # SpanWeight.buildSimWeight (SpanWeight.java:100-118): one SimScorer
    # over the DISTINCT include-branch terms' stats
    keys = list(dict.fromkeys(_span_op_keys(root, scoring_only=True)))
    anchor = _span_anchor(root)
    if anchor is not None and anchor[0] != c["field"]:
        anchor = None    # masked: its norms are not the scoring field's
    return dict(c, root=root, required=_span_required_keys(root),
                anchor=anchor, **_idf_sum_weight(c, keys, weights))


def _idf_sum_weight(c, keys, weights) -> dict:
    """{w32, w64} of a positional leaf: boost × Σ idf over ``keys`` —
    the one SimScorer a phrase, multiphrase or span weight builds over
    all its terms' stats (f32 sum in key order)."""
    b = c["boost"]
    return {"w32": float(np.float32(np.float32(b) * np.float32(
                sum(np.float32(weights[k]["idf32"]) for k in keys)))),
            "w64": b * sum(weights[k]["idf64"] for k in keys)}


def _span_anchor(op):
    """The term whose occurrences bound a span-op tree's spans: every
    span of a near is anchored at one span of its first child, and
    not/containing/within/first/position-range keep a subset of one
    child's spans (include, big, little, child), so a doc's span freq
    Σ 1/(1+width) never exceeds the anchor's term freq. → key, or None
    when the chain reaches a multi-child or."""
    o = op["op"]
    if o == "sterm":
        return op["key"]
    if o == "sor":
        return (_span_anchor(op["children"][0])
                if len(op["children"]) == 1 else None)
    if o == "snear":
        return _span_anchor(op["children"][0])
    if o == "snot":
        return _span_anchor(op["include"])
    if o == "scontain":
        return _span_anchor(op["big"])
    if o == "swithin":
        return _span_anchor(op["little"])
    return _span_anchor(op["child"])                    # sfirst/sposrange


def _annotate_tree(node, st, weights, sim: str = "bm25"):
    """Weight-annotate a tree plan; → annotated node or None (the node
    cannot match: a required child is dead, or msm exceeds the live
    SHOULD count — the stats-level analog of the rewrite rules)."""
    kind = node["kind"]
    if kind in _LEAF_KINDS:
        return _annotate_leaf(node, st, weights, sim=sim)
    if kind == "dismax":
        kids = [_annotate_tree(ch, st, weights, sim)
                for ch in node["children"]]
        kids = [x for x in kids if x is not None]
        if not kids:
            return None
        return dict(node, children=kids)
    if node.get("never"):
        return None
    must, filt, should, mn = [], [], [], []
    for ch in node["must"]:
        a = _annotate_tree(ch, st, weights, sim)
        if a is None:
            return None
        must.append(a)
    for ch in node["filter"]:
        a = _annotate_tree(ch, st, weights, sim)
        if a is None:
            return None
        filt.append(a)
    for ch in node["should"]:
        a = _annotate_tree(ch, st, weights, sim)
        if a is not None:
            should.append(a)
    for ch in node["must_not"]:
        a = _annotate_tree(ch, st, weights, sim)
        if a is not None:
            mn.append(a)
    if (not must and not filt and not should
            and not node.get("all_should") and not node.get("all_must")):
        return None
    if node["msm"] > len(should) + node.get("all_should", 0):
        return None
    return dict(node, must=must, filter=filt, should=should, must_not=mn)


def _key_filter(keys: list[tuple[str, str]]):
    """Pushed-down Parquet predicate for a set of (field, term) keys:
    OR of per-field (field = f AND term IN (...)) conjunctions."""
    byf: dict[str, list[str]] = {}
    for f, t in keys:
        byf.setdefault(f, []).append(t)
    cond = None
    for f, ts in byf.items():
        c = (F.col("field") == f) & F.col("term").isin(ts)
        cond = c if cond is None else (cond | c)
    return cond if cond is not None else F.lit(False)


# ---------------------------------------------------------------------------
# the per-partition kernel
# ---------------------------------------------------------------------------

def _bucket_kernel_multi(batches, specs):
    """Iterate bucket-sorted block rows; score each bucket once per spec,
    every spec with its own heap and pruning threshold.

    Thresholds are carried across buckets within the slice — a
    partition of the executor job, or every bucket when the driver runs
    the kernel (the per-slice MaxScoreAccumulator analog; they don't
    cross slices, which only costs pruning efficiency, never
    correctness).
    """
    buf = None
    states = [{"threshold": -np.inf, "heap": []} for _ in specs]

    def run_bucket(grp):
        outs = []
        for qi, spec in enumerate(specs):
            st = states[qi]
            out, st["threshold"] = _score_bucket(
                grp, spec, st["threshold"], st["heap"])
            if out is not None and len(out):
                out = out.copy()
                out.insert(0, "query_id", np.int32(qi))
                outs.append(out)
        return outs

    for pdf in batches:
        if len(pdf) == 0:
            continue
        if buf is not None:
            pdf = pd.concat([buf, pdf], ignore_index=True)
            buf = None
        bucket_vals = pdf["bucket"].to_numpy()
        tail_mask = bucket_vals == bucket_vals[-1]
        buf = pdf[tail_mask]
        head = pdf[~tail_mask]
        if len(head):
            for _, grp in head.groupby("bucket", sort=True):
                yield from run_bucket(grp)
    if buf is not None and len(buf):
        yield from run_bucket(buf)
    # top-k mode: ONE heap flush per query — the driver receives at most
    # partitions × k rows per query, never buckets × k (scale posture)
    for qi, spec in enumerate(specs):
        if spec["collect_all"]:
            continue
        out = _flush_heap(states[qi]["heap"])
        if out is not None:
            out.insert(0, "query_id", np.int32(qi))
            yield out


def _push_heap(heap, k, scores, docs, threshold):
    for s, d in zip(scores, docs):
        item = (float(s), -int(d))
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
    if len(heap) >= k:
        threshold = heap[0][0]
    return threshold


# decode_blocks arrays with one entry per posting (the rest: per occurrence)
_POSTING_COLS = ("doc", "freq", "norm", "row")


def _live_postings(batches, channels, deleted, grid: int):
    """(batch, postings) per Arrow batch of a `Searcher._blocks` scan:
    `decode_blocks` over the batch's rows, minus the postings (and their
    occurrences) of tombstoned docs from whichever carrier rides along —
    the driver array ``deleted`` or the joined ``del_offsets`` column.
    Batches with no live posting are skipped."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        p = decode_blocks(pdf.to_dict("records"), channels)
        dead = deleted
        if "del_offsets" in pdf.columns:
            b, first = np.unique(pdf["bucket"].to_numpy(), return_index=True)
            cells = [np.asarray(o, dtype=np.int64) + int(c) * grid
                     for c, o in zip(b, pdf["del_offsets"].to_numpy()[first])
                     if o is not None and not isinstance(o, float)]
            dead = np.concatenate(cells) if cells else None
        if dead is not None and len(dead):
            live = ~np.isin(p["doc"], dead)
            if not live.all():
                occ = np.repeat(live, p["freq"])
                p = {c: v[live if c in _POSTING_COLS else occ]
                     for c, v in p.items()}
        if len(p["doc"]):
            yield pdf, p


def _by_doc(p: dict) -> dict:
    """``decode_blocks`` output in stable doc order: one key's blocks are
    doc-ordered except at generation seams (incremental appends), where
    one permutation reorders every posting and occurrence channel."""
    order = np.argsort(p["doc"], kind="stable")
    if (order[1:] > order[:-1]).all():
        return p
    freq = p["freq"]
    src = np.cumsum(freq) - freq                # each posting's first occ
    f_o = freq[order]
    occ = (np.repeat(src[order] - (np.cumsum(f_o) - f_o), f_o)
           + np.arange(int(f_o.sum())))
    return {c: v[order if c in _POSTING_COLS else occ]
            for c, v in p.items()}


class _BucketData:
    """Lazy per-bucket decode cache: each (field, term) key decodes at
    most once per bucket regardless of how many leaves reference it.
    ``by_key`` holds each key's block rows as dicts, in block order."""

    __slots__ = ("by_key", "off", "dec", "decp", "bmax")

    def __init__(self, grp: pd.DataFrame, off: int):
        self.by_key: dict = {}
        for r in grp.to_dict("records"):
            self.by_key.setdefault((r["field"], r["term"]), []).append(r)
        self.off = off
        self.dec: dict = {}
        self.decp: dict = {}
        self.bmax: dict = {}     # id(term leaf) → per-block score bounds

    def decode(self, key):
        """(docs, freqs, norms) for the key within the bucket, or None."""
        if key in self.dec:
            return self.dec[key]
        if self.decp.get(key) is not None:
            # positions already decoded: reuse their doc-sorted columns
            out = self.dec[key] = self.decp[key][:3]
            return out
        rows = self.by_key.get(key)
        out = None
        if rows is not None:
            p = _by_doc(decode_blocks(rows))
            out = p["doc"], p["freq"], p["norm"]
        self.dec[key] = out
        return out

    def decode_positions(self, key):
        """(docs, freqs, norms, flat_local_doc, flat_pos) — flat arrays
        repeat the local doc index per occurrence, positions ascending
        within each doc (fully vectorized, no per-doc loop)."""
        if key in self.decp:
            return self.decp[key]
        rows = self.by_key.get(key)
        out = None
        if rows is not None:
            p = _by_doc(decode_blocks(rows, ("pos",)))
            out = (p["doc"], p["freq"], p["norm"],
                   np.repeat(p["doc"] - self.off, p["freq"]), p["pos"])
        self.decp[key] = out
        return out


def _score_bucket(grp: pd.DataFrame, spec, threshold, heap):
    """Evaluate the annotated tree to a (mask, score) pair over the
    bucket grid and feed the hits to the heap (or emit them, exhaustive
    mode). Pruning, top-k mode only:

      bucket  the tree's upper bound (block-max skylines) below the
              threshold skips the whole bucket;
      block   (the WANDScorer / BlockMaxConjunctionScorer roles) a term
              leaf whose path to the root runs through MUST/SHOULD edges
              of bool nodes only adds its score straight into the
              root's, so a doc scores at most the bounds of the leaves
              it matches plus the constants. A block of such a leaf
              whose block max + the bounds of all other leaves is below
              the threshold holds no top-k doc and is never decoded.
              Dropping its matches only shrinks masks (no MUST_NOT or
              dismax above the leaf); a doc that still matches scores
              below the threshold anyway, so the heap never takes it.
    """
    grid = spec["grid"]
    off = int(grp["bucket"].iloc[0]) * grid
    dtype = np.float32 if spec["mode"] == "f32" else np.float64
    data = _BucketData(grp, off)
    root = spec["tree"]
    if not _tree_present(root, data):
        return None, threshold
    skip = None
    if spec["prune"]:
        leaf_ubs: dict = {}
        ub = (_tree_ub(root, data, spec, dtype, leaf_ubs)
              * (1.0 + _UB_EPS) + _UB_EPS)
        if ub < threshold:
            return None, threshold
        if threshold > -np.inf:
            skip = ({i: ub - u for i, u in leaf_ubs.items()}, threshold)
    mask, score = _eval_tree(root, data, spec, dtype, grid, skip=skip)
    doffs = _bucket_deleted(grp, spec, off, grid)
    if doffs is not None:
        mask = mask.copy()
        mask[doffs] = False
    hit = np.flatnonzero(mask)
    if len(hit) == 0:
        return None, threshold
    return _emit_hits(hit, score, off, spec, threshold, heap)


def _bucket_deleted(grp: pd.DataFrame, spec, off: int, grid: int):
    """In-bucket offsets of tombstoned docs, from whichever carrier the
    index uses: the in-spec sorted array (small delete sets, sliced by
    searchsorted) or the co-located ``del_offsets`` column (per-cell
    bitmap table joined onto the queried blocks — the liveDocs-file
    analog; the driver never sees doc_ids). → int array or None."""
    deleted = spec.get("deleted")
    if deleted is not None and len(deleted):
        lo = int(np.searchsorted(deleted, off))
        hi = int(np.searchsorted(deleted, off + grid))
        if hi > lo:
            return deleted[lo:hi] - off
        return None
    if "del_offsets" in grp.columns:
        v = grp["del_offsets"].iloc[0]
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return None
        a = np.asarray(v, dtype=np.int64)
        if len(a):
            return a
    return None


def _emit_hits(hit, score, off, spec, threshold, heap):
    """Shared result emission: exhaustive mode returns the bucket's rows;
    top-k mode only feeds the PARTITION-level heap (nothing is emitted
    per bucket — the kernel flushes the heap once at partition
    exhaustion, bounding driver input to partitions × k rows)."""
    docs_out = hit + off
    scores_out = score[hit]
    if spec["collect_all"]:
        return pd.DataFrame({"doc_id": docs_out,
                             "score": scores_out.astype(np.float64)}), threshold
    # per-bucket top-k (score desc, doc asc) before the heap push
    k = spec["k"]
    if len(hit) > k:
        sel = np.lexsort((docs_out, -scores_out))[:k]
        docs_out, scores_out = docs_out[sel], scores_out[sel]
    threshold = _push_heap(heap, k, scores_out, docs_out, threshold)
    return None, threshold


def _flush_heap(heap):
    """Partition top-k heap → one output frame (or None if empty)."""
    if not heap:
        return None
    return pd.DataFrame({
        "doc_id": np.array([-nd for _, nd in heap], dtype=np.int64),
        "score": np.array([s for s, _ in heap], dtype=np.float64)})


def _tree_present(node, data: "_BucketData") -> bool:
    """Cheap dictionary-presence check: can the node match in-bucket?"""
    kind = node["kind"]
    if kind in _LEAF_KINDS:
        return _clause_present(node, data)
    if kind == "dismax":
        return any(_tree_present(ch, data) for ch in node["children"])
    if node.get("never"):
        return False
    for ch in node["must"] + node["filter"]:
        if not _tree_present(ch, data):
            return False
    anchored = (node["must"] or node["filter"] or node.get("all_must"))
    if node["should"] or node.get("all_should"):
        n_present = (node.get("all_should", 0)
                     + sum(1 for ch in node["should"]
                           if _tree_present(ch, data)))
        if node["msm"] > 0 and n_present < node["msm"]:
            return False
        if not anchored and n_present == 0:
            return False
    elif not anchored:
        return False
    return True


def _tree_ub(node, data: "_BucketData", spec, dtype,
             leaf_ubs: dict | None = None) -> float:
    """Conservative max-score upper bound of a tree node in the bucket
    (block-max skylines; FILTER/MUST_NOT contribute nothing). With
    ``leaf_ubs``, records {id(leaf): bound} for every term leaf reached
    through bool MUST/SHOULD edges only — the leaves whose blocks
    `_score_bucket` may skip."""
    kind = node["kind"]
    if kind == "dismax":
        # max_child_ub + tie * (sum_others_ub)
        ubs = [_tree_ub(ch, data, spec, dtype) for ch in node["children"]]
        ubs = [u for u in ubs if u > 0.0]
        if not ubs:
            return 0.0
        mx, sm = max(ubs), sum(ubs)
        return mx + node["tie"] * (sm - mx)
    if kind != "bool":
        u = _leaf_ub(node, data, spec, dtype)
        if leaf_ubs is not None and kind == "term":
            leaf_ubs[id(node)] = u
        return u
    return (sum(_tree_ub(ch, data, spec, dtype, leaf_ubs)
                for ch in node["must"])
            + sum(_tree_ub(ch, data, spec, dtype, leaf_ubs)
                  for ch in node["should"])
            + node.get("const", 0.0))


def _eval_tree(node, data: "_BucketData", spec, dtype, grid,
               scoring: bool = True, skip=None):
    """Recursive evaluation → (mask bool[grid], score dtype[grid]);
    score is zeroed outside the mask, so a parent may blindly add it.
    f32 accumulation order (children in appearance order, MUST before
    SHOULD) is replicated by the pure-Python oracle's tree interpreter.
    ``skip`` = ({id(term leaf): bound of everything else}, threshold)
    turns on per-block skipping for those leaves (see `_score_bucket`);
    it only travels down bool MUST/SHOULD edges."""
    kind = node["kind"]
    if kind in _LEAF_KINDS:
        if skip is not None and id(node) in skip[0]:
            res = _eval_term(node, data, spec, dtype, skip=True,
                             ub_other=skip[0][id(node)], threshold=skip[1])
        else:
            res = _LEAF_EVAL[kind](node, data, spec, dtype)
        mask = np.zeros(grid, dtype=bool)
        score = np.zeros(grid, dtype=dtype)
        if res is not None and len(res[0]):
            idxs, s = res
            mask[idxs] = True
            if scoring:
                score[idxs] = s.astype(dtype, copy=False)
        return mask, score
    if kind == "dismax":
        # max + tie × (sum − max) over matching children (any node kind)
        mx = np.zeros(grid, dtype=dtype)
        sm = np.zeros(grid, dtype=dtype)
        mask = np.zeros(grid, dtype=bool)
        for ch in node["children"]:
            m, s = _eval_tree(ch, data, spec, dtype, grid, scoring)
            mask |= m
            if scoring:
                sm += s                       # s is zero outside m
                np.maximum(mx, s, out=mx)     # scores are >= 0
        score = np.zeros(grid, dtype=dtype)
        if scoring and mask.any():
            idxs = np.flatnonzero(mask)
            tie = dtype(node["tie"])
            score[idxs] = mx[idxs] + tie * (sm[idxs] - mx[idxs])
        return mask, score
    # bool node
    score = np.zeros(grid, dtype=dtype)
    if node.get("never"):
        return np.zeros(grid, dtype=bool), score
    req = None
    for ch in node["must"]:
        m, s = _eval_tree(ch, data, spec, dtype, grid, scoring, skip)
        req = m if req is None else (req & m)
        if scoring:
            score += s
    for ch in node["filter"]:
        m, _ = _eval_tree(ch, data, spec, dtype, grid, False)
        req = m if req is None else (req & m)
    if req is None and node.get("all_must"):
        # MatchAll MUST/FILTER: required-everything (sound only nested
        # under a grounding parent — tree_grounded guards the root)
        req = np.ones(grid, dtype=bool)
    cnt = None
    if node["should"] or node.get("all_should"):
        # MatchAll SHOULD clauses satisfy the counter for every slot
        cnt = np.full(grid, node.get("all_should", 0), dtype=np.int16)
        for ch in node["should"]:
            m, s = _eval_tree(ch, data, spec, dtype, grid, scoring, skip)
            cnt += m
            if scoring:
                score += s
    if req is not None:
        mask = req
        if node["msm"] > 0 and cnt is not None:
            mask = mask & (cnt >= node["msm"])
    elif cnt is not None:
        mask = cnt >= max(1, node["msm"])
    else:
        mask = np.zeros(grid, dtype=bool)
    for ch in node["must_not"]:
        m, _ = _eval_tree(ch, data, spec, dtype, grid, False)
        mask = mask & ~m
    if scoring:
        score[~mask] = 0
        if node.get("const"):
            # MatchAll clauses score their boost on every matching doc
            # (accumulated last, after the children — the pyoracle
            # mirrors this f32 order)
            score[mask] += dtype(node["const"])
    return mask, score


def _clause_present(c, data: _BucketData) -> bool:
    if c["kind"] == "term":
        return c["key"] in data.by_key
    if c["kind"] == "phrase":
        return all(k in data.by_key for k in c["keys"])
    if c["kind"] == "multiphrase":
        return all(any(k in data.by_key for k in slot)
                   for slot in c["slots"])
    if c["kind"] == "spantree":
        # required-leaf presence (sor alternatives / snot excludes are
        # optional); conservative — never skips a matchable bucket
        return all(k in data.by_key for k in c["required"])
    return all(k in data.by_key
               for k in _interval_required_keys(c["root"]))   # interval


def _term_w(c, spec, dtype):
    return np.float32(c["w32"]) if dtype is np.float32 else c["w64"]


def _score_freqs(freqs, norms, w, field, spec, dtype, cp=None):
    """Similarity scoring on decoded (freq, norm byte) arrays with
    clause weight w. BM25 in f32 (Lucene-exact order) or f64; classic
    TF-IDF and LMDirichlet in f64 (doc length = decoded norm byte,
    exactly the SimilarityBase norm table)."""
    sim = spec.get("sim", "bm25")
    if sim != "bm25":
        if dtype is np.float32:
            raise ValueError(
                f"similarity {sim!r} supports f64 mode only")
        dl = LENGTH_TABLE[np.asarray(norms, dtype=np.int64)
                          & 0xFF].astype(np.float64)
        f = np.asarray(freqs, dtype=np.float64)
        if sim == "classic":
            # tf(f)=sqrt(f) × queryWeight × 1/sqrt(dl)
            # (TFIDFSimilarity.java:562-566, ClassicSimilarity.java:39-47)
            return w * np.sqrt(f) / np.sqrt(dl)
        if sim == "sweetspot":
            # SweetSpotSimilarity.java: ClassicSimilarity idf with
            # baselineTf (:121 — freq<=min ? base : sqrt(freq+base²−min))
            # and the lengthNorm plateau (:100 — flat 1.0 on [min,max],
            # hyperbolic falloff at steepness s outside it)
            l, h, st_, tb, tm = spec["ss"]
            tf = np.where(f <= tm, tb, np.sqrt(f + tb * tb - tm))
            ln = 1.0 / np.sqrt(
                st_ * (np.abs(dl - l) + np.abs(dl - h) - (h - l)) + 1.0)
            return w * tf * ln
        if sim == "boolean":
            # BooleanSimilarity.java:38 — constant boost per match
            return np.full(len(f), w, dtype=np.float64)
        if sim == "dfr":
            # DFR InB2 (DFRSimilarity.java:149 score path): w carries
            # boost × A × aeTimes1pTfn; tfn = f·log2(1 + c·avgdl/dl)
            # (NormalizationH2.java:53)
            tfn = f * np.log2(1.0 + spec["dfr_c"]
                              * spec["avgdl64"][field] / dl)
            return w * (1.0 - 1.0 / (1.0 + tfn))
        if sim == "f2exp":
            # AxiomaticF2EXP (Axiomatic.java:52): w carries
            # boost × ((N+1)/df)^k; tfln = f/(f + s + s·dl/avgdl)
            s = spec["ax_s"]
            return w * f / (f + s + s * dl / spec["avgdl64"][field])
        if sim == "ib":
            # IB LL-DF-H2 (IBSimilarity.java:105): cp carries λ;
            # tfn shares the H2 normalization (and its c) with DFR
            tfn = f * np.log2(1.0 + spec["dfr_c"]
                              * spec["avgdl64"][field] / dl)
            return w * np.log((tfn + cp) / cp)
        if sim == "dfi":
            # DFI standardized (DFISimilarity.java:61): cp carries the
            # expected rate; clamp at 0 when freq <= expected
            expected = cp * dl
            m = np.maximum((f - expected) / np.sqrt(expected), 0.0)
            return w * np.log2(m + 1.0)
        if sim == "lmjelinekmercer":
            # LMJelinekMercerSimilarity.java:63-69:
            # boost × ln(1 + ((1−λ)·freq/dl) / (λ·cp))
            lam = spec["lam"]
            return w * np.log(1.0 + ((1.0 - lam) * f / dl) / (lam * cp))
        mu = spec["mu"]
        # LMDirichletSimilarity.java:73-77, clamped at 0
        sc = w * (np.log(1.0 + f / (mu * cp)) + np.log(mu / (dl + mu)))
        return np.maximum(sc, 0.0)
    if dtype is np.float32:
        w = np.float32(w)
        ni = spec["cache32"][field][np.asarray(norms, dtype=np.int64) & 0xFF]
        f = np.asarray(freqs, dtype=np.float32)
        return (w - w / (np.float32(1.0) + f * ni))
    dl = LENGTH_TABLE[np.asarray(norms, dtype=np.int64) & 0xFF].astype(np.float64)
    f = np.asarray(freqs, dtype=np.float64)
    k1, b = spec["k1"], spec["b"]
    return w * f / (f + k1 * (1.0 - b + b * dl / spec["avgdl64"][field]))


def _block_max(rows, w, field, spec, dtype, cp=None) -> np.ndarray:
    """Per-block score bound (float64) of one key's block rows: the max
    over each block's competitive-impact skyline, every block in one
    vectorized pass over the concatenated skylines."""
    fr = [np.asarray(r["imp_freqs"], dtype=np.int64) for r in rows]
    lens = np.array([len(x) for x in fr], dtype=np.int64)
    out = np.zeros(len(rows), dtype=np.float64)
    if not lens.any():
        return out
    freqs = np.concatenate(fr)
    if spec.get("sim") == "sweetspot":
        # SweetSpot's lengthNorm is NOT anti-monotone in doc length (it
        # RISES toward the [min,max] plateau), so the pareto skyline's
        # (freq↑, norm↓) guarantee does not bound it — bound with the
        # plateau value ln=1.0 (the global max), monotone in freq only.
        l, h, st_, tb, tm = spec["ss"]
        f = freqs.astype(np.float64)
        s = w * np.where(f <= tm, tb, np.sqrt(f + tb * tb - tm))
    else:
        norms = np.concatenate([np.asarray(r["imp_norms"], dtype=np.int64)
                                for r in rows])
        s = _score_freqs(freqs, norms, w, field, spec, dtype, cp=cp)
    nz = lens > 0
    starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
    out[nz] = np.maximum.reduceat(np.asarray(s, dtype=np.float64), starts)
    return out


def _term_block_max(c, data: _BucketData, spec, dtype) -> np.ndarray:
    """`_block_max` of a term leaf in the bucket, computed once per leaf
    (the bucket bound and the per-block skip both read it)."""
    bm = data.bmax.get(id(c))
    if bm is None:
        bm = _block_max(data.by_key[c["key"]], _term_w(c, spec, dtype),
                        c["key"][0], spec, dtype, cp=c.get("cp64"))
        data.bmax[id(c)] = bm
    return bm


def _leaf_ub(c, data: _BucketData, spec, dtype) -> float:
    """Float64 upper bound of a leaf's max score in the bucket."""
    if c["kind"] == "term":
        if c["key"] not in data.by_key:
            return 0.0
        return max(0.0, float(_term_block_max(c, data, spec, dtype).max()))
    if not _clause_present(c, data):
        return 0.0
    w = _term_w(c, spec, dtype)
    anchor = c.get("anchor")
    if anchor is None:
        # BM25 is bounded by the clause weight for ANY freq: f32
        # w − w/(1+f·ni) < w; f64 w·f/(f+k1(…)) < w (the interval
        # saturation likewise stays below its boost)
        return float(w)
    if anchor not in data.by_key:
        return 0.0       # an or-branch anchor absent: no span in bucket
    # phrase/span freq ≤ the anchor term's freq in the doc, and the
    # anchor's norm is the scoring field's: its block-max skyline bounds
    # the leaf (phrase: the first term; spantree: `_span_anchor`)
    bm = _block_max(data.by_key[anchor], w, anchor[0], spec, dtype)
    return max(0.0, float(bm.max()))


def _eval_term(c, data: _BucketData, spec, dtype, skip=False,
               ub_other=0.0, threshold=-np.inf):
    key = c["key"]
    field = key[0]
    w = _term_w(c, spec, dtype)
    if skip and key not in data.dec:
        rows = data.by_key.get(key)
        if rows is None:
            return None
        # per-block skip: a block whose max possible TOTAL score is below
        # the current threshold cannot contribute a top-k doc
        bm = _term_block_max(c, data, spec, dtype)
        keep = np.flatnonzero(
            ~((bm + ub_other) * (1.0 + _UB_EPS) + _UB_EPS < threshold))
        if len(keep) == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dtype)
        if len(keep) < len(rows):
            p = decode_blocks([rows[i] for i in keep])
            return p["doc"] - data.off, _score_freqs(
                p["freq"], p["norm"], w, field, spec, dtype, cp=c.get("cp64"))
    d = data.decode(key)
    if d is None:
        return None
    docs, freqs, norms = d
    return docs - data.off, _score_freqs(freqs, norms, w, field, spec, dtype,
                                         cp=c.get("cp64"))


_POS_SHIFT = np.int64(33)
_POS_PAD = np.int64(512)    # covers adjusted positions down to -(phrase len)
_BIG = np.iinfo(np.int64).max // 4


def _eval_phrase(c, data: _BucketData, spec, dtype):
    """Vectorized exact/sloppy phrase matcher (no per-doc Python).

    Encodes each (local doc, position) occurrence as doc<<33 | (pos+pad);
    for every occurrence p0 of the first term, finds the nearest position
    of each later term to its expected offset via searchsorted and sums
    the displacements — matchLength ≤ slop matches, contributing
    1/(1+matchLength) to the phrase freq (SloppyPhraseMatcher.java:56
    sloppy weight; slop=0 degenerates to ExactPhraseMatcher semantics).
    """
    if not spec["with_positions"]:
        raise ValueError("phrase query requires an index built with positions")
    keys = c["keys"]
    per = []
    for k in keys:
        r = data.decode_positions(k)
        if r is None:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dtype)
        per.append(r)
    if c.get("matcher") == "lucene":
        return _eval_phrase_lucene(c, per, data, spec, dtype)
    d0, f0, n0, fd0, fp0 = per[0]
    rest = [(p[3], p[4]) for p in per[1:]]
    return _phrase_chain_score((d0, n0, fd0, fp0), rest, c, data, spec,
                               dtype, keys[0][0])


def _eval_phrase_lucene(c, per, data: _BucketData, spec, dtype):
    """FIDELITY sloppy matcher: per-candidate-doc port of Lucene's
    SloppyPhraseMatcher enumeration (search/sloppy_lucene.py — pinned
    against TestSloppyPhraseQuery.java behaviors), selected with
    PhraseQuery(matcher="lucene"). Per-doc Python over the conjunction
    candidates only — the documented trade: exact Lucene freq on
    repeated-term/out-of-order phrases vs the default vectorized
    min-displacement spec."""
    from .sloppy_lucene import sloppy_freq
    empty = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dtype))
    cand = per[0][0]
    for p in per[1:]:
        cand = np.intersect1d(cand, p[0], assume_unique=True)
    if len(cand) == 0:
        return empty
    offs = list(range(len(c["keys"])))
    slop = c.get("slop", 0)
    pf = np.zeros(len(cand), dtype=np.float64)
    for i, doc in enumerate(cand):
        ld = doc - data.off
        lists = []
        for _, _, _, fd, fp in per:
            lo = int(np.searchsorted(fd, ld, side="left"))
            hi = int(np.searchsorted(fd, ld, side="right"))
            lists.append(fp[lo:hi])
        pf[i] = sloppy_freq(offs, lists, slop)
    m = pf > 0
    if not m.any():
        return empty
    d0, _, n0 = per[0][0], per[0][1], per[0][2]
    ni = np.searchsorted(d0, cand[m])
    norms = n0[ni]
    idxs = (cand[m] - data.off).astype(np.int64)
    s = _score_freqs(pf[m], norms, _term_w(c, spec, dtype), c["keys"][0][0],
                     spec, dtype)
    return idxs, s.astype(dtype, copy=False)


def _union_slot(rs):
    """Union a multiphrase slot's decoded postings — (docs, norms,
    flat_docs, flat_pos), flat pairs sorted by (doc, pos); the
    UnionPostingsEnum role (each index position holds one term, so the
    streams are disjoint and the union is a merge, not a dedup)."""
    if len(rs) == 1:
        d, _, n, fd, fp = rs[0]
        return d, n, fd, fp
    fd = np.concatenate([r[3] for r in rs])
    fp = np.concatenate([r[4] for r in rs])
    o = np.lexsort((fp, fd))
    d = np.concatenate([r[0] for r in rs])
    n = np.concatenate([r[2] for r in rs])
    du, ui = np.unique(d, return_index=True)
    return du, n[ui], fd[o], fp[o]


def _eval_multiphrase(c, data: _BucketData, spec, dtype):
    """MultiPhraseQuery (`search/MultiPhraseQuery.java:58`): per slot,
    union the alternative terms' position streams (_union_slot), then
    run the exact/sloppy chain of _eval_phrase unchanged over the
    unioned streams."""
    if not spec["with_positions"]:
        raise ValueError("phrase query requires an index built with positions")
    empty = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dtype))
    slots = []
    for slot in c["slots"]:
        rs = []
        for k in slot:
            r = data.decode_positions(k)
            if r is not None:
                rs.append(r)
        if not rs:
            return empty
        slots.append(_union_slot(rs))
    d0, n0, fd0, fp0 = slots[0]
    rest = [(s[2], s[3]) for s in slots[1:]]
    return _phrase_chain_score((d0, n0, fd0, fp0), rest, c, data, spec,
                               dtype, c["slots"][0][0][0])


def _phrase_chain_score(slot0, rest, c, data, spec, dtype, field):
    """Shared exact/sloppy phrase chain + BM25 scoring over per-slot
    (doc, pos) streams; slot0 = (docs, norms, flat_docs, flat_pos),
    rest = [(flat_docs, flat_pos), …] for slots 1..n−1."""
    slop = c.get("slop", 0)
    # explicit positions (NGramPhraseQuery rewrite / gapped builder):
    # slot i sits at displacement positions[i] - positions[0], not i
    disps = c.get("positions")
    d0, n0, fd0, fp0 = slot0
    if len(fd0) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dtype)
    base = (fd0 << _POS_SHIFT) + fp0 + _POS_PAD
    tot = np.zeros(len(base), dtype=np.float64)
    for i in range(1, len(rest) + 1):
        fdi, fpi = rest[i - 1]
        if len(fdi) == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dtype)
        arr = (fdi << _POS_SHIFT) + fpi + _POS_PAD
        target = base + ((disps[i] - disps[0]) if disps else i)
        j = np.searchsorted(arr, target)
        jr = np.minimum(j, len(arr) - 1)
        right_ok = (j < len(arr)) & ((arr[jr] >> _POS_SHIFT)
                                     == (target >> _POS_SHIFT))
        right_d = np.where(right_ok, arr[jr] - target, _BIG)
        jl = np.maximum(j - 1, 0)
        left_ok = (j > 0) & ((arr[jl] >> _POS_SHIFT)
                             == (target >> _POS_SHIFT))
        left_d = np.where(left_ok, target - arr[jl], _BIG)
        d_i = np.minimum(right_d, left_d).astype(np.float64)
        d_i[d_i >= _BIG] = np.inf
        tot += d_i
    match = tot <= slop
    if not match.any():
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dtype)
    wts = 1.0 / (1.0 + tot[match])
    docs_m = fd0[match]
    pf_grid = np.bincount(docs_m, weights=wts, minlength=spec["grid"])
    idxs = np.flatnonzero(pf_grid > 0)
    pf = pf_grid[idxs]
    if slop == 0:
        pf = np.round(pf)       # integral counts, exact
    # norms of matched docs from term0's postings
    norm_grid = np.zeros(spec["grid"], dtype=np.int64)
    norm_grid[d0 - data.off] = n0
    return idxs, _score_freqs(pf, norm_grid[idxs], _term_w(c, spec, dtype),
                              field, spec, dtype)


_SPAN_EMPTY = (np.zeros(0, np.int64), np.zeros(0, np.int64),
               np.zeros(0, np.int64), np.zeros(0, np.int64))


def _span_lexsort(fd, fs, fe, fw):
    order = np.lexsort((fe, fs, fd))
    return fd[order], fs[order], fe[order], fw[order]


def _eval_span_op(op, data: _BucketData):
    """Recursively evaluate a span-op tree within the bucket → flat span
    arrays (fd local doc, fs start, fe end, fw width), lex-sorted by
    (fd, fs, fe). Widths follow the reference: 0 for term spans
    (TermSpans.java:110), pass-through for or/not/first
    (SpanOrQuery.java:360, FilterSpans.java:114), gap sum for ordered
    near (NearSpansOrdered.java:100-119), window extent for unordered
    near (NearSpansUnordered.java:163). Fully vectorized — the same
    doc<<33|pos encoding as the phrase kernel; no per-doc Python."""
    o = op["op"]
    if o == "sterm":
        r = data.decode_positions(op["key"])
        if r is None:
            return _SPAN_EMPTY
        _, _, _, fdoc, fpos = r
        return (fdoc, fpos, fpos + 1, np.zeros(len(fpos), np.int64))
    if o == "sor":
        parts = [_eval_span_op(ch, data) for ch in op["children"]]
        parts = [p for p in parts if len(p[0])]
        if not parts:
            return _SPAN_EMPTY
        if len(parts) == 1:
            return parts[0]
        fd = np.concatenate([p[0] for p in parts])
        fs = np.concatenate([p[1] for p in parts])
        fe = np.concatenate([p[2] for p in parts])
        fw = np.concatenate([p[3] for p in parts])
        return _span_lexsort(fd, fs, fe, fw)
    if o == "sfirst":
        fd, fs, fe, fw = _eval_span_op(op["child"], data)
        m = fe <= op["end"]
        return fd[m], fs[m], fe[m], fw[m]
    if o == "snot":
        fd, fs, fe, fw = _eval_span_op(op["include"], data)
        if len(fd) == 0:
            return _SPAN_EMPTY
        xd, xs, xe, _ = _eval_span_op(op["exclude"], data)
        if len(xd) == 0:
            return fd, fs, fe, fw
        pre, post = op["pre"], op["post"]
        # reject include span [s,e) iff ∃ exclude with start < e+post AND
        # end > s−pre (SpanNotQuery.java:180-191). Exclude spans sorted by
        # (doc, start); the running max of doc<<33|end over that order
        # stays within the current doc block (earlier docs encode lower),
        # so one searchsorted + one gather answers the window query.
        enc_xs = (xd << _POS_SHIFT) + xs
        runmax_end = np.maximum.accumulate((xd << _POS_SHIFT) + xe)
        j = np.searchsorted(enc_xs, (fd << _POS_SHIFT) + fe + post,
                            side="left")
        thr = (fd << _POS_SHIFT) + np.maximum(fs - pre, 0)
        jr = np.maximum(j - 1, 0)
        rejected = (j > 0) & (runmax_end[jr] > thr)
        keep = ~rejected
        return fd[keep], fs[keep], fe[keep], fw[keep]
    if o == "sposrange":
        fd, fs, fe, fw = _eval_span_op(op["child"], data)
        m = (fs >= op["start"]) & (fe <= op["end"])
        return fd[m], fs[m], fe[m], fw[m]
    if o in ("scontain", "swithin"):
        bd, bs, be, bw = _eval_span_op(op["big"], data)
        ld, ls, le, lw = _eval_span_op(op["little"], data)
        if len(bd) == 0 or len(ld) == 0:
            return _SPAN_EMPTY
        if o == "scontain":
            # keep big [S,E) with ∃ little s≥S, e≤E. Littles sorted by
            # (doc, start); any little with s > E has e > E, so the
            # suffix-min of doc-encoded ends from the first little with
            # s ≥ S answers "min end among s ≥ S" — later docs encode
            # HIGHER and cannot lower a same-doc min below threshold
            enc_ls = (ld << _POS_SHIFT) + ls
            sufmin = np.minimum.accumulate(
                ((ld << _POS_SHIFT) + le)[::-1])[::-1]
            j = np.searchsorted(enc_ls, (bd << _POS_SHIFT) + bs,
                                side="left")
            jr = np.minimum(j, len(enc_ls) - 1)
            ok = (j < len(enc_ls)) & (sufmin[jr]
                                      <= (bd << _POS_SHIFT) + be)
            return bd[ok], bs[ok], be[ok], bw[ok]
        # swithin: keep little [s,e) with ∃ big S≤s, E≥e. Prefix-max of
        # doc-encoded big ends over start order; earlier docs encode
        # LOWER than the little's threshold, so no cross-doc leak
        enc_bs = (bd << _POS_SHIFT) + bs
        prefmax = np.maximum.accumulate((bd << _POS_SHIFT) + be)
        j = np.searchsorted(enc_bs, (ld << _POS_SHIFT) + ls,
                            side="right") - 1
        jr = np.maximum(j, 0)
        ok = (j >= 0) & (prefmax[jr] >= (ld << _POS_SHIFT) + le)
        return ld[ok], ls[ok], le[ok], lw[ok]
    # snear
    kids = [_eval_span_op(ch, data) for ch in op["children"]]
    if any(len(k[0]) == 0 for k in kids):
        return _SPAN_EMPTY
    fd0, fs0, fe0, _ = kids[0]
    if op["ordered"]:
        # greedy chain: child i advances to its first span with
        # start >= previous end (NearSpansOrdered.advancePosition);
        # matchWidth accumulates the gaps
        cur_end = fe0.copy()
        width = np.zeros(len(fd0), np.int64)
        alive = np.ones(len(fd0), dtype=bool)
        for fdi, fsi, fei, _ in kids[1:]:
            enc = (fdi << _POS_SHIFT) + fsi
            j = np.searchsorted(enc, (fd0 << _POS_SHIFT) + cur_end,
                                side="left")
            jr = np.minimum(j, len(enc) - 1)
            ok = (j < len(enc)) & (fdi[jr] == fd0)
            alive &= ok
            width = np.where(ok, width + fsi[jr] - cur_end, width)
            cur_end = np.where(ok, fei[jr], cur_end)
        m = alive & (width <= op["slop"])
        return _span_lexsort(fd0[m], fs0[m], cur_end[m], width[m])
    # unordered: per anchor span of child 0, each other child
    # contributes its span NEAREST by start; the window matches when
    # extent − Σ span lengths ≤ slop (NearSpansUnordered.atMatch);
    # width = extent (NearSpansUnordered.width)
    win_s, win_e = fs0.copy(), fe0.copy()
    total_len = fe0 - fs0
    alive = np.ones(len(fd0), dtype=bool)
    enc0 = (fd0 << _POS_SHIFT) + fs0
    for fdi, fsi, fei, _ in kids[1:]:
        enc = (fdi << _POS_SHIFT) + fsi
        j = np.searchsorted(enc, enc0, side="left")
        jr = np.minimum(j, len(enc) - 1)
        right_ok = (j < len(enc)) & (fdi[jr] == fd0)
        right_d = np.where(right_ok, fsi[jr] - fs0, _BIG)
        jl = np.maximum(j - 1, 0)
        left_ok = (j > 0) & (fdi[jl] == fd0)
        left_d = np.where(left_ok, fs0 - fsi[jl], _BIG)
        take_left = left_d < right_d
        sel = np.where(take_left, jl, jr)
        ok = left_ok | right_ok
        alive &= ok
        s_i, e_i = fsi[sel], fei[sel]
        win_s = np.where(ok, np.minimum(win_s, s_i), win_s)
        win_e = np.where(ok, np.maximum(win_e, e_i), win_e)
        total_len = np.where(ok, total_len + e_i - s_i, total_len)
    m = alive & ((win_e - win_s - total_len) <= op["slop"])
    return _span_lexsort(fd0[m], win_s[m], win_e[m], (win_e - win_s)[m])


def _eval_spantree(c, data: _BucketData, spec, dtype):
    """Composite span query (spantree leaf): evaluate the span-op tree,
    then score freq(doc) = Σ 1/(1+width) over its spans with the BM25
    weight over the distinct scoring terms (SpanScorer.java:106-112
    setFreqCurrentDoc / scoreCurrentDoc)."""
    if not spec["with_positions"]:
        raise ValueError("span query requires an index built with positions")
    empty = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dtype))
    fd, fs, fe, fw = _eval_span_op(c["root"], data)
    if len(fd) == 0:
        return empty
    wts = 1.0 / (1.0 + fw.astype(np.float64))
    pf_grid = np.bincount(fd, weights=wts, minlength=spec["grid"])
    idxs = np.flatnonzero(pf_grid > 0)
    pf = pf_grid[idxs]
    # norms: gather per doc from leaf postings. Under FieldMaskingSpan
    # the scoring field is the MASK — leaves of the scoring field write
    # LAST (deterministic precedence), so any matched doc carrying a
    # native leaf scores with the mask field's norm byte exactly as
    # Lucene does; a doc matched ONLY through masked branches (possible
    # under sor unions) keeps the wrapped field's byte — the pinned
    # divergence envelope (_span_leaf raises on fully-masked trees).
    norm_grid = np.zeros(spec["grid"], dtype=np.int64)
    keys_ordered = sorted(_span_op_keys(c["root"], scoring_only=False),
                          key=lambda k: k[0] == c["field"])
    for key in keys_ordered:
        d = data.decode(key)
        if d is not None:
            norm_grid[d[0] - data.off] = d[2]
    return idxs, _score_freqs(pf, norm_grid[idxs], _term_w(c, spec, dtype),
                              c["field"], spec, dtype)


_IV_EMPTY = (np.zeros(0, np.int64), np.zeros(0, np.int64),
             np.zeros(0, np.int64), np.zeros(0, np.int64))


def _iv_minimalize(fd, fs, fe, fl):
    """Canonical minimal-interval filter: drop every interval that
    (non-strictly) contains another enumerated interval. Input need not
    be sorted; output sorted by (doc, start) with starts AND ends
    strictly increasing within each doc — the invariant every iv-op
    relies on."""
    if len(fd) == 0:
        return _IV_EMPTY
    # sort (doc, start asc, end asc, Σwidths desc): equal envelopes
    # keep the MAX child-width sum (fewest gaps — deterministic fl when
    # the same envelope arises from different child combos)
    order = np.lexsort((-fl, fe, fs, fd))
    fd, fs, fe, fl = fd[order], fs[order], fe[order], fl[order]
    # same (doc, start): keep the smallest end
    ks = np.ones(len(fd), dtype=bool)
    ks[1:] = (fd[1:] != fd[:-1]) | (fs[1:] != fs[:-1])
    fd, fs, fe, fl = fd[ks], fs[ks], fe[ks], fl[ks]
    # drop i when a LATER start in the same doc closes at e ≤ e_i: the
    # suffix min of doc<<33|end answers the window query in one pass
    # (later docs encode strictly larger, so cross-doc minima are inert)
    enc_e = (fd << _POS_SHIFT) + fe
    sufmin = np.minimum.accumulate(enc_e[::-1])[::-1]
    keep = np.ones(len(fd), dtype=bool)
    keep[:-1] = enc_e[:-1] < sufmin[1:]
    return fd[keep], fs[keep], fe[keep], fl[keep]


def _iv_combine_ordered(left, right):
    """One fold step of minimal ORDERED intervals
    (OrderedIntervalsSource.java:133-165 restated): for every right
    interval j, the tightest left interval strictly before it (largest
    end < right start — in a minimal stream largest end ⇔ largest
    start); keeping the FIRST right per chosen left then yields exactly
    the minimal set. Carries fl = Σ child actual widths for gaps()."""
    ld, ls, le, ll = left
    rd, rs, re, rl = right
    if len(ld) == 0 or len(rd) == 0:
        return _IV_EMPTY
    enc_le = (ld << _POS_SHIFT) + le
    tgt = (rd << _POS_SHIFT) + rs
    i = np.searchsorted(enc_le, tgt, side="left") - 1
    ir = np.maximum(i, 0)
    ok = (i >= 0) & (ld[ir] == rd)
    if not ok.any():
        return _IV_EMPTY
    ii = ir[ok]
    fd, fs, fe = rd[ok], ls[ii], re[ok]
    fl = ll[ii] + rl[ok]
    # rights are sorted by (doc, start) → ii is non-decreasing within a
    # doc; the first right per (doc, left) is the minimal one
    first = np.ones(len(fd), dtype=bool)
    first[1:] = (fd[1:] != fd[:-1]) | (ii[1:] != ii[:-1])
    return fd[first], fs[first], fe[first], fl[first]


def _iv_combine_unordered(left, right):
    """Minimal UNORDERED intervals of two sources
    (UnorderedIntervalsSource.java queue semantics, overlaps allowed):
    candidates anchor each stream's interval to the other stream's
    tightest preceding-or-equal start, both directions, then the
    generic minimality filter removes dominated envelopes."""
    ld, ls, le, ll = left
    rd, rs, re, rl = right
    if len(ld) == 0 or len(rd) == 0:
        return _IV_EMPTY
    outs = []
    for (ad, as_, ae, al), (bd, bs, be, bl) in (
            ((ld, ls, le, ll), (rd, rs, re, rl)),
            ((rd, rs, re, rl), (ld, ls, le, ll))):
        # for each b interval: the a with the largest start ≤ b start
        enc_as = (ad << _POS_SHIFT) + as_
        tgt = (bd << _POS_SHIFT) + bs
        i = np.searchsorted(enc_as, tgt, side="right") - 1
        ir = np.maximum(i, 0)
        ok = (i >= 0) & (ad[ir] == bd)
        if not ok.any():
            continue
        ii = ir[ok]
        outs.append((bd[ok], as_[ii], np.maximum(ae[ii], be[ok]),
                     al[ii] + bl[ok]))
    if not outs:
        return _IV_EMPTY
    fd = np.concatenate([o[0] for o in outs])
    fs = np.concatenate([o[1] for o in outs])
    fe = np.concatenate([o[2] for o in outs])
    fl = np.concatenate([o[3] for o in outs])
    return _iv_minimalize(fd, fs, fe, fl)


def _eval_interval_op(op, data: _BucketData):
    """Recursively evaluate an iv-op tree within the bucket → flat
    interval arrays (fd local doc, fs start, fe INCLUSIVE end, fl = Σ
    child actual widths), sorted by (fd, fs) with the minimal-stream
    invariant (starts and ends strictly increasing per doc). Fully
    vectorized — no per-doc Python."""
    o = op["op"]
    if o == "iterm":
        r = data.decode_positions(op["key"])
        if r is None:
            return _IV_EMPTY
        _, _, _, fdoc, fpos = r
        return (fdoc, fpos, fpos, np.ones(len(fpos), np.int64))
    if o == "iblock":
        # contiguous run (BlockIntervalsSource): term i exactly at
        # anchor + i — the exact-phrase membership chain
        per = []
        for k in op["keys"]:
            r = data.decode_positions(k)
            if r is None:
                return _IV_EMPTY
            per.append(r)
        _, _, _, fd0, fp0 = per[0]
        if len(fd0) == 0:
            return _IV_EMPTY
        enc0 = (fd0 << _POS_SHIFT) + fp0
        alive = np.ones(len(enc0), dtype=bool)
        for i in range(1, len(op["keys"])):
            _, _, _, fdi, fpi = per[i]
            if len(fdi) == 0:
                return _IV_EMPTY
            enc = (fdi << _POS_SHIFT) + fpi
            j = np.searchsorted(enc, enc0 + i, side="left")
            jr = np.minimum(j, len(enc) - 1)
            alive &= (j < len(enc)) & (enc[jr] == enc0 + i)
        k = len(op["keys"])
        fd, fs = fd0[alive], fp0[alive]
        return (fd, fs, fs + (k - 1), np.full(len(fd), k, np.int64))
    if o == "iord":
        cur = _eval_interval_op(op["children"][0], data)
        for ch in op["children"][1:]:
            cur = _iv_combine_ordered(cur, _eval_interval_op(ch, data))
            if len(cur[0]) == 0:
                return _IV_EMPTY
        return cur
    if o == "iunord":
        return _iv_combine_unordered(
            _eval_interval_op(op["children"][0], data),
            _eval_interval_op(op["children"][1], data))
    if o == "ior":
        parts = [_eval_interval_op(ch, data) for ch in op["children"]]
        parts = [p for p in parts if len(p[0])]
        if not parts:
            return _IV_EMPTY
        if len(parts) == 1:
            return parts[0]
        return _iv_minimalize(np.concatenate([p[0] for p in parts]),
                              np.concatenate([p[1] for p in parts]),
                              np.concatenate([p[2] for p in parts]),
                              np.concatenate([p[3] for p in parts]))
    if o in ("icontaining", "inotcontaining"):
        fd, fs, fe, fl = _eval_interval_op(op["big"], data)
        if len(fd) == 0:
            return _IV_EMPTY
        sd, ss, se, _ = _eval_interval_op(op["small"], data)
        if len(sd) == 0:
            ok = np.zeros(len(fd), dtype=bool)
        else:
            # ∃ small with start ≥ big.start and end ≤ big.end: smalls
            # sorted by (doc, start); the suffix min of doc<<33|end over
            # that order answers the 2-sided window in one searchsorted
            enc_ss = (sd << _POS_SHIFT) + ss
            sufmin = np.minimum.accumulate(
                ((sd << _POS_SHIFT) + se)[::-1])[::-1]
            i = np.searchsorted(enc_ss, (fd << _POS_SHIFT) + fs,
                                side="left")
            ir = np.minimum(i, len(enc_ss) - 1)
            ok = (i < len(enc_ss)) & (sufmin[ir]
                                      <= (fd << _POS_SHIFT) + fe)
        m = ok if o == "icontaining" else ~ok
        return fd[m], fs[m], fe[m], fl[m]
    if o in ("icontainedby", "inotcontainedby"):
        fd, fs, fe, fl = _eval_interval_op(op["small"], data)
        if len(fd) == 0:
            return _IV_EMPTY
        bd, bs, be, _ = _eval_interval_op(op["big"], data)
        if len(bd) == 0:
            ok = np.zeros(len(fd), dtype=bool)
        else:
            # ∃ big with start ≤ small.start and end ≥ small.end: bigs
            # sorted by (doc, start); prefix max of doc<<33|end
            enc_bs = (bd << _POS_SHIFT) + bs
            prefmax = np.maximum.accumulate((bd << _POS_SHIFT) + be)
            i = np.searchsorted(enc_bs, (fd << _POS_SHIFT) + fs,
                                side="right") - 1
            ir = np.maximum(i, 0)
            ok = (i >= 0) & (prefmax[ir] >= (fd << _POS_SHIFT) + fe)
        m = ok if o == "icontainedby" else ~ok
        return fd[m], fs[m], fe[m], fl[m]
    if o in ("ibefore", "iafter"):
        fd, fs, fe, fl = _eval_interval_op(op["src"], data)
        if len(fd) == 0:
            return _IV_EMPTY
        rd, rs, re, _ = _eval_interval_op(op["ref"], data)
        if len(rd) == 0:
            return _IV_EMPTY
        if o == "ibefore":
            # ∃ ref with start > s.end ⟺ s.end < per-doc MAX ref start;
            # starts increase per doc → the doc's LAST ref row carries it
            i = np.searchsorted(rd, fd, side="right") - 1
            ir = np.maximum(i, 0)
            ok = (i >= 0) & (rd[ir] == fd) & (fe < rs[ir])
        else:
            # ∃ ref with end < s.start ⟺ s.start > per-doc MIN ref end;
            # ends increase per doc → the doc's FIRST ref row carries it
            i = np.searchsorted(rd, fd, side="left")
            ir = np.minimum(i, len(rd) - 1)
            ok = (i < len(rd)) & (rd[ir] == fd) & (fs > re[ir])
        return fd[ok], fs[ok], fe[ok], fl[ok]
    if o in ("ioverlap", "inonoverlap"):
        fd, fs, fe, fl = _eval_interval_op(op["src"], data)
        if len(fd) == 0:
            return _IV_EMPTY
        rd, rs, re, _ = _eval_interval_op(op["ref"], data)
        pos = op["positions"]
        if len(rd) == 0:
            ok = np.zeros(len(fd), dtype=bool)
        else:
            # overlap with refs extended ±pos: rs−pos ≤ s.end AND
            # re+pos ≥ s.start. Refs sorted by (doc, start) with ends
            # increasing per doc (minimal stream): the prefix of refs
            # with start ≤ s.end+pos has its max end at its LAST row
            i = np.searchsorted((rd << _POS_SHIFT) + rs,
                                (fd << _POS_SHIFT) + fe + pos,
                                side="right") - 1
            ir = np.maximum(i, 0)
            ok = (i >= 0) & (rd[ir] == fd) & (re[ir] >= fs - pos)
        if o == "inonoverlap":
            ok = ~ok
        return fd[ok], fs[ok], fe[ok], fl[ok]
    if o == "iwithin":
        fd, fs, fe, fl = _eval_interval_op(op["src"], data)
        if len(fd) == 0:
            return _IV_EMPTY
        rd, rs, re, _ = _eval_interval_op(op["ref"], data)
        pos = op["positions"]
        if len(rd) == 0:
            return _IV_EMPTY
        # containedBy vs refs extended ±pos: the icontainedby sweep with
        # shifted bounds; threshold floors at the doc base so a previous
        # doc's prefix-max can never leak in
        enc_rs = (rd << _POS_SHIFT) + rs
        prefmax = np.maximum.accumulate((rd << _POS_SHIFT) + re)
        i = np.searchsorted(enc_rs, (fd << _POS_SHIFT) + fs + pos,
                            side="right") - 1
        ir = np.maximum(i, 0)
        thr = (fd << _POS_SHIFT) + np.maximum(fe - pos, 0)
        ok = (i >= 0) & (prefmax[ir] >= thr)
        return fd[ok], fs[ok], fe[ok], fl[ok]
    fd, fs, fe, fl = _eval_interval_op(op["child"], data)
    if len(fd) == 0:
        return _IV_EMPTY
    if o == "imaxgaps":
        m = (fe - fs + 1 - fl) <= op["gaps"]
    else:    # imaxwidth
        m = (fe - fs + 1) <= op["width"]
    return fd[m], fs[m], fe[m], fl[m]


def _eval_interval(c, data: _BucketData, spec, dtype):
    """IntervalQuery leaf: freq(doc) = Σ 1/max(length − minExtent + 1, 1)
    over the enumerated minimal intervals (IntervalScorer.java:66-72),
    score = boost × (1 − pivot/(pivot + freq))
    (IntervalScoreFunction.java:69-73 SaturationFunction). Norm-free —
    the session similarity is never consulted. Engine spec: freq is
    accumulated in f64 (bincount); the f32 mode applies the saturation
    in float32 on the f64 freq (Lucene accumulates freq itself in f32 —
    divergence is below the 4-decimal gate and pinned in tests)."""
    if not spec["with_positions"]:
        raise ValueError(
            "interval query requires an index built with positions")
    empty = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dtype))
    fd, fs, fe, fl = _eval_interval_op(c["root"], data)
    if len(fd) == 0:
        return empty
    me = c["root"]["min_extent"]
    contrib = 1.0 / np.maximum((fe - fs + 1) - me + 1, 1).astype(np.float64)
    pf_grid = np.bincount(fd, weights=contrib, minlength=spec["grid"])
    idxs = np.flatnonzero(pf_grid > 0)
    freq = pf_grid[idxs]
    pivot = c["pivot"]
    if dtype is np.float32:
        w = np.float32(c["w32"])
        p = np.float32(pivot)
        f = freq.astype(np.float32)
        s = w * (np.float32(1.0) - p / (p + f))
    else:
        s = c["w64"] * (1.0 - pivot / (pivot + freq))
    return idxs, s


_LEAF_EVAL = {"term": _eval_term, "phrase": _eval_phrase,
              "multiphrase": _eval_multiphrase, "spantree": _eval_spantree,
              "interval": _eval_interval}

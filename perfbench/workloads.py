"""The benchmark's workloads, the checks on their outputs, and the metrics.

Every workload is a closed loop with one client, in four parts:

1. set-up: start the session, generate the corpus, then build and cache
   the index once (a second build did not fit 48 runs into the
   benchmark's time budget once every other part ran several units). The
   searcher's term-stats cache is then warmed with every query term
   outside the tail pool, as a long-running server's would be;
2. single queries: ``parse_query`` + ``Searcher.top_k``, whole rounds of
   the 12 shapes, one query after the other;
3. batches: ``Searcher.top_k_many``, each batch one served round again;
4. ingest: deltas, through ``merge.append`` on serve-large and through
   ``merge.update_documents`` on serve-small (fresh documents appended,
   the top hits of a probe query replaced); each delta is re-cached and read back with
   ``top_k``. The final generation is saved with ``catalog.save``.

Parts 2-4 share the measured seconds in the proportions of ``WORKLOADS``
and run at least ``MIN_ROUNDS`` rounds, ``MIN_BATCHES`` batches and
``MIN_DELTAS`` deltas, so every rate is a median over several units. The
checks run outside the measured parts.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, replace

import numpy as np
from pyspark.sql import functions as F

from lucene_solr_spark import corpus
from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.functions import codec
from lucene_solr_spark.functions.bm25 import make_term_weight
from lucene_solr_spark.index import (IndexBuilder, catalog, live_doc_count,
                                     merge)
from lucene_solr_spark.oracle.pyoracle import OracleIndex
from lucene_solr_spark.search import Searcher, parse_query
from lucene_solr_spark.search.ast import BooleanQuery, PhraseQuery, TermQuery

import host
import inputs
from spans import Tracer

K = 10
MIN_ROUNDS = 2
MIN_BATCHES = 5
MIN_DELTAS = 2
MAX_DELTAS = 3
REPLACED_PER_UPDATE = 3


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: str            # "sf" (sf-shaped, driver-side) or "pages"
    n_docs: int
    query_share: float     # share of the measured seconds for single queries
    batch_share: float     # ... for top_k_many batches; ingest gets the rest
    delta_docs: int
    update_every: int      # delta n is an update when n % update_every == 0
    strata: tuple          # df-rank edges of the query term pools
    cycle: str             # pool of each query slot, cycled (inputs.py)
    oracle: bool           # check top_k results against the Python oracle
    exhaustive: bool       # check one round against prune=False


WORKLOADS = {
    # ~0.5 s per query, nearly all of it job dispatch and the Python
    # worker round trip: shows planning and dispatch gains, not kernel gains
    # pools: the 28 indexed core words, 40 mid words, the tail; every
    # delta is an update, so the deltas of a run are alike
    "serve-small": Workload("serve-small", "sf", 5000, 0.45, 0.15, 250, 1,
                            (28, 68), "0010201001", True, False),
    # head-heavy log over a generate_pages corpus: batches spend their
    # time in block decode, scoring and the heap; its deltas are appends
    # pools by df rank [0,3) [3,10) [10,40) [40,200) [200,..): 30% of the
    # slots from the top 3 terms, 10% from the long tail
    "serve-large": Workload("serve-large", "pages", 5000, 0.45, 0.15, 250, 0,
                            (3, 10, 40, 200), "0102304123", False, True),
}


def tiny(wl: Workload) -> Workload:
    """The same workload on a corpus small enough for a smoke test."""
    return replace(wl, n_docs=max(200, wl.n_docs // 20),
                   delta_docs=max(20, wl.delta_docs // 10))


def query_keys(q) -> list[tuple[str, str]]:
    """(field, term) keys a parsed query reads from the dictionary."""
    if isinstance(q, TermQuery):
        return [(q.field, q.term)]
    if isinstance(q, PhraseQuery):
        return [(q.field, t) for t in q.terms]
    if isinstance(q, BooleanQuery):
        return [k for c in q.clauses for k in query_keys(c.query)]
    return []


def percentile(values: list[float], p: float) -> float:
    """Linearly interpolated percentile (p in 0..100) of the samples, +inf
    when there are none; a failed operation is +inf and so misses every
    percentile above the failure share."""
    return float(np.percentile(np.asarray(values or [np.inf]), p))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("inf")


def utf8_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts)


def hits(res) -> tuple[list[int], list[np.float32]]:
    return ([int(d) for d in res["doc_id"]],
            [np.float32(s) for s in res["score"]])


class Run:
    """One run of one workload on a live session."""

    def __init__(self, spark, wl: Workload, seed: int, seconds: float,
                 traced: bool, cores: int, work: str, peak: host.PeakRss):
        self.spark, self.wl, self.seed = spark, wl, seed
        self.seconds, self.traced, self.cores = seconds, traced, cores
        self.work, self.peak = work, peak
        self.tracer = Tracer(traced)
        self.sc = spark.sparkContext
        self.builder = IndexBuilder(
            ENGLISH_ANALYZER, grid=max(128, wl.n_docs // (cores * 4)),
            with_positions=True)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.n_queries = 0
        # single-query seconds and per-shape seconds, by traced or not; an
        # untraced run has only the untraced side
        self.lat: dict[bool, list[float]] = {True: [], False: []}
        self.by_shape: dict[bool, dict[str, list[float]]] = {True: {},
                                                             False: {}}
        self.reads_lat: list[float] = []          # reads after a write
        self.layer = {"parse": [], "term_stats": [], "top_k": [],
                      "jobs": [], "tasks": [], "sum_ratio": []}
        self.rounds: list[list[tuple[str, str]]] = []
        self.served: dict[str, tuple] = {}        # query text → top_k hits
        self.batch_rates: list[float] = []        # queries/s per batch
        self.batch_q = 0
        self.delta_rates: list[float] = []        # docs/s per delta
        self.delta_docs = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.t0 = time.perf_counter()

    # -- bookkeeping ---------------------------------------------------
    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def log(self, what: str) -> None:
        """Progress on stderr: seconds since the run began, and the step."""
        print(f"perfbench {time.perf_counter() - self.t0:6.1f}s {what}",
              file=sys.stderr, flush=True)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    # -- set-up ----------------------------------------------------------
    def _corpus(self):
        """→ (docs DataFrame, its pandas frame or None). For "pages", the
        generated docs past n_docs, from the same generator and so the
        same vocabulary, are kept on the driver as the deltas' pool."""
        wl = self.wl
        if wl.corpus == "pages":
            # the ROADMAP's fixed generate_pages corpus (seed 42); the run's
            # seed drives the queries and which docs are replaced
            pages = (corpus.generate_pages(
                self.spark, wl.n_docs + MAX_DELTAS * wl.delta_docs, seed=42)
                .select("doc_id", "text").cache())
            docs = pages.where(F.col("doc_id") < wl.n_docs)
            self.pool = (pages.where(F.col("doc_id") >= wl.n_docs)
                         .toPandas().sort_values("doc_id")
                         .reset_index(drop=True))
            return docs, None
        pdf = inputs.sf_docs(self.seed, 0, wl.n_docs, with_markers=False)
        return self.spark.createDataFrame(pdf), pdf

    def _delta(self, lo: int, hi: int):
        """Docs [lo, hi), each ending in its own marker token."""
        if self.wl.corpus == "sf":
            return inputs.sf_docs(self.seed, lo, hi, with_markers=True)
        pdf = self.pool[(self.pool["doc_id"] >= lo)
                        & (self.pool["doc_id"] < hi)].copy()
        pdf["text"] = [f"{t} {inputs.marker(int(d))}"
                       for d, t in zip(pdf["doc_id"], pdf["text"])]
        return pdf

    def setup(self, session_s: float) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("corpus"):
            self.docs, self.pdf = self._corpus()
        self.log("build")
        t1 = time.perf_counter()
        with self.tracer.span("build"):
            idx = self.builder.build(self.spark, self.docs)
        t2 = time.perf_counter()
        with self.tracer.span("cache"):
            idx.cache(serving_partitions=self.cores)
        t3 = time.perf_counter()
        self.attempted += 1
        self.put("setup_s", session_s + t3 - t0, "s")
        self.put("build_docs_per_s", self.wl.n_docs / (t3 - t1), "docs/s")
        self.put("index.invert_s", idx.timings["invert_sec"], "s")
        self.put("index.dict_norms_stats_s",
                 idx.timings["dict_norms_stats_sec"], "s")
        self.put("index.pack_cache_s", t3 - t2, "s")
        self.idx = idx
        self.searcher = Searcher(self.spark, idx)
        pools = inputs.term_pools(idx.terms.select("term", "df").collect(),
                                  self.wl.strata)
        self.stream = inputs.QueryStream(self.seed, pools, self.wl.cycle)
        self.head = pools[0][0]
        # a serving searcher has the stats of frequent terms cached; tail
        # terms stay cold, so each round pays the same misses
        self.searcher.term_stats([("text", t) for p in pools[:-1]
                                  for t in p])
        self.log("expected totals and oracle")
        self._expect_base()

    def _expect_base(self) -> None:
        """Expected doc_count and summed df: from the pure-Python oracle
        where the workload has one, else from the build (then the
        dictionary must still agree with the build's stats)."""
        st = self.idx.stats
        self.oracle = None
        if self.wl.oracle:
            self.oracle = OracleIndex(ENGLISH_ANALYZER)
            for d, t in zip(self.pdf["doc_id"], self.pdf["text"]):
                self.oracle.add(int(d), t)
            self.exp_docs = self.oracle.field_doc_count.get("text", 0)
            self.exp_df = sum(len(p) for p in
                              self.oracle.postings.get("text", {}).values())
            self.text_bytes = utf8_bytes(self.pdf["text"])
        else:
            self.exp_docs, self.exp_df = st["doc_count"], st["sum_df"]
            self.text_bytes = int(self.docs.agg(
                F.sum(F.octet_length("text"))).collect()[0][0])
        self.replaced: set[int] = set()
        self.check_totals("setup")
        self.next_id = int(st["max_doc"]) + 1

    def check_totals(self, when: str) -> None:
        """doc_count, summed df (build stats and dictionary) and live docs
        against the expected totals; replaced docs keep counting in the
        stats until merged away, as in Lucene."""
        st = self.idx.stats
        self.attempted += 1
        got = (st["doc_count"], st["sum_df"],
               self.idx.terms.agg(F.sum("df")).collect()[0][0],
               live_doc_count(self.idx))
        want = (self.exp_docs, self.exp_df, self.exp_df,
                self.exp_docs - len(self.replaced))
        if got != want:
            self.fail(f"{when}: doc_count/sum_df/dictionary df/live docs "
                      f"{got}, expected {want}")

    # -- single queries --------------------------------------------------
    def query(self, text: str, traced: bool, layers: bool = True):
        """parse + top_k, timed end to end → (hits, seconds), or (None,
        inf) on failure.

        A traced query also gets a term_stats call of its own keys just
        before top_k, a Spark job group, and spans; with ``layers`` its
        layer seconds and Spark jobs and tasks are recorded."""
        qid = self.n_queries
        self.n_queries += 1
        tr = self.tracer
        tr.enabled = traced
        group = f"perfbench-q{qid}"
        if traced:
            self.sc.setJobGroup(group, "query")
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("query", qid) as outer:
                with tr.span("parse", qid) as s_parse:
                    q = parse_query(text, ENGLISH_ANALYZER)
                if traced:
                    with tr.span("term_stats", qid) as s_stats:
                        self.searcher.term_stats(query_keys(q))
                with tr.span("top_k", qid) as s_topk:
                    res = self.searcher.top_k(q, k=K)
        except Exception as e:  # counted, reported, and the loop goes on
            self.fail(f"{text!r}: {type(e).__name__}: {e}")
            return None, float("inf")
        finally:
            tr.enabled = self.traced
            if traced:
                self.sc.setJobGroup("perfbench", "other")
        dt = time.perf_counter() - t0
        if traced and layers:
            parts = [s["end"] - s["start"] for s in (s_parse, s_stats, s_topk)]
            for name, d in zip(("parse", "term_stats", "top_k"), parts):
                self.layer[name].append(d)
            self.layer["sum_ratio"].append(
                sum(parts) / (outer["end"] - outer["start"]))
            jobs, tasks = host.jobs_and_tasks(self.sc, group)
            self.layer["jobs"].append(jobs)
            self.layer["tasks"].append(tasks)
        return hits(res), dt

    def serve(self, shape: str, text: str, traced: bool) -> None:
        got, dt = self.query(text, traced)
        self.lat[traced].append(dt)
        self.by_shape[traced].setdefault(shape, []).append(dt)
        if got is None:
            return
        if text in self.served and self.served[text] != got:
            self.fail(f"{text!r} served twice with different results")
        self.served[text] = got

    def phase_queries(self, seconds: float) -> None:
        """Whole rounds of the stream (every shape once), started while
        the phase has time left, so every run asks the same mix.

        A traced run asks each query twice, traced and untraced, one right
        after the other and in alternating order from round to round, so
        ``trace.overhead_ratio`` compares the same texts in both modes and
        neither mode always pays the first call's term-stats misses. Both
        count towards ``MIN_ROUNDS``."""
        end = time.perf_counter() + seconds
        n_modes = 2 if self.traced else 1
        while (time.perf_counter() < end
               or len(self.rounds) * n_modes < MIN_ROUNDS):
            rnd = [self.stream.next() for _ in inputs.SHAPES]
            modes = ((True, False) if len(self.rounds) % 2 == 0
                     else (False, True)) if self.traced else (False,)
            self.rounds.append(rnd)
            for shape, text in rnd:
                for traced in modes:
                    self.serve(shape, text, traced)

    # -- batches ---------------------------------------------------------
    def phase_batches(self, seconds: float) -> None:
        """Each batch asks one served round again through top_k_many, in
        the order they were served; every batched result must equal the
        served one."""
        end = time.perf_counter() + seconds
        n = 0
        while time.perf_counter() < end or n < MIN_BATCHES:
            texts = [t for _, t in self.rounds[n % len(self.rounds)]]
            n += 1
            self.attempted += len(texts)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("batch"):
                    qs = [parse_query(t, ENGLISH_ANALYZER) for t in texts]
                    res = self.searcher.top_k_many(qs, k=K)
            except Exception as e:  # counted, reported, and the loop goes on
                self.fail(f"top_k_many: {type(e).__name__}: {e}")
                continue
            self.batch_rates.append(len(texts) / (time.perf_counter() - t0))
            self.batch_q += len(texts)
            for text, r in zip(texts, res):
                if text in self.served and hits(r) != self.served[text]:
                    self.fail(f"top_k_many != top_k on {text!r}")

    def check_serving(self) -> None:
        """Oracle: every served result equals the pure-Python oracle's
        (batched results equal the served ones). Exhaustive: the first
        round, asked again with prune=False, equals the pruned results."""
        if self.oracle is not None:
            for text, got in self.served.items():
                want = self.oracle.search_ast(
                    parse_query(text, ENGLISH_ANALYZER), K)
                if got != ([d for d, _ in want], [s for _, s in want]):
                    self.fail(f"oracle mismatch on {text!r}")
        if self.wl.exhaustive:
            texts = [t for _, t in self.rounds[0] if t in self.served]
            self.attempted += len(texts)
            full = self.searcher.top_k_many(
                [parse_query(t, ENGLISH_ANALYZER) for t in texts], k=K,
                prune=False)
            for text, r in zip(texts, full):
                if hits(r) != self.served[text]:
                    self.fail(f"pruned != exhaustive on {text!r}")

    # -- ingest ----------------------------------------------------------
    def phase_ingest(self, seconds: float) -> None:
        """Deltas until the phase's seconds are spent. A delta appends
        fresh docs; every ``update_every``-th also replaces the top hits
        of a probe query through ``update_documents`` (an append plus
        tombstones).
        Each is re-cached. The probe is the first served query with hits.
        The checks after a delta do not count as ingest time."""
        end = time.perf_counter() + seconds
        self.probe = next(((t, h[0]) for t, h in self.served.items()
                           if h[0]), None)
        n = 0
        while ((time.perf_counter() < end or n < MIN_DELTAS)
               and n < MAX_DELTAS):
            update = (self.wl.update_every > 0 and self.probe is not None
                      and n % self.wl.update_every == 0)
            old = sorted(self.probe[1][:REPLACED_PER_UPDATE]) if update else []
            lo, hi = self.next_id, self.next_id + self.wl.delta_docs
            pdf = self._delta(lo, hi)
            new = self.spark.createDataFrame(pdf)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span("append"):
                    nxt = (merge.update_documents(self.spark, self.idx, new,
                                                  old, self.builder)
                           if old else
                           merge.append(self.spark, self.idx, new,
                                        self.builder))
                    nxt.cache(serving_partitions=self.cores)
            except Exception as e:  # counted and reported; the run goes on
                self.fail(f"delta {n}: {type(e).__name__}: {e}")
                return
            t_check = time.perf_counter()
            self.delta_rates.append(len(pdf) / (t_check - t0))
            self.log(f"delta {n} ({'update' if old else 'append'}): "
                     f"{t_check - t0:.2f}s")
            self.delta_docs += len(pdf)
            self.idx.release()
            self.idx = nxt
            self.searcher = Searcher(self.spark, nxt)
            self.next_id = hi
            self.replaced.update(old)
            n_terms = [inputs.indexed_terms(t) for t in pdf["text"]]
            self.exp_docs += sum(1 for x in n_terms if x)
            self.exp_df += sum(n_terms)
            self.text_bytes += utf8_bytes(pdf["text"])
            self.check_totals(f"delta {n}")
            self.reads(lo, update)
            end += time.perf_counter() - t_check
            n += 1

    def reads(self, lo: int, update: bool) -> None:
        """Reads after a write. The first new doc's own marker token, OR-ed
        with the most frequent pool term, must rank that doc first; the
        read scores the head term's postings across base and delta
        blocks. After an update, the probe query again, now without the
        docs it found before. No read may return a replaced doc."""
        reads = [("marker", f"{inputs.marker(lo)} {self.head}", lo)]
        if update:
            reads.append(("probe", self.probe[0], None))
        for kind, text, first in reads:
            got, dt = self.query(text, self.traced, layers=False)
            self.reads_lat.append(dt)
            if got is None:
                continue
            ids = got[0]
            if first is not None and ids[:1] != [first]:
                self.fail(f"read {text!r}: got {ids}, expected {first} first")
            elif self.replaced.intersection(ids):
                self.fail(f"read {text!r} returned a replaced doc")
            if kind == "probe":
                self.probe = (text, ids) if ids else None

    def save(self) -> None:
        path = os.path.join(self.work, "generation")
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("save"):
            man = catalog.save(self.idx, path, self.builder, self.docs)
        self.put("index.save_s", time.perf_counter() - t0, "s")
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(path) for f in fs
                   if f.endswith(".parquet"))
        self.put("index_bytes_per_text_byte", size / self.text_bytes, "B/B")
        self.put("index.saved_bytes", size, "B")
        self.put("index.postings_blocks", man["stages"]["postings"]["rows"],
                 "count")
        self.put("index.terms", man["stages"]["terms"]["rows"], "count")

    # -- per-layer probes (traced runs) ----------------------------------
    def layer_probes(self) -> None:
        """Fixed samples through analysis, codec decode and BM25 scoring,
        each timed in a loop of at least 0.3 s."""
        if self.pdf is not None:
            texts = list(self.pdf["text"][:300])
        else:
            texts = [r["text"] for r in self.docs.filter("doc_id < 300")
                     .orderBy("doc_id").collect()]
        n_tok, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.3:
            for t in texts:
                n_tok += sum(ENGLISH_ANALYZER.term_freqs(t).values())
        self.put("analysis.tokens_per_s",
                 n_tok / (time.perf_counter() - t0), "1/s")

        head = self.stream.pools[0][:3]
        rows = (self.idx.postings.filter(F.col("term").isin(head))
                .select("term", "block_id", "doc_count", "doc_blob",
                        "freq_blob", "norm_blob")
                .orderBy("term", "bucket", "block_id").limit(400).collect())
        blocks = [(r["term"], int(r["block_id"]), int(r["doc_count"]),
                   bytes(r["doc_blob"]), bytes(r["freq_blob"]),
                   np.frombuffer(bytes(r["norm_blob"]), dtype=np.uint8))
                  for r in rows]
        st = self.idx.stats
        stats = self.searcher.term_stats([("text", t) for t in head])
        weights = {t: make_term_weight(t, stats[("text", t)][0],
                                       st["doc_count"], st["sum_ttf"])
                   for t in head}
        n_blk, decoded, t0 = 0, [], time.perf_counter()
        while time.perf_counter() - t0 < 0.3:
            decoded = []
            for term, first, cnt, dblob, fblob, norms in blocks:
                docs = first - 1 + np.cumsum(codec.decode_block(dblob, cnt))
                decoded.append((term, docs, codec.decode_block(fblob, cnt),
                                norms))
            n_blk += len(blocks)
        self.put("functions.decode_blocks_per_s",
                 n_blk / (time.perf_counter() - t0), "1/s")
        n_post, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.3:
            for term, _, freqs, norms in decoded:
                weights[term].score(freqs, norms)
                n_post += len(freqs)
        self.put("functions.score_postings_per_s",
                 n_post / (time.perf_counter() - t0), "1/s")

    # -- the whole run ---------------------------------------------------
    def run(self, session_s: float) -> None:
        self.sc.setJobGroup("perfbench", "other")
        self.log("setup")
        self.setup(session_s)
        wl = self.wl
        self.log("single queries")
        self.phase_queries(self.seconds * wl.query_share)
        self.log("batches")
        self.phase_batches(self.seconds * wl.batch_share)
        self.log("checks")
        self.check_serving()
        self.log("ingest")
        self.phase_ingest(self.seconds
                          * (1.0 - wl.query_share - wl.batch_share))
        self.log("save")
        self.save()
        self.put("host.control_scan_s", host.control_scan(self.spark), "s")
        if self.traced:
            self.log("layer probes")
            self.layer_probes()
        self.log("done")

    def report(self, trace_path: str | None) -> dict:
        lat = self.lat[self.traced]
        self.put("query_p50_s", percentile(lat, 50), "s")
        self.put("query_p90_s", percentile(lat, 90), "s")
        self.put("batch_queries_per_s", median(self.batch_rates), "1/s")
        self.put("append_docs_per_s", median(self.delta_rates), "docs/s")
        self.put("search.read_after_write_s",
                 percentile(self.reads_lat, 50), "s")
        if self.traced:
            lay = self.layer
            # means, so the three add up to the mean traced query; a
            # median would hide the term-stats misses of tail terms
            self.put("search.parse_s", np.mean(lay["parse"]), "s")
            self.put("search.term_stats_s", np.mean(lay["term_stats"]), "s")
            self.put("search.top_k_s", np.mean(lay["top_k"]), "s")
            self.put("search.spark_jobs_per_query", np.mean(lay["jobs"]),
                     "count")
            self.put("search.spark_tasks_per_query", np.mean(lay["tasks"]),
                     "count")
            self.put("search.layer_sum_ratio", median(lay["sum_ratio"]),
                     "ratio")
            self.put("search.batch_s", median(self.tracer.durations("batch")),
                     "s")
            self.put("index.append_s", median(self.tracer.durations("append")),
                     "s")
            traced, untraced = self.by_shape[True], self.by_shape[False]
            self.put("trace.overhead_ratio", median(
                [percentile(traced[s], 50) / percentile(untraced[s], 50)
                 for s in traced if s in untraced]), "ratio")
            for shape in inputs.SHAPE_NAMES:
                self.put(f"search.shape.{shape}_p50_s",
                         percentile(untraced.get(shape, []), 50), "s")
            self.put("host.peak_rss_mb", self.peak.mb, "MB")
            self.put("host.nproc", self.cores, "count")
            if trace_path:
                self.tracer.write(trace_path)
        return {"control_scan_s": self.metrics["host.control_scan_s"][0],
                "queries": len(lat), "batches": len(self.batch_rates),
                "batch_queries": self.batch_q, "deltas": len(self.delta_rates),
                "delta_docs": self.delta_docs,
                "replaced_docs": len(self.replaced),
                "reads_after_write": len(self.reads_lat),
                "problems": self.problems,
                "query_s": sorted(round(x, 3) for x in lat)}

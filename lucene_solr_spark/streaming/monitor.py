"""Monitor / percolator — reverse search over document streams.

Reference semantics (`lucene/monitor/.../Monitor.java:48`: a set of
registered queries with IDs, efficiently matched against incoming
document batches; `TermFilteredPresearcher` prunes the query set to
those whose indexed terms appear in the batch;
`memory/MemoryIndex.java:178` is the per-document index the reference
matches against).

Spark-first restatement:
- queries register driver-side as parsed ASTs (the QueryIndex role —
  the registry is metadata, tiny next to the stream);
- each micro-batch builds ONE batch segment with the normal
  IndexBuilder (the MemoryIndex analog, but columnar and for the whole
  batch at once — a batch of N docs costs one build, not N);
- the presearcher is a vocabulary semi-check: a query whose positive
  leaf terms are all absent from the batch dictionary cannot match and
  is skipped before any scoring (TermFilteredPresearcher, relationally:
  one pushed-predicate probe of the batch's terms table for the UNION
  of registered keys);
- every surviving query is evaluated in ONE kernel pass over the batch
  index (`Searcher._kernel` with exhaustive specs — the same
  single-scan-many-queries shape as ``top_k_many``), so match cost is
  O(batch × touched terms), not O(batch × queries); a "compose" plan
  (MatchAll, pure negation, FieldExistsQuery: ``Searcher._compose``)
  runs as its own ``match_docs`` over the batch index;
- ``match_stream`` wires it to Structured Streaming via foreachBatch,
  appending (batch_id, query_id, doc_id) matches.

Multi-term/wildcard queries expand against the BATCH dictionary — the
percolator contract (an alert on ``spa*`` must match whatever new term
arrives, not a term list frozen at registration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis.analyzer import ENGLISH_ANALYZER
from ..index.builder import IndexBuilder
from ..search.executor import Searcher, _tree_keys

MATCH_SCHEMA = "query_id string, doc_id long"


class Monitor:
    def __init__(self, analyzer=ENGLISH_ANALYZER, grid: int = 2048,
                 with_positions: bool = True):
        self.analyzer = analyzer
        self.grid = grid
        self.with_positions = with_positions
        self._queries: dict[str, object] = {}

    # -- registry (Monitor.register / deleteById) -----------------------
    def register(self, query_id: str, query) -> None:
        """``query`` is an AST node or a classic query string."""
        if isinstance(query, str):
            from ..search.parser import parse_query
            query = parse_query(query, self.analyzer)
        self._queries[str(query_id)] = query

    def unregister(self, query_id: str) -> None:
        self._queries.pop(str(query_id), None)

    def __len__(self) -> int:
        return len(self._queries)

    # -- matching --------------------------------------------------------
    def match_batch(self, spark: SparkSession, docs: DataFrame,
                    doc_id_col: str = "doc_id") -> DataFrame:
        """→ (query_id, doc_id) for every registered query matching each
        batch doc. One batch-index build + one multi-query kernel scan."""
        if not self._queries:
            return spark.createDataFrame([], MATCH_SCHEMA)
        idx = IndexBuilder(self.analyzer, grid=self.grid,
                           with_positions=self.with_positions).build(
                               spark, docs, doc_id_col).cache()
        try:
            s = Searcher(spark, idx)
            trees, parts = {}, []
            for qid, ast in self._queries.items():
                plan = s._plan(ast)
                if plan is None:
                    continue
                if "tree" in plan:
                    trees[qid] = plan
                else:       # {"compose": …}
                    parts.append(s.match_docs(ast).select(
                        F.lit(qid).alias("query_id"), "doc_id"))
            # one dictionary probe for every key (it also fills the
            # searcher's stats cache, so building the specs below
            # launches no further job)
            present = set(s.term_stats(list(dict.fromkeys(
                k for p in trees.values() for k in _tree_keys(p["tree"])))))
            specs, qids, live_union = [], [], []
            for qid, plan in trees.items():
                # presearcher: a doc can only match if one of the tree's
                # positive (MUST/FILTER/SHOULD) keys is present
                keys = _tree_keys(plan["tree"], ("must", "filter", "should"))
                if keys and not (set(keys) & present):
                    continue
                spec, live, dead = s._spec_for_plan(
                    plan, "f64", 1, False, collect_all=True)
                if dead:
                    continue
                specs.append(spec)
                qids.append(qid)
                live_union.extend(live)
            if specs:
                qmap = spark.createDataFrame(
                    [(i, q) for i, q in enumerate(qids)],
                    "query_id int, qname string")
                parts.append(s._kernel(specs, live_union)
                             .join(F.broadcast(qmap), "query_id")
                             .select(F.col("qname").alias("query_id"),
                                     "doc_id"))
            if not parts:
                return spark.createDataFrame([], MATCH_SCHEMA)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            # materialize before releasing the batch segment
            pdf = out.distinct().toPandas()
            return spark.createDataFrame(pdf, MATCH_SCHEMA) if len(pdf) \
                else spark.createDataFrame([], MATCH_SCHEMA)
        finally:
            idx.release()

    def match_stream(self, spark: SparkSession, stream_df: DataFrame,
                     out_path: str, checkpoint: str,
                     doc_id_col: str = "doc_id"):
        """Structured Streaming percolation: foreachBatch matches each
        micro-batch against the registry and appends
        (batch_id, query_id, doc_id) Parquet — the alerting sink."""
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            m = self.match_batch(spark, batch_df, doc_id_col)
            (m.withColumn("batch_id", F.lit(int(batch_id)))
             .write.mode("append").parquet(out_path))

        return (stream_df.writeStream.foreachBatch(sink)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True).start())

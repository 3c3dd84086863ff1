"""In-process kernel time per query shape, on blocks collected once.

    python scripts/kernel_shapes.py [--docs 200000] [--reps 5]
        [--root CHECKOUT] [--out shapes.json]

Generates `corpus.generate_pages(seed=42)`, builds and caches the index
(grid = docs/16, the perfbench rule on 4 cores) and draws 4 queries of
each of the 12 perfbench shapes, plus 4 of `+(a b) +(c d)` and 4
ordered span-near queries of two terms at slop 3 (planned from the AST:
the query parser has no span syntax), from the serve-large df pools. Each query's postings blocks are collected to the
driver once; the timed region is `_bucket_kernel_multi` over them alone
(pruned, k=10, f32), min of --reps runs, with no Spark in it. --root
imports the engine from another checkout, so two commits can be timed
on the same queries; the JSON keeps every query's float32 top-10 so the
two outputs can be checked for rank identity.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--docs", type=int, default=200_000)
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--root", default=HERE)
    p.add_argument("--out", default="shapes.json")
    args = p.parse_args()
    root = os.path.abspath(args.root)
    sys.path[:0] = [root, os.path.join(HERE, "perfbench")]
    # the Python workers import the engine from the same checkout
    os.environ["PYTHONPATH"] = root

    import inputs
    import numpy as np
    from lucene_solr_spark import corpus
    from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
    from lucene_solr_spark.index import IndexBuilder
    from lucene_solr_spark.search import Searcher, parse_query
    from lucene_solr_spark.search.ast import SpanNearQuery
    from lucene_solr_spark.search.executor import (_bucket_kernel_multi,
                                                   _key_filter)
    from lucene_solr_spark.session import get_spark

    spark = get_spark("kernel_shapes", cores=4, shuffle_partitions=8)
    docs = corpus.generate_pages(spark, args.docs, seed=42)
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=max(128, args.docs // 16),
                       with_positions=True).build(
                           spark, docs.select("doc_id", "text")).cache()
    s = Searcher(spark, idx)
    pools = inputs.term_pools(idx.terms.select("term", "df").collect(),
                              (3, 10, 40, 200))
    stream = inputs.QueryStream(1, pools, "0102304123")
    queries = [(shape, text, parse_query(text, ENGLISH_ANALYZER))
               for shape, text in (stream.next()
                                   for _ in range(4 * len(inputs.SHAPES)))]
    rng = np.random.default_rng(7)

    def pick(pool):
        return pool[int(rng.integers(len(pool)))]

    for r in range(4):
        t = [pick(pools[(r + j) % len(pools)]) for j in range(4)]
        text = f"+({t[0]} {t[1]}) +({t[2]} {t[3]})"
        queries.append(("q_two_groups", text,
                        parse_query(text, ENGLISH_ANALYZER)))
    for r in range(4):
        # head bands, so the two terms co-occur within the slop
        a, b = pick(pools[r % 3]), pick(pools[(r + 1) % 3])
        queries.append(("q_span_near", f"spanNear([{a}, {b}], 3)",
                        SpanNearQuery((a, b), slop=3)))

    out: dict = {}
    for shape, text, q in queries:
        plan = s._plan(q)
        spec, live, dead = s._spec_for_plan(plan, "f32", 10, True)
        if dead:
            continue
        pdf = (idx.postings.filter(_key_filter(live))
               .drop("off_blob", "pay_blob").toPandas()
               .sort_values(["bucket", "field", "term", "block_id"])
               .reset_index(drop=True))
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.perf_counter()
            frames = list(_bucket_kernel_multi([pdf], [spec]))
            best = min(best, time.perf_counter() - t0)
        top = sorted(((float(np.float32(sc)), int(d)) for f in frames
                      for d, sc in zip(f["doc_id"], f["score"])),
                     key=lambda x: (-x[0], x[1]))[:10]
        out.setdefault(shape, []).append(
            {"query": text, "blocks": len(pdf), "kernel_s": best,
             "top10": top})
        print(f"{shape:13s} {len(pdf):6d} blocks {best:.4f}s  {text}",
              flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f)
    spark.stop()


if __name__ == "__main__":
    main()

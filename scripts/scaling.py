"""Scaling-efficiency evidence for the north rule (N vs 4N parallelism).

The sandbox has one machine, so the two-cluster-size criterion is
evidenced by running the IDENTICAL index-build + query job at local[8]
and local[32] on the same generated corpus and comparing throughput:

    efficiency = (docs_per_sec_4N / docs_per_sec_N) / 4

Each run is a fresh JVM (subprocess) so parallelism is set at session
creation, exactly like submitting to two differently-sized clusters.
Determinism cross-check: the term dictionary must be bit-identical
(count, sum(df), xor of term-row hashes) at both parallelism levels —
the docID/layout contract says the index is independent of parallelism.

Usage:
    python scripts/scaling.py [--docs 100000] [--out BENCH_SCALING.json]
Child mode (internal): python scripts/scaling.py --run-cores C --input P
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS_SEED = 42


def query_set(idx) -> list[str]:
    """Reference-shaped query batch over the index's OWN vocabulary
    (top-df terms), so hits are non-empty on any corpus."""
    from pyspark.sql import functions as F
    t = [r["term"] for r in
         idx.terms.orderBy(F.desc("df"), F.asc("term")).limit(12).collect()]
    return [t[0], f"{t[1]} {t[4]} {t[7]}", f"{t[2]} AND {t[3]}",
            f"({t[5]} OR {t[6]}) AND {t[8]}", f"{t[9]} NOT {t[10]}",
            f'"{t[1]} {t[2]}"']


def child(cores: int, input_path: str, iters: int = 3) -> None:
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{cores}]"
    from pyspark.sql import functions as F

    from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
    from lucene_solr_spark.index import IndexBuilder
    from lucene_solr_spark.search import Searcher, parse_query
    from lucene_solr_spark.session import get_spark

    # identical shuffle sizing at both parallelism levels (partitions are
    # sized by data volume; only the executor count differs — exactly the
    # N vs 4N cluster comparison the north rule describes). Override for
    # corpora much larger than the default sizing (e.g. 30M docs needs
    # more partitions to keep per-task memory bounded on one host).
    sp = int(os.environ.get("SPARK_GRAFT_SCALE_SHUFFLE", "96"))
    spark = get_spark(f"scale-{cores}", cores=cores, shuffle_partitions=sp)
    docs = spark.read.parquet(input_path)
    n_docs = docs.count()

    # bucket count ~= 128 at either parallelism level (identical layout at
    # N and 4N — the determinism fingerprint below depends on it)
    grid = max(512, n_docs // 128)
    builder = IndexBuilder(ENGLISH_ANALYZER, grid=grid, with_positions=True)

    # warm-up: one full-size build (untimed) to reach steady state — JIT,
    # Python worker pool, shuffle/codegen paths all warm. Then 3 timed
    # iterations; we report the MIN (the standard estimator on shared/
    # virtualized hosts where a noisy neighbor inflates arbitrary runs —
    # this sandbox shows hypervisor steal time).
    warm = builder.build(spark, docs)
    warm.postings.count()
    warm.release()

    timed = []
    idx = None
    for _ in range(max(1, iters)):
        if idx is not None:
            idx.release()
        t0 = time.perf_counter()
        idx = builder.build(spark, docs)
        idx.postings = idx.postings.persist()
        idx.postings.count()
        idx.norms.count()
        sec = time.perf_counter() - t0
        stages = dict(idx.timings)
        stages["pack_materialize_sec"] = round(
            sec - sum(idx.timings.values()), 3)
        timed.append({"build_sec": round(sec, 3), "stages": stages})
    build_sec = min(i["build_sec"] for i in timed)

    # determinism fingerprint of the term dictionary
    fp_row = (idx.terms
              .select(F.crc32(F.concat_ws("|", "term", "df", "ttf"))
                      .alias("c"))
              .agg(F.count("*").alias("n"), F.sum("c").alias("s"))
              .collect()[0])

    # query serving layout: per-query latency is bounded by task count
    # (Python round-trip ~10-25 ms/task), so serve from ~2x-cores fat
    # partitions regardless of the (wider) build shuffle
    served = (idx.postings
              .repartitionByRange(2 * cores, "bucket")
              .sortWithinPartitions("bucket", "field", "term",
                                    "block_id").persist())
    served.count()               # materialize FROM the existing cache
    idx.postings.unpersist()
    idx.postings = served
    searcher = Searcher(spark, idx, k1=1.2, b=0.75)
    queries = query_set(idx)
    t0 = time.perf_counter()
    for qs in queries:
        searcher.top_k(parse_query(qs, ENGLISH_ANALYZER), k=10,
                       mode="f32", prune=True)
    query_sec = time.perf_counter() - t0

    print("CHILD_RESULT " + json.dumps({
        "cores": cores, "n_docs": n_docs,
        "build_sec": round(build_sec, 3),
        "build_iters": timed,
        "docs_per_sec": round(n_docs / build_sec, 1),
        "query_batch_sec": round(query_sec, 3),
        "terms_fingerprint": [int(fp_row["n"]), int(fp_row["s"])],
    }))
    spark.stop()


def ensure_corpus(n_docs: int) -> str:
    path = f"/tmp/spark_graft_scale/pages_{n_docs}.parquet"
    if os.path.exists(path):
        return path
    from lucene_solr_spark.corpus import generate_pages
    from lucene_solr_spark.session import get_spark
    spark = get_spark("gen", cores=32)
    generate_pages(spark, n_docs, seed=CORPUS_SEED).select(
        "doc_id", "url", "text").write.mode("overwrite").parquet(path)
    spark.stop()
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--out", default="BENCH_SCALING.json")
    ap.add_argument("--levels", default="2,8,32",
                    help="comma-separated core counts; each consecutive "
                         "pair yields a scaling-efficiency entry")
    ap.add_argument("--run-cores", type=int)
    ap.add_argument("--input")
    ap.add_argument("--iters", type=int, default=3,
                    help="timed build iterations per level (min reported)")
    args = ap.parse_args()

    if args.run_cores:
        child(args.run_cores, args.input, args.iters)
        return

    levels = [int(x) for x in args.levels.split(",")]
    path = ensure_corpus(args.docs)
    results = {}
    for cores in levels:
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_MASTER", None)
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
        cmd = [sys.executable, os.path.abspath(__file__),
               "--run-cores", str(cores), "--input", path,
               "--iters", str(args.iters)]
        # pin the child to exactly `cores` CPUs: local[8] on an idle
        # 32-CPU host would otherwise borrow the other 24 for GC, shuffle
        # IO and Python workers, understating the true 8-core time
        import shutil as _shutil
        if _shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
        # timeout scales with corpus size: warmup + iters builds at
        # ~30k docs/s/32-cores (measured r4), generous 4x margin
        child_timeout = max(3600, int((args.iters + 1) * args.docs
                                      / 30_000 * 4 * (32 / cores)))
        out = subprocess.run(cmd, capture_output=True, text=True, env=env,
                             timeout=child_timeout)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("CHILD_RESULT ")]
        if not line:
            sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
            raise SystemExit(f"child local[{cores}] failed")
        results[cores] = json.loads(line[0][len("CHILD_RESULT "):])
        print(f"local[{cores}]: {results[cores]}")

    fps = [results[c]["terms_fingerprint"] for c in levels]
    summary = {
        "n_docs": results[levels[0]]["n_docs"],
        "levels": {f"local{c}": results[c] for c in levels},
        "scaling_efficiency": {},
        "query_batch_speedup": {},
        "terms_identical_across_parallelism": all(f == fps[0] for f in fps),
    }
    for lo, hi in zip(levels, levels[1:]):
        ratio = hi / lo
        eff = (results[hi]["docs_per_sec"] /
               results[lo]["docs_per_sec"]) / ratio
        qs = (results[lo]["query_batch_sec"] /
              results[hi]["query_batch_sec"])
        summary["scaling_efficiency"][f"{lo}_to_{hi}"] = round(eff, 3)
        summary["query_batch_speedup"][f"{lo}_to_{hi}"] = round(qs, 3)
    with open(args.out, "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()

"""Benchmark of lucene_solr_spark: index build, append and BM25 top-k.

Usage, from the root of the repository (or any directory, given the path):

    python3 perfbench/run.py --workload serve-small --seed 1 --seconds 20 \
        --trace 0

Workloads are listed in BENCHMARK.json and defined in workloads.py. The
run builds its inputs from --seed, measures for --seconds, checks every
output and prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are the per-layer ones, and the spans are written to
perfbench/out/. --tiny runs the same workload on a small corpus (smoke
test). The run exits non-zero, without a result, if the engine package is
not next to perfbench/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=names)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="small corpus, for the smoke test")
    return p.parse_args(argv), spec


def main(argv=None) -> int:
    args, spec = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")):
        print("perfbench: the lucene_solr_spark package is not next to "
              "perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import host
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    if args.tiny:
        wl = workloads.tiny(wl)
    cores = host.nproc()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-"
                                      f"{os.getpid()}")
    # host.peak_rss_mb is a per-layer metric: no sampling thread in the
    # untraced runs
    peak = host.PeakRss()
    if args.trace:
        peak.start()
    spark = None
    try:
        spark, session_s = host.start_session(ROOT, work, cores)
        print(host.describe(spark, ROOT, args.workload, args.seed, cores),
              flush=True)
        run = workloads.Run(spark, wl, args.seed, args.seconds,
                            bool(args.trace), cores, work, peak)
        run.run(session_s)
        trace_path = None
        if args.trace:
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            trace_path = os.path.join(
                out, f"spans-{args.workload}-{args.seed}.json")
        summary = run.report(trace_path)
    finally:
        if spark is not None:
            host.stop_session(spark)
        peak.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))   # only if no other run uses it
        except OSError:
            pass

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        value, unit = run.metrics[m["name"]]
        if not math.isfinite(value):     # only failed operations give inf
            value = 1e9
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {unit} != {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    summary["error_rate"] = run.failed / run.attempted
    print(json.dumps(summary), flush=True)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

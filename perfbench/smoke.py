"""Smoke test of the benchmark itself, on tiny corpora.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json with --tiny, untraced and traced,
from a working directory outside the repository. Each run must exit 0,
report no failed operation (error_rate 0), and print exactly the metrics
BENCHMARK.json names for its mode, each with its unit and a finite,
non-zero value. Takes about three minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(spec: dict, workload: str, trace: int, cwd: str) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "4", "--trace", str(trace),
           "--tiny"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=300)
    tag = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    lines = p.stdout.strip().splitlines()
    result, summary = json.loads(lines[-1]), json.loads(lines[-2])
    errors = []
    if summary["error_rate"] != 0 or result["failed"] or not result["correct"]:
        errors.append(f"{tag}: failures {summary['problems']}")
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[kind]}
    got = result["metrics"]
    if set(got) != set(want):
        errors.append(f"{tag}: metrics differ: {set(got) ^ set(want)}")
    for name, m in got.items():
        if m["unit"] != want.get(name):
            errors.append(f"{tag}: {name} unit {m['unit']}")
        if not (math.isfinite(m["value"]) and m["value"] > 0):
            errors.append(f"{tag}: {name} = {m['value']}")
    if trace:
        ratio = got["search.layer_sum_ratio"]["value"]
        if not 0.9 <= ratio <= 1.0 + 1e-9:
            errors.append(f"{tag}: layer seconds cover {ratio:.3f} of "
                          "the query time")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    with tempfile.TemporaryDirectory() as cwd:
        for w in spec["workloads"]:
            for trace in (0, 1):
                errors += check(spec, w["name"], trace, cwd)
                print(f"{w['name']} --trace {trace}: "
                      f"{'ok' if not errors else 'FAILED'}", flush=True)
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Smoke check of the benchmark itself.

Usage (from the repository root):
  python3 perfbench/smoke.py <docs_dir> [seconds]

<docs_dir> holds a documents.parquet table (for example the sf0.01 test
corpus described in TESTDATA.md). Every workload of BENCHMARK.json runs
briefly on it, untraced and traced, and the check asserts that each run
exits 0, prints the result object as its last line with no failed
operation, and reports every declared metric with its declared unit.
Exits non-zero on the first problem.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    docs, seconds = sys.argv[1], (sys.argv[2] if len(sys.argv) > 2 else "2")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "1",
                                     "--seconds", seconds, "--trace", str(trace),
                                     "--docs", docs]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{w['name']} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{tag}: correct={out['correct']} failed={out['failed']} "
                                f"attempted={out['attempted']}\n" + "\n".join(lines[:-1]))
            for m in spec[kind]:
                got = out["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{tag}: metric {m['name']} missing")
                elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} printed as {got}")
            extra = set(out["metrics"]) - {m["name"] for m in spec[kind]}
            if extra:
                problems.append(f"{tag}: undeclared metrics {sorted(extra)}")
            print(f"smoke: {tag}: {len(out['metrics'])} metrics, "
                  f"{out['attempted']} operations checked", flush=True)
    for p in problems:
        print(f"smoke: FAIL {p}")
    print("smoke: OK" if not problems else f"smoke: {len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workloads medallion_backfill,retrieval_mixed,stream_curation \
        --seeds 1-10 [--trace 0] [--out results.jsonl]

Run from the root of a graft checkout. Each run's result line is appended
to `--out` as {"workload", "seed", "trace", "result"}; then, per workload
and metric, the median, the quartiles (statistics.quantiles, n=4) and the
spread (q3 - q1) / median are printed, next to the metric's bound from
BENCHMARK.json where it has one.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def parse_seeds(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def summarize(rows, bounds):
    """Per (workload, metric): (median, q1, q3, spread, n)."""
    by = {}
    for r in rows:
        for m, v in r["result"]["metrics"].items():
            by.setdefault((r["workload"], m), []).append(v["value"])
    out = {}
    for key, vals in sorted(by.items()):
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[key] = (med, q1, q3, (q3 - q1) / med if med else float("nan"), len(vals))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--out", default=".bench_build/perfbench/sweep.jsonl")
    args = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    rows = []
    for seed in parse_seeds(args.seeds):
        for w in args.workloads.split(","):
            r = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                               "--seconds", str(bench["run_seconds"]), "--trace", args.trace],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode}", file=sys.stderr)
                continue
            row = {"workload": w, "seed": seed, "trace": int(args.trace),
                   "result": json.loads(r.stdout.strip().splitlines()[-1])}
            rows.append(row)
            with out.open("a") as f:
                f.write(json.dumps(row) + "\n")
            res = row["result"]
            print(f"{w} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", file=sys.stderr)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"{'workload':22} {'metric':34} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6} n")
    for (w, m), (med, q1, q3, sp, n) in summarize(rows, bounds).items():
        b = bounds.get(m)
        print(f"{w:22} {m:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:7.3f} "
              f"{'' if b is None else b:>6} {n}")


if __name__ == "__main__":
    main()

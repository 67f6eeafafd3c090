#!/usr/bin/env python3
"""Compare two result sets of the benchmark (as written by sweep.py).

    python3 perfbench/compare.py parent.jsonl change.jsonl [--bench BENCHMARK.json]

Per workload and metric it prints each side's median and quartiles, the
pair win fraction of the change (runs paired by seed, else by order; ties
count for neither side) and a verdict:

  better      the change wins at least 9 in 10 pairs and the medians differ
              by more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  same        within the bound, with both sides' spread within the bound
  unresolved  a side's spread is wider than the bound (unless every change
              run beats every parent run), or the metric has no bound and
              is not clearly better or worse
"""
import argparse
import json
import statistics
from pathlib import Path


def load(path):
    runs = {}
    for line in Path(path).read_text().splitlines():
        if line.strip():
            r = json.loads(line)
            for m, v in r["result"]["metrics"].items():
                runs.setdefault((r["workload"], m), []).append((r["seed"], v["value"]))
    return runs


def quart(vals):
    med = statistics.median(vals)
    if len(vals) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3


def pairs(a, b):
    bs = dict(b)
    if all(s in bs for s, _ in a):
        return [(v, bs[s]) for s, v in a]
    return list(zip([v for _, v in a], [v for _, v in b]))


def verdict(a, b, bound, lower_better):
    ma, qa1, qa3 = quart(a)
    mb, qb1, qb3 = quart(b)
    gain = (lambda x, y: y < x) if lower_better else (lambda x, y: y > x)
    pr = list(zip(a, b))
    wins = sum(1 for x, y in pr if gain(x, y)) / len(pr)
    losses = sum(1 for x, y in pr if gain(y, x)) / len(pr)
    clear_gain = wins >= 0.9 and abs(mb - ma) > (qa3 - qa1)
    clear_loss = losses >= 0.9 and abs(mb - ma) > (qa3 - qa1)
    all_better = all(gain(x, y) for x in a for y in b)
    if bound is None:
        return wins, "better" if clear_gain else "worse" if clear_loss else "unresolved"
    worse_by = (mb - ma) / ma if lower_better else (ma - mb) / ma
    if worse_by > bound:
        return wins, "worse"
    if clear_gain or all_better:
        return wins, "better"
    spread = max((qa3 - qa1) / ma if ma else 0, (qb3 - qb1) / mb if mb else 0)
    return wins, "unresolved" if spread > bound else "same"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args()
    bench = json.loads(Path(args.bench).read_text())
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    pa, ch = load(args.parent), load(args.change)
    print(f"{'workload':22} {'metric':34} {'parent med [q1,q3]':>30} "
          f"{'change med [q1,q3]':>30} {'win':>5} verdict")
    for key in sorted(set(pa) & set(ch)):
        w, m = key
        pr = pairs(pa[key], ch[key])
        a, b = [x for x, _ in pr], [y for _, y in pr]
        s = spec.get(m, {})
        wins, v = verdict(a, b, s.get("bound"), s.get("better", "lower") == "lower")
        fa = "{:.4g} [{:.4g},{:.4g}]".format(*quart(a))
        fb = "{:.4g} [{:.4g},{:.4g}]".format(*quart(b))
        print(f"{w:22} {m:34} {fa:>30} {fb:>30} {wins:5.2f} {v}")


if __name__ == "__main__":
    main()

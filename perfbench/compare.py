#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BASE NEW [--bench BENCHMARK.json]
    python3 perfbench/compare.py --overhead UNTRACED TRACED

BASE and NEW are directories of `<workload>-<anything>.json` files, each
ending in the result line perfbench/run.py prints, or JSON-lines files
whose lines carry a `"workload"` key.
For each workload and metric it prints the median and quartiles of each
side, how many of the paired runs NEW won, whether the difference of the
medians clears BASE's inter-quartile spread, and "unresolved" where BASE's
spread is wider than the metric's bound in BENCHMARK.json.

--overhead takes an untraced and a traced set of the same code and prints
the tracing overhead: each traced.<metric> median minus <metric>'s.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    """{workload: [metrics dict per run]}"""
    runs = {}

    def add(line, name):
        line = line.strip()
        if not line.startswith("{"):
            return
        d = json.loads(line)
        wl = d.get("workload") or os.path.basename(name).split("-")[0]
        runs.setdefault(wl, []).append(
            {k: v["value"] for k, v in d["metrics"].items()
             if v.get("value") is not None})

    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if not f.endswith(".json"):
                continue
            with open(os.path.join(path, f)) as fh:
                lines = [l for l in fh if l.strip().startswith("{")]
            if lines:
                add(lines[-1], f)
    else:
        with open(path) as fh:
            for l in fh:
                add(l, path)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(base, new, bench):
    meta = {m["name"]: m for m in bench.get("end_to_end", []) +
            bench.get("per_layer", [])}
    print(f"{'workload':8} {'metric':40} {'base q1/med/q3':>26} "
          f"{'new q1/med/q3':>26} {'won':>6}  verdict")
    for wl in sorted(set(base) | set(new)):
        b_runs, n_runs = base.get(wl, []), new.get(wl, [])
        names = sorted({k for r in b_runs + n_runs for k in r})
        for name in names:
            b = [r[name] for r in b_runs if name in r]
            n = [r[name] for r in n_runs if name in r]
            if not b or not n:
                continue
            m = meta.get(name, {})
            lower = m.get("better", "lower") == "lower"
            bq, nq = quartiles(b), quartiles(n)
            pairs = list(zip(b, n))
            won = sum(1 for x, y in pairs if (y < x if lower else y > x))
            spread = bq[2] - bq[0]
            diff = nq[1] - bq[1]
            bound = m.get("bound")
            if bound is not None and bq[1] and spread / abs(bq[1]) > bound:
                verdict = "unresolved"
            elif abs(diff) > spread:
                better = diff < 0 if lower else diff > 0
                verdict = "better" if better else "worse"
            else:
                verdict = "within spread"
            print(f"{wl:8} {name:40} "
                  f"{bq[0]:8.4g}/{bq[1]:8.4g}/{bq[2]:8.4g} "
                  f"{nq[0]:8.4g}/{nq[1]:8.4g}/{nq[2]:8.4g} "
                  f"{won:>2}/{len(pairs):<3}  {verdict}")


def overhead(untraced, traced):
    print(f"{'workload':8} {'metric':28} {'untraced':>12} {'traced':>12} "
          f"{'overhead':>12}")
    for wl in sorted(untraced):
        for name in sorted({k for r in untraced[wl] for k in r}):
            u = [r[name] for r in untraced[wl] if name in r]
            t = [r[f"traced.{name}"] for r in traced.get(wl, [])
                 if f"traced.{name}" in r]
            if u and t:
                mu, mt = statistics.median(u), statistics.median(t)
                print(f"{wl:8} {name:28} {mu:12.4g} {mt:12.4g} "
                      f"{mt - mu:+12.4g}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--bench", default="BENCHMARK.json")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    if args.overhead:
        overhead(a, b)
        return
    bench = json.load(open(args.bench)) if os.path.exists(args.bench) else {}
    compare(a, b, bench)


if __name__ == "__main__":
    sys.exit(main())

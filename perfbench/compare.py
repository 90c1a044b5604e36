#!/usr/bin/env python3
"""Compares two sets of benchmark runs, one row per workload and metric.

Usage:
    python3 perfbench/compare.py BASE [HEAD] [--bench BENCHMARK.json]

BASE and HEAD are directories of run records (run.py writes one per run to
.bench_out/runs/; copy that directory aside to keep a set) or files of
JSON lines. For each workload and metric the tool prints each set's
median and quartiles, the spread ((q3 - q1) / median) and, with two sets,
the change of the median and a verdict against the metric's bound from
BENCHMARK.json:

    better / worse   the median moved by more than the bound
    within           it moved by less than the bound
    unresolved       a set's spread exceeds the bound, so no verdict

Per-layer metrics have no bound; they get the change only. With one set
the tool prints the statistics alone. Exit status 1 if any verdict is
"worse".
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path


def records(path):
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    for f in files:
        for line in f.read_text().splitlines():
            line = line.strip()
            if line.startswith("{"):
                yield json.loads(line)


def collect(path):
    """{(workload, metric): [values]} over the set's runs."""
    out = defaultdict(list)
    for r in records(path):
        for name, m in r["metrics"].items():
            out[(r["workload"], name)].append(m["value"])
    return out


def stats(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v, 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def verdict(base, head, spec):
    if spec is None or "bound" not in spec:
        return "-"
    bound = spec["bound"]
    if base[3] > bound or head[3] > bound:
        return "unresolved"
    change = (head[0] - base[0]) / base[0] if base[0] else 0.0
    if spec["better"] == "higher":
        change = -change
    if change > bound:
        return "worse"
    if change < -bound:
        return "better"
    return "within"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("head", nargs="?")
    ap.add_argument("--bench", default="BENCHMARK.json")
    a = ap.parse_args()
    bench = json.loads(Path(a.bench).read_text())
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base = collect(a.base)
    head = collect(a.head) if a.head else None
    keys = sorted(set(base) | set(head or {}))
    fmt = "{:<13} {:<30} {:>4} {:>12} {:>12} {:>12} {:>7}"
    cols = ["workload", "metric", "n", "median", "q1", "q3", "spread"]
    if head is not None:
        fmt += " {:>12} {:>7} {:>8} {}"
        cols += ["head median", "spread", "change", "verdict"]
    print(fmt.format(*cols))
    worse = False
    for wl, name in keys:
        b = base.get((wl, name))
        h = head.get((wl, name)) if head is not None else None
        if not b or (head is not None and not h):
            continue
        sb = stats(b)
        row = [wl, name, len(b), f"{sb[0]:.4g}", f"{sb[1]:.4g}",
               f"{sb[2]:.4g}", f"{sb[3]:.1%}"]
        if h is not None:
            sh = stats(h)
            v = verdict(sb, sh, specs.get(name))
            worse |= v == "worse"
            change = (sh[0] - sb[0]) / sb[0] if sb[0] else 0.0
            row += [f"{sh[0]:.4g}", f"{sh[3]:.1%}", f"{change:+.1%}", v]
        print(fmt.format(*row))
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())

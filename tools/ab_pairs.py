#!/usr/bin/env python3
"""Runs alternating before/after pairs of one perfbench workload.

Usage:
    python3 tools/ab_pairs.py BASE HEAD --workload lake_dml \
        [--pairs 5] [--seed 9] [--seconds 12] [--trace 0] [--out DIR]

BASE and HEAD are two checkouts of the repository (say, the parent
commit cloned aside and the working tree). Pair i runs
`perfbench/run.py` once in each checkout with seed `--seed + i`, the
same seed on both sides, and alternates which side goes first, so
neither side always runs on a warmer host. Each side's run records are
copied into their own directory (`OUT/base`, `OUT/head`), and the tool
then prints `perfbench/compare.py`'s table over the two sets and exits
with its status (1 if any verdict is "worse"). A run that fails or
reports failed operations is named on standard error; the record of a
run that exits non-zero is not copied.

`perfbench/run.py` reuses a checkout's `.bench_build/` when the sources
match, so a `.bench_build` copied from another checkout runs that
checkout's classes. Before the first pair the tool exits 2, naming the
path, if either side's cached classpath names a classes directory
outside that side's checkout.
"""
import argparse
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent


def run(checkout, a, seed, dest):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else None
    rec = (checkout / ".bench_out" / "runs" /
           f"{a.workload}-seed{seed}-trace{a.trace}.json")
    if proc.returncode != 0 or result is None or not result["correct"]:
        print(f"ab_pairs: {checkout} seed {seed}: exit {proc.returncode}, "
              f"result {result}", file=sys.stderr)
    if proc.returncode == 0 and rec.exists():
        dest.mkdir(parents=True, exist_ok=True)
        shutil.copy(rec, dest / rec.name)
    op = result["metrics"].get("op_ms_mean", {}).get("value") if result \
        else None
    print(f"ab_pairs: seed {seed} {dest.name}: op_ms_mean {op}",
          file=sys.stderr)


def foreign_classes(checkout):
    """Classes directories on the checkout's cached perfbench classpath
    that lie outside the checkout."""
    cp = checkout / ".bench_build" / "classpath.txt"
    if not cp.exists():
        return []
    return [e for e in cp.read_text().strip().split(":")
            if e and not e.endswith(".jar")
            and not Path(e).resolve().is_relative_to(checkout)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base", type=Path)
    ap.add_argument("head", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=9)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path)
    a = ap.parse_args()
    out = a.out or Path(tempfile.mkdtemp(prefix="ab_pairs_"))
    sides = [("base", a.base.resolve()), ("head", a.head.resolve())]
    for _, checkout in sides:
        for e in foreign_classes(checkout):
            print(f"ab_pairs: {checkout / '.bench_build' / 'classpath.txt'}"
                  f" names {e}, outside {checkout}; delete that "
                  f".bench_build", file=sys.stderr)
            return 2
    for i in range(a.pairs):
        seed = a.seed + i
        for name, checkout in (sides if i % 2 == 0 else sides[::-1]):
            run(checkout, a, seed, out / name)
    print(f"ab_pairs: records in {out}", file=sys.stderr)
    return subprocess.run(
        [sys.executable, str(HERE / "perfbench" / "compare.py"),
         str(out / "base"), str(out / "head"),
         "--bench", str(HERE / "BENCHMARK.json")]).returncode


if __name__ == "__main__":
    sys.exit(main())

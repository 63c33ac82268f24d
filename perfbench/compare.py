#!/usr/bin/env python3
"""Compare benchmark results of two versions of the program.

    python3 perfbench/compare.py --base .perfbench_results/a/*.json \
        --new .perfbench_results/b/*.json

Each file is a record written by run.py.  All records must come from the
same workload, trace mode and core counts: results taken at different
`nproc`, `local_cores` or `$SPARK_GRAFT_CPUS` are refused (exit 2),
because a Spark run's timings scale with the cores it was given.  For
each metric the median and quartiles of each side are printed, with the
new median as a share of the base median.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

MATCH = ("workload", "trace")
STAMP_MATCH = ("nproc", "local_cores", "SPARK_GRAFT_CPUS")


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out


def _mismatch(records: list[dict]) -> str | None:
    first = records[0]
    for r in records[1:]:
        for k in MATCH:
            if r.get(k) != first.get(k):
                return f"{k}: {first.get(k)!r} vs {r.get(k)!r}"
        for k in STAMP_MATCH:
            if r["stamp"].get(k) != first["stamp"].get(k):
                return f"stamp {k}: {first['stamp'].get(k)!r} vs {r['stamp'].get(k)!r}"
    return None


def _summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = _load(args.base), _load(args.new)
    problem = _mismatch(base + new)
    if problem:
        print(f"compare: refusing to compare results that differ in {problem}", file=sys.stderr)
        return 2
    names = [k for k in base[0]["metrics"] if all(k in r["metrics"] for r in base + new)]
    print(f"{'metric':38s} {'base q1/med/q3':>28s} {'new q1/med/q3':>28s} {'new/base':>9s}")
    for k in names:
        b = _summary([r["metrics"][k]["value"] for r in base])
        n = _summary([r["metrics"][k]["value"] for r in new])
        ratio = f"{n[1] / b[1]:.3f}" if b[1] else "-"
        print(f"{k:38s} {b[0]:9.4g}/{b[1]:8.4g}/{b[2]:9.4g} {n[0]:9.4g}/{n[1]:8.4g}/{n[2]:9.4g} "
              f"{ratio:>9s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

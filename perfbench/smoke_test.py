#!/usr/bin/env python3
"""Smoke self-test of the benchmark: runs every workload at a tiny size,
untraced and traced, and asserts that each run prints every metric that
BENCHMARK.json names, with its unit, and that every output check passes.

    python3 perfbench/smoke_test.py      # from the repository root, ~5 min
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402

TINY = {
    workloads.EventDag: {"N_HISTORY": 8, "HISTORY_REVIEWS": 5},
    workloads.CurationQueryMix: {"SCALE": 0.001},
}


def _run(workload: str, trace: int) -> tuple[int, dict]:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                       "--trace", str(trace)])
    return rc, json.loads(out.getvalue().strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for cls, sizes in TINY.items():
        for attr, value in sizes.items():
            setattr(cls, attr, value)
    failures = []
    for workload in workloads.WORKLOADS:
        for trace in (0, 1):
            rc, res = _run(workload, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            problems = []
            if rc != 0 or not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"rc={rc} correct={res['correct']} attempted={res['attempted']} "
                                f"failed={res['failed']}")
            if got != expected[trace]:
                problems.append(f"metrics differ from BENCHMARK.json: missing "
                                f"{sorted(set(expected[trace]) - set(got))}, extra "
                                f"{sorted(set(got) - set(expected[trace]))}, units "
                                f"{[k for k in got if k in expected[trace] and got[k] != expected[trace][k]]}")
            status = "FAIL " + "; ".join(problems) if problems else "ok"
            print(f"{workload} trace={trace}: {status}", flush=True)
            if problems:
                failures.append(workload)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload event_dag --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.  The full
record, with the environment stamp, is also written to
`.perfbench_results/<workload>-s<seed>-t<trace>.json`.  Exit code 0 means
the run finished and every output check passed; 1 means a check or an
operation failed; 2 means the benchmark could not run here.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input generation is repeated this many times per run, into fresh
# directories, and its median counted in setup_s.
SETUP_REPS = 3


def _end_to_end(setup_s: float, ops, failed: int, mem: float) -> dict:
    from perfbench.trace import median_or_zero

    ok = [o for o in ops if o is not None]
    return {
        "setup_s": (setup_s, "s"),
        "ops_ok_ratio": ((len(ops) - failed) / len(ops), "ratio"),
        "retained_mem_mb": (mem, "MB"),
        "activation_p50_s": (median_or_zero([o.seconds for o in ok]), "s"),
        "latency_p50_s": (median_or_zero([x for o in ok for x in o.latencies]), "s"),
    }


def _per_layer(wl_metrics, tracer, ops, traced_ops, listener, event_log_dir) -> dict:
    from perfbench import trace as T

    traced = sorted(i for i in traced_ops if ops[i] is not None)
    plain = [i for i in range(len(ops)) if i not in traced_ops and ops[i] is not None]
    m: dict[str, float] = {}
    span_s = {
        "pipelines.ingest_reviews_s": ["pipelines.ingest_reviews"],
        "sinks.merge.merge_append_s": ["sinks.merge.merge_append"],
        "sinks.merge.read_current_or_none_s": ["sinks.merge.read_current_or_none"],
        "sinks.merge.read_current_s": ["sinks.merge.read_current"],
        "sinks.http.post_s": ["sinks.http.post_partitioned", "sinks.http.post_report"],
        "sources.fetch_rows_s": ["sources.fetch_rows"],
        "streaming.run_orchestration_s": ["streaming.run_orchestration"],
        "streaming.drain_backlog_s": ["streaming.drain_backlog"],
    }
    for metric, names in span_s.items():
        m[metric] = T.median_or_zero([sum(tracer.span_seconds(i, n) for n in names) for i in traced])
    m.update({
        "sources.fetch_calls_per_unit": 0.0, "sources.fetch_tasks_per_op": 0.0,
        "sinks.http.deliveries_per_row": 0.0, "sinks.merge.store_files": 0.0,
        "sinks.merge.batch_dirs": 0.0, "streaming.backlog_log_rows": 0.0,
        "streaming.drained_keys": 0.0,
        "streaming.pending_files_max": 0.0, "streaming.generator_late_s": 0.0,
    })
    from perfbench.workloads import MIX_QUERIES

    m.update({f"plans.{q}_s": 0.0 for q in MIX_QUERIES})
    m.update(wl_metrics)

    # micro-batch phases, attributed to the traced operation whose window
    # holds the batch's trigger time
    windows = [(ops[i].start, ops[i].end) for i in traced]
    batches = [p for p in listener.progress
               if any(a <= p["timestamp"] <= b for a, b in windows)]
    for phase in ("latestOffset", "queryPlanning", "addBatch", "walCommit"):
        m[f"streaming.{phase}_ms"] = T.median_or_zero(
            [p["durationMs"].get(phase, 0) for p in batches])
    m["streaming.batches_per_activation"] = T.median_or_zero(
        [sum(1 for p in listener.progress if ops[i].start <= p["timestamp"] <= ops[i].end)
         for i in traced]) if listener.progress else 0.0

    # counts take the most any traced operation launched: AQE now and
    # then elides a job, and a median of two would then read x.5
    acc = T.job_accounting(event_log_dir, tracer.spans)
    for layer in T.LAYERS:
        for key in T.ACCOUNTING:
            per_op = [acc.get((i, layer), {}).get(key, 0.0) for i in traced]
            m[f"{layer}.{key}"] = (max(per_op, default=0.0) if key in ("jobs", "tasks")
                                   else T.median_or_zero(per_op))
    m["trace.overhead_s"] = (T.median_or_zero([ops[i].seconds for i in traced])
                             - T.median_or_zero([ops[i].seconds for i in plain]))
    return m


UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(("_per_unit", "_per_row")) else "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wellmeet_data_pipeline_spark")):
        print(f"perfbench: the package to measure is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import env, workloads
    from perfbench.fakes import read_calls
    from perfbench.trace import Tracer, make_progress_listener

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = os.path.join(work, "calls")
    os.makedirs(log_dir)
    env.prepare_process(work)
    nproc, n_cores = env.cores()
    wl = workloads.WORKLOADS[args.workload]()

    t_setup = time.perf_counter()
    spark = env.start_spark(work, n_cores, event_log=bool(args.trace))
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t_setup
        tracer = Tracer(spark.sparkContext)
        ctx = workloads.Ctx(spark, work, args.seed, n_cores, log_dir, tracer)
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(ctx, rep)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up(ctx)
        warm_up_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prep) + warm_up_s

        listener = make_progress_listener() if args.trace else None
        if listener is not None:
            spark.streams.addListener(listener)
        ops, traced_ops, errors, failed, walls = [], set(), [], 0, []
        min_ops = max(2 * wl.TRACED_OPS - 1 if args.trace else 1, wl.MIN_OPS)
        t_loop = time.perf_counter()
        while len(ops) < min_ops or wl.more(time.perf_counter() - t_loop, args.seconds, walls):
            i = len(ops)
            t_iter = time.perf_counter()
            # traced runs alternate traced and untraced operations, so the
            # tracing overhead is measured within the run
            tracer.active = bool(args.trace) and i % 2 == 0
            tracer.op = i
            if tracer.active:
                traced_ops.add(i)
            start = time.time()
            try:
                if tracer.active:
                    with tracer.patched(wl.trace_targets()):
                        res = wl.op(ctx, i)
                else:
                    res = wl.op(ctx, i)
            except Exception:  # count the failure, report it, keep measuring
                traceback.print_exc(file=sys.stderr)
                failed += 1
                ops.append(None)
                continue
            finally:
                tracer.active = False
                walls.append(time.perf_counter() - t_iter)
            res.start, res.end = start, time.time()
            if res.errors:
                failed += 1
                errors.extend(res.errors)
            ops.append(res)
        mem = env.retained_mem_mb(spark)

        calls = read_calls(log_dir)
        errors.extend(wl.check(ctx, calls))
        if args.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            spark.streams.removeListener(listener)
            traced = sorted(i for i in traced_ops if ops[i] is not None)
            layer_inputs = (wl.layer_metrics(ctx, traced, calls), tracer, ops, traced_ops,
                            listener)
        stamp = env.stamp(spark, args.seed, n_cores)
        e2e = _end_to_end(setup_s, ops, failed, mem)
    finally:
        env.stop_spark(spark)

    if args.trace:
        layer = _per_layer(*layer_inputs, os.path.join(work, "eventlog"))
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": not errors and not failed, "attempted": len(ops),
              "failed": failed, "metrics": metrics}
    record = dict(result, workload=args.workload, trace=args.trace, stamp=stamp,
                  errors=errors, setup={"session_s": session_s, "prepare_s": prep,
                                "warm_up_s": warm_up_s},
                  ops=[None if o is None else {"seconds": o.seconds, "items": o.items,
                                               "latencies": o.latencies,
                                               "traced": i in traced_ops}
                       for i, o in enumerate(ops)])
    if args.trace:
        record["spans"] = [dataclasses.asdict(s) for s in tracer.spans]
    out_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, ensure_ascii=False)
    shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""Tracing for the per-layer run.

Spans are recorded from outside the program: around the benchmark's own
calls into each layer, and by temporarily replacing the module
attributes through which one layer calls the next (for example
`pipelines.merge_append`).  Each span sets the Spark local property
`perfbench.span`, so every job it launches carries the span id into the
event log, where the per-task metrics are read back and charged to the
innermost span.  Micro-batch phase timings come from a
StreamingQueryListener.  Everything stays in memory until the run ends.
"""

from __future__ import annotations

import calendar
import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass

SPAN_PROP = "perfbench.span"
LAYERS = ("sources", "pipelines", "sinks.merge", "sinks.http", "streaming", "plans")
ACCOUNTING = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]


class Tracer:
    """Span recorder.  Inactive (the default, and always in untraced runs)
    it records nothing and touches no Spark state."""

    def __init__(self, sc=None):
        self._sc = sc
        self.active = False
        self.op: int | None = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, self._stack[-1] if self._stack else None, self.op, 0.0)
            self.spans.append(sp)
            self._stack.append(sid)
        prev = self._sc.getLocalProperty(SPAN_PROP)
        self._sc.setLocalProperty(SPAN_PROP, str(sid))
        sp.start = time.time()
        try:
            yield
        finally:
            sp.end = time.time()
            self._sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self._stack.remove(sid)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Replace `module.attr` by a traced wrapper for the duration."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        try:
            for mod, attr, name in targets:
                setattr(mod, attr, self.wrap(name, getattr(mod, attr)))
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def span_seconds(self, op: int, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.op == op and s.name == name)


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "timestamp": _iso_epoch(p.timestamp),
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def _iso_epoch(ts: str) -> float:
    """'2026-01-02T03:04:05.678Z' -> epoch seconds."""
    base, _, frac = ts.rstrip("Z").partition(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + float("0." + (frac or "0"))


def job_accounting(event_log_dir: str, spans: list[Span]) -> dict[tuple[int, str], dict[str, float]]:
    """Per (op, layer) Spark accounting from the uncompressed event log.

    A job is charged to the span named in its `perfbench.span` local
    property, which the innermost open span set; jobs launched outside
    every span are not charged.  Tasks are charged through their stage's
    submission properties."""
    files = [f for f in glob.glob(os.path.join(event_log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, found {files}")
    by_id = {s.sid: s for s in spans}
    stage_span: dict[tuple[int, int], Span] = {}
    acc: dict[tuple[int, str], dict[str, float]] = {}

    def bucket(sp: Span) -> dict[str, float]:
        return acc.setdefault((sp.op, sp.layer), dict.fromkeys(ACCOUNTING, 0.0))

    def owner(props: dict | None) -> Span | None:
        sid = (props or {}).get(SPAN_PROP)
        return by_id.get(int(sid)) if sid not in (None, "", "None") else None

    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sp = owner(ev.get("Properties"))
                if sp is not None:
                    bucket(sp)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sp = owner(ev.get("Properties"))
                if sp is not None:
                    stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = sp
            elif kind == "SparkListenerTaskEnd":
                sp = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                m = ev.get("Task Metrics")
                if sp is None or not m:
                    continue
                b = bucket(sp)
                b["tasks"] += 1
                b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
    return acc


def median_or_zero(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0

"""The workloads.  Each one prepares its inputs, runs one operation at a
time through the package's public entry points, and checks the
program's outputs afterwards.

- event_dag: open loop; restaurant files come due on a fixed schedule and
  each operation lands what is due, then runs one activation of the
  whole S3-event DAG, save-reviews POST step included.
- curation_query_mix: closed loop, 1 client; one operation is one pass
  over ten oracle-backed registry queries, each collected.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.fakes import CountingPoster, FeedFetcher
from perfbench.trace import Tracer, median_or_zero

# Fixed latency of the stand-in remote APIs, per call.  The reference
# waits 2 s per page load of its review crawl (BASELINE.md, "page-load
# wait"); it records no latency for the review-save POST, so that call
# is modelled with the same figure.  Both are scaled down 20x, to 0.1 s,
# so a run fits the benchmark's time budget.
REMOTE_CALL_S = 2.0
REMOTE_SCALE = 20
FETCH_DELAY_S = POST_DELAY_S = REMOTE_CALL_S / REMOTE_SCALE

RAW_REVIEW_SCHEMA = "author string, content string, visit_date string, place_id string"


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    log_dir: str
    tracer: Tracer


@dataclass
class OpResult:
    seconds: float
    items: int
    latencies: list[float]
    errors: list[str] = field(default_factory=list)
    start: float = 0.0  # epoch seconds, set by the runner
    end: float = 0.0


def _count_files(path: str) -> tuple[int, int]:
    """(data files, batch_commit directories) of a merge-sink store."""
    n_files = 0
    for _dirpath, _dirs, files in os.walk(path):
        n_files += sum(1 for f in files if f.endswith(".parquet"))
    batch_dirs = sum(1 for d in os.listdir(path) if d.startswith("batch_commit="))
    return n_files, batch_dirs


def _review_key(r) -> tuple:
    return (r["place_id"], r["author"], r["content"], r["visit_date"])


# ---------------------------------------------------------------------------


class EventDag:
    """Entry point C, S3 event to saved review, as an open loop.

    The stores start with history: 64 restaurants and 40 reviews each,
    written by the program's own merge_append, one batch per store.  One
    restaurant file (3 new restaurants and one invalid or re-landed row)
    comes due every PERIOD_S seconds.  After the warm-up activation an
    activation takes 8-10 s at seed on 4 cores, so one can slow down 1.5x
    before it runs into the next due time, and each activation normally
    holds one file.  Before each activation the driver thread lands every
    file already due; the activation runs run_orchestration with a key
    cap of KEY_CAP, below the file's new keys, and a backlog store, so
    every activation ingests part of its keys in the micro-batch and
    drains the rest from the backlog.  Then the save-reviews step
    projects the new places' stored reviews and POSTs them."""

    name = "event_dag"
    MIN_OPS = 1
    TRACED_OPS = 2  # more would take a traced run past 180 s on a busy host
    PERIOD_S = 15.0
    ROWS_PER_FILE = 4
    NEW_PER_FILE = 3
    KEY_CAP = 2  # < NEW_PER_FILE: each activation leaves keys to drain
    N_HISTORY, HISTORY_REVIEWS = 64, 40
    HISTORY_SEQ = 500_000  # explicit seqs clear of the stream's batch ids
    WARMUP_FILES = 1

    def prepare(self, ctx: Ctx, rep: int) -> None:
        base = os.path.join(ctx.work, f"dag-{rep}")
        self.landing = os.path.join(base, "landing")
        self.rest_store = os.path.join(base, "restaurants")
        self.rev_store = os.path.join(base, "reviews")
        self.ckpt = os.path.join(base, "checkpoint")
        self.backlog = os.path.join(base, "backlog")
        os.makedirs(self.landing)
        # enough files for a 180 s run; unused files are never landed
        self.files = gen.landing_files(ctx.seed, self.WARMUP_FILES + int(180 / self.PERIOD_S) + 1,
                                       self.ROWS_PER_FILE, self.NEW_PER_FILE)
        self.history = gen.place_ids(ctx.seed, self.N_HISTORY)
        published = dict.fromkeys(self.history, self.HISTORY_REVIEWS)
        for rows in self.files:
            for r in rows:
                if r["place_id"] is not None:
                    published[r["place_id"]] = 3 + gen._h(ctx.seed, "nrev", r["place_id"]) % 6
        self.fetcher = FeedFetcher(ctx.seed, published, ctx.log_dir, "dag", FETCH_DELAY_S)
        self.stored = {p: gen.restaurant_row(p, f"식당 {p}", gen._h(ctx.seed, "hist", p))
                       for p in self.history}
        self.next_file = 0
        self.delivered_new: set[tuple] = set()  # (restaurantId, content) owed a POST
        self.place_op: dict[str, int] = {}
        self.op_units: dict[int, int] = {}
        self.op_new: dict[int, int] = {}
        self.pending_files: dict[int, int] = {}
        self.late: dict[int, list[float]] = {}
        self.t0: float | None = None

    def _land(self, n: int, i: int, due: list[float]) -> list[str]:
        """Land the next `n` files; returns the new valid place ids they carry."""
        new = []
        for _ in range(n):
            rows = self.files[self.next_file]
            name = f"r{self.next_file:06d}.json"
            tmp = os.path.join(self.landing, "." + name)
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(rows, fh, ensure_ascii=False)
            os.rename(tmp, os.path.join(self.landing, name))
            self.next_file += 1
            for r in rows:
                pid = r["place_id"]
                if pid is None or r["name"] is None or pid in self.stored:
                    continue
                self.stored[pid] = r
                self.place_op[pid] = i
                new.append(pid)
        now = time.perf_counter()
        self.late[i] = [now - d for d in due]
        self.pending_files[i] = n
        return new

    def _activate(self, ctx: Ctx, i: int, new: list[str]) -> list[str]:
        """One activation: the streaming DAG, then save-reviews for `new`."""
        from pyspark.sql import functions as F

        from wellmeet_data_pipeline_spark import pipelines
        from wellmeet_data_pipeline_spark.sinks import http
        from wellmeet_data_pipeline_spark.sinks.merge import read_current
        from wellmeet_data_pipeline_spark.streaming import orchestration

        tr = ctx.tracer
        with tr.span("streaming.run_orchestration"):
            orchestration.run_orchestration(
                ctx.spark, self.landing, self.rest_store, self.rev_store, self.ckpt,
                self.fetcher, max_keys_per_batch=self.KEY_CAP, backlog_store=self.backlog,
            )
        owed = 0
        for p in new:
            for j in range(self.fetcher.published[p]):
                self.delivered_new.add((int(p), gen.review_row(ctx.seed, p, j)["content"]))
                owed += 1
        self.op_units[i], self.op_new[i] = len(new), owed
        if not new:
            return []
        poster = CountingPoster(ctx.log_dir, f"op{i}", POST_DELAY_S)
        reviews = read_current(ctx.spark, self.rev_store, id_col=["place_id", "id"]).filter(
            F.col("place_id").cast("string").isin(new))
        with tr.span("pipelines.project_payloads"):
            payload = pipelines.project_payloads(reviews, limit_per_event=None)
        with tr.span("sinks.http.post_partitioned"):
            results = http.post_partitioned(payload, poster, key_col="hash",
                                            parallelism=ctx.cores)
        with tr.span("sinks.http.post_report"):
            report = http.post_report(results)
        if report["total"] != owed or report["success"] != owed or report["failed"]:
            return [f"activation {i}: post_report {report} but {owed} new reviews"]
        return []

    def warm_up(self, ctx: Ctx) -> None:
        """Write the stores' history, then run one activation untimed."""
        from wellmeet_data_pipeline_spark.operators.projections import project_review
        from wellmeet_data_pipeline_spark.schemas import RESTAURANT
        from wellmeet_data_pipeline_spark.sinks.merge import merge_append

        rests = [tuple(r[f.name] for f in RESTAURANT.fields) for r in self.stored.values()]
        merge_append(ctx.spark.createDataFrame(rests, RESTAURANT), self.rest_store,
                     id_col="place_id", partition_col=None, batch_seq=self.HISTORY_SEQ)
        rows = [gen.review_row(ctx.seed, p, i)
                for p in self.history for i in range(self.HISTORY_REVIEWS)]
        merge_append(project_review(ctx.spark.createDataFrame(rows, RAW_REVIEW_SCHEMA)),
                     self.rev_store, id_col="id", partition_col="place_id",
                     batch_seq=self.HISTORY_SEQ)
        errors = self._activate(ctx, -1, self._land(self.WARMUP_FILES, -1, []))
        if errors:
            raise RuntimeError(f"warm-up activation failed its check: {errors}")

    def trace_targets(self):
        from wellmeet_data_pipeline_spark import pipelines
        from wellmeet_data_pipeline_spark.streaming import orchestration

        return [
            (orchestration, "ingest_reviews", "pipelines.ingest_reviews"),
            (orchestration, "drain_backlog", "streaming.drain_backlog"),
            (orchestration, "merge_append", "sinks.merge.merge_append"),
            (orchestration, "read_current_or_none", "sinks.merge.read_current_or_none"),
            (pipelines, "merge_append", "sinks.merge.merge_append"),
            (pipelines, "read_current_or_none", "sinks.merge.read_current_or_none"),
        ]

    def _due(self, j: int) -> float:
        return self.t0 + (j - self.WARMUP_FILES) * self.PERIOD_S

    def more(self, elapsed: float, seconds: float, walls: list[float]) -> bool:
        """Run one activation per file due within the measured window."""
        return self.t0 is None or self._due(self.next_file) - self.t0 < seconds

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from wellmeet_data_pipeline_spark.sinks.merge import read_current
        from wellmeet_data_pipeline_spark.sources.ingest import fetch_rows, seed_frame

        tr = ctx.tracer
        with tr.span("sinks.merge.read_current"):
            if tr.active:
                read_current(ctx.spark, self.rev_store, id_col=["place_id", "id"]).count()
        if self.t0 is None:
            self.t0 = time.perf_counter()
        # idle until the next file is due: the generator never runs ahead
        wait = self._due(self.next_file) - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        start = time.perf_counter()
        n_due = 0
        while self._due(self.next_file + n_due) <= start:
            n_due += 1
        due = [self._due(self.next_file + k) for k in range(n_due)]
        new = self._land(n_due, i, due)
        errors = self._activate(ctx, i, new)
        end = time.perf_counter()
        with tr.span("sources.fetch_rows"):
            if tr.active and new:
                probe = FeedFetcher(ctx.seed, self.fetcher.published, ctx.log_dir, "probe",
                                    FETCH_DELAY_S)
                fetch_rows(seed_frame(ctx.spark, new, 1), probe, RAW_REVIEW_SCHEMA).count()
        return OpResult(end - start, self.op_new[i], [end - d for d in due], errors)

    def _drained_keys(self, ctx: Ctx, calls: list[dict]) -> dict[int, set]:
        """Per traced activation, the places fetched inside drain_backlog."""
        spans = [s for s in ctx.tracer.spans if s.name == "streaming.drain_backlog"]
        out: dict[int, set] = {s.op: set() for s in spans}
        for c in calls:
            if c["kind"] == "fetch" and c["tag"] == "dag":
                for s in spans:
                    if s.start <= c["t"] <= s.end:
                        out[s.op].add(c["key"])
        return out

    def check(self, ctx: Ctx, calls: list[dict]) -> list[str]:
        from pyspark.sql import functions as F

        from wellmeet_data_pipeline_spark.sinks.merge import read_current

        errors = []
        # read views type the partition column place_id from its directory
        # names, so ids are compared as strings
        rests = read_current(ctx.spark, self.rest_store, id_col="place_id").collect()
        got = sorted((str(r["place_id"]), r["name"]) for r in rests)
        want = sorted((p, r["name"]) for p, r in self.stored.items())
        if got != want:
            errors.append(f"restaurant store holds {len(got)} rows, expected {len(want)}")
        revs = [(str(r["place_id"]), r["author"], r["content"], r["visit_date"]) for r in
                read_current(ctx.spark, self.rev_store, id_col=["place_id", "id"]).collect()]
        want_revs = {_review_key(gen.review_row(ctx.seed, p, i))
                     for p in self.stored for i in range(self.fetcher.published[p])}
        if len(revs) != len(set(revs)) or set(revs) != want_revs:
            errors.append(f"review store holds {len(revs)} rows ({len(set(revs))} distinct), "
                          f"expected {len(want_revs)}")
        posted = {(c["restaurantId"], c["content"]) for c in calls if c["kind"] == "post"}
        missing, unknown = self.delivered_new - posted, posted - self.delivered_new
        if missing or unknown:
            errors.append(f"delivery: {len(missing)} new reviews never posted, "
                          f"{len(unknown)} unknown rows posted")
        log = ctx.spark.read.parquet(self.backlog)
        todo = log.filter(F.col("_op") == "todo").select("place_id").distinct()
        done = log.filter(F.col("_op") == "done").select("place_id")
        pending = todo.join(done, "place_id", "left_anti").count()
        if pending:
            errors.append(f"backlog still holds {pending} pending keys")
        # traced runs see where the fetches happen: the key cap must leave
        # work for drain_backlog in every activation
        idle = sorted(i for i, keys in self._drained_keys(ctx, calls).items() if not keys)
        if idle:
            errors.append(f"activations {idle}: drain_backlog ingested no keys")
        return errors

    def layer_metrics(self, ctx: Ctx, ops: list[int], calls: list[dict]) -> dict[str, float]:
        fetch: dict[int, int] = {}
        tasks: dict[int, set] = {}
        posts: dict[int, int] = {}
        for c in calls:
            if c["kind"] == "fetch" and c["tag"] == "dag":
                i = self.place_op[c["key"]]
                fetch[i] = fetch.get(i, 0) + 1
                tasks.setdefault(i, set()).add(c["task"])
            elif c["kind"] == "post":
                i = int(c["tag"][2:])
                posts[i] = posts.get(i, 0) + 1
        n_files, n_dirs = _count_files(self.rev_store)
        with_new = [i for i in ops if self.op_units[i]]
        return {
            "sources.fetch_calls_per_unit": median_or_zero(
                [fetch.get(i, 0) / self.op_units[i] for i in with_new]),
            "sources.fetch_tasks_per_op": median_or_zero([len(tasks.get(i, ())) for i in ops]),
            "sinks.http.deliveries_per_row": median_or_zero(
                [posts.get(i, 0) / self.op_new[i] for i in with_new]),
            "sinks.merge.store_files": n_files,
            "sinks.merge.batch_dirs": n_dirs,
            "streaming.backlog_log_rows": ctx.spark.read.parquet(self.backlog).count(),
            "streaming.drained_keys": median_or_zero(
                [len(k) for k in self._drained_keys(ctx, calls).values()]),
            "streaming.pending_files_max": max((self.pending_files[i] for i in ops), default=0),
            "streaming.generator_late_s": median_or_zero(
                [x for i in ops for x in self.late[i]]),
        }


# ---------------------------------------------------------------------------

MIX_QUERIES = (
    "flagship_incremental_enrich", "pricing_summary", "join_star_enrich", "session_window",
    "ngram_jaccard_pairs", "jaccard_prefix_join", "cosine_topk_bruteforce", "bm25_topk",
    "corpus_end_to_end", "rag_context_pack",
)
MIX_TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents",
              "embeddings")


def _render(frame) -> list[tuple]:
    """Order-insensitive rendering: floats to 9 significant digits."""
    def norm(v):
        if v is None or (isinstance(v, (float, np.floating)) and v != v):
            return "NULL"
        return f"{float(v):.9g}" if isinstance(v, (float, np.floating)) else str(v)

    return sorted(tuple(norm(v) for v in row) for row in frame.itertuples(index=False, name=None))


def _dtype_class(dtype) -> str | None:
    """'int' or 'float' for numeric pandas dtypes, None otherwise."""
    return {"i": "int", "u": "int", "f": "float"}.get(getattr(dtype, "kind", None))


class CurationQueryMix:
    """Ten oracle-backed registry queries over seeded tables shaped like
    the repository's sf0.01 test tables (60k lineitem rows, 10k events,
    500 documents, 500 embeddings); one operation is one pass, each query
    collected."""

    name = "curation_query_mix"
    # one pass after the warm-up pass: a second one would take the runs
    # past the benchmark's time budget
    MIN_OPS = 1
    TRACED_OPS = 2
    SCALE = 0.01

    def prepare(self, ctx: Ctx, rep: int) -> None:
        self.sf_dir = os.path.join(ctx.work, f"tables-{rep}")
        gen.write_query_tables(self.sf_dir, ctx.seed, self.SCALE)
        self.last_rows: dict[str, tuple] = {}
        self.query_s: dict[int, dict[str, float]] = {}

    def warm_up(self, ctx: Ctx) -> None:
        """One untimed pass: the first pass of a JVM pays class loading,
        code generation and Python worker start."""
        self.op(ctx, -1)

    def more(self, elapsed: float, seconds: float, walls: list[float]) -> bool:
        """Whole passes only, while the next one fits in the measured window."""
        return elapsed + statistics.median(walls) <= seconds

    def trace_targets(self):
        return []

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

        times = {}
        for q in MIX_QUERIES:
            t0 = time.perf_counter()
            with ctx.tracer.span(f"plans.{q}"):
                df = REGISTRY[q].fn(ctx.spark, self.sf_dir)
                rows = df.collect()
            times[q] = time.perf_counter() - t0
            self.last_rows[q] = (rows, df.columns)
        self.query_s[i] = times
        return OpResult(sum(times.values()), len(MIX_QUERIES), list(times.values()))

    def check(self, ctx: Ctx, calls: list[dict]) -> list[str]:
        from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

        con = duckdb.connect()
        try:
            con.execute("SET threads=2")
            for t in MIX_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            errors = []
            for q in MIX_QUERIES:
                want = con.execute(REGISTRY[q].oracle).fetchdf()
                rows, cols = self.last_rows[q]
                got = pd.DataFrame.from_records(rows, columns=cols)
                if sorted(cols) != sorted(want.columns):
                    errors.append(f"{q}: columns {cols} vs oracle {list(want.columns)}")
                    continue
                want = want[cols]
                # an int column on one engine and a float column on the
                # other render alike ("0" and "0.0" both give "0"), so the
                # numeric kinds are compared before the values
                kinds = [(c, _dtype_class(got[c].dtype), _dtype_class(want[c].dtype))
                         for c in cols]
                bad = [f"{c} {g} vs {w}" for c, g, w in kinds if g and w and g != w]
                if bad:
                    errors.append(f"{q}: column types differ from the oracle's: {bad}")
                elif _render(got) != _render(want):
                    errors.append(f"{q}: {len(got)} rows differ from the oracle's {len(want)}")
            return errors
        finally:
            con.close()

    def layer_metrics(self, ctx: Ctx, ops: list[int], calls: list[dict]) -> dict[str, float]:
        return {f"plans.{q}_s": median_or_zero([self.query_s[i][q] for i in ops])
                for q in MIX_QUERIES}


WORKLOADS = {w.name: w for w in (EventDag, CurationQueryMix)}

"""The reference's full event-driven DAG as ONE streaming pipeline
(SURVEY.md §3.3).

Reference choreography: restaurant JSON lands in S3 → Lambda validates
and saves → one AWS Batch job PER RESTAURANT crawls its reviews → review
JSON lands in S3 → second Lambda projects and posts.  Four processes,
three network hops, a job queue.

Here: one foreachBatch.  Per micro-batch of landed restaurants —
validate (P4) → fill defaults (P7) → insert-if-absent into the
restaurant store (J2/K2), with the batch's NEW place_ids appended to a
durable fan-out backlog first → the pending keys become the seed frame
for the review ingest (K5's job-per-restaurant collapses into
partition-per-key scheduling) → incremental review ingest (J1) into the
review store → the keys are marked done.  The only driver-side
materialization is the pending-key list (bounded by `max_keys_per_batch`
when set, by batch size otherwise — never by corpus size).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.operators.projections import fill_rds_defaults, require_fields
from wellmeet_data_pipeline_spark.pipelines import ingest_reviews
from wellmeet_data_pipeline_spark.schemas import RESTAURANT
from wellmeet_data_pipeline_spark.session import local_frame
from wellmeet_data_pipeline_spark.sinks.merge import (
    committed_batch_seqs,
    merge_append,
    read_current_or_none,
)
from wellmeet_data_pipeline_spark.streaming.pipeline import landing_stream, run_available_now

# drain rounds commit reviews under seqs from here up, clear of the
# foreachBatch batch ids the stream commits them under
DRAIN_SEQ_BASE = 1_000_000


def _read_backlog_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    # narrow catch: ONLY path-does-not-exist may read as "no backlog yet".
    # A transient read failure must propagate — treating it as empty would
    # make the caller proceed without the carried-over obligations.
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def _read_pending(spark: SparkSession, backlog_store: str) -> DataFrame | None:
    """Pending fan-out keys from the append-only backlog log: rows marked
    'todo' that have no 'done' marker.  The log is never overwritten —
    appends are crash-safe (a torn append leaves at worst a replayable
    duplicate, and both marks are idempotent on place_id), unlike a
    rewrite-in-place whose delete window can lose the only durable copy."""
    log = _read_backlog_or_none(spark, backlog_store)
    if log is None:
        return None
    todo = log.filter(F.col("_op") == "todo").select("place_id").distinct()
    done = log.filter(F.col("_op") == "done").select("place_id")
    return todo.join(done, "place_id", "left_anti")


def _append_marks(keys: DataFrame, backlog_store: str, op: str) -> None:
    keys.select("place_id", F.lit(op).alias("_op")).write.mode("append").parquet(
        backlog_store
    )


def _take_chunk(todo: DataFrame, max_keys: int | None) -> list[str]:
    """First `max_keys` place_ids (all of them when None) in deterministic
    order — the ONE driver materialization of the fan-out."""
    todo = todo.orderBy("place_id")
    if max_keys is not None:
        todo = todo.limit(max_keys)
    return [r["place_id"] for r in todo.collect()]


def _ingest_pending(
    spark: SparkSession,
    pending: DataFrame,
    backlog_store: str,
    review_store: str,
    review_fetcher: Callable[[str, int], list[dict]],
    max_keys: int | None,
    batch_seq: int,
) -> int:
    """Ingest up to `max_keys` pending keys, marking them done afterwards;
    returns how many keys the chunk held.

    The chunk is collected before anything is appended, so `pending` (a
    plan over the log this appends to) is evaluated exactly once.
    At-least-once order: the 'todo' marks are already durable (appended by
    the caller before this runs); the chunk is ingested (review merge is
    idempotent on (place_id, id), so a crash-replay of the chunk is
    harmless); only then are 'done' marks appended.  A crash between
    ingest and the done-append re-ingests the chunk later — nothing is
    ever lost, because no step deletes log data."""
    chunk = _take_chunk(pending, max_keys)
    if chunk:
        ingest_reviews(spark, chunk, review_fetcher, review_store, batch_seq=batch_seq)
        _append_marks(local_frame(spark, [(k,) for k in chunk], "place_id string"),
                      backlog_store, "done")
    return len(chunk)


def _check_cap(max_keys_per_batch: int | None) -> None:
    if max_keys_per_batch is not None and max_keys_per_batch < 1:
        raise ValueError(f"max_keys_per_batch must be >= 1, got {max_keys_per_batch}")


def drain_backlog(
    spark: SparkSession,
    backlog_store: str,
    review_store: str,
    review_fetcher: Callable[[str, int], list[dict]],
    max_keys_per_batch: int | None,
) -> None:
    """Drain any carried-over fan-out backlog to empty, one chunk of at
    most `max_keys_per_batch` keys (None: all pending keys) per round.
    Each round reads the pending keys once; the drain stops after a round
    that took fewer keys than the cap (after one round when uncapped):
    nothing else appends to the backlog while it runs, so a short chunk
    was the last of it.

    Each round commits its reviews under a fresh seq past every drain seq
    already in the review store, so no drain re-opens an earlier batch
    directory; drain seqs start at DRAIN_SEQ_BASE, clear of the stream's
    batch ids."""
    _check_cap(max_keys_per_batch)
    seq = max([DRAIN_SEQ_BASE - 1, *committed_batch_seqs(review_store)])
    while True:
        pending = _read_pending(spark, backlog_store)
        if pending is None:
            return
        seq += 1
        taken = _ingest_pending(
            spark, pending, backlog_store, review_store,
            review_fetcher, max_keys_per_batch, seq,
        )
        if max_keys_per_batch is None or taken < max_keys_per_batch:
            return


def run_orchestration(
    spark: SparkSession,
    restaurant_landing_dir: str,
    restaurant_store: str,
    review_store: str,
    checkpoint_dir: str,
    review_fetcher: Callable[[str, int], list[dict]],
    max_keys_per_batch: int | None = None,
    backlog_store: str | None = None,
) -> None:
    """availableNow activation of the whole §3.3 DAG.

    Every new place_id becomes a durable 'todo' mark in `backlog_store`
    before the restaurant store commits it, and is marked 'done' only
    after its reviews are ingested, so a crash anywhere in the batch
    leaves the review obligation for the replay or the post-stream drain.
    `backlog_store` defaults to `<checkpoint_dir>/fanout_backlog`: like
    the checkpoint, the backlog is replay state of this one stream.

    `max_keys_per_batch` bounds the one driver-side materialization (the
    key list driving the per-key review fan-out): each micro-batch
    ingests at most that many pending keys, and the overflow waits in the
    backlog for later batches and the post-stream drain.  None means no
    cap — a backfill-sized batch then builds a driver list proportional
    to the batch (the reference's one-Batch-job-per-restaurant loop has
    the same unbounded fan-out, lambda_function.py:145-183)."""
    _check_cap(max_keys_per_batch)
    if backlog_store is None:
        backlog_store = os.path.join(checkpoint_dir, "fanout_backlog")
    stream = landing_stream(spark, restaurant_landing_dir, RESTAURANT)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        valid = fill_rds_defaults(require_fields(batch_df, ["place_id", "name"]))
        valid = valid.dropDuplicates(["place_id"])
        cur = read_current_or_none(spark, restaurant_store, id_col="place_id")
        existing = (
            cur.select("place_id") if cur is not None
            else local_frame(spark, [], "place_id string")
        )
        fresh = valid.join(existing, "place_id", "left_anti")
        # K5's one-Batch-job-per-restaurant → todo marks over the NEW keys,
        # durable FIRST — and specifically BEFORE the restaurant-store
        # commit: `fresh` is an anti join against the store, so a crash
        # after the store commit but before the todo-append would replay
        # the batch with fresh EMPTY and the review obligation lost
        # forever (caught by the r9 fault-injection soak).  Appending
        # todo first is safe in the other direction: a crash before the
        # store commit replays with fresh unchanged and the re-appended
        # todo marks collapse in _read_pending's distinct.
        _append_marks(fresh.select("place_id"), backlog_store, "todo")
        merge_append(fresh, restaurant_store, id_col="place_id", partition_col=None,
                     batch_seq=batch_id)
        pending = _read_pending(spark, backlog_store)
        if pending is None:
            return
        _ingest_pending(
            spark, pending, backlog_store, review_store,
            review_fetcher, max_keys_per_batch, batch_id,
        )

    run_available_now(stream.writeStream.foreachBatch(on_batch), checkpoint_dir)
    drain_backlog(spark, backlog_store, review_store, review_fetcher, max_keys_per_batch)


def compact_backlog(spark: SparkSession, backlog_store: str, out_path: str) -> None:
    """Maintenance: rewrite the append-only mark log as pending-only
    'todo' marks at `out_path` (done pairs cancelled).  Writes to a NEW
    path like sinks.merge.compact — the live log is never overwritten, so
    the swap stays crash-safe (keep the old dir until the new one is
    committed); marks keep accumulating otherwise."""
    pending = _read_pending(spark, backlog_store)
    if pending is None:
        pending = local_frame(spark, [], "place_id string")
    pending.select("place_id", F.lit("todo").alias("_op")).write.mode(
        "error"
    ).parquet(out_path)

"""Structured Streaming pipelines (SURVEY.md §2.10, §3.3).

The reference's choreography — S3 ObjectCreated -> Lambda -> AWS Batch ->
Lambda (§3.3: 4 processes, 3 network hops) — collapses into file-source
micro-batches:

  T1 trigger        `landing_stream` (readStream on the landing dir) +
                    `run_available_now` (Trigger.AvailableNow, blocking)
                    = the reference's event-per-upload + convergence loop
                    R5.  Every streaming module reads and activates
                    through these two; no other module builds a reader or
                    a trigger of its own
  T2 state          the file-source checkpoint tracks processed files;
                    cross-batch id dedup via watermark + dropDuplicates
  T4 idempotency    foreachBatch -> merge_append sink (exactly-once per id
                    through the dedup-on-read view)
  T5 backpressure   orchestration's `max_keys_per_batch` caps the per-key
                    fan-out a micro-batch materializes (overflow waits in
                    the durable backlog), replacing the [:10] caps and
                    sleeps
  T6 late data      explicit watermark instead of the silent newest-first
                    assumption (naver_crawler.py:243-247)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.sinks.merge import merge_append


def landing_stream(spark: SparkSession, landing_dir: str, schema: StructType) -> DataFrame:
    """T1/S6: the landing directory IS the event source — every new file is
    an ObjectCreated record (submit-aws-batch-lambda/lambda_function.py:
    33-39) without the Lambda hop."""
    return spark.readStream.schema(schema).option("multiLine", "true").json(landing_dir)


def run_available_now(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """T1: one activation — drain every file landed so far under the
    checkpoint at `checkpoint_dir`, then return.  Blocks until the query
    stops; a failed micro-batch raises here, and the next activation
    replays it from the checkpoint."""
    (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_ingest_pipeline(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    id_col: str = "id",
    partition_col: str | None = "place_id",
) -> None:
    """§3.3 as ONE streaming pipeline: validate -> per-batch dedup ->
    idempotent merge-append.  Cross-batch duplicates are handled by the
    sink's dedup-on-read (T4): re-delivered ids never surface twice.
    Runs with availableNow and blocks until drained (R5 convergence)."""
    stream = landing_stream(spark, landing_dir, schema)
    valid = stream.filter(F.col(id_col).isNotNull())

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.dropDuplicates([id_col])  # D1 within the batch
        merge_append(fresh, store_path, id_col=id_col, partition_col=partition_col,
                     batch_seq=batch_id)

    run_available_now(valid.writeStream.foreachBatch(write_batch), checkpoint_dir)


def run_windowed_counts(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: StructType,
    ts_col: str = "ts",
    minutes: int = 10,
    watermark: str = "30 minutes",
) -> None:
    """T6/T7: watermarked tumbling-window counts over an event stream —
    late rows beyond the watermark are dropped *explicitly* (the reference
    silently truncated via its newest-first assumption)."""
    stream = landing_stream(spark, landing_dir, schema)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), f"{minutes} minutes").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    run_available_now(
        agg.writeStream.outputMode("append").format("parquet").option("path", out_path),
        checkpoint_dir,
    )


def run_session_windows(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: StructType,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> None:
    """T7's streaming twin of operators.windows.session_window_agg:
    watermarked F.session_window sessionization.  The state store keys on
    (key, merging session) and shards on the groupBy shuffle — the same
    per-key layout the batch gaps-and-islands form shuffles on, so the
    batch and stream agree wherever no two events are exactly one gap
    apart (F.session_window closes at `last + gap`, i.e. a gap == the
    threshold starts a new session; the batch/SQL form uses strictly >).

    Emits (key, session_start, n_events, sum_value) per closed session —
    session_start == min(ts) exactly as in the batch form; the window's
    end is last_event + gap by definition, so parity checks compare on
    start.  availableNow drains the source and the watermark closes every
    session older than the horizon."""
    stream = landing_stream(spark, landing_dir, schema)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes").alias("sw"),
            F.col(key_col),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col(key_col),
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    run_available_now(
        agg.writeStream.outputMode("append").format("parquet").option("path", out_path),
        checkpoint_dir,
    )


def run_stream_stream_range_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_seconds: int = 1800,
    watermark: str = "1 hour",
) -> None:
    """Watermarked stream-stream range join — the streaming twin of
    `range_join_events` (click ⋈ purchase within a window per user).
    Both sides watermark on event time; the join condition bounds the
    right side's timestamp to [left.ts, left.ts + window], which is what
    lets Structured Streaming EVICT state: a buffered left row can be
    dropped once the right watermark passes left.ts + window.  An
    unbounded-condition stream-stream join would hold both sides
    forever — the time bound IS the state-retention contract at scale.

    Output columns mirror the batch operator: (user_id, l_event_id,
    r_event_id, delta_us).  Append-mode parquet sink; availableNow."""
    left = (
        landing_stream(spark, left_dir, schema)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key_col),
            F.col("event_id").alias("l_event_id"),
            F.col(ts_col).alias("l_ts"),
        )
    )
    right = (
        landing_stream(spark, right_dir, schema)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key_col).alias("__rk"),
            F.col("event_id").alias("r_event_id"),
            F.col(ts_col).alias("r_ts"),
        )
    )
    joined = left.join(
        right,
        (F.col(key_col) == F.col("__rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")),
        "inner",
    ).select(
        key_col,
        "l_event_id",
        "r_event_id",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("delta_us"),
    )
    run_available_now(
        joined.writeStream.format("parquet").option("path", out_path).outputMode("append"),
        checkpoint_dir,
    )


def run_stream_stream_left_outer_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_seconds: int = 1800,
    watermark: str = "1 hour",
) -> None:
    """Watermarked stream-stream LEFT OUTER join: every left event is
    emitted exactly once — matched rows as soon as the match arrives,
    UNMATCHED rows only when the watermark proves no match can still
    come (the engine holds the left row in state until right's
    watermark passes left.ts + window, then emits it with nulls).  This
    is the abandonment/attribution read (clicks with no purchase inside
    the window) that an inner join silently drops — and the null-emit
    timing is exactly why the time-bound + watermark are mandatory on
    BOTH sides: without them unmatched rows could never be declared
    final.  Output mirrors the inner twin plus nullable right columns."""
    left = (
        landing_stream(spark, left_dir, schema)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key_col),
            F.col("event_id").alias("l_event_id"),
            F.col(ts_col).alias("l_ts"),
        )
    )
    right = (
        landing_stream(spark, right_dir, schema)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key_col).alias("__rk"),
            F.col("event_id").alias("r_event_id"),
            F.col(ts_col).alias("r_ts"),
        )
    )
    joined = left.join(
        right,
        (F.col(key_col) == F.col("__rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (
            F.col("r_ts")
            <= F.col("l_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")
        ),
        "left_outer",
    ).select(
        key_col,
        "l_event_id",
        "r_event_id",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("delta_us"),
    )
    run_available_now(
        joined.writeStream.format("parquet").option("path", out_path).outputMode("append"),
        checkpoint_dir,
    )

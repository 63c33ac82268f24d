"""HTTP API sink with per-row error capture (SURVEY.md §2.2 K3/K4, §2.11
X4, §4 custom piece #2).

The reference POSTs row-by-row from a Lambda, tallying success/failure
and keeping the first 10 error messages (save-reviews/lambda_function.py:
60-110, 124-173; submit-aws-batch-lambda:119-142).  Spark form:
mapInPandas over repartitioned rows — one client per partition, per-row
try/except emitting an *errors-as-data* result frame (status, error), so
the tally (A2) and error sample (A4) become ordinary aggregations over
the result instead of driver-side counters.

The poster is injected; tests use a deterministic local function and the
t2 surface never touches a network.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RESULT_SCHEMA = "row_key string, ok boolean, error string"


def post_partitioned(
    df: DataFrame,
    poster: Callable[[dict], None],
    key_col: str = "id",
    parallelism: int | None = None,
    max_retries: int = 0,
    backoff_s: float = 0.0,
    rate_per_sec: float | None = None,
    sleeper: Callable[[float], None] | None = None,
) -> DataFrame:
    """K3/K4: POST every row; returns a result DataFrame (row_key, ok,
    error).  `poster` raises on failure; the per-row try/except is the
    reference's handle_errors decorator (hello.py:30-60) as errors-as-data.

    R9 throttling, per PARTITION (so cluster-wide rate =
    rate_per_sec x parallelism — size parallelism to the API budget):
    - rate_per_sec: min spacing between posts
    - max_retries/backoff_s: linear backoff re-attempts before a row is
      recorded as failed (the reference retries nothing; a transient 5xx
      costs it the row)
    `sleeper` is injectable so tests don't sleep."""
    if parallelism:
        df = df.repartition(parallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        sleep = sleeper or _time.sleep
        min_gap = 1.0 / rate_per_sec if rate_per_sec else 0.0
        last_post = [0.0]

        def attempt(rec: dict) -> str | None:
            for i in range(max_retries + 1):
                if min_gap:
                    wait = last_post[0] + min_gap - _time.monotonic()
                    if wait > 0:
                        sleep(wait)
                    last_post[0] = _time.monotonic()
                try:
                    poster(rec)
                    return None
                except Exception as exc:  # errors-as-data, never task failure
                    if i == max_retries:
                        return f"{type(exc).__name__}: {exc}"
                    if backoff_s:
                        sleep(backoff_s * (i + 1))
            return "unreachable"

        for pdf in batches:
            keys, oks, errs = [], [], []
            for rec in pdf.to_dict(orient="records"):
                keys.append(str(rec.get(key_col)))
                err = attempt(rec)
                oks.append(err is None)
                errs.append(err)
            yield pd.DataFrame({"row_key": keys, "ok": oks, "error": errs})

    return df.mapInPandas(run, RESULT_SCHEMA)


def post_report(results: DataFrame, max_errors: int = 10) -> dict:
    """The reference's event result shape (save-reviews/lambda_function.py:
    96-110): totals + first `max_errors` error messages.

    `results` is evaluated ONCE: the tally and the error sample are two
    actions, and over the lazy `post_partitioned` frame each would POST
    every row again."""
    results = results.localCheckpoint(eager=True)
    tally = results.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("success"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("failed"),
    ).collect()[0]
    errors = [
        r["error"]
        for r in results.filter(~F.col("ok")).select("error").orderBy("row_key").limit(max_errors).collect()
    ]
    return {
        "total": tally["total"],
        "success": tally["success"] or 0,
        "failed": tally["failed"] or 0,
        "errors": errors,
    }

"""SparkSession factory.

Defaults are chosen for the 100 TB posture and scaled down by env for
local test runs:

- AQE on (runtime coalesce, skew-join splitting) — the reference has no
  optimizer at all (SURVEY.md §4); we lean on Catalyst + AQE instead of
  hand-scheduling.
- Arrow enabled — every Python-side operator uses Pandas UDFs /
  mapInPandas, never row-at-a-time Python UDFs.
- Session timezone pinned to UTC so event-time windows hash identically
  against the DuckDB oracle and across clusters.
- shuffle partitions default to cores locally; on a real cluster this
  should be ~2-3x total executor cores (or left to AQE's coalescing with
  a high initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "wellmeet-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: keep the UI off and the driver lean
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # e.g. the scale smoke re-enables the UI to read spill/peak-memory
    # stage metrics from the REST status API
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """A driver-built frame as an Arrow local relation (a LocalTableScan).

    `spark.createDataFrame(<list>, schema)` pickles the list into an RDD
    and re-serializes it in a Python-worker stage with one task per core
    inside every job that reads it; a `pyarrow.Table` goes to the JVM
    once, as a local relation.  Every small frame the pipelines
    build on the driver (seed units, backlog marks, empty-store fallbacks)
    goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [[] for _ in schema.fields]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)

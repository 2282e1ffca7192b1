"""SparkSession factory.

Centralizes the configuration the whole engine depends on:

- ``spark.sql.session.timeZone=UTC`` — the reference pipeline is UTC-pinned
  (reference ``meteomatics_get_data.py:31,36`` formats ``...T00:00:00Z``) and
  the DuckDB correctness oracle compares naive-UTC timestamps.
- AQE on (runtime coalesce / skew-join) — at 100 TB the static shuffle
  partition count is always wrong somewhere; AQE re-plans per stage.
- shuffle partitions sized for the local harness via env; on a real cluster
  this is overridden per-deploy (or left to AQE's coalescing).
- Driver-held rows become a frame through :func:`local_frame` only. A
  ``createDataFrame`` of a Python list is a ``PythonRDD``: every job that
  reads it starts Python workers, even when no UDF runs. ``local_frame``
  turns non-empty rows into a ``LocalRelation`` and empty rows into a
  zero-partition frame that runs no task, so a pipeline without UDFs
  starts no worker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(app_name: str = "meteomatics_e2e_data_pipeline_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Engine-wide parquet policy: TIMESTAMP(NANOS) columns read as long
        # (see sources/tables.py — converted to micros with integer math).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: StructType | str) -> DataFrame:
    """A frame over driver-held ``rows`` (tuples, matched to the fields
    by position) typed by ``schema`` (a StructType or a DDL string),
    that starts no Python worker:

    - non-empty rows go to the JVM as one Arrow table and plan as a
      ``LocalRelation``;
    - empty rows become an ``emptyRDD`` frame. It has zero partitions,
      so it runs no task and starts no worker. An empty
      ``LocalRelation`` would let Catalyst prune the plans it feeds (an
      anti-join against it, say), which changes how a write downstream
      is partitioned.

    Values come back as ``createDataFrame(rows, schema)`` would return
    them: each value that needs it passes through the field type's
    ``toInternal`` first, as on that path. So a naive ``timestamp``
    value is read in the Python process's local time zone (``mktime``),
    whatever the session time zone, and a ``timestamp_ntz`` one as
    UTC."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = []
    for i, (f, af) in enumerate(zip(schema.fields, arrow)):
        vals = [r[i] for r in rows]
        if f.dataType.needConversion():
            vals = [f.dataType.toInternal(v) for v in vals]
        cols.append(pa.array(vals, type=af.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(cols, schema=arrow), schema)

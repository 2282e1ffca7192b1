"""``session.local_frame``: driver-held rows as a JVM-only frame."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import Row

from meteomatics_e2e_data_pipeline_spark.session import local_frame

SCHEMA = ("s string, n bigint, x double, ts timestamp, d date, "
          "m decimal(12,3), a array<string>, st struct<i:int,t:string>, "
          "mp map<string,bigint>, f array<float>")

ROWS = [
    ("a", 1, 0.5, dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
     dt.date(2024, 1, 2), Decimal("123.456"), ["x", None], (7, "q"),
     {"k": 1}, [0.25, -1.5]),
    (None, None, None, None, None, None, None, None, None, None),
    ("c", -(2 ** 62), 1e300, dt.datetime(1969, 12, 31, 23, 59, 59),
     dt.date(1900, 1, 1), Decimal("-0.001"), [], Row(i=None, t="r"),
     {}, []),
]


def test_local_frame_matches_create_dataframe(spark):
    """Every type the package ships through driver-held rows comes back
    exactly as ``createDataFrame(rows, schema)`` returns it: NULLs in
    every column (a bigint NULL stays a NULL, not a float NaN), nested
    types and ``array<float>``. Naive datetimes are read in the local
    zone on both paths (see the next test for a host off UTC)."""
    got = local_frame(spark, ROWS, SCHEMA)
    want = spark.createDataFrame(ROWS, SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_plans_in_the_jvm(spark):
    """Non-empty rows plan as a ``LocalRelation``; empty rows give a
    frame with zero partitions, so reading it runs no task."""
    full = local_frame(spark, [("a", 1)], "s string, n bigint")
    assert "LocalRelation" in \
        full._jdf.queryExecution().optimizedPlan().toString()
    empty = local_frame(spark, [], "s string, n bigint")
    assert empty.rdd.getNumPartitions() == 0
    assert empty.collect() == []
    assert empty.schema == full.schema


def test_local_frame_reads_naive_timestamps_in_local_time():
    """A naive ``timestamp`` value goes to the JVM as the instant
    ``TimestampType.toInternal`` gives it (``mktime``: the Python
    process's local zone), exactly as on the ``createDataFrame(rows,
    schema)`` path, here on a host five and a half hours east of UTC;
    ``timestamp_ntz`` stays UTC. The zone is process-global and pooled
    test bodies run in this process, so the check runs in a child
    process, with a stand-in session that returns the Arrow table
    ``local_frame`` hands to ``createDataFrame``."""
    import os
    import subprocess
    import sys

    child = r'''
import datetime as dt
from pyspark.sql.types import (ArrayType, StructField, StructType,
                               TimestampNTZType, TimestampType)
from meteomatics_e2e_data_pipeline_spark.session import local_frame

class Session:
    def createDataFrame(self, table, schema):
        return table

ts = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
old = dt.datetime(1969, 12, 31, 23, 59, 59)
schema = StructType([
    StructField("ts", TimestampType()),
    StructField("a", ArrayType(TimestampType())),
    StructField("st", StructType([StructField("t", TimestampType())])),
    StructField("ntz", TimestampNTZType())])
t = local_frame(Session(), [(ts, [old, None], (ts,), ts),
                            (None, None, None, None)], schema)
micros = lambda col: col.cast("int64").to_pylist()
local = TimestampType().toInternal
assert local(ts) != TimestampNTZType().toInternal(ts)
assert micros(t["ts"]) == [local(ts), None]
assert micros(t["a"].combine_chunks().flatten()) == [local(old), None]
assert micros(t["st"].combine_chunks().field("t"))[0] == local(ts)
assert micros(t["ntz"]) == [TimestampNTZType().toInternal(ts), None]
'''
    env = dict(os.environ, TZ="IST-05:30")
    subprocess.run([sys.executable, "-c", child], env=env, check=True,
                   cwd=os.path.dirname(os.path.dirname(__file__)))

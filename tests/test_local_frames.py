"""Driver-built frames plan as Arrow local relations (session.local_frame),
and the pre-Arrow fan-out (dedup._spread) is sized by the input."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_pinot_spark.operators.dedup import _spread
from apache_pinot_spark.session import local_frame

DDL = "a bigint, b int, c string, d double, e array<double>"
STRUCT = T.StructType([
    T.StructField("a", T.LongType()),
    T.StructField("b", T.IntegerType()),
    T.StructField("c", T.StringType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("e", T.ArrayType(T.DoubleType())),
])
ROWS = [
    (1, 2, "x", 1.5, [1.0, 2.5]),
    (None, None, None, None, None),
    Row(a=-(1 << 62), b=-7, c="", d=-0.0, e=[]),
    (3, 4, "ü 日本", float("inf"), [None, 3.0]),
]


def _assert_local(df) -> None:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


@pytest.mark.parametrize("schema", [DDL, STRUCT],
                         ids=["ddl", "structtype"])
def test_local_frame_round_trip(spark, schema):
    df = local_frame(spark, ROWS, schema)
    _assert_local(df)
    expect = spark.createDataFrame(ROWS, schema)
    assert df.schema == expect.schema
    assert df.collect() == expect.collect()


def test_local_frame_dict_rows_and_nested_types(spark):
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("s", T.StructType([
            T.StructField("m", T.MapType(T.StringType(), T.StringType())),
            T.StructField("n", T.LongType())])),
    ])
    rows = [{"k": "p", "s": {"m": {"a": "1", "b": None}, "n": 5}},
            {"s": None, "k": "q"}]
    df = local_frame(spark, rows, schema)
    _assert_local(df)
    assert df.schema == schema
    assert df.collect() == spark.createDataFrame(rows, schema).collect()


def test_local_frame_empty(spark):
    for schema in (DDL, STRUCT):
        df = local_frame(spark, [], schema)
        _assert_local(df)
        assert df.schema == STRUCT
        assert df.collect() == []


def test_local_frame_partition_values_under_non_utc_tz(spark, tmp_path):
    """A date/timestamp partition value collected back to the driver and
    fed to local_frame names the same partition, with the process in a
    zone that is not the session's UTC (purge_records' hit_tuples)."""
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        path = str(tmp_path / "t")
        src = local_frame(spark, [
            (1, dt.date(2024, 3, 10), dt.datetime(2024, 3, 10, 1, 30)),
            (2, dt.date(2024, 7, 4), dt.datetime(2024, 7, 4, 12, 0, 0, 250)),
            (3, dt.date(1969, 12, 31), dt.datetime(1969, 12, 31, 23, 59, 59)),
            (4, None, None),
        ], "id bigint, d date, ts timestamp")
        _assert_local(src)
        src.write.partitionBy("d", "ts").parquet(path)
        table = spark.read.schema(src.schema).parquet(path)
        parts = table.select("d", "ts").distinct().collect()
        keys = local_frame(spark, [tuple(r) for r in parts],
                           table.select("d", "ts").schema)
        _assert_local(keys)
        hit = table.join(keys, ["d", "ts"], "leftsemi")
        assert sorted(r.id for r in hit.collect()) == [1, 2, 3]
        # same instants as the list path, and the wall clock is the
        # session zone's (UTC), not the process's
        old = spark.createDataFrame([tuple(r) for r in parts],
                                    table.select("d", "ts").schema)
        as_long = [F.col("d").cast("string"), F.col("ts").cast("long")]
        assert (sorted(keys.select(*as_long).collect(), key=str)
                == sorted(old.select(*as_long).collect(), key=str))
        shown = {r[0] for r in src.select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).collect()}
        assert "2024-03-10 06:30:00.000000" in shown  # 01:30 EST = 06:30 UTC
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def _partition_ids(df) -> list[int]:
    """Partition id of every row, as seen by an Arrow pass over df."""
    def tag(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for pdf in batches:
            yield pd.DataFrame({"pid": [pid] * len(pdf)})

    return [r.pid for r in df.mapInPandas(tag, "pid int").collect()]


def test_spread_tiny_input_runs_one_coalesced_partition(spark):
    tiny = spark.range(0, 500, 1, numPartitions=1)
    spread = _spread(tiny)
    analyzed = spread._jdf.queryExecution().analyzed().toString()
    assert "RebalancePartitions" in analyzed, analyzed
    pids = _partition_ids(spread)
    assert len(pids) == 500 and len(set(pids)) == 1


def test_spread_after_shuffle_rebalances_and_coalesces(spark):
    agg = spark.range(0, 500, 1, numPartitions=1).groupBy(
        (F.col("id") % 50).alias("g")).count()
    spread = _spread(agg)
    analyzed = spread._jdf.queryExecution().analyzed().toString()
    assert "RebalancePartitions" in analyzed, analyzed
    assert len(set(_partition_ids(spread))) == 1


@pytest.mark.parametrize("factor", [1, 2])
def test_spread_parallel_input_gets_no_exchange(spark, factor):
    n = spark.sparkContext.defaultParallelism * factor
    wide = spark.range(0, 1000, 1, numPartitions=n)
    assert _spread(wide) is wide
    plan = _spread(wide).mapInPandas(
        lambda it: it, "id bigint")._jdf.queryExecution().executedPlan()
    assert "Exchange" not in plan.toString()
    assert len(set(_partition_ids(_spread(wide)))) == n

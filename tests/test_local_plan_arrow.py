"""local_plan_arrow (lake/relation_cache.py): zero-job driver-side Arrow
evaluation for LocalRelation-folded plans.

Pins (a) byte-equality with toArrow() across the supported type matrix —
incl. timestamps, whose collect() values are driver-local naive datetimes
that must re-anchor to UTC exactly; (b) None (fallback) for plans that
are NOT a single LocalRelation or carry unsupported types; (c) that the
eval truly schedules no Spark job; (d) e2e: a micro-append lands the same
table content whether the fast path or the Spark path wrote it."""

import datetime
import decimal

import pytest
from pyspark.sql import functions as F, types as T

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.lake.relation_cache import (
    local_plan_arrow,
    local_rows_df,
)

TS = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)

MATRIX_SCHEMA = T.StructType(
    [
        T.StructField("i", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("arr", T.ArrayType(T.LongType())),
    ]
)
MATRIX_ROWS = [
    (
        1, "x", 1.5, True, b"\x00\x01", datetime.date(2024, 1, 2), TS,
        decimal.Decimal("12.34"), [1, 2],
    ),
    (2, None, None, None, None, None, None, None, None),
]


def test_matrix_matches_toarrow(spark):
    df = local_rows_df(spark, MATRIX_ROWS, MATRIX_SCHEMA)
    got = local_plan_arrow(df)
    assert got is not None, "matrix frame should fold to a LocalRelation"
    assert got.equals(df.toArrow()), f"\n{got}\nvs\n{df.toArrow()}"


def test_project_over_local_relation_folds(spark):
    # the append shape: literals projected over the local batch
    df = local_rows_df(
        spark, [(1, "a"), (2, "b")],
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
        ),
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    got = local_plan_arrow(df)
    assert got is not None
    assert got.equals(df.toArrow())


def test_zero_jobs(spark, spark_jobs):
    df = local_rows_df(
        spark, [(i, "v") for i in range(50)],
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
        ),
    )
    local_plan_arrow(df)  # warm any lazy init
    with spark_jobs() as jobs:
        assert local_plan_arrow(df) is not None
    assert jobs.n == 0, "local_plan_arrow scheduled a Spark job"


def test_non_local_plan_falls_back(spark):
    assert local_plan_arrow(spark.range(10)) is None  # Range, not LocalRelation
    ev = spark.range(5).selectExpr("id", "cast(id as string) s")
    assert local_plan_arrow(ev.filter("id > 1")) is None or True  # may fold
    # a distributed scan never qualifies
    assert local_plan_arrow(spark.range(100).repartition(4)) is None


def test_unsupported_type_falls_back(spark):
    df = local_rows_df(
        spark, [({"k": 1},)],
        T.StructType(
            [T.StructField("m", T.MapType(T.StringType(), T.LongType()))]
        ),
    )
    assert local_plan_arrow(df) is None


def test_append_fast_path_content_equal(spark, tmp_path):
    """Same micro-append through local_plan_arrow and through the Spark
    write path → identical committed rows (incl. the timestamp column)."""
    import ducklake_kafka_connect_spark.lake.relation_cache as rc

    sch = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [(100 + j, f"d{j}", TS) for j in range(20)]
    out = {}
    for mode in ("fast", "spark"):
        cat = LakeCatalog(spark, str(tmp_path / mode))
        w = LakeWriter(cat.table("t"), pk=["id"])
        w.write(local_rows_df(spark, rows[:1], sch))
        batch = local_rows_df(spark, rows[1:], sch)
        if mode == "spark":
            orig = rc.local_plan_arrow
            rc.local_plan_arrow = lambda df: None
            try:
                w.append(batch)
            finally:
                rc.local_plan_arrow = orig
        else:
            w.append(batch)
        out[mode] = sorted(
            (r["id"], r["name"], r["ts"])
            for r in cat.table("t").read().select("id", "name", "ts").collect()
        )
    assert out["fast"] == out["spark"]
    assert len(out["fast"]) == 20


@pytest.mark.parametrize("tz", ["America/New_York", "Asia/Kolkata"])
def test_timestamp_reanchoring_non_utc_driver(tz):
    """collect() yields naive datetimes in the DRIVER's local tz; the
    UTC re-anchoring must hold even when that tz is not UTC. Runs in a
    subprocess with TZ set (tzset is process-wide)."""
    import subprocess
    import sys

    code = f"""
import os, time
os.environ["TZ"] = {tz!r}
time.tzset()
import datetime
from pyspark.sql import types as T
from ducklake_kafka_connect_spark.session import build_session
from ducklake_kafka_connect_spark.lake.relation_cache import (
    local_plan_arrow, local_rows_df)
spark = build_session(master="local[2]", shuffle_partitions=2)
sch = T.StructType([T.StructField("id", T.LongType()),
                    T.StructField("ts", T.TimestampType())])
ts = datetime.datetime(2024, 7, 1, 3, 4, 5, 678901)
df = local_rows_df(spark, [(1, ts)], sch)
got = local_plan_arrow(df)
assert got is not None
want = df.toArrow()
assert got.equals(want), f"{{got}} vs {{want}}"
print("TZ_OK")
"""
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300,
    )
    assert "TZ_OK" in p.stdout, p.stderr[-2000:]

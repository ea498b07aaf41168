"""The row-shell contract (rowmap.map_rows on mapInArrow): what a row
function sees, what it may yield, and what the shell builds from it."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepseek_ocr_spark.rowmap import map_rows


def test_null_cells_reach_fn_as_none(spark):
    def seen(i, s, b, xs):
        yield tuple(type(v).__name__ for v in (i, s, b, xs))

    df = spark.createDataFrame(
        [(1, "a", b"x", [1]), (None, None, None, None)],
        "i long, s string, b binary, xs array<int>",
    ).coalesce(1)
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in ("i", "s", "b", "xs")]
    )
    got = sorted(tuple(r) for r in map_rows(df, seen, schema).collect())
    assert got == [("NoneType",) * 4, ("int", "str", "bytes", "list")]


def test_empty_output_keeps_the_declared_schema(spark):
    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("b", T.BinaryType()),
            T.StructField(
                "xs", T.ArrayType(T.StructType([T.StructField("k", T.IntegerType())]))
            ),
        ]
    )
    df = map_rows(spark.range(10).repartition(3), lambda _i: (), schema)
    assert df.schema == schema
    assert df.collect() == []


def test_array_of_struct_output_from_tuples(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "spans",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("label", T.StringType()),
                            T.StructField("x1", T.IntegerType()),
                        ]
                    )
                ),
            ),
        ]
    )

    def rows(i):
        yield i, [(f"l{j}", j) for j in range(i)]

    got = {
        r["id"]: [(s["label"], s["x1"]) for s in r["spans"]]
        for r in map_rows(spark.range(4), rows, schema).collect()
    }
    assert got == {0: [], 1: [("l0", 0)], 2: [("l0", 0), ("l1", 1)],
                   3: [("l0", 0), ("l1", 1), ("l2", 2)]}


def test_one_row_fans_out_to_many(spark):
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("k", T.IntegerType())]
    )

    def rows(i):
        for k in range(i % 5):
            yield i, k

    got = map_rows(spark.range(100).repartition(4), rows, schema)
    assert got.count() == sum(i % 5 for i in range(100))
    assert got.groupBy("id").count().filter(F.col("count") != F.col("id") % 5).count() == 0


def test_uncaught_exception_fails_the_task(spark):
    schema = T.StructType([T.StructField("id", T.LongType())])

    def rows(i):
        if i == 7:
            raise ValueError("row fn boom")
        yield (i,)

    with pytest.raises(Exception) as err:
        map_rows(spark.range(10), rows, schema).collect()
    assert "row fn boom" in str(err.value)


def test_timestamp_round_trip_is_the_same_instant(spark):
    """Instants around Lord Howe's half-hour DST shifts, with sub-second
    digits: the one before the spring gap, the gap edge, and two instants
    whose local wall time is the same ambiguous autumn 01:45."""
    instants = [
        datetime(2025, 10, 4, 15, 29, 59, 999999, tzinfo=timezone.utc),
        datetime(2025, 10, 4, 15, 30, tzinfo=timezone.utc),
        datetime(2025, 4, 5, 14, 45, 0, 123456, tzinfo=timezone.utc),
        datetime(2025, 4, 5, 15, 15, 0, 123456, tzinfo=timezone.utc),
    ]
    micros = [int(t.timestamp()) * 1_000_000 + t.microsecond for t in instants]
    schema = T.StructType(
        [T.StructField("us", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Australia/Lord_Howe")
    try:
        src = spark.createDataFrame([(m,) for m in micros], "us long").select(
            "us", F.timestamp_micros("us").alias("ts")
        )
        out = map_rows(src, lambda us, ts: [(us, ts)], schema)
        got = sorted(
            tuple(r) for r in out.select("us", F.unix_micros("ts")).collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert got == [(m, m) for m in sorted(micros)]

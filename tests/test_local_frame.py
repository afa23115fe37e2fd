"""Arrow transport for the accumulator's driver-built rows
(``streaming.accumulator._local_frame``).

``add_items``, each flush-history row and the empty history frame are
built on the driver and sent to the JVM as one Arrow table instead of
``spark.createDataFrame(list, schema)``. These tests pin that only the
transport changed: the same rows land, bad items fail the same way and
stage nothing, and the staged frame's plan runs no Python worker.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import time

import pytest
from pyspark.sql import types as T

from convex_batch_processor_spark.streaming.accumulator import (
    BatchAccumulator,
    _local_frame,
)

DEC = T.DecimalType(10, 2)
SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("n", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("day", T.DateType()),
        T.StructField("amount", DEC),
        T.StructField("blob", T.BinaryType()),
        T.StructField("tags", T.ArrayType(T.LongType())),
        T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField(
            "nested",
            T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("at", T.TimestampType()),
                    T.StructField("prices", T.ArrayType(DEC)),
                ]
            ),
        ),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ts_ntz", T.TimestampNTZType()),
        T.StructField("rates", T.MapType(DEC, DEC)),
    ]
)

NAIVE = dt.datetime(2024, 3, 10, 2, 30)  # a DST gap in America/New_York
AWARE = dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone(dt.timedelta(hours=5, minutes=30)))

ROWS = [
    {  # dict row, every field set; 1.235 rounds HALF_UP to the scale
        "id": 1, "n": -(2**63), "x": 1.5, "s": "héllo", "flag": True,
        "day": dt.date(2024, 2, 29), "amount": decimal.Decimal("1.235"),
        "blob": b"\x00\xff", "tags": [1, None, 3], "attrs": {"a": 0.5, "b": None},
        "nested": {"k": 7, "at": NAIVE, "prices": [decimal.Decimal("-2.345"), None]},
        "ts": NAIVE, "ts_ntz": NAIVE,
        "rates": {decimal.Decimal("0.005"): decimal.Decimal("9.995"), decimal.Decimal("1"): None},
    },
    {"id": 2},  # dict row with every other key missing -> NULLs
    (  # tuple row, aware datetimes, empty collections
        3, 0, float("-inf"), "", False, None, decimal.Decimal("100"), bytearray(b"z"),
        [], {}, (None, AWARE, []), AWARE, None, {},
    ),
    (4, None, None, None, None, None, None, None, None, None, None, None, None, None),
]


@pytest.fixture()
def new_york_tz():
    """Run in a non-UTC process time zone (naive datetimes are read in
    it), then restore the zone the session pinned."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def _acc(spark, tmp_path) -> BatchAccumulator:
    return BatchAccumulator(
        spark=spark, batch_id="b", root=str(tmp_path), item_schema=SCHEMA,
        process_batch="unused",
    )


def test_staged_rows_equal_list_path(spark, tmp_path, new_york_tz):
    want = spark.createDataFrame(ROWS, schema=SCHEMA).orderBy("id").collect()
    assert _local_frame(spark, ROWS, SCHEMA).orderBy("id").collect() == want

    acc = _acc(spark, tmp_path)
    assert acc.add_items(ROWS) == len(ROWS)
    staged = spark.read.schema(SCHEMA).parquet(acc.staging_dir)
    assert staged.orderBy("id").collect() == want
    # the HALF_UP rounding is exercised at the top level and nested
    assert want[0]["amount"] == decimal.Decimal("1.24")
    assert want[0]["rates"] == {decimal.Decimal("0.01"): decimal.Decimal("10.00"),
                                decimal.Decimal("1.00"): None}


@pytest.mark.parametrize(
    "bad",
    [
        {"id": 1, "x": 3},  # int in a DoubleType field
        {"id": None},  # None in a non-nullable field
        {"id": 1, "tags": ["a"]},  # wrong element type
        (1, 2),  # tuple of the wrong length
    ],
)
def test_bad_item_raises_like_list_path_and_stages_nothing(spark, tmp_path, bad):
    with pytest.raises(Exception) as want:
        spark.createDataFrame([bad], schema=SCHEMA)
    acc = _acc(spark, tmp_path)
    with pytest.raises(Exception) as got:
        acc.add_items([{"id": 0}, bad])
    assert type(got.value) is want.type
    assert not os.path.exists(acc.staging_dir) or not [
        f for f in os.listdir(acc.staging_dir) if f.endswith(".parquet")
    ]


def _runs_python_worker(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_driver_frames_start_no_python_worker(spark, tmp_path):
    frame = _local_frame(spark, ROWS, SCHEMA)
    assert "LocalTableScan" in frame._jdf.queryExecution().executedPlan().toString()
    assert not _runs_python_worker(frame)
    # the check can fail: the list path it replaced builds a PythonRDD
    assert _runs_python_worker(spark.createDataFrame(ROWS, schema=SCHEMA))

    # status() before the first flush reads the empty history frame
    history = _acc(spark, tmp_path).flush_history()
    assert history.count() == 0
    assert not _runs_python_worker(history)

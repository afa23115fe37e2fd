"""The accumulator's driver-built rows (``streaming.accumulator``).

``add_items`` and each flush-history row are checked and converted as
``spark.createDataFrame(list, schema)`` would, into one Arrow table
(``_arrow_table``), and written from the driver as one parquet file
through ``fsutil.write_bytes``; the empty history frame is that table
sent to the JVM (``_local_frame``). These tests pin that only the
transport changed: Spark reads the same rows and the same schema back
(dates before 1582, ``timestamp_ntz``, full-precision decimals and
non-UTC process time zones included), bad items fail the same way and
stage nothing, and the empty frame's plan runs no Python worker. They
also pin ``write_bytes``' commit protocol.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import os
import time

import pytest
from pyspark.sql import types as T

from convex_batch_processor_spark import fsutil
from convex_batch_processor_spark.sources.registry import HandleRegistry
from convex_batch_processor_spark.streaming.accumulator import (
    FLUSH_HISTORY_SCHEMA,
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


def _acc(spark, tmp_path, schema=SCHEMA) -> BatchAccumulator:
    reg = HandleRegistry()
    reg.add("noop", lambda df, epoch_id: None)
    return BatchAccumulator(
        spark=spark, batch_id="b", root=str(tmp_path), item_schema=schema,
        process_batch="noop", registry=reg,
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


EDGE = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ts_ntz", T.TimestampNTZType()),
        T.StructField("wide", T.DecimalType(38, 18)),
    ]
)
EDGE_ROWS = [
    (1, dt.date(1000, 1, 1), dt.datetime(1500, 6, 1, 12, 0, 0, 1),
     dt.datetime(1001, 2, 3, 4, 5, 6, 7), decimal.Decimal("12345678901234567890.123456789012345678")),
    (2, dt.date(1582, 10, 4), dt.datetime(1582, 10, 15), dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
     decimal.Decimal("-99999999999999999999.999999999999999999")),
    (3, dt.date(1, 1, 1), dt.datetime(100, 3, 1), dt.datetime(1, 1, 1), decimal.Decimal("1E-18")),
]


def test_staged_calendar_edges_equal_list_path(spark, tmp_path, new_york_tz):
    want = spark.createDataFrame(EDGE_ROWS, schema=EDGE).orderBy("id").collect()
    acc = _acc(spark, tmp_path, EDGE)
    acc.add_items(EDGE_ROWS)
    staged = spark.read.schema(EDGE).parquet(acc.staging_dir)
    assert staged.orderBy("id").collect() == want
    assert want[0]["wide"] == EDGE_ROWS[0][4]  # full precision, no rounding


def test_history_rows_read_back_unchanged(spark, tmp_path, new_york_tz):
    acc = _acc(spark, tmp_path, SCHEMA)
    acc.add_items([{"id": 1}, {"id": 2}])
    before = dt.datetime.now()
    assert acc.flush_now() is True
    after = dt.datetime.now()

    history = acc.flush_history()
    # a file source reads every column as nullable; names and types hold
    assert [(f.name, f.dataType) for f in history.schema] == [
        (f.name, f.dataType) for f in FLUSH_HISTORY_SCHEMA
    ]
    [row] = history.collect()
    assert (row.batch_id, row.epoch_id, row.item_count, row.success) == ("b", 0, 2, True)
    assert before <= row.flushed_at <= after

    # a schema-less reader infers what it infers from a Spark-written file
    spark_written = str(tmp_path / "spark-written")
    spark.createDataFrame([tuple(row)], FLUSH_HISTORY_SCHEMA).write.parquet(spark_written)
    assert (spark.read.parquet(acc.history_dir).schema
            == spark.read.parquet(spark_written).schema)


def test_write_bytes_commit(spark, tmp_path):
    path = str(tmp_path / "new" / "dir" / "blob.bin")  # parents missing
    data = os.urandom(2 * fsutil.WRITE_SLICE + 7)
    fsutil.write_bytes(spark, path, data)
    with open(path, "rb") as f:
        assert f.read() == data
    visible = [f for f in os.listdir(os.path.dirname(path)) if not f.startswith((".", "_"))]
    assert visible == ["blob.bin"]
    assert not [f for f in os.listdir(os.path.dirname(path)) if f.endswith(".tmp")]

    with pytest.raises(FileExistsError):
        fsutil.write_bytes(spark, path, b"other")
    fsutil.write_bytes(spark, path, b"other", overwrite=True)
    with open(path, "rb") as f:
        assert f.read() == b"other"


def test_concurrent_writers_commit_only_their_own_bytes(spark, tmp_path, monkeypatch):
    """Two writers of one new path: B writes and closes its tmp file
    between A's close and A's rename, and A's rename runs when B's stream
    closes. A must commit A's bytes, not B's (B's tmp file truncating and
    replacing A's under a shared tmp name)."""
    path = str(tmp_path / "log" / "0.json")
    real_fs_path, fses, committed = fsutil._fs_path, [], []

    class Stream:
        def __init__(self, inner, on_close):
            self.inner, self.on_close = inner, on_close

        def write(self, data):
            self.inner.write(data)

        def close(self):
            self.inner.close()
            self.on_close()

    class Fs:
        """The real FileSystem, except that A's rename first runs B."""

        def __init__(self, inner, writer):
            self.inner, self.writer = inner, writer

        def __getattr__(self, name):
            return getattr(self.inner, name)

        def create(self, tmp, overwrite):
            if self.writer == "B":
                return Stream(self.inner.create(tmp, overwrite), self.on_b_close)
            return self.inner.create(tmp, overwrite)

        def rename(self, src, dst):
            if self.writer == "B":
                return self.inner.rename(src, dst)
            self.a_rename = (src, dst)
            with contextlib.suppress(IOError):  # B loses the race to A
                fsutil.write_bytes(spark, path, b"B")
            return committed[0]

        def on_b_close(self):
            a = fses[0]
            committed.append(a.inner.rename(*a.a_rename))
            with open(path, "rb") as f:
                committed.append(f.read())

    def fs_path(spark_, p):
        fs, jp = real_fs_path(spark_, p)
        fses.append(Fs(fs, "AB"[len(fses)]))
        return fses[-1], jp

    monkeypatch.setattr(fsutil, "_fs_path", fs_path)
    fsutil.write_bytes(spark, path, b"A")
    assert committed == [True, b"A"]
    with open(path, "rb") as f:
        assert f.read() == b"A"


def test_jvm_classes_cached_per_gateway(spark):
    classes = fsutil._jvm_classes(spark)
    assert fsutil._jvm_classes(spark) is classes

    class OtherGateway:  # a replaced gateway into the same JVM
        jvm = spark.sparkContext._gateway.jvm

    assert fsutil._classes_for(OtherGateway()) is not classes
    assert fsutil._jvm_classes(spark) is not classes  # resolved afresh
    assert fsutil.read_text(spark, __file__).startswith('"""')


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

"""Default-tier smoke of the batch accumulator: one add -> flush ->
status -> vacuum round through ``BatchProcessor`` whose first epoch
attempt fails and is replayed, the Spark jobs the control plane starts
(none), the footer-based item counts and driver-read history, and
hidden staging files."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import threading
import time
import uuid

import pytest
from pyspark.sql import types as T

from convex_batch_processor_spark.client import BatchProcessor
from convex_batch_processor_spark.sources.registry import HandleRegistry
from convex_batch_processor_spark.streaming.accumulator import (
    BatchAccumulator,
    _write_parquet_file,
)

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("name", T.StringType()),
    ]
)


def test_add_flush_replay_status_vacuum(spark, tmp_path):
    sink = str(tmp_path / "sink")
    attempts: list[int] = []

    def handle(df, epoch_id):
        attempts.append(epoch_id)
        if len(attempts) == 1:
            raise RuntimeError("injected failure")
        df.write.mode("append").parquet(sink)

    reg = HandleRegistry()
    reg.add("sink", handle)
    bp = BatchProcessor(spark=spark, root=str(tmp_path / "bp"), registry=reg)
    acc = bp.accumulator("events", SCHEMA, "sink")
    items = [{"event_id": i, "name": f"e{i}"} for i in range(25)]
    assert bp.add_items("events", items) == 25

    with pytest.raises(RuntimeError, match="flush failed"):
        bp.flush("events")
    assert bp.get_batch_status("events")["staged_item_count"] == 25
    assert bp.flush("events") is True  # replays the same epoch
    assert attempts == [0, 0]

    ids = sorted(r.event_id for r in spark.read.parquet(sink).collect())
    assert ids == list(range(25))
    history = bp.get_flush_history("events", limit=None).collect()
    assert sorted((h.epoch_id, h.success, h.item_count) for h in history) == [
        (0, False, 25), (0, True, 25),
    ]
    assert [h.error_message for h in history if not h.success] == [
        "RuntimeError: injected failure"
    ]

    status = bp.get_batch_status("events")
    assert status["staged_item_count"] == 0
    assert status["flush_attempts"] == 2
    assert status["flushed_items"] == 25
    deleted = acc.vacuum_staging()
    assert len(deleted) == 1  # the one file the add staged
    assert not [f for f in os.listdir(acc.staging_dir) if f.endswith(".parquet")]
    assert bp.get_batch_status("events")["staged_item_count"] == 0


def test_timed_out_wait_keeps_running_flush_tracked(spark, tmp_path):
    """wait_for_flushes(timeout_s) returns at its deadline, but a flush
    still running stays tracked, so the next wait joins it."""
    entered, release = threading.Event(), threading.Event()

    def handle(df, epoch_id):
        entered.set()
        release.wait(120)

    reg = HandleRegistry()
    reg.add("blocking", handle)
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    bp.accumulator("slow", SCHEMA, "blocking")
    bp.add_items("slow", [{"event_id": 1, "name": "a"}])
    try:
        assert bp.flush("slow", block=False) is True
        assert entered.wait(120)
        bp.wait_for_flushes("slow", timeout_s=0.1)
        [t] = bp._flush_threads["slow"]
        assert t.is_alive()
    finally:
        release.set()
    bp.wait_for_flushes("slow", timeout_s=120)
    assert not t.is_alive()
    assert "slow" not in bp._flush_threads
    assert bp.get_batch_status("slow")["flushed_items"] == 1


def _collecting_acc(spark, tmp_path, seen: list) -> BatchAccumulator:
    reg = HandleRegistry()
    reg.add("collect", lambda df, epoch_id: seen.extend(r.event_id for r in df.collect()))
    return BatchAccumulator(spark=spark, batch_id="b", root=str(tmp_path),
                            item_schema=SCHEMA, process_batch="collect", registry=reg)


def test_control_plane_starts_no_spark_job(spark, tmp_path, jobs_started):
    """Adds, history rows, flush bookkeeping and the views start no Spark
    job: the only jobs of a flush are its handle's, and this handle
    starts none (it keeps the frame for later)."""
    frames = []
    reg = HandleRegistry()
    reg.add("keep", lambda df, epoch_id: frames.append(df))
    acc = BatchAccumulator(spark=spark, batch_id="b", root=str(tmp_path),
                           item_schema=SCHEMA, process_batch="keep", registry=reg)
    assert jobs_started(lambda: acc.add_items([{"event_id": 1, "name": "a"}])) == 0
    assert jobs_started(lambda: acc._record_history(7, 1, 0, True, None)) == 0
    assert jobs_started(acc.flush_now) == 0
    assert jobs_started(acc.status) == 0
    assert jobs_started(acc.list_batches) == 0
    deleted = []
    # the empty accumulating batch: its emptiness check counts no rows in a job
    assert jobs_started(lambda: deleted.append(acc.delete_batch(1))) == 0
    assert deleted == [{"deleted": True}]
    assert acc.status()["flush_attempts"] == 2
    [df] = frames
    assert [r.event_id for r in df.collect()] == [1]
    [row] = acc.flush_history().filter("epoch_id = 0").collect()
    assert (row.item_count, row.success) == (1, True)


def test_zero_row_staged_file_is_an_empty_batch(spark, tmp_path):
    """A zero-row staged parquet holds no items: the views count 0, the
    empty-accumulating delete succeeds (delete_batch's emptiness
    predicate is rows, not files), and a flush commits its epoch without
    calling the handle or writing history."""
    seen: list[int] = []
    acc = _collecting_acc(spark, tmp_path, seen)
    _write_parquet_file(spark, acc.staging_dir, [], SCHEMA)
    assert acc.status()["staged_item_count"] == 0
    [batch] = acc.list_batches()
    assert (batch["status"], batch["item_count"]) == ("accumulating", 0)
    assert acc.delete_batch(0) == {"deleted": True}
    assert acc.list_batches() == []

    assert acc.flush_now() is True
    assert seen == []
    assert os.path.exists(os.path.join(acc.checkpoint_dir, "commits", "0"))
    assert acc.status()["flush_attempts"] == 0


def test_file_vanished_after_listing_counts_zero(spark, tmp_path, monkeypatch):
    """A staged file deleted between a view's listing and its count (a
    concurrent vacuum or delete) counts 0; the view does not fail."""
    acc = _collecting_acc(spark, tmp_path, [])
    acc.add_items([{"event_id": i, "name": "a"} for i in range(2)])
    acc.add_items([{"event_id": i, "name": "b"} for i in range(2, 5)])
    snapshot = acc._staging()
    victim = min(snapshot.files, key=lambda n: (snapshot.files[n], n))  # the first add
    os.remove(os.path.join(acc.staging_dir, victim))
    monkeypatch.setattr(acc, "_staging", lambda: snapshot)
    assert acc.status()["staged_item_count"] == 3
    [batch] = acc.list_batches()
    assert batch["item_count"] == 3


def test_multi_part_dataframe_add_is_counted(spark, tmp_path):
    """``add_dataframe`` stages Spark-written part files; their footers
    count them like driver-written ones, in the views and the flush."""
    seen: list[int] = []
    acc = _collecting_acc(spark, tmp_path, seen)
    acc.add_dataframe(
        spark.range(30).selectExpr("id AS event_id", "concat('e', id) AS name").repartition(3)
    )
    parts = [n for n in os.listdir(acc.staging_dir)
             if n.endswith(".parquet") and not n.startswith((".", "_"))]
    assert len(parts) > 1
    assert acc.status()["staged_item_count"] == 30
    [batch] = acc.list_batches()
    assert batch["item_count"] == 30
    assert acc.flush_now() is True
    assert sorted(seen) == list(range(30))
    [row] = acc.flush_history().collect()
    assert (row.item_count, row.success) == (30, True)
    assert acc.status()["flushed_items"] == 30


def test_last_flush_at_matches_history_in_local_time(spark, tmp_path, monkeypatch):
    """``status`` and ``list_batches`` read history on the driver; their
    timestamps equal what ``collect()`` returns from ``flush_history()``
    (naive local datetimes) in a process time zone other than UTC."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        acc = _collecting_acc(spark, tmp_path, [])
        for i in range(2):
            acc.add_items([{"event_id": i, "name": "a"}])
            acc.flush_now()
        acc.vacuum_staging()  # completed batches then fall back to history times
        history = acc.flush_history().collect()
        assert acc.status()["last_flush_at"] == max(r.flushed_at for r in history)
        done = [b for b in acc.list_batches() if b["status"] == "completed"]
        assert [b["created_at"] for b in done] == [
            max(r.flushed_at for r in history if r.epoch_id == b["sequence"]) for b in done
        ]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_hidden_staging_files_are_not_batch_contents(spark, tmp_path):
    """Spark's listing skips ``_``/``.``-prefixed names, so a flush never
    admits them; the views must not count or time them either."""
    seen: list[int] = []
    acc = _collecting_acc(spark, tmp_path, seen)
    acc.add_items([{"event_id": 1, "name": "a"}])
    [real] = [f for f in os.listdir(acc.staging_dir) if f.endswith(".parquet")
              and not f.startswith((".", "_"))]
    t0 = 1_700_000_000
    os.utime(os.path.join(acc.staging_dir, real), (t0, t0))
    stray = os.path.join(acc.staging_dir, "_stray.parquet")
    with open(stray, "wb") as f:
        f.write(b"not a parquet file")
    in_flight = os.path.join(acc.staging_dir, f"_part-{uuid.uuid4()}.snappy.parquet.tmp")
    shutil.copy(os.path.join(acc.staging_dir, real), in_flight)
    os.utime(stray, (t0 + 3600, t0 + 3600))
    os.utime(in_flight, (t0 - 3600, t0 - 3600))

    assert acc.status()["staged_item_count"] == 1
    [batch] = acc.list_batches()
    assert (batch["status"], batch["item_count"]) == ("accumulating", 1)
    assert batch["created_at"] == batch["last_updated_at"] == dt.datetime.fromtimestamp(t0)

    assert acc.flush_now() is True
    assert seen == [1]
    assert acc.status()["staged_item_count"] == 0
    done, empty = acc.list_batches()
    assert (done["status"], done["item_count"]) == ("completed", 1)
    assert (empty["status"], empty["item_count"]) == ("accumulating", 0)
    # the empty accumulating batch holds no items, only hidden files
    assert acc.delete_batch(1) == {"deleted": True}
    assert acc.delete_batch(0) == {"deleted": True}
    assert os.path.exists(stray) and os.path.exists(in_flight)

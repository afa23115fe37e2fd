"""Default-tier smoke of the batch accumulator through ``BatchProcessor``:
one add -> flush -> status -> vacuum round whose first epoch attempt
fails and is replayed. The full accumulator and client suites are in
the slow tier; this keeps their core path in every default run."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import types as T

from convex_batch_processor_spark.client import BatchProcessor
from convex_batch_processor_spark.sources.registry import HandleRegistry

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

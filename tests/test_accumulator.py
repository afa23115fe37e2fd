"""Batch-accumulator semantics (SURVEY.md §2.9 D1-D9), deterministic
AvailableNow runs only — no wall-clock flakiness.

Scenario mirrors the reference's analytics-event example
(example/convex/usage.ts:23-64): stage event dicts, flush to a collecting
callback, audit history, failure retry."""

from __future__ import annotations

import pytest

# slow tier: excluded from the default run (pytest.ini); run with -m ""
pytestmark = pytest.mark.slow
from pyspark.sql import types as T

from convex_batch_processor_spark.sources.registry import HandleRegistry
from convex_batch_processor_spark.streaming.accumulator import BatchAccumulator

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_name", T.StringType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def make_acc(spark, tmp_path, registry, **kw):
    return BatchAccumulator(
        spark=spark,
        batch_id="analytics",
        root=str(tmp_path),
        item_schema=EVENT_SCHEMA,
        process_batch="collect_events",
        registry=registry,
        **kw,
    )


def events(n, start=0):
    return [{"event_name": f"e{i}", "user_id": i % 3, "value": float(i)} for i in range(start, start + n)]


def test_flush_delivers_all_staged_items(spark, tmp_path):
    reg = HandleRegistry()
    seen = []

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        seen.append((epoch_id, sorted(r.event_name for r in df.collect())))

    acc = make_acc(spark, tmp_path, reg)
    assert acc.add_items(events(5)) == 5
    assert acc.add_items(events(3, start=5)) == 3
    assert acc.flush_now() is True

    all_names = sorted(n for _, names in seen for n in names)
    assert all_names == sorted(f"e{i}" for i in range(8))
    hist = acc.flush_history().collect()
    assert len(hist) == len(seen)
    assert all(h.success for h in hist)
    assert sum(h.item_count for h in hist) == 8


def test_flush_with_no_staging_is_noop(spark, tmp_path):
    reg = HandleRegistry()
    reg.add("collect_events", lambda df, e: None)
    acc = make_acc(spark, tmp_path, reg)
    assert acc.flush_now() is False  # "no batch" early-out (lib.ts:141-148)


def test_epoch_isolation_and_carryover(spark, tmp_path):
    """D3/D4: items staged after a flush belong to the NEXT epoch."""
    reg = HandleRegistry()
    epochs = {}

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        epochs[epoch_id] = sorted(r.event_name for r in df.collect())

    acc = make_acc(spark, tmp_path, reg)
    acc.add_items(events(4))
    acc.flush_now()
    first_epochs = set(epochs)
    acc.add_items(events(2, start=100))  # arrives "mid-stream"
    acc.flush_now()
    new_epochs = set(epochs) - first_epochs
    assert len(new_epochs) == 1
    assert epochs[new_epochs.pop()] == ["e100", "e101"]


def test_size_threshold_splits_epochs(spark, tmp_path):
    """D1 size trigger: admission control closes an epoch per N staged adds."""
    reg = HandleRegistry()
    epoch_counts = []

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        epoch_counts.append(df.count())

    acc = make_acc(spark, tmp_path, reg, immediate_flush_threshold=1)
    for i in range(3):
        acc.add_items(events(2, start=10 * i))
    acc.flush_now()
    # one add-file per epoch → 3 epochs of 2 items
    assert sorted(epoch_counts) == [2, 2, 2]


def test_failed_flush_retries_same_epoch_at_least_once(spark, tmp_path):
    """D5: a failing callback fails the flush; the next flush replays the
    SAME items (checkpoint offsets not advanced) — at-least-once."""
    reg = HandleRegistry()
    attempts = []

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        names = sorted(r.event_name for r in df.collect())
        attempts.append(names)
        if len(attempts) == 1:
            raise RuntimeError("user handler exploded")

    acc = make_acc(spark, tmp_path, reg)
    acc.add_items(events(3))
    with pytest.raises(RuntimeError, match="flush failed"):
        acc.flush_now()
    acc.flush_now()  # retry succeeds
    assert len(attempts) == 2
    assert attempts[0] == attempts[1] == ["e0", "e1", "e2"]  # same epoch replayed
    hist = {(h.success, h.item_count) for h in acc.flush_history().collect()}
    assert (False, 3) in hist and (True, 3) in hist  # D9 audit of both attempts
    err = [h.error_message for h in acc.flush_history().collect() if not h.success]
    assert "user handler exploded" in err[0]


def test_status_view(spark, tmp_path):
    reg = HandleRegistry()
    reg.add("collect_events", lambda df, e: None)
    acc = make_acc(spark, tmp_path, reg)
    acc.add_items(events(6))
    st = acc.status()
    assert st["staged_item_count"] == 6 and st["flushed_items"] == 0
    acc.flush_now()
    st = acc.status()
    assert st["staged_item_count"] == 0  # flushed items no longer pending (lib.ts:622-634)
    assert st["flushed_items"] == 6
    assert st["flush_attempts"] >= 1
    assert st["last_flush_at"] is not None


def test_continuous_start_processes_adds(spark, tmp_path):
    """D1 time path: the long-running interval-triggered stream picks up
    items staged while it is live (processAllAvailable forces the epochs
    deterministically instead of waiting for the trigger clock)."""
    reg = HandleRegistry()
    seen = []

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        seen.extend(r.event_name for r in df.collect())

    # short interval: processAllAvailable still gates on the trigger clock,
    # so a long interval would block it for the full period
    acc = make_acc(spark, tmp_path, reg, flush_interval_s=0.5)
    acc.add_items(events(3))
    q = acc.start()
    try:
        q.processAllAvailable()
        assert sorted(seen) == ["e0", "e1", "e2"]
        acc.add_items(events(2, start=50))  # arrives while the stream is live
        q.processAllAvailable()
        assert sorted(seen) == ["e0", "e1", "e2", "e50", "e51"]
    finally:
        q.stop()
    hist = acc.flush_history().collect()
    assert sum(h.item_count for h in hist if h.success) == 5


def test_vacuum_staging_removes_only_committed_files(spark, tmp_path):
    """D8: flushed (committed) staging files are deleted; files staged
    after the flush survive, and a re-flush still sees only them."""
    import os

    reg = HandleRegistry()
    seen = []
    reg.add("collect_events", lambda df, e: seen.extend(r.event_name for r in df.collect()))
    acc = make_acc(spark, tmp_path, reg)
    acc.add_items(events(4))
    acc.flush_now()
    acc.add_items(events(2, start=100))  # staged but NOT flushed yet

    doomed = acc.vacuum_staging()
    assert len(doomed) == 1  # only the flushed add-file
    assert not os.path.exists(doomed[0])
    remaining = [f for f in os.listdir(acc.staging_dir) if f.endswith(".parquet")]
    assert len(remaining) == 1  # the unflushed add survives
    assert remaining[0] != os.path.basename(doomed[0])

    seen.clear()
    acc.flush_now()
    assert sorted(seen) == ["e100", "e101"]  # offsets unaffected by vacuum


def test_epoch_bookkeeping_survives_source_log_compaction(spark, tmp_path):
    """FileStreamSource rewrites every compactInterval-th batch's log as
    'N.compact' (cumulative entries, plain files cleaned up later), so
    epoch bookkeeping must group by each entry's own batchId field —
    parsing only plain digit filenames silently loses every Nth epoch
    from list_batches/delete_batch/status/vacuum_staging (found by a
    live repro: epoch 9 vanished, its flushed item was recounted as
    pending forever)."""
    reg = HandleRegistry()

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        df.count()

    key = "spark.sql.streaming.fileSource.log.compactInterval"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")  # compact at batches 2, 5, ... (keeps the test fast)
    try:
        acc = make_acc(spark, tmp_path, reg)
        for i in range(5):  # epochs 0..4 — crosses the batch-2 compaction
            acc.add_items(events(1, start=i))
            assert acc.flush_now() is True
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    by_epoch = acc._source_epoch_files()
    assert sorted(by_epoch) == [0, 1, 2, 3, 4]
    assert all(len(v) == 1 for v in by_epoch.values()), by_epoch

    batches = acc.list_batches()
    assert [(b["sequence"], b["status"], b["item_count"]) for b in batches] == [
        (0, "completed", 1),
        (1, "completed", 1),
        (2, "completed", 1),  # the compacted epoch must not vanish
        (3, "completed", 1),
        (4, "completed", 1),
        (5, "accumulating", 0),
    ]
    assert acc.status()["staged_item_count"] == 0  # nothing pending
    assert acc.delete_batch(2) == {"deleted": True}
    # the deleted sequence vanishes from the listing (tombstoned batch
    # doc, lib.ts:300-337) — compaction bookkeeping keeps the rest intact
    assert [(b["sequence"], b["item_count"]) for b in acc.list_batches()] == [
        (0, 1), (1, 1), (3, 1), (4, 1), (5, 0),
    ]
    # vacuum reclaims every remaining committed file, compacted epochs included
    doomed = acc.vacuum_staging()
    assert len(doomed) == 4
    assert acc.status()["staged_item_count"] == 0

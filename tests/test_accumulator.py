"""Batch-accumulator semantics (SURVEY.md §2.9 D1-D9): manual flushes,
the interval timer (awaited on events the handle sets, never on the
clock), crashes before an epoch's commit, and racing flushes.

Scenario mirrors the reference's analytics-event example
(example/convex/usage.ts:23-64): stage event dicts, flush to a collecting
callback, audit history, failure retry."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import uuid

import pytest
from pyspark.sql import types as T

from convex_batch_processor_spark import fsutil
from convex_batch_processor_spark.client import BatchProcessor
from convex_batch_processor_spark.sources.registry import HandleRegistry
from convex_batch_processor_spark.streaming.accumulator import STALE_TMP_S, BatchAccumulator

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


def _visible(directory):
    """Names in ``directory`` without the local FS's ``.crc`` checksums."""
    return sorted(n for n in os.listdir(directory) if not n.startswith("."))


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
    SAME items (the epoch stays logged without a commit) — at-least-once."""
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
    """D1 time path: the interval flush picks up items staged while it
    runs (each delivery is awaited on an Event the handle sets)."""
    reg = HandleRegistry()
    seen = []
    arrived = threading.Event()

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        seen.extend(r.event_name for r in df.collect())
        arrived.set()

    acc = make_acc(spark, tmp_path, reg, flush_interval_s=0.1)
    acc.add_items(events(3))
    timer = acc.start()
    try:
        assert arrived.wait(60)
        assert sorted(seen) == ["e0", "e1", "e2"]
        arrived.clear()
        acc.add_items(events(2, start=50))  # arrives while the timer runs
        assert arrived.wait(60)
        assert sorted(seen) == ["e0", "e1", "e2", "e50", "e51"]
    finally:
        timer.stop()
    assert not timer.is_alive()
    hist = acc.flush_history().collect()
    assert sum(h.item_count for h in hist if h.success) == 5


def test_timer_survives_a_failed_tick(spark, tmp_path):
    """A handle that raises under ``start()`` fails one tick, not the
    timer: the attempt is recorded and a later tick replays the epoch
    (the reference reschedules a failed flush, lib.ts:694-710)."""
    reg = HandleRegistry()
    attempts = []
    delivered = threading.Event()

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        attempts.append(epoch_id)
        if len(attempts) == 1:
            raise RuntimeError("first tick fails")
        delivered.set()

    acc = make_acc(spark, tmp_path, reg, flush_interval_s=0.1)
    acc.add_items(events(3))
    timer = acc.start()
    try:
        assert delivered.wait(60), "nothing delivered after the failed tick"
    finally:
        timer.stop()
    assert not timer.is_alive()
    assert attempts == [0, 0]
    hist = sorted((h.epoch_id, h.success, h.item_count) for h in acc.flush_history().collect())
    assert hist == [(0, False, 3), (0, True, 3)]


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


def test_epoch_bookkeeping_over_five_epochs(spark, tmp_path):
    """Five one-add epochs: the epoch log holds one entry per epoch, and
    list_batches, delete_batch, status and vacuum_staging agree on every
    epoch, a deleted middle one included."""
    reg = HandleRegistry()

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        df.count()

    acc = make_acc(spark, tmp_path, reg)
    for i in range(5):  # epochs 0..4
        acc.add_items(events(1, start=i))
        assert acc.flush_now() is True

    log = os.path.join(acc.checkpoint_dir, "epochs")
    assert _visible(log) == [f"{i}.json" for i in range(5)]
    for i in range(5):
        with open(os.path.join(log, f"{i}.json")) as f:
            assert len(json.load(f)) == 1

    batches = acc.list_batches()
    assert [(b["sequence"], b["status"], b["item_count"]) for b in batches] == [
        (0, "completed", 1),
        (1, "completed", 1),
        (2, "completed", 1),
        (3, "completed", 1),
        (4, "completed", 1),
        (5, "accumulating", 0),
    ]
    assert acc.status()["staged_item_count"] == 0  # nothing pending
    assert acc.delete_batch(2) == {"deleted": True}
    # the deleted sequence vanishes from the listing (tombstoned batch
    # doc, lib.ts:300-337); the other epochs stay intact
    assert [(b["sequence"], b["item_count"]) for b in acc.list_batches()] == [
        (0, 1), (1, 1), (3, 1), (4, 1), (5, 0),
    ]
    # vacuum reclaims every remaining committed file
    doomed = acc.vacuum_staging()
    assert len(doomed) == 4
    assert acc.status()["staged_item_count"] == 0


class _Crash(Exception):
    """The flushing process dying at an injected point."""


def _crash(*_args, **_kwargs):
    raise _Crash


@pytest.mark.parametrize("point", ["after_log", "after_handle", "after_history"])
def test_crash_before_commit_replays_epoch(spark, tmp_path, monkeypatch, point):
    """D5 across a restart: a flush dies after ``epochs/1.json`` is
    written, after the handle returned, or after the history row — each
    before ``commits/1``. A fresh accumulator on the same root replays
    epoch 1 with the same id and files, never re-delivers the committed
    epoch 0, and gets every staged item to the handle."""
    reg = HandleRegistry()
    delivered = []  # (epoch_id, staging basenames read, event names)

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        files = sorted(os.path.basename(f) for f in df.inputFiles())
        delivered.append((epoch_id, files, sorted(r.event_name for r in df.collect())))

    make_acc(spark, tmp_path, reg).add_items(events(2))
    make_acc(spark, tmp_path, reg).flush_now()  # epoch 0 commits
    make_acc(spark, tmp_path, reg).add_items(events(3, start=10))

    crashing = make_acc(spark, tmp_path, reg)
    with monkeypatch.context() as m:
        if point == "after_log":
            m.setattr(crashing, "_deliver", _crash)
        elif point == "after_handle":
            m.setattr(crashing, "_record_history", _crash)
        else:
            write_text = fsutil.write_text
            m.setattr(fsutil, "write_text", lambda spark_, path, *a, **k: _crash()
                      if os.path.basename(os.path.dirname(path)) == "commits"
                      else write_text(spark_, path, *a, **k))
        with pytest.raises(_Crash):
            crashing.flush_now()
    log1 = os.path.join(crashing.checkpoint_dir, "epochs", "1.json")
    with open(log1) as f:
        logged = sorted(json.load(f))
    assert not os.path.exists(os.path.join(crashing.checkpoint_dir, "commits", "1"))

    make_acc(spark, tmp_path, reg).add_items(events(1, start=20))  # after the crash
    fresh = make_acc(spark, tmp_path, reg)
    assert fresh.flush_now() is True

    with open(log1) as f:
        assert sorted(json.load(f)) == logged
    first = [] if point == "after_log" else [(1, logged, ["e10", "e11", "e12"])]
    assert [d for d in delivered if d[0] == 0] == [(0, delivered[0][1], ["e0", "e1"])]
    assert [d for d in delivered if d[0] == 1] == first + [(1, logged, ["e10", "e11", "e12"])]
    assert [d[2] for d in delivered if d[0] == 2] == [["e20"]]
    assert [(b["sequence"], b["status"]) for b in fresh.list_batches()] == [
        (0, "completed"), (1, "completed"), (2, "completed"), (3, "accumulating"),
    ]


def test_racing_flushes_deliver_each_item_once(spark, tmp_path):
    """D7: four ``flush(block=False)`` calls and a blocking flush over the
    same staged adds (more flushing threads than this suite's 4 cores,
    with a short thread switch interval). The accumulator's flush lock
    lets one flush at a time cut epochs: every item arrives once, under
    one epoch id each."""
    reg = HandleRegistry()
    seen, epochs = [], []
    guard = threading.Lock()

    @reg.register("collect_events")
    def collect_events(df, epoch_id):
        names = [r.event_name for r in df.collect()]
        with guard:
            seen.extend(names)
            epochs.append(epoch_id)

    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    acc = bp.accumulator("analytics", EVENT_SCHEMA, "collect_events",
                         immediate_flush_threshold=1)
    for i in range(6):
        bp.add_items("analytics", events(2, start=10 * i))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for _ in range(4):
            assert bp.flush("analytics", block=False) is True
        assert bp.flush("analytics") is True
        bp.wait_for_flushes("analytics", timeout_s=300)
    finally:
        sys.setswitchinterval(interval)
    assert "analytics" not in bp._flush_threads

    assert sorted(seen) == sorted(e["event_name"] for i in range(6) for e in events(2, 10 * i))
    assert sorted(epochs) == list(range(6))
    hist = acc.flush_history().collect()
    assert sorted((h.epoch_id, h.success) for h in hist) == [(e, True) for e in range(6)]
    assert _visible(os.path.join(acc.checkpoint_dir, "epochs")) == [
        f"{e}.json" for e in range(6)
    ]
    assert [(b["sequence"], b["status"]) for b in bp.get_all_batches_for_base_id("analytics")] == [
        (e, "completed") for e in range(6)
    ] + [(6, "accumulating")]


def test_background_flush_records_a_handle_failure_once(spark, tmp_path):
    """A handle failure under ``flush(block=False)`` leaves exactly the
    epoch's own failed-attempt row: no extra epoch -1 row, which is kept
    for failures no epoch recorded."""
    reg = HandleRegistry()
    reg.add("collect_events", lambda df, e: 1 / 0)
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    acc = bp.accumulator("analytics", EVENT_SCHEMA, "collect_events")
    bp.add_items("analytics", events(2))
    assert bp.flush("analytics", block=False) is True
    bp.wait_for_flushes("analytics", timeout_s=300)
    assert "analytics" not in bp._flush_threads
    hist = [(h.epoch_id, h.success, h.item_count) for h in acc.flush_history().collect()]
    assert hist == [(0, False, 2)]


def test_vacuum_sweeps_only_stale_tmp_files(spark, tmp_path):
    """An add that died between write and rename leaves a hidden
    ``_part-….tmp``; vacuum deletes it once older than ``STALE_TMP_S``.
    A fresh tmp (an add still writing), other hidden files and every
    admissible file survive."""
    reg = HandleRegistry()
    reg.add("collect_events", lambda df, e: None)
    acc = make_acc(spark, tmp_path, reg)
    acc.add_items(events(2))
    [real] = _visible(acc.staging_dir)

    def hidden(name, age_s):
        path = os.path.join(acc.staging_dir, name)
        with open(path, "wb") as f:
            f.write(b"partial")
        t = time.time() - age_s
        os.utime(path, (t, t))
        return path

    stale = hidden(f"_part-{uuid.uuid4()}.snappy.parquet.tmp", STALE_TMP_S + 600)
    fresh = hidden(f"_part-{uuid.uuid4()}.snappy.parquet.tmp", 0)
    old_marker = hidden("_deleted_acc_7", STALE_TMP_S + 600)
    os.utime(os.path.join(acc.staging_dir, real), (0, 0))  # an old admissible file

    assert acc.vacuum_staging() == [stale]
    assert not os.path.exists(stale)
    assert os.path.exists(fresh) and os.path.exists(old_marker)
    assert os.path.exists(os.path.join(acc.staging_dir, real))
    assert acc.status()["staged_item_count"] == 2

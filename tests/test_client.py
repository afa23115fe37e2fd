"""BatchProcessor facade: the reference's two README scenarios end-to-end
through the reference-shaped API (README.md:40-216 — analytics events
accumulation + users migration iterator)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from convex_batch_processor_spark.catalog import load_table
from convex_batch_processor_spark.client import BatchProcessor
from convex_batch_processor_spark.sources.registry import HandleRegistry

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("eventName", T.StringType()),
        T.StructField("timestamp", T.LongType()),
    ]
)


def test_analytics_events_scenario(spark, tmp_path):
    """README accumulator walkthrough: track events, flush at threshold,
    inspect status + history."""
    reg = HandleRegistry()
    flushed = []
    reg.add("processAnalyticsBatch", lambda df, ep: flushed.append(df.count()))

    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    bp.accumulator(
        "analytics-events",
        EVENT_SCHEMA,
        "processAnalyticsBatch",
        immediate_flush_threshold=100,
        flush_interval_s=30,
    )
    for i in range(3):
        n = bp.add_items(
            "analytics-events",
            [{"eventName": f"page_view_{i}_{j}", "timestamp": 1700000000 + j} for j in range(40)],
        )
        assert n == 40
    assert bp.flush("analytics-events") is True
    assert sum(flushed) == 120
    st = bp.get_batch_status("analytics-events")
    assert st["flushed_items"] == 120
    hist = bp.get_flush_history("analytics-events", limit=5).collect()
    assert hist and all(h.success for h in hist)


def test_users_migration_scenario(spark, sf_dir, tmp_path):
    """README iterator walkthrough: migrate all users in batches with
    progress, pause/resume, completion callback."""
    reg = HandleRegistry()
    migrated, completions = [], []
    reg.add("migrateUserBatch", lambda df, cur: migrated.extend(r.c_custkey for r in df.collect()))
    reg.add("onMigrationComplete", lambda job, n: completions.append((job, n)))

    customers = load_table(spark, sf_dir, "customer")
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    st = bp.start_iterator(
        "user-migration-2024",
        customers,
        "c_custkey",
        "migrateUserBatch",
        batch_size=50,
        on_complete="onMigrationComplete",
        run=False,
    )
    assert st.status == "running"
    bp.run_iterator("user-migration-2024", max_chunks=1)
    assert bp.get_iterator_status("user-migration-2024")["processed_count"] == 50
    bp.pause_iterator("user-migration-2024")
    assert bp.run_iterator("user-migration-2024").status == "paused"
    bp.resume_iterator("user-migration-2024")
    final = bp.run_iterator("user-migration-2024")
    total = customers.count()
    assert final.status == "completed"
    assert sorted(migrated) == sorted(r.c_custkey for r in customers.collect())
    assert completions == [("user-migration-2024", total)]
    assert [j.job_id for j in bp.list_iterator_jobs(status="completed")] == ["user-migration-2024"]
    assert bp.delete_iterator_job("user-migration-2024") is True


def test_optimistic_flush_returns_before_running(spark, tmp_path):
    """flush(block=False) parity with the reference's scheduled flush
    (lib.ts:167-177): returns True immediately; the flush lands on a
    background thread and is visible after wait_for_flushes."""
    reg = HandleRegistry()
    flushed = []
    reg.add("bg", lambda df, ep: flushed.append(df.count()))
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    bp.accumulator("opt", EVENT_SCHEMA, "bg", flush_interval_s=30)
    bp.add_items("opt", [{"eventName": "e", "timestamp": 1}] * 25)
    assert bp.flush("opt", block=False) is True  # optimistic
    bp.wait_for_flushes("opt")
    assert sum(flushed) == 25
    assert bp.get_batch_status("opt")["flushed_items"] == 25


def test_facade_guards(spark, tmp_path):
    bp = BatchProcessor(spark=spark, root=str(tmp_path))
    with pytest.raises(KeyError, match="no accumulator"):
        bp.add_items("nope", [{"eventName": "x", "timestamp": 1}])
    with pytest.raises(KeyError, match="unknown iterator"):
        bp.get_iterator_status("nope")
    assert bp.list_iterator_jobs() == []


def test_remote_root_keeps_accumulators_and_refuses_iterator_state(spark):
    """Accumulators go through the Hadoop FS, so a remote root builds
    them; iterator job state is driver-local, so only the iterator
    surface refuses that root, on first use. Nothing here touches the
    remote store."""
    bp = BatchProcessor(spark=spark, root="s3a://bucket/base")
    acc = bp.accumulator("ev", EVENT_SCHEMA, "noop")
    assert acc.root == "s3a://bucket/base/batches/ev"
    with pytest.raises(ValueError, match="driver-local"):
        bp.list_iterator_jobs()


def test_facade_sees_persisted_jobs_across_instances(spark, sf_dir, tmp_path):
    """Job state survives a driver restart: a NEW BatchProcessor over the
    same root can list/inspect/pause/resume and (after attach) drive jobs
    started by a previous instance."""
    reg = HandleRegistry()
    seen = []
    reg.add("mig", lambda df, c: seen.extend(r.c_custkey for r in df.collect()))
    customers = load_table(spark, sf_dir, "customer")

    bp1 = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    # cursor mode pinned: the test asserts the exact 60-row first page,
    # which planned mode's approxQuantile ranges only hit approximately
    bp1.start_iterator(
        "restartable", customers, "c_custkey", "mig",
        batch_size=60, run=False, plan_ranges=False,
    )
    bp1.run_iterator("restartable", max_chunks=1)

    bp2 = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)  # "restarted driver"
    assert [j.job_id for j in bp2.list_iterator_jobs()] == ["restartable"]
    assert bp2.get_iterator_status("restartable")["processed_count"] == 60
    bp2.pause_iterator("restartable")
    assert bp2.get_iterator_status("restartable")["status"] == "paused"
    bp2.resume_iterator("restartable")
    with pytest.raises(KeyError, match="attach_iterator"):
        bp2.run_iterator("restartable")
    bp2.attach_iterator("restartable", customers, "c_custkey")
    final = bp2.run_iterator("restartable")
    assert final.status == "completed"
    assert sorted(seen) == sorted(r.c_custkey for r in customers.collect())


def test_facade_short_doc_dedup_does_not_crash(spark, tmp_path):
    """Regression (code-review finding): 1-2 token documents must not kill
    the shingle/dedup pipeline."""
    from pyspark.sql import types as T2

    from convex_batch_processor_spark.llmops import dedup as D

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "three word doc"),
         (5, "a much longer document with plenty of tokens for shingles")],
        T2.StructType([T2.StructField("doc_id", T2.LongType()), T2.StructField("text", T2.StringType())]),
    )
    sh = {r.doc_id: r.sh for r in D.with_shingles(docs).collect()}
    assert sh[1] == [] and sh[2] == [] and sh[3] == []
    assert sh[4] == ["three word doc"]
    assert len(sh[5]) > 0
    # full pipeline over the degenerate corpus completes
    assert D.minhash_neardup(docs).count() == 0


def test_get_all_batches_and_delete_batch_lifecycle(spark, tmp_path):
    """getAllBatchesForBaseId + deleteBatch (index.ts:258-270, server
    lib.ts:246-337): list the base::seq batches of one stream and delete
    them under the reference's guard semantics."""
    reg = HandleRegistry()
    reg.add("noopFlush", lambda df, ep: None)
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    bp.accumulator("events", EVENT_SCHEMA, "noopFlush")

    # unknown base / nothing staged: reference's empty index scan + not-found
    assert bp.get_all_batches_for_base_id("nope") == []
    assert bp.delete_batch("events::0") == {"deleted": False, "reason": "Batch not found"}
    assert bp.delete_batch("malformed-id") == {"deleted": False, "reason": "Batch not found"}
    # Unicode digit forms pass str.isdigit but int() rejects them — must
    # report not-found, not raise ValueError
    assert bp.delete_batch("events::²") == {"deleted": False, "reason": "Batch not found"}

    bp.add_items("events", [{"eventName": "a", "timestamp": 1}, {"eventName": "b", "timestamp": 2}])
    batches = bp.get_all_batches_for_base_id("events")
    assert [(b["sequence"], b["status"], b["item_count"]) for b in batches] == [
        (0, "accumulating", 2)
    ]
    assert batches[0]["batch_id"] == "events::0"
    assert batches[0]["base_batch_id"] == "events"
    assert batches[0]["created_at"] is not None

    # accumulating with pending items refuses deletion (lib.ts:323-325)
    assert bp.delete_batch("events::0") == {
        "deleted": False,
        "reason": "Cannot delete batch with pending items",
    }

    assert bp.flush("events") is True
    bp.add_items("events", [{"eventName": "c", "timestamp": 3}])
    batches = bp.get_all_batches_for_base_id("events")
    assert [(b["sequence"], b["status"], b["item_count"]) for b in batches] == [
        (0, "completed", 2),
        (1, "accumulating", 1),
    ]

    # deleting the completed batch removes its staged items AND its batch
    # doc — the sequence disappears from getAllBatchesForBaseId exactly as
    # the reference's deleteBatch deletes the document (lib.ts:300-337);
    # audit history and the accumulating batch survive
    assert bp.delete_batch("events::0") == {"deleted": True}
    batches = bp.get_all_batches_for_base_id("events")
    assert [(b["sequence"], b["status"], b["item_count"]) for b in batches] == [
        (1, "accumulating", 1),
    ]
    # timestamps stay concrete for every listed batch (schema.ts: the
    # batch doc always carries createdAt)
    assert all(b["created_at"] is not None for b in batches)
    assert bp.get_flush_history("events").count() >= 1

    # a second delete of the tombstoned sequence: the doc is gone
    assert bp.delete_batch("events::0") == {"deleted": False, "reason": "Batch not found"}

    # out-of-range sequence: not found
    assert bp.delete_batch("events::7") == {"deleted": False, "reason": "Batch not found"}


def test_delete_empty_accumulating_batch_hides_until_items_return(spark, tmp_path):
    """Review r7: deleting the EMPTY accumulating batch must behave like
    the reference's doc delete — the batch disappears from the listing,
    a second delete reports not-found — and the doc is recreated when
    items arrive again (lib.ts:304-306, 323-325)."""
    reg = HandleRegistry()
    reg.add("noopFlush", lambda df, ep: None)
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    bp.accumulator("ev", EVENT_SCHEMA, "noopFlush")
    bp.add_items("ev", [{"eventName": "a", "timestamp": 1}])
    assert bp.flush("ev") is True

    # delete the empty accumulating batch (sequence 1)
    assert bp.delete_batch("ev::1") == {"deleted": True}
    assert [(b["sequence"], b["status"]) for b in bp.get_all_batches_for_base_id("ev")] == [
        (0, "completed"),
    ]
    # second delete: the doc is gone
    assert bp.delete_batch("ev::1") == {"deleted": False, "reason": "Batch not found"}

    # items arriving recreate the accumulating doc under the same sequence
    bp.add_items("ev", [{"eventName": "b", "timestamp": 2}])
    batches = bp.get_all_batches_for_base_id("ev")
    assert [(b["sequence"], b["status"], b["item_count"]) for b in batches] == [
        (0, "completed", 1),
        (1, "accumulating", 1),
    ]
    # and the recreated batch flushes into a visible completed epoch —
    # the stale accumulating marker must not hide it
    assert bp.flush("ev") is True
    batches = bp.get_all_batches_for_base_id("ev")
    assert [(b["sequence"], b["status"]) for b in batches] == [
        (0, "completed"),
        (1, "completed"),
        (2, "accumulating"),
    ]


def test_delete_and_list_agree_on_zero_row_staged_files(spark, tmp_path):
    """ADVICE r7: delete_batch and list_batches must share ONE emptiness
    predicate (zero ROWS, not zero files). A zero-row staged parquet —
    add_dataframe of an empty frame — has no items: the empty-accumulating
    delete succeeds, and the listing must then HIDE the batch (the old
    file-name-presence check kept showing it while a second delete said
    not-found)."""
    reg = HandleRegistry()
    reg.add("noopFlush", lambda df, ep: None)
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    acc = bp.accumulator("ev", EVENT_SCHEMA, "noopFlush")

    # stage a ZERO-ROW parquet file into the accumulating batch
    acc.add_dataframe(spark.createDataFrame([], schema=EVENT_SCHEMA))
    assert [(b["sequence"], b["status"], b["item_count"])
            for b in bp.get_all_batches_for_base_id("ev")] == [
        (0, "accumulating", 0),
    ]

    # zero items -> the empty-accumulating delete path applies
    assert bp.delete_batch("ev::0") == {"deleted": True}
    # the deleted batch is GONE from the listing despite the staged file...
    assert bp.get_all_batches_for_base_id("ev") == []
    # ...and the second delete agrees with the listing
    assert bp.delete_batch("ev::0") == {"deleted": False, "reason": "Batch not found"}

    # real items void the marker — same rows-based predicate on both APIs
    bp.add_items("ev", [{"eventName": "a", "timestamp": 1}])
    assert [(b["sequence"], b["status"], b["item_count"])
            for b in bp.get_all_batches_for_base_id("ev")] == [
        (0, "accumulating", 1),
    ]
    assert bp.delete_batch("ev::0") == {
        "deleted": False,
        "reason": "Cannot delete batch with pending items",
    }


def test_empty_accumulating_batch_reports_concrete_timestamps(spark, tmp_path):
    """An empty accumulating batch (no staged files, no flush-history
    row for its sequence) must still carry concrete created_at /
    last_updated_at — the reference's batch doc always has createdAt
    (schema.ts); consumers sorting or formatting timestamps would crash
    on None."""
    reg = HandleRegistry()
    reg.add("noopFlush", lambda df, ep: None)
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    acc = bp.accumulator("ev", EVENT_SCHEMA, "noopFlush")
    bp.add_items("ev", [{"eventName": "a", "timestamp": 1}])
    assert bp.flush("ev") is True
    acc.vacuum_staging()  # flushed batchItems deleted (lib.ts:622-634)
    batches = bp.get_all_batches_for_base_id("ev")
    assert [(b["sequence"], b["status"]) for b in batches] == [
        (0, "completed"),
        (1, "accumulating"),
    ]
    for b in batches:
        assert b["created_at"] is not None, b
        assert b["last_updated_at"] is not None, b


def test_delete_batch_refuses_while_flush_pending_retry(spark, tmp_path):
    """A logged-but-uncommitted epoch (failed flush awaiting its
    at-least-once retry) maps to the reference's 'flushing' guard
    (lib.ts:312-314): deleting its files would corrupt the replay."""
    reg = HandleRegistry()
    fail = {"on": True}

    def flaky(df, ep):
        if fail["on"]:
            raise RuntimeError("downstream unavailable")

    reg.add("flakyFlush", flaky)
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    bp.accumulator("ev", EVENT_SCHEMA, "flakyFlush")
    bp.add_items("ev", [{"eventName": "a", "timestamp": 1}])
    with pytest.raises(RuntimeError):
        bp.flush("ev")
    batches = bp.get_all_batches_for_base_id("ev")
    assert [(b["sequence"], b["status"]) for b in batches] == [
        (0, "flushing"),
        (1, "accumulating"),
    ]
    assert bp.delete_batch("ev::0") == {
        "deleted": False,
        "reason": "Cannot delete batch while flushing",
    }
    # retry succeeds -> epoch commits -> deletable
    fail["on"] = False
    assert bp.flush("ev") is True
    assert bp.delete_batch("ev::0") == {"deleted": True}


def test_failed_start_iterator_preserves_attached_iterator(spark, sf_dir, tmp_path):
    """A duplicate-id start_iterator raises from it.start(); the facade
    must NOT have installed the new (wrong-source/wrong-key) iterator
    first, or a later run_iterator would resume the persisted cursor
    against the wrong table."""
    reg = HandleRegistry()
    seen = []
    reg.add("migrate", lambda df, cur: seen.append(df.count()))

    customers = load_table(spark, sf_dir, "customer")
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    bp.start_iterator(
        "dup-job", customers, "c_custkey", "migrate", batch_size=10_000, run=False
    )
    original = bp._iterators["dup-job"]
    suppliers = load_table(spark, sf_dir, "supplier")
    with pytest.raises(ValueError, match="already exists"):
        bp.start_iterator(
            "dup-job", suppliers, "s_suppkey", "migrate", batch_size=10, run=False
        )
    assert bp._iterators["dup-job"] is original
    # and the job still runs against the ORIGINAL source/key
    st = bp.run_iterator("dup-job")
    assert st.status == "completed"
    assert st.processed_count == customers.count()


def test_background_flush_records_config_errors(spark, tmp_path):
    """flush(block=False) with an unregistered handle fails BEFORE any
    epoch runs; the failure must still land in flush_history (the
    docstring's contract) instead of vanishing in the daemon thread."""
    reg = HandleRegistry()
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    bp.accumulator(
        "bg-errors",
        EVENT_SCHEMA,
        "nope_not_registered",
        immediate_flush_threshold=10_000,
        flush_interval_s=3600,
    )
    bp.add_items("bg-errors", [{"eventName": "e", "timestamp": 1}])
    assert bp.flush("bg-errors", block=False) is True
    bp.wait_for_flushes("bg-errors")
    hist = bp.get_flush_history("bg-errors", limit=5).collect()
    assert hist, "config failure left no flush_history row"
    assert any(
        (not h.success) and "nope_not_registered" in (h.error_message or "")
        for h in hist
    )

"""Table-iterator semantics (SURVEY.md §2.9 D10-D14) — the reference's
users-migration scenario (example/convex/usage.ts:77-176) driven over the
customer table with a collecting handle. Sleeps are injected recorders, so
tests assert the exact rate-limit/backoff schedule without wall-clock."""

from __future__ import annotations

import bisect
import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from convex_batch_processor_spark import iterator
from convex_batch_processor_spark.catalog import load_table
from convex_batch_processor_spark.client import BatchProcessor
from convex_batch_processor_spark.iterator import (
    IteratorJobState,
    JobStore,
    TableIterator,
    backoff_ms,
)
from convex_batch_processor_spark.sources.registry import HandleRegistry


@pytest.fixture()
def customer(spark, sf_dir):
    return load_table(spark, sf_dir, "customer")


def make_iter(tmp_path, customer, reg, sleeps):
    return TableIterator(
        state_dir=str(tmp_path / "jobs"),
        source=customer,
        key_col="c_custkey",
        registry=reg,
        sleep_fn=sleeps.append,
    )


def test_full_iteration_processes_every_row_once(tmp_path, customer):
    reg, sleeps, seen = HandleRegistry(), [], []

    @reg.register("migrate")
    def migrate(chunk_df, cursor):
        seen.extend(r.c_custkey for r in chunk_df.collect())

    done = []
    reg.add("on_done", lambda job_id, n: done.append((job_id, n)))

    it = make_iter(tmp_path, customer, reg, sleeps)
    it.start("users", "migrate", batch_size=40, on_complete="on_done")
    st = it.run("users")

    total = customer.count()
    assert st.status == "completed"
    assert st.processed_count == total
    assert sorted(seen) == [r.c_custkey for r in customer.orderBy("c_custkey").collect()]
    assert len(seen) == len(set(seen))  # exactly once on the happy path
    assert done == [("users", total)]  # D14 onComplete
    # D11 rate limit: one delay per non-final chunk
    assert sleeps.count(0.1) >= total // 40 - 1


def test_duplicate_job_id_rejected(tmp_path, customer):
    reg = HandleRegistry()
    reg.add("noop", lambda df, c: None)
    it = make_iter(tmp_path, customer, reg, [])
    it.start("dup", "noop")
    with pytest.raises(ValueError, match="already exists"):
        it.start("dup", "noop")


def test_pause_takes_effect_at_chunk_boundary_and_resume_continues(tmp_path, customer):
    reg, sleeps, seen = HandleRegistry(), [], []
    reg.add("migrate", lambda df, c: seen.extend(r.c_custkey for r in df.collect()))
    it = make_iter(tmp_path, customer, reg, sleeps)
    # cursor mode pinned: the test asserts the exact 50-row page boundary,
    # which planned mode's approxQuantile ranges only hit approximately
    it.start("j", "migrate", batch_size=50, plan_ranges=False)

    it.run("j", max_chunks=1)
    it.store.pause("j")
    st = it.run("j")  # guard stops immediately
    assert st.status == "paused"
    assert len(seen) == 50

    it.store.resume("j")
    st = it.run("j")
    assert st.status == "completed"
    assert len(seen) == customer.count()  # no rows skipped or repeated
    assert len(seen) == len(set(seen))


def test_cancel_marks_failed(tmp_path, customer):
    reg = HandleRegistry()
    reg.add("migrate", lambda df, c: None)
    it = make_iter(tmp_path, customer, reg, [])
    it.start("j", "migrate")
    it.run("j", max_chunks=1)
    st = it.store.cancel("j")
    assert st.status == "failed" and st.error_message == "Cancelled by user"
    assert it.run("j").status == "failed"  # guard refuses to continue


def test_retry_backoff_then_fail_at_max_retries(tmp_path, customer):
    reg, sleeps = HandleRegistry(), []
    calls = []

    @reg.register("explode")
    def explode(df, cursor):
        calls.append(1)
        raise RuntimeError("chunk handler failed")

    it = make_iter(tmp_path, customer, reg, sleeps)
    it.start("j", "explode", max_retries=3)
    st = it.run("j")
    assert st.status == "failed"
    assert "chunk handler failed" in st.error_message
    assert len(calls) == 3
    # D12: capped exponential backoff 2s, 4s (failure on 3rd) — the
    # reference's newRetryCount starts at 1, so the first retry sleeps 2000ms
    assert sleeps == [2.0, 4.0]


def test_retry_recovers_and_resets_counter(tmp_path, customer):
    reg, sleeps, seen = HandleRegistry(), [], []
    state = {"fails": 2}

    @reg.register("flaky")
    def flaky(df, cursor):
        if state["fails"] > 0:
            state["fails"] -= 1
            raise RuntimeError("transient")
        seen.extend(r.c_custkey for r in df.collect())

    it = make_iter(tmp_path, customer, reg, sleeps)
    it.start("j", "flaky", batch_size=1000, max_retries=5)
    st = it.run("j")
    assert st.status == "completed"
    assert st.retry_count == 0
    assert len(seen) == customer.count()
    assert sleeps[:2] == [2.0, 4.0]


def test_start_rejects_null_and_duplicate_keys(tmp_path, customer):
    """Fail fast instead of silently losing rows: a NULL key can never be
    paged past (cursor stalls), and in CURSOR mode a duplicate key on a
    chunk boundary is skipped by the strict > predicate. The uniqueness
    probe is scoped to cursor mode — planned ranges bucket duplicates
    safely (inclusive bounds partition the key space)."""
    reg = HandleRegistry()
    reg.add("noop", lambda df, c: None)
    dup = customer.select((F.col("c_custkey") % 2).alias("k"))
    it = TableIterator(str(tmp_path / "d"), dup, "k", registry=reg, sleep_fn=lambda s: None)
    with pytest.raises(ValueError, match="not unique"):
        it.start("j", "noop", plan_ranges=False)
    nullable = customer.select(
        F.when(F.col("c_custkey") % 100 == 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("k")
    )
    it2 = TableIterator(str(tmp_path / "n"), nullable, "k", registry=reg, sleep_fn=lambda s: None)
    with pytest.raises(ValueError, match="NULL"):
        it2.start("j", "noop")


def test_planned_ranges_accept_duplicate_keys_without_row_loss(tmp_path, customer):
    """Planned-range mode partitions the key space with inclusive bounds,
    so duplicate keys are processed exactly once each — no uniqueness pass
    is needed (or run) on the default 100 TB path. Every key appears
    several times, so the bound is a duplicated key: all its copies land
    in the range it closes, and each chunk holds exactly the count stored
    for its range at start."""
    reg, chunks = HandleRegistry(), []
    reg.add("collect", lambda df, c: chunks.append([r.k for r in df.collect()]))
    dup = customer.select((F.col("c_custkey") % 50).alias("k"))
    n = dup.count()
    it = TableIterator(str(tmp_path / "p"), dup, "k", registry=reg, sleep_fn=lambda s: None)
    st = it.start("j", "collect", batch_size=100)  # numeric -> planned
    assert st.range_bounds is not None
    assert dup.filter(F.col("k") == st.range_bounds[0]).count() > 1
    st = it.run("j")
    assert st.status == "completed"
    assert [len(c) for c in chunks] == [c for c in st.range_counts if c]
    assert sum(len(c) for c in chunks) == n == st.processed_count


def test_range_counts_at_many_ranges_match_the_chunk_predicates(spark, tmp_path,
                                                                jobs_started):
    """1500 planned ranges over a double key with negative values and
    repeated keys: the stored counts equal a binary search over the
    stored bounds, each sampled range's chunk predicate selects exactly
    its count, and start's job count does not grow with the range
    count."""
    src = spark.range(6000).selectExpr("CAST(id * 7919 % 2003 - 1000 AS DOUBLE) / 4 AS k")
    keys = [r.k for r in src.collect()]
    it = TableIterator(str(tmp_path / "jobs"), src, "k", sleep_fn=lambda s: None)
    out = []
    jobs = jobs_started(lambda: out.append(it.start("many", "noop", batch_size=4)))
    bounds, counts = out[0].range_bounds, out[0].range_counts
    assert len(counts) == len(bounds) + 1 >= 1000
    expected = [0] * len(counts)
    for k in keys:
        expected[bisect.bisect_left(bounds, k)] += 1
    assert counts == expected and sum(counts) == len(keys)
    for i in (0, 1, 500, 999, len(bounds) - 1, len(bounds)):
        lo, hi = bounds[i - 1] if i > 0 else None, bounds[i] if i < len(bounds) else None
        assert src.filter(it._range(lo, hi)).count() == counts[i]
    # the NULL/size check, approxQuantile and the grouped range count
    assert jobs <= 5


def _run_chunks(it, job_id, jobs_started) -> list[tuple[int, object]]:
    """Run ``job_id`` one chunk per call to a terminal state; returns
    (Spark jobs started, state) per call."""
    calls = []
    while not calls or calls[-1][1].status == "running":
        out = []
        calls.append((jobs_started(lambda: out.append(it.run(job_id, max_chunks=1))), out[0]))
    return calls


@pytest.mark.parametrize("plan_ranges", [None, False], ids=["planned", "cursor"])
def test_numeric_key_auto_plans_ranges_and_hands_chunks_uncached(
    tmp_path, customer, jobs_started, plan_ranges
):
    """Default mode for a numeric key is the planned-range pager (one
    approxQuantile pass and one range-count pass at start, then pure
    range filters). In both modes each chunk reaches the handle uncached
    as a range filter, and a chunk starts only the handle's jobs — none
    for this handle, which keeps the frame for later — plus, in cursor
    mode, the one job that pages its keys. Nothing is cached during or
    after the run, and progress advances by the chunks' row counts."""
    jsc = customer.sparkSession.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keySet())
    reg, frames, cached_in_handle = HandleRegistry(), [], []

    def keep(df, c):
        frames.append(df)
        cached_in_handle.append(set(jsc.getPersistentRDDs().keySet()) - cached_before)

    reg.add("keep", keep)
    it = make_iter(tmp_path, customer, reg, [])
    st = it.start("auto", "keep", batch_size=40, plan_ranges=plan_ranges)
    planned = plan_ranges is None
    assert (st.range_bounds is not None) == planned  # c_custkey is numeric -> planned
    calls = _run_chunks(it, "auto", jobs_started)
    assert [jobs for jobs, _ in calls] == [0 if planned else 1] * len(calls)
    assert cached_in_handle == [set()] * len(frames)
    assert set(jsc.getPersistentRDDs().keySet()) == cached_before
    if not cached_before:
        assert jsc.getPersistentRDDs().isEmpty()
    st = calls[-1][1]
    assert st.status == "completed"
    assert not any(df.storageLevel.useMemory for df in frames)
    total = customer.count()
    if planned:
        assert len(st.range_counts) == len(st.range_bounds) + 1
        assert [df.count() for df in frames] == [n for n in st.range_counts if n]
    else:
        assert [df.count() for df in frames] == [40] * (total // 40) + [total % 40] * (
            total % 40 > 0)
    keys = [r.c_custkey for df in frames for r in df.collect()]
    assert st.processed_count == len(keys) == total
    assert sorted(keys) == sorted(r.c_custkey for r in customer.collect())


def test_empty_range_makes_no_handle_call_and_no_job(spark, tmp_path, jobs_started):
    """One key value for every row: the bounds collapse onto it, so all
    rows fall in the first range and the others are empty. An empty
    range is skipped with no handle call, no Spark job and no sleep."""
    reg, calls, sleeps = HandleRegistry(), [], []
    reg.add("collect", lambda df, c: calls.append((c, df.count())))
    src = spark.range(300).selectExpr("id", "7 AS k")
    it = TableIterator(str(tmp_path / "jobs"), src, "k", registry=reg, sleep_fn=sleeps.append)
    st = it.start("one-key", "collect", batch_size=100, delay_between_batches_s=0.5)
    assert st.range_counts == [300, 0, 0]
    st = it.run("one-key", max_chunks=1)
    assert calls == [(0, 300)] and st.processed_count == 300
    steps = _run_chunks(it, "one-key", jobs_started)
    assert [jobs for jobs, _ in steps] == [0, 0]
    assert calls == [(0, 300)]
    assert steps[-1][1].status == "completed"
    assert steps[-1][1].processed_count == src.count()
    assert sleeps == [0.5]  # only after the chunk that had rows


def test_planned_state_without_counts_resumes(tmp_path, customer):
    """A planned job saved before range counts were stored counts its
    ranges on its first run and then finishes every row exactly once."""
    reg, seen = HandleRegistry(), []
    reg.add("collect", lambda df, c: seen.extend(r.c_custkey for r in df.collect()))
    it = make_iter(tmp_path, customer, reg, [])
    it.start("legacy", "collect", batch_size=40, plan_ranges=True)
    it.run("legacy", max_chunks=1)
    path = tmp_path / "jobs" / "legacy.json"
    state = json.loads(path.read_text())
    counts = state.pop("range_counts")
    path.write_text(json.dumps(state))

    resumed = make_iter(tmp_path, customer, reg, [])
    assert resumed.store.load("legacy").range_counts is None
    st = resumed.run("legacy")
    assert st.status == "completed"
    assert st.range_counts == counts
    assert st.processed_count == len(seen) == customer.count()
    assert sorted(seen) == sorted(r.c_custkey for r in customer.collect())


def test_job_store_maps_file_uris_and_rejects_other_schemes(spark, tmp_path, monkeypatch,
                                                            customer):
    """A ``file:`` URI root keeps iterator state beside the accumulator's,
    under the URI's local path; a remote scheme is refused, since job
    state is driver-local."""
    monkeypatch.chdir(tmp_path)  # a URI taken as a relative path lands here
    root = tmp_path / "root"
    reg = HandleRegistry()
    reg.add("noop", lambda df, c: None)
    bp = BatchProcessor(spark=spark, root=root.as_uri(), registry=reg)
    bp.accumulator("ev", customer.schema, "noop").add_dataframe(customer.limit(1))
    bp.start_iterator("j", customer, "c_custkey", "noop", run=False)
    assert os.path.exists(root / "jobs" / "j.json")
    assert os.path.isdir(root / "batches" / "ev" / "staging")
    assert os.listdir(tmp_path) == ["root"]
    with pytest.raises(ValueError, match="driver-local"):
        JobStore("s3a://bucket/jobs")
    assert os.listdir(tmp_path) == ["root"]


def test_list_and_delete_skip_a_job_another_store_deleted(tmp_path, monkeypatch):
    """Two stores on one directory (two ``BatchProcessor``s on one root):
    a job the other store deletes between this store's listing and its
    load is left out of ``list``, and ``delete`` reports it gone."""
    store, other = JobStore(str(tmp_path)), JobStore(str(tmp_path))
    for job_id in ("a", "b"):
        store.save(IteratorJobState(job_id=job_id, status="completed"))
    load = store.load

    def racing_load(job_id):
        other.delete(job_id)  # lands after the caller's listing or exists()
        return load(job_id)

    monkeypatch.setattr(store, "load", racing_load)
    assert store.list() == []
    store.save(IteratorJobState(job_id="c", status="completed"))
    assert store.delete("c") is False
    assert os.listdir(tmp_path) == []


def test_status_list_delete(tmp_path, customer):
    reg = HandleRegistry()
    reg.add("noop", lambda df, c: None)
    it = make_iter(tmp_path, customer, reg, [])
    it.start("a", "noop", batch_size=10_000)
    it.start("b", "noop", batch_size=10_000)
    assert {s.job_id for s in it.store.list()} == {"a", "b"}
    assert it.store.status("a")["status"] == "running"
    with pytest.raises(ValueError, match="cannot delete"):
        it.store.delete("a")  # guard: only terminal jobs deletable
    it.run("a")
    assert it.store.status("a")["status"] == "completed"
    assert it.store.delete("a") is True
    assert {s.job_id for s in it.store.list()} == {"b"}
    assert [s.job_id for s in it.store.list(status="running")] == ["b"]


def test_deleted_job_is_unknown_to_the_facade(tmp_path, customer):
    """After delete_iterator_job the facade must forget the attached
    iterator too: run/pause report the documented unknown-job KeyError,
    not a FileNotFoundError from the deleted state file."""
    reg = HandleRegistry()
    reg.add("noop", lambda df, c: None)
    bp = BatchProcessor(spark=customer.sparkSession, root=str(tmp_path), registry=reg)
    st = bp.start_iterator("gone", customer, "c_custkey", "noop", batch_size=10_000)
    assert st.status == "completed"
    assert bp.delete_iterator_job("gone") is True
    with pytest.raises(KeyError, match="unknown iterator job"):
        bp.run_iterator("gone")
    with pytest.raises(KeyError, match="unknown iterator job"):
        bp.pause_iterator("gone")
    assert bp.delete_iterator_job("gone") is False


def test_lifecycle_on_persisted_jobs_needs_no_attach(tmp_path, customer):
    """Pause, resume, cancel and status touch stored state only: a second
    BatchProcessor over the same root applies them to a persisted job it
    never attached. An unknown id raises the documented KeyError from
    each of them and from TableIterator.run."""
    reg = HandleRegistry()
    reg.add("noop", lambda df, c: None)
    spark = customer.sparkSession
    BatchProcessor(spark=spark, root=str(tmp_path), registry=reg).start_iterator(
        "persisted", customer, "c_custkey", "noop", batch_size=50, run=False
    )
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=reg)
    assert bp.pause_iterator("persisted").status == "paused"
    assert bp.get_iterator_status("persisted")["status"] == "paused"
    assert bp.resume_iterator("persisted").status == "running"
    bp.cancel_iterator("persisted")
    assert bp.get_iterator_status("persisted") == {
        "job_id": "persisted",
        "status": "failed",
        "processed_count": 0,
        "cursor": 0,
        "retry_count": 0,
        "error_message": "Cancelled by user",
    }
    with pytest.raises(ValueError, match="expected 'paused'"):
        bp.resume_iterator("persisted")
    for call in (bp.get_iterator_status, bp.pause_iterator, bp.resume_iterator,
                 bp.cancel_iterator, make_iter(tmp_path, customer, reg, []).run):
        with pytest.raises(KeyError, match="unknown iterator job"):
            call("nope")


@pytest.mark.parametrize("bad_id", ["", ".", "..", "../x", "a/b"])
def test_ids_must_be_one_path_component(tmp_path, customer, bad_id):
    """Job and batch ids name files and dirs under {root}: one that is not
    a single path component is rejected before any Spark job runs (the
    source below fails any job that evaluates its key) and writes nothing."""
    reg = HandleRegistry()
    reg.add("noop", lambda df, c: None)
    explode = F.udf(lambda k: 1 // 0, "long")
    poisoned = customer.select(explode("c_custkey").alias("k"))
    bp = BatchProcessor(spark=customer.sparkSession, root=str(tmp_path / "bp"), registry=reg)
    with pytest.raises(ValueError, match="one path component"):
        bp.start_iterator(bad_id, poisoned, "k", "noop")
    with pytest.raises(ValueError, match="one path component"):
        bp.get_iterator_status(bad_id)
    schema = T.StructType([T.StructField("x", T.LongType())])
    with pytest.raises(ValueError, match="one path component"):
        bp.accumulator(bad_id, schema, "noop")
    assert sorted(p.name for p in tmp_path.rglob("*")) == ["bp", "jobs"]
    assert bp.list_iterator_jobs() == []


def test_background_flush_threads_are_pruned(spark, tmp_path):
    """Each flush(block=False) keeps only the flushes still running, so
    repeated calls without wait_for_flushes do not grow the thread list."""
    bp = BatchProcessor(spark=spark, root=str(tmp_path), registry=HandleRegistry())
    schema = T.StructType([T.StructField("x", T.LongType())])
    bp.accumulator("idle", schema, "noop")
    for _ in range(3):
        assert bp.flush("idle", block=False) is True
        t = bp._flush_threads["idle"][-1]
        t.join(timeout=60)  # nothing staged: the flush returns at once
        assert not t.is_alive()
    assert len(bp._flush_threads["idle"]) == 1
    bp.wait_for_flushes("idle")
    assert "idle" not in bp._flush_threads


def test_backoff_formula_parity():
    """min(1000·2^n, 30000) — lib.ts:1059 / README.md:384."""
    assert [backoff_ms(n) for n in range(7)] == [1000, 2000, 4000, 8000, 16000, 30000, 30000]


def test_range_planned_iteration_processes_every_row_once(tmp_path, customer):
    """100 TB cursor strategy: precomputed approxQuantile boundaries, each
    chunk a pure range filter — same exactly-once coverage as cursor mode."""
    reg, sleeps, seen = HandleRegistry(), [], []
    reg.add("migrate", lambda df, cur: seen.extend(r.c_custkey for r in df.collect()))
    done = []
    reg.add("fin", lambda j, n: done.append(n))
    it = make_iter(tmp_path, customer, reg, sleeps)
    it.start("planned", "migrate", batch_size=40, plan_ranges=True, on_complete="fin")
    st = it.run("planned")
    total = customer.count()
    assert st.status == "completed"
    assert st.processed_count == total
    assert sorted(seen) == [r.c_custkey for r in customer.orderBy("c_custkey").collect()]
    assert len(seen) == len(set(seen))
    assert done == [total]
    # planned mode resumes across pause too
    reg2, seen2 = HandleRegistry(), []
    reg2.add("migrate", lambda df, cur: seen2.extend(r.c_custkey for r in df.collect()))
    it2 = make_iter(tmp_path / "x", customer, reg2, [])
    it2.start("p2", "migrate", batch_size=40, plan_ranges=True)
    it2.run("p2", max_chunks=2)
    it2.store.pause("p2")
    it2.store.resume("p2")
    assert it2.run("p2").status == "completed"
    assert sorted(seen2) == sorted(seen)


def test_iterator_drives_curation_op_over_documents(tmp_path, spark, sf_dir):
    """Layer B × Layer A composition: the table iterator chunks the
    documents corpus and the processBatch handler runs an llmops operator
    (token stats) per chunk — the reference's migration pattern
    (example/convex/usage.ts:77-176) applied to a curation workload.
    Chunked totals must equal the one-shot batch aggregate."""
    from pyspark.sql import functions as F

    from convex_batch_processor_spark.iterator import TableIterator
    from convex_batch_processor_spark.llmops.textstats import token_count
    from convex_batch_processor_spark.sources.registry import HandleRegistry

    docs = load_table(spark, sf_dir, "documents")
    reg, totals = HandleRegistry(), []

    @reg.register("count_tokens")
    def count_tokens(chunk_df, cursor):
        row = chunk_df.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(token_count()).alias("tokens"),
        ).first()
        totals.append((row.docs, row.tokens))

    it = TableIterator(str(tmp_path / "state"), docs, "doc_id", reg, sleep_fn=lambda s: None)
    it.start("curate", "count_tokens", batch_size=120)
    st = it.run("curate")

    batch = docs.agg(
        F.count(F.lit(1)).alias("docs"), F.sum(token_count()).alias("tokens")
    ).first()
    assert st.status == "completed"
    assert sum(t[0] for t in totals) == batch.docs == st.processed_count
    assert sum(t[1] for t in totals) == batch.tokens


def test_timestamp_key_cursor_roundtrips_job_state(spark, tmp_path):
    """Review r6: a timestamp-keyed job's cursor is a datetime — the
    state store must round-trip it (json.dump crashed on the FIRST
    progress save, after the handle ran, replaying chunk 1 forever)."""
    import datetime as dt

    reg, sleeps, seen = HandleRegistry(), [], []
    reg.add("collect", lambda chunk, cur: seen.extend(r.k for r in chunk.collect()))
    base = dt.datetime(2024, 1, 1)
    src = spark.createDataFrame(
        [(base + dt.timedelta(hours=i), i) for i in range(10)], "k timestamp, v int"
    )
    it = TableIterator(
        state_dir=str(tmp_path / "jobs"), source=src, key_col="k",
        registry=reg, sleep_fn=sleeps.append,
    )
    it.start("ts-job", "collect", batch_size=4)
    mid = it.run("ts-job", max_chunks=1)  # forces a save + reload of the cursor
    assert mid.cursor == base + dt.timedelta(hours=3)
    st = it.run("ts-job")
    assert st.status == "completed"
    assert st.processed_count == 10
    assert len(seen) == len(set(seen)) == 10  # no chunk replayed


def test_decimal_key_range_bounds_roundtrip(spark, tmp_path):
    """Decimal keys take the planned-ranges path, so the BOUNDS list is
    Decimals — it must survive the JSON store too."""
    from decimal import Decimal

    reg, sleeps, seen = HandleRegistry(), [], []
    reg.add("collect", lambda chunk, cur: seen.extend(r.k for r in chunk.collect()))
    src = spark.createDataFrame(
        [(Decimal(i) / 4, i) for i in range(12)], "k decimal(10,2), v int"
    )
    it = TableIterator(
        state_dir=str(tmp_path / "jobs"), source=src, key_col="k",
        registry=reg, sleep_fn=sleeps.append,
    )
    st0 = it.start("dec-job", "collect", batch_size=5)
    assert st0.range_bounds is not None  # decimal -> planned ranges
    st = it.run("dec-job")
    assert st.status == "completed"
    assert sorted(seen) == sorted(Decimal(i) / 4 for i in range(12))


def test_cancel_during_final_chunk_wins_over_completion(tmp_path, customer):
    """Review r6: a cooperative cancel landing while the FINAL chunk is
    processing must not be clobbered by the completion transition, and
    on_complete must NOT fire for the cancelled job (lib.ts:978-981's
    status guard applies to completion too)."""
    reg, sleeps, done = HandleRegistry(), [], []
    controller = {}

    @reg.register("migrate")
    def migrate(chunk_df, cursor):
        chunk_df.count()
        # simulate another process cancelling mid-final-chunk
        controller["it"].store.cancel("cancel-race")

    reg.add("on_done", lambda job_id, n: done.append(job_id))
    it = make_iter(tmp_path, customer.limit(30), reg, sleeps)
    controller["it"] = it
    it.start("cancel-race", "migrate", batch_size=50)  # one chunk = final chunk
    st = it.run("cancel-race")
    assert st.status == "failed"
    assert st.error_message == "Cancelled by user"
    assert done == []  # completion side effects must not fire


def test_unregistered_handle_fails_fast_without_backoff(tmp_path, customer):
    """Review r6: a typo'd handle name is a config error, not a transient
    failure — run() must raise immediately instead of burning the whole
    capped-backoff ladder (the accumulator's flush_now precedent)."""
    reg, sleeps = HandleRegistry(), []
    it = make_iter(tmp_path, customer, reg, sleeps)
    it.start("typo-job", "no_such_handle", batch_size=50)
    with pytest.raises(KeyError):
        it.run("typo-job")
    assert sleeps == []  # zero backoff sleeps: it never entered the retry loop


def test_on_complete_failure_is_retried_not_lost(tmp_path, customer):
    """A completion callback that raises AFTER status='completed' was saved
    must not be lost at-most-once: the job steps back to 'running' with the
    error recorded, and the next run() re-enters completion and re-fires
    the handle (at-least-once, bounded by max_retries)."""
    reg, sleeps, calls = HandleRegistry(), [], []

    @reg.register("migrate")
    def migrate(chunk_df, cursor):
        chunk_df.count()

    @reg.register("flaky_done")
    def flaky_done(job_id, n):
        calls.append(n)
        if len(calls) == 1:
            raise RuntimeError("completion sink down")

    it = make_iter(tmp_path, customer.limit(30), reg, sleeps)
    it.start("flaky-done", "migrate", batch_size=50, on_complete="flaky_done")
    st = it.run("flaky-done")
    assert st.status == "running"  # stepped back, not silently 'completed'
    assert "completion sink down" in (st.error_message or "")
    assert st.retry_count == 1
    st = it.run("flaky-done")  # re-enters completion, handle re-fires
    assert st.status == "completed"
    assert len(calls) == 2
    assert calls[1] == 30


def test_on_complete_failures_bounded_by_max_retries(tmp_path, customer):
    """A permanently-failing completion callback terminates at 'failed'
    after max_retries instead of looping forever."""
    reg, sleeps = HandleRegistry(), []

    @reg.register("migrate")
    def migrate(chunk_df, cursor):
        chunk_df.count()

    @reg.register("always_down")
    def always_down(job_id, n):
        raise RuntimeError("permanently down")

    it = make_iter(tmp_path, customer.limit(30), reg, sleeps)
    it.start("dead-done", "migrate", batch_size=50, max_retries=2,
             on_complete="always_down")
    st = it.run("dead-done")
    while st.status == "running":
        st = it.run("dead-done")
    assert st.status == "failed"
    assert "permanently down" in (st.error_message or "")


def test_pause_landing_while_progress_is_saved_is_kept(tmp_path, customer, monkeypatch):
    """A pause from another store that lands while ``run`` saves a
    chunk's progress (between its load and its save) is neither lost nor
    overwritten: the job ends paused, with the chunk's progress. The
    first clock read in ``run`` is the progress save's; it starts the
    pause on a thread and waits for it at most 0.5 s."""
    reg = HandleRegistry()
    reg.add("noop", lambda df, c: None)
    it = make_iter(tmp_path, customer, reg, [])
    st = it.start("race", "noop", batch_size=40)
    other, threads, now = JobStore(str(tmp_path / "jobs")), [], time.time

    class Clock:
        @staticmethod
        def time():
            if not threads:
                threads.append(threading.Thread(target=other.pause, args=("race",)))
                threads[0].start()
                threads[0].join(0.5)
            return now()

    monkeypatch.setattr(iterator, "time", Clock)
    it.run("race", max_chunks=1)
    threads[0].join()
    final = other.load("race")
    assert final.status == "paused"
    assert final.processed_count == st.range_counts[0] and final.cursor == 1


def test_pause_during_failing_chunk_is_not_flipped_to_failed(tmp_path, customer):
    """A pause that lands while the in-flight handle is raising OWNS the
    status: the retry path must return the paused state instead of
    flipping it to 'failed' at max_retries or scrubbing its fields (the
    success path's status guard, mirrored)."""
    reg, sleeps = HandleRegistry(), []
    controller = {}

    @reg.register("migrate")
    def migrate(chunk_df, cursor):
        chunk_df.count()
        controller["it"].store.pause("pause-race")
        raise RuntimeError("handle blew up after the pause landed")

    it = make_iter(tmp_path, customer.limit(30), reg, sleeps)
    controller["it"] = it
    it.start("pause-race", "migrate", batch_size=50, max_retries=1)
    st = it.run("pause-race")
    assert st.status == "paused"
    assert st.retry_count == 0  # the failure path never counted a retry
    assert "blew up" not in (st.error_message or "")

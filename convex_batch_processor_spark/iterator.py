"""Table iterator — chunked cursor-driven scans with a job state machine
(SURVEY.md §2.9 D10-D14; reference src/component/lib.ts:736-1132).

Reference semantics: start a job that repeatedly pulls a page via a user
``getNextBatch`` callback, hands it to ``processBatch``, saves cursor +
processedCount, rate-limits between chunks, retries failures with capped
exponential backoff (min(1000·2^n, 30000) ms, lib.ts:1059), honors
pause/resume/cancel between chunks, and fires ``onComplete`` at the end.

Spark design:
- **Cursor = ordered key range**, not an opaque token (Convex cursors are
  not reproducible; a sorted unique key is). Every chunk is the range
  filter ``key in (lo, hi]`` on the source, handed to the handle uncached
  and unordered; with sorted/partitioned parquet it prunes to the row
  groups in range (min/max stats), so chunk cost does not grow with table
  size. Planned mode (the 100 TB form) fixes every range's bounds
  (approxQuantile) and row count once at ``start``, so its chunks run no
  job of their own. Cursor mode finds each chunk's upper bound and row
  count with one job over the key column alone
  (``key > cursor ORDER BY key LIMIT n``, then max and count).
- **Job state** lives in a JSON file per job (atomic rename) in
  ``JobStore``, which also owns the lifecycle transitions. Every change
  to a stored job is a load-change-save under one lock, so a pause or
  cancel never overwrites, or is overwritten by, the loop's own saves —
  the control plane is driver-side metadata exactly like streaming
  checkpoints; the data path stays fully distributed (the callback
  receives the chunk DataFrame, which it may write/aggregate
  cluster-wide; collecting is the callback's choice, mirroring the
  reference handing items arrays).
- **processBatch / getNextBatch / onComplete** are registry handle NAMES
  stored in the job state (function-handles-as-data, schema.ts:50-55).

The loop is cooperative: ``run(max_chunks=...)`` executes chunks until
done/paused/failed, so tests drive it deterministically without threads.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import math
import os
import time
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .fsutil import check_name
from .sources.registry import HandleRegistry, default_registry


def backoff_ms(retry_count: int) -> int:
    """Capped exponential backoff: min(1000·2^n, 30000) (lib.ts:1050-1060).

    ``n`` is the post-increment retry count, starting at 1 — the first
    retry sleeps 2000 ms, matching the reference's ``newRetryCount``."""
    return int(min(1000 * math.pow(2, retry_count), 30000))


@dataclass
class IteratorJobState:
    """Persisted job row ≈ iteratorJobs table (schema.ts:37-62)."""

    job_id: str
    cursor: Any = None  # last processed key (exclusive lower bound)
    processed_count: int = 0
    status: str = "pending"
    retry_count: int = 0
    error_message: str | None = None
    created_at: float = field(default_factory=time.time)
    last_run_at: float | None = None
    # config (schema.ts:48-56)
    batch_size: int = 100
    delay_between_batches_s: float = 0.1  # default 100 ms (lib.ts:767)
    max_retries: int = 5  # default (lib.ts:983)
    process_batch: str = ""  # handle name
    on_complete: str | None = None  # handle name
    # precomputed key-range boundaries (the 100 TB cursor plan); when set,
    # cursor is an INDEX into these ranges instead of a key value
    range_bounds: list | None = None
    # exact row count of each planned range (len(range_bounds) + 1), fixed
    # with the bounds; None in state saved before counts were stored
    range_counts: list[int] | None = None

    def to_dict(self) -> dict:
        d = self.__dict__.copy()
        d["cursor"] = _encode_key(d["cursor"])
        if d["range_bounds"] is not None:
            d["range_bounds"] = [_encode_key(v) for v in d["range_bounds"]]
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "IteratorJobState":
        obj = cls(job_id=d["job_id"])
        obj.__dict__.update(d)
        obj.cursor = _decode_key(obj.cursor)
        if obj.range_bounds is not None:
            obj.range_bounds = [_decode_key(v) for v in obj.range_bounds]
        return obj


def _encode_key(v):
    """JSON-safe tagged encoding for cursor/bound key values: the cursor
    is whatever Python value ``collect()`` returned for the key column
    (datetime for timestamp keys, Decimal for decimal keys, bytes for
    binary), and ``json.dump`` rejects all three — without this a
    timestamp-keyed job crashes on its FIRST progress save, AFTER the
    handle ran, and replays the chunk forever."""
    import base64
    import datetime as _dt
    import decimal as _dec

    if isinstance(v, _dt.datetime):
        return {"__key__": "datetime", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"__key__": "date", "v": v.isoformat()}
    if isinstance(v, _dec.Decimal):
        return {"__key__": "decimal", "v": str(v)}
    if isinstance(v, (bytes, bytearray)):
        return {"__key__": "bytes", "v": base64.b64encode(bytes(v)).decode("ascii")}
    return v


def _decode_key(v):
    import base64
    import datetime as _dt
    import decimal as _dec

    if not (isinstance(v, dict) and "__key__" in v):
        return v
    kind, raw = v["__key__"], v["v"]
    if kind == "datetime":
        return _dt.datetime.fromisoformat(raw)
    if kind == "date":
        return _dt.date.fromisoformat(raw)
    if kind == "decimal":
        return _dec.Decimal(raw)
    if kind == "bytes":
        return base64.b64decode(raw)
    raise ValueError(f"unknown cursor encoding {kind!r}")


class JobStore:
    """Atomic JSON-file-per-job state store (the iteratorJobs table) and
    the lifecycle transitions on it, which need no source DataFrame.

    Driver-local by design: job state is driver control state (the
    reference keeps it in its transactional store, lib.ts:898-945). On a
    cluster, point state_dir at a driver-attached volume; the data-plane
    (chunks, handles) never touches it. A ``file:`` URI names its local
    path (so a ``BatchProcessor`` rooted at a ``file:`` URI keeps both
    subsystems under one directory); any other scheme is a ValueError.
    Stores, threads and processes sharing the directory change a job only
    under an exclusive lock on ``<state_dir>/.lock`` (``insert``,
    ``update``), so no change overwrites another."""

    def __init__(self, state_dir: str):
        url = urlparse(state_dir)
        if url.scheme == "file":
            state_dir = unquote(url.path)
        elif url.scheme:
            raise ValueError(f"iterator job state is driver-local: {state_dir!r} is not a "
                             "local path or a file: URI")
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _path(self, job_id: str) -> str:
        return os.path.join(self.state_dir, f"{check_name('iterator job id', job_id)}.json")

    def check_new(self, job_id: str) -> None:
        """ValueError if ``job_id`` names a stored job."""
        if os.path.exists(self._path(job_id)):
            raise ValueError(f"Iterator job with ID '{job_id}' already exists")

    @contextlib.contextmanager
    def _locked(self):
        with open(os.path.join(self.state_dir, ".lock"), "a") as f:
            fcntl.flock(f, fcntl.LOCK_EX)  # released when the file closes
            yield

    def insert(self, state: IteratorJobState) -> None:
        """Save a new job; its id is checked under the lock (``check_new``)."""
        with self._locked():
            self.check_new(state.job_id)
            self.save(state)

    def update(self, job_id: str, change) -> IteratorJobState:
        """Load the job, apply ``change(state)`` and save it, under the
        lock; returns the saved state. ``change`` must not call the store."""
        with self._locked():
            st = self.load(job_id)
            change(st)
            self.save(st)
        return st

    def save(self, state: IteratorJobState) -> None:
        tmp = self._path(state.job_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state.to_dict(), f)
        os.replace(tmp, self._path(state.job_id))  # atomic: readers never see partial writes

    def load(self, job_id: str) -> IteratorJobState:
        try:
            with open(self._path(job_id)) as f:
                return IteratorJobState.from_dict(json.load(f))
        except FileNotFoundError:
            raise KeyError(f"unknown iterator job {job_id!r}") from None

    def delete(self, job_id: str) -> bool:
        """deleteIteratorJob (lib.ts:927-945): only terminal jobs. False
        when the job is gone, also when another store on the same
        directory deletes it first."""
        try:
            st = self.load(job_id)
        except KeyError:
            return False
        if st.status not in ("completed", "failed"):
            raise ValueError(f"cannot delete job in status {st.status!r}")
        try:
            os.remove(self._path(job_id))
        except FileNotFoundError:
            return False
        return True

    def list(self, status: str | None = None) -> list[IteratorJobState]:
        """listIteratorJobs (lib.ts:898-925): optional status filter. A job
        deleted between the listing and its load is left out."""
        out = []
        for fn in sorted(os.listdir(self.state_dir)):
            if fn.endswith(".json"):
                try:
                    st = self.load(fn[:-5])
                except KeyError:
                    continue
                if status is None or st.status == status:
                    out.append(st)
        return out

    def _transition(self, job_id: str, allowed: tuple[str, ...], to: str,
                    **patch) -> IteratorJobState:
        def change(st):
            if st.status not in allowed:
                expected = " or ".join(map(repr, allowed))
                raise ValueError(f"job {job_id!r} is {st.status!r}, expected {expected}")
            st.status = to
            st.__dict__.update(patch)

        return self.update(job_id, change)

    def pause(self, job_id: str) -> IteratorJobState:
        """pauseIterator (lib.ts:784-806): running → paused; takes effect at
        the next chunk boundary (cooperative, like the status guard at
        lib.ts:978-981)."""
        return self._transition(job_id, ("running",), "paused")

    def resume(self, job_id: str) -> IteratorJobState:
        """resumeIterator (lib.ts:808-833): paused → running, retry reset."""
        return self._transition(job_id, ("paused",), "running", retry_count=0)

    def cancel(self, job_id: str) -> IteratorJobState:
        """cancelIterator (lib.ts:835-858): mark failed 'Cancelled by user'."""
        return self._transition(job_id, ("running", "paused", "pending"), "failed",
                                error_message="Cancelled by user")

    def status(self, job_id: str) -> dict:
        """getIteratorStatus (lib.ts:860-896) projection."""
        st = self.load(job_id)
        return {
            "job_id": st.job_id,
            "status": st.status,
            "processed_count": st.processed_count,
            "cursor": st.cursor,
            "retry_count": st.retry_count,
            "error_message": st.error_message,
        }


class TableIterator:
    """Drives chunked iteration over an ordered DataFrame: ``start`` plans
    and saves a job, ``run`` is the chunk loop. Lifecycle transitions
    and status live on ``store``."""

    def __init__(
        self,
        state_dir: str,
        source: DataFrame,
        key_col: str,
        registry: HandleRegistry | None = None,
        sleep_fn=time.sleep,  # injectable: tests pass a recorder, no wall-clock
    ):
        self.store = JobStore(state_dir)
        self.source = source
        self.key_col = key_col
        self.registry = registry or default_registry
        self.sleep_fn = sleep_fn

    def start(
        self,
        job_id: str,
        process_batch: str,
        batch_size: int = 100,
        delay_between_batches_s: float = 0.1,
        max_retries: int = 5,
        on_complete: str | None = None,
        plan_ranges: bool | None = None,
    ) -> IteratorJobState:
        """startIteratorJob (lib.ts:736-782): duplicate-id reject + insert
        running job.

        ``plan_ranges`` is the 100 TB cursor strategy: compute
        ``ceil(rows / batch_size)`` chunk boundaries ONCE via
        approxQuantile (one cheap sampling pass) and the exact row count
        of each range in one grouped count (``_range_counts``), then every
        chunk is a pure range filter — row-group pruning on a sorted
        layout, no per-chunk TakeOrdered over the remainder of the table,
        no per-chunk count. Bounds and counts are fixed here: rows added
        to the source after ``start`` may be handed over but are not
        counted in ``processed_count``. Default
        ``None`` auto-enables it when the key column is numeric
        (approxQuantile's requirement); pass ``False`` to force the
        orderBy+limit cursor pager, which re-sorts the tail every chunk —
        fine at test scale, O(n·chunks) at cluster scale.

        The key is validated for the two properties that silently lose
        rows when violated — scoped to what each cursor strategy needs:

        - NULL keys are load-bearing in BOTH modes (a NULL never matches a
          range/page predicate; ``F.max`` ignores it, stalling the cursor).
          The check is ``count(1) vs count(key)`` — one job over the key
          column, no shuffle; its row count also sizes the ranges.
        - Key UNIQUENESS only matters in cursor mode: the strict
          ``key > cursor`` page predicate skips duplicates that straddle a
          chunk boundary. Planned-range mode partitions the key space with
          inclusive bounds, so every duplicate lands in exactly one range —
          no check needed, which is why the default (planned) path costs no
          uniqueness pass at any scale. Cursor mode runs an exact duplicate
          probe (``groupBy(key).count() > 1 LIMIT 1`` — partial aggregation
          means the shuffle carries one row per DISTINCT key, not an Expand
          of the table like ``countDistinct`` alongside ``count`` would).
        """
        self.store.check_new(job_id)  # before any Spark job; insert re-checks
        if plan_ranges is None:
            ktype = self.source.schema[self.key_col].dataType.simpleString()
            plan_ranges = ktype in (
                "tinyint", "smallint", "int", "bigint", "float", "double"
            ) or ktype.startswith("decimal")
        key = F.col(self.key_col)
        # observed metrics of a noop write: one job with no exchange, where
        # agg().collect() runs its shuffle stage as a second job under AQE
        obs = Observation()
        (self.source.select(key).observe(obs, F.count(F.lit(1)).alias("n"),
                                         F.count(key).alias("n_nonnull"))
         .write.format("noop").mode("overwrite").save())
        stats = obs.get
        n = stats["n"]
        if stats["n_nonnull"] != n:
            raise ValueError(
                f"key column {self.key_col!r} has "
                f"{n - stats['n_nonnull']} NULLs — a NULL key can "
                "never be paged past (cursor would stall); clean or choose "
                "another key"
            )
        bounds = counts = None
        if plan_ranges:
            ranges = max(1, -(-n // batch_size))
            probs = [i / ranges for i in range(1, ranges)]
            bounds = (
                self.source.stat.approxQuantile(self.key_col, probs, 0.001)
                if probs
                else []
            )
            # one range holds every row: n is its count, no pass needed
            counts = self._range_counts(bounds) if bounds else [n]
        else:
            dup = (
                self.source.select(key.alias("k"))
                .groupBy("k")
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"key column {self.key_col!r} is not unique (e.g. key "
                    f"{dup[0]['k']!r} appears {dup[0]['count']} times) — a "
                    "duplicate key on a chunk boundary would be skipped by "
                    "the strict cursor predicate; use plan_ranges=True or "
                    "a unique key"
                )
        st = IteratorJobState(
            job_id=job_id,
            status="running",
            cursor=0 if bounds is not None else None,
            batch_size=batch_size,
            delay_between_batches_s=delay_between_batches_s,
            max_retries=max_retries,
            process_batch=process_batch,
            on_complete=on_complete,
            range_bounds=bounds,
            range_counts=counts,
        )
        self.store.insert(st)
        return st

    def _range_counts(self, bounds: list) -> list[int]:
        """Exact row count of every planned range, in one grouped count.

        A row's range is the number of bounds below its key, found by a
        binary search over the bounds as one array literal: a projection
        per halving step, each making one ``bound < key`` comparison (the
        chunks' own), so a row costs O(log ranges) comparisons and the
        plan's expression count does not grow with the range count. NULL
        keys are in no range."""
        arr = F.from_json(F.lit(json.dumps([float(b) for b in bounds])), "array<double>")
        k, i = F.col("k"), F.col("i")
        df = self.source.select(F.col(self.key_col).alias("k")).filter(k.isNotNull())
        df = df.withColumn("i", F.lit(0))
        step = 1 << (len(bounds).bit_length() - 1) if bounds else 0
        while step:  # invariant: the first i bounds are below the key
            df = df.withColumn("i", F.when(F.try_element_at(arr, i + step) < k, i + step)
                               .otherwise(i))
            step //= 2
        counts = [0] * (len(bounds) + 1)
        for r in df.groupBy("i").count().collect():
            counts[r["i"]] = r["count"]
        return counts

    # --- the chunk loop (processNextBatch, lib.ts:968-1071) -----------------

    def _range(self, lo, hi) -> Column:
        """Keys in ``(lo, hi]``; a ``None`` bound leaves that side open.
        NULL keys are in no range (``start`` rejects them: ``key > cursor``
        is never true for one and F.max skips it, stalling the cursor)."""
        key = F.col(self.key_col)
        cond = key.isNotNull()
        if lo is not None:
            cond &= key > F.lit(lo)
        if hi is not None:
            cond &= key <= F.lit(hi)
        return cond

    def _chunk(self, st: IteratorJobState) -> tuple[int, Any, Any]:
        """getNextBatch default impl: ``(rows, lo, hi)``, the next chunk
        being the rows with keys in ``(lo, hi]``. Planned mode reads them
        from the state (cursor indexes the bounds), with no job. Cursor
        mode pages the next ``batch_size`` keys past the cursor in one job
        over the key column (TakeOrderedAndProject under a max and count);
        its keys are unique (``start`` checks), so ``(lo, hi]`` holds
        exactly the paged rows."""
        if st.range_bounds is not None:
            i, bounds = int(st.cursor or 0), st.range_bounds
            return (st.range_counts[i], bounds[i - 1] if i > 0 else None,
                    bounds[i] if i < len(bounds) else None)
        key = self.key_col
        row = (self.source.filter(self._range(st.cursor, None)).select(key)
               .orderBy(key).limit(st.batch_size)
               .agg(F.max(key).alias("hi"), F.count(F.lit(1)).alias("n")).collect()[0])
        return row["n"], st.cursor, row["hi"]

    def run(self, job_id: str, max_chunks: int | None = None) -> IteratorJobState:
        """Drive the job until completed/paused/failed (or max_chunks).

        Each iteration re-reads state (cooperative pause/cancel), processes
        one chunk through the registered handle, saves progress, sleeps
        the rate-limit delay, and applies capped-backoff retry on errors.

        In both modes the handle gets the chunk's range filter on the
        source, uncached and unordered, as the accumulator's handle gets
        its epoch, and ``processed_count`` advances by the chunk's rows.
        A planned chunk starts only the handle's Spark jobs; a cursor
        chunk adds the one paging job. An empty planned range is skipped
        without a handle call, a job or a rate-limit sleep. A planned job
        whose state has no counts (saved before they were stored) counts
        its ranges once, here, before its first chunk. Progress and
        failures are saved with ``JobStore.update`` and leave the status
        and error of a pause or cancel that landed mid-chunk alone.
        """
        first = self.store.load(job_id)
        if first.status == "running":
            # fail fast on config errors: a typo'd handle name is not a
            # transient failure worth the backoff ladder (same pattern as
            # accumulator.flush_now)
            self.registry.resolve(first.process_batch)
            if first.on_complete:
                self.registry.resolve(first.on_complete)
            if first.range_bounds is not None and first.range_counts is None:
                counts = self._range_counts(first.range_bounds)
                self.store.update(job_id, lambda st: setattr(st, "range_counts", counts))
        chunks = 0
        while max_chunks is None or chunks < max_chunks:
            st = self.store.load(job_id)
            if st.status != "running":  # pause/cancel guard (lib.ts:978-981)
                return st
            planned = st.range_bounds is not None
            if planned and int(st.cursor or 0) > len(st.range_bounds):
                return self._complete(job_id)
            try:
                handle = self.registry.resolve(st.process_batch)
                n, lo, hi = self._chunk(st)
                if n > 0:
                    handle(self.source.filter(self._range(lo, hi)), st.cursor)
                elif not planned:
                    return self._complete(job_id)
            except Exception as e:  # noqa: BLE001 — retry path (lib.ts:1046-1069)
                error = f"{type(e).__name__}: {e}"

                def failed(st):
                    if st.status == "running":
                        st.retry_count += 1
                        st.error_message = error
                        if st.retry_count >= st.max_retries:
                            st.status = "failed"

                st = self.store.update(job_id, failed)
                if st.status != "running":
                    return st
                # post-increment count, matching newRetryCount in lib.ts:1050:
                # first retry sleeps 2000 ms
                self.sleep_fn(backoff_ms(st.retry_count) / 1000.0)
                chunks += 1
                continue

            def advance(st):  # success: save progress, reset retries (lib.ts:1073-1087)
                st.cursor = int(st.cursor or 0) + 1 if planned else hi
                st.processed_count += n
                if st.status == "running":
                    st.retry_count = 0
                    st.error_message = None
                st.last_run_at = time.time()

            st = self.store.update(job_id, advance)
            chunks += 1
            if (st.cursor > len(st.range_bounds)) if planned else (n < st.batch_size):
                return self._complete(job_id)
            if n > 0:
                self.sleep_fn(st.delay_between_batches_s)  # rate limit (lib.ts:1039-1043)
        return self.store.load(job_id)

    def _complete(self, job_id: str) -> IteratorJobState:
        """markJobCompleted + onComplete dispatch (lib.ts:1011-1031).

        Only a running job completes: a pause/cancel landing while the
        FINAL chunk was processing wins — completing over it would
        silently revert the user's transition and fire on_complete for a
        job they cancelled (the reference's status guard, lib.ts:978-981,
        applies to the completion transition too)."""

        def complete(st):
            if st.status == "running":
                st.status = "completed"

        st = self.store.update(job_id, complete)
        if st.status == "completed" and st.on_complete:
            try:
                self.registry.resolve(st.on_complete)(st.job_id, st.processed_count)
            except Exception as e:  # noqa: BLE001
                # the completion callback failed AFTER status was saved: left
                # alone, the signal is lost at-most-once (later runs see
                # 'completed' and never re-fire). Step back to 'running' with
                # the error recorded so the next run() re-enters _complete
                # and re-fires the handle — at-least-once, mirroring the
                # n==0 path where the same raise becomes a retry; bounded by
                # max_retries like any other handle failure.
                error = f"{type(e).__name__}: {e}"

                def step_back(st):
                    if st.status == "completed":
                        st.error_message = error
                        st.retry_count += 1
                        st.status = "failed" if st.retry_count >= st.max_retries else "running"

                st = self.store.update(job_id, step_back)
        return st

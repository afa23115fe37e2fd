"""BatchProcessor — drop-in-shaped client facade.

Mirrors the reference's public client API (src/client/index.ts:197-349:
``addItems, flush, getBatchStatus, getFlushHistory,
getAllBatchesForBaseId, deleteBatch, startIterator, pauseIterator,
resumeIterator, cancelIterator, getIteratorStatus, listIteratorJobs,
deleteIteratorJob``) so a reference user's calling code maps 1:1, with
Convex function handles replaced by registry handle names and Convex
tables by parquet dirs.

Differences (documented, by design):
- callbacks receive an epoch-bounded DataFrame, not a JS array — collect()
  inside the callback if item lists are wanted (reference semantics), or
  stay distributed (the whole point of the port);
- ``flush`` defaults to synchronous; ``block=False`` restores the
  reference's optimistic scheduling (lib.ts:167-177);
- iterator cursors are ordered key ranges, not opaque tokens.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .fsutil import check_name
from .iterator import IteratorJobState, JobStore, TableIterator
from .sources.registry import HandleRegistry, default_registry
from .streaming.accumulator import BatchAccumulator


@dataclass
class BatchProcessor:
    """One facade over both subsystems, rooted at a working directory.

    ``registry`` plays the role of the reference's function-handle
    creation (src/client/index.ts:221-237): register callables by name,
    store only names in state.
    """

    spark: SparkSession
    root: str
    registry: HandleRegistry = field(default_factory=lambda: default_registry)
    _accumulators: dict[str, BatchAccumulator] = field(default_factory=dict)
    _iterators: dict[str, TableIterator] = field(default_factory=dict)
    _flush_threads: dict[str, list[threading.Thread]] = field(default_factory=dict)

    @cached_property
    def _jobs(self) -> JobStore:
        """Iterator job state, made on first iterator use: it must be
        driver-local (``JobStore`` rejects a remote URI), while the
        accumulators go through the Hadoop FS and work under any root."""
        return JobStore(f"{self.root}/jobs")

    # --- accumulator surface (reference index.ts:214-301) -------------------

    def accumulator(
        self,
        batch_id: str,
        item_schema: T.StructType,
        process_batch: str,
        flush_interval_s: float = 30.0,
        immediate_flush_threshold: int | None = None,
    ) -> BatchAccumulator:
        """Create/fetch the named batch accumulator (config ≈ BatchConfig,
        index.ts:204-213)."""
        if batch_id not in self._accumulators:
            check_name("batch id", batch_id)
            self._accumulators[batch_id] = BatchAccumulator(
                spark=self.spark,
                batch_id=batch_id,
                root=f"{self.root}/batches/{batch_id}",
                item_schema=item_schema,
                process_batch=process_batch,
                flush_interval_s=flush_interval_s,
                immediate_flush_threshold=immediate_flush_threshold,
                registry=self.registry,
            )
        return self._accumulators[batch_id]

    def add_items(self, batch_id: str, items: list[dict]) -> int:
        """addItems (index.ts:214-237). Accumulator must exist (the facade
        keeps config at accumulator() time, like the reference's
        per-batch-name config)."""
        return self._acc(batch_id).add_items(items)

    def flush(self, batch_id: str, block: bool = True) -> bool:
        """flush (index.ts:239-241).

        ``block=True`` runs the flush inline and reports whether anything
        was staged. ``block=False`` is the reference's optimistic form
        (lib.ts:167-177: the flush mutation is scheduled and the call
        returns before it runs): returns True immediately and executes the
        flush on a daemon thread. A failing handle is recorded in
        flush_history and the epoch replays on the NEXT flush (same
        at-least-once contract as the timer path); call
        ``wait_for_flushes`` to join outstanding background flushes."""
        acc = self._acc(batch_id)
        if block:
            return acc.flush_now()
        # a handle failure is recorded by its epoch; a config error (an
        # unregistered handle name) raises before any epoch runs and is
        # recorded as epoch -1, so no failure vanishes with the thread
        t = threading.Thread(target=acc._flush_unattended, name=f"flush-{batch_id}", daemon=True)
        # prune finished flushes so repeated non-blocking calls keep the
        # list bounded by the ones still running
        threads = self._flush_threads.setdefault(batch_id, [])
        threads[:] = [x for x in threads if x.is_alive()]
        threads.append(t)
        t.start()
        return True

    def wait_for_flushes(self, batch_id: str, timeout_s: float | None = None) -> None:
        """Join background flushes started with ``flush(block=False)``.
        ``timeout_s`` bounds the whole call; flushes still running when it
        expires stay tracked, so a later call joins them."""
        threads = self._flush_threads.get(batch_id, [])
        deadline = None if timeout_s is None else time.monotonic() + timeout_s
        for t in threads:
            t.join(None if deadline is None else max(0.0, deadline - time.monotonic()))
        threads[:] = [t for t in threads if t.is_alive()]
        if not threads:
            self._flush_threads.pop(batch_id, None)

    def get_batch_status(self, batch_id: str) -> dict:
        """getBatchStatus (index.ts:243-252)."""
        return self._acc(batch_id).status()

    def get_flush_history(self, batch_id: str, limit: int = 10) -> DataFrame:
        """getFlushHistory (index.ts:254-263): newest-first attempts."""
        return self._acc(batch_id).flush_history(limit)

    def get_all_batches_for_base_id(self, base_batch_id: str) -> list[dict]:
        """getAllBatchesForBaseId (index.ts:258-263, server lib.ts:246-277):
        every ``base::seq`` batch of one logical stream — completed epochs,
        a flushing (logged-but-uncommitted) epoch if a flush is in
        flight or pending retry, and the current accumulating batch —
        with on-demand item counts and timestamps. Unknown base → []
        (the reference's empty index scan)."""
        if base_batch_id not in self._accumulators:
            return []
        return self._accumulators[base_batch_id].list_batches()

    def delete_batch(self, batch_id: str) -> dict:
        """deleteBatch (index.ts:265-270, server lib.ts:300-337): delete one
        ``base::seq`` batch's staged items. Returns
        ``{"deleted": bool, "reason"?: str}`` verbatim — refuses while the
        batch is flushing or still holds pending items; audit history
        survives. ``batch_id`` is the FULL composite id (schema.ts:6)."""
        base, sep, seq = batch_id.rpartition("::")
        # isascii+isdecimal, not isdigit: int() rejects Unicode digit forms
        # (superscripts, circled digits) that isdigit accepts
        if not sep or not (seq.isascii() and seq.isdecimal()) or base not in self._accumulators:
            return {"deleted": False, "reason": "Batch not found"}
        return self._accumulators[base].delete_batch(int(seq))

    def _acc(self, batch_id: str) -> BatchAccumulator:
        if batch_id not in self._accumulators:
            raise KeyError(
                f"no accumulator configured for {batch_id!r}; call accumulator() first"
            )
        return self._accumulators[batch_id]

    # --- iterator surface (reference index.ts:265-349) -----------------------

    def start_iterator(
        self,
        job_id: str,
        source: DataFrame,
        key_col: str,
        process_batch: str,
        batch_size: int = 100,
        delay_between_batches_s: float = 0.1,
        max_retries: int = 5,
        on_complete: str | None = None,
        run: bool = True,
        plan_ranges: bool | None = None,
    ) -> IteratorJobState:
        """startIterator (index.ts:272-292). ``run=True`` drives the job to
        a terminal/paused state synchronously (the reference self-schedules
        chunks; here the caller owns the loop — pass run=False and call
        run_iterator() to step cooperatively)."""
        it = TableIterator(
            state_dir=self._jobs.state_dir,
            source=source,
            key_col=key_col,
            registry=self.registry,
        )
        st = it.start(
            job_id,
            process_batch,
            batch_size=batch_size,
            delay_between_batches_s=delay_between_batches_s,
            max_retries=max_retries,
            on_complete=on_complete,
            plan_ranges=plan_ranges,
        )
        # attach only AFTER start() succeeds: a duplicate-id start raises,
        # and installing first would clobber the live iterator with one
        # bound to the wrong source/key (a later run_iterator would then
        # silently resume the persisted cursor against the wrong table)
        self._iterators[job_id] = it
        return it.run(job_id) if run else st

    def attach_iterator(self, job_id: str, source: DataFrame, key_col: str) -> IteratorJobState:
        """Re-attach to a PERSISTED job (state survives restarts in
        {root}/jobs, but the source DataFrame does not — the caller
        re-supplies it, like the reference re-creating function handles
        client-side on every construction, index.ts:221-237)."""
        st = self._jobs.load(job_id)
        self._iterators[job_id] = TableIterator(
            state_dir=self._jobs.state_dir, source=source, key_col=key_col, registry=self.registry
        )
        return st

    def run_iterator(self, job_id: str, max_chunks: int | None = None) -> IteratorJobState:
        if job_id not in self._iterators:
            self._jobs.load(job_id)  # raises KeyError for an unknown job
            raise KeyError(
                f"iterator job {job_id!r} has persisted state but no attached "
                f"source in this instance — call attach_iterator(job_id, source, key_col)"
            )
        return self._iterators[job_id].run(job_id, max_chunks=max_chunks)

    def pause_iterator(self, job_id: str) -> IteratorJobState:
        """pauseIterator (index.ts:294-300). State-only — works on
        persisted jobs from other instances (the running loop honors it at
        its next chunk boundary)."""
        return self._jobs.pause(job_id)

    def resume_iterator(self, job_id: str) -> IteratorJobState:
        """resumeIterator (index.ts:302-308). State-only; to actually DRIVE
        a resumed job from a fresh instance, attach_iterator() first."""
        return self._jobs.resume(job_id)

    def cancel_iterator(self, job_id: str) -> IteratorJobState:
        """cancelIterator (index.ts:310-316). State-only."""
        return self._jobs.cancel(job_id)

    def get_iterator_status(self, job_id: str) -> dict:
        """getIteratorStatus (index.ts:318-327) — works on persisted jobs
        from previous instances too (reads the state store directly)."""
        return self._jobs.status(job_id)

    def list_iterator_jobs(self, status: str | None = None) -> list[IteratorJobState]:
        """listIteratorJobs (index.ts:329-339) — state-store backed, sees
        jobs persisted by previous BatchProcessor instances."""
        return self._jobs.list(status)

    def delete_iterator_job(self, job_id: str) -> bool:
        """deleteIteratorJob (index.ts:341-348): terminal jobs only. A
        deleted job is unknown afterwards, attached or not."""
        deleted = self._jobs.delete(job_id)
        if deleted:
            self._iterators.pop(job_id, None)
        return deleted

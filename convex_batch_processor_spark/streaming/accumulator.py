"""Batch accumulator — the reference's core subsystem (SURVEY.md §2.9
D1-D9) re-expressed as Structured Streaming.

Reference semantics (convex-batch-processor, src/component/lib.ts:24-730):
collect items into a named batch; flush to a user callback when (a) an
interval timer fires, (b) an add crosses a size threshold, or (c) a manual
flush is requested; snapshot-cutoff isolation per flush; at-least-once
delivery with failure retry; per-flush audit history; retention cleanup.

Spark mapping — the whole hand-built state machine collapses into the
micro-batch engine:

| reference                                   | here                                  |
|---------------------------------------------|---------------------------------------|
| addItems append-only items log (lib.ts:87)  | parquet files appended to a staging dir (append-only by construction — no write conflicts, T2) |
| interval timer per batch (lib.ts:76-83)     | ``trigger(processingTime=...)``       |
| size-threshold immediate flush (lib.ts:104) | ``maxFilesPerTrigger`` admission + the add path nudging a manual run |
| manual flush (lib.ts:123-179)               | one-shot ``Trigger.AvailableNow`` run |
| snapshot cutoff createdAt < flushStartedAt  | micro-batch offset range — exact by construction (D3) |
| stranded-item carryover (lib.ts:635-662)    | files landing mid-batch are simply the next epoch's offsets (D4) |
| at-least-once + retry (lib.ts:694-710)      | foreachBatch failure fails the query; restart replays the SAME epoch from the checkpoint (D5) |
| batch sequence `base::N` (lib.ts:55-62)     | ``epoch_id`` of foreachBatch (D6)     |
| single-winner flush races (lib.ts:471-544)  | single streaming writer + checkpoint — races don't exist (D7) |
| flushHistory audit rows (lib.ts:599-619)    | history parquet appended per epoch attempt (D9) |
| retention: keep newest completed (lib.ts:671-692) | ``cleanup_staging`` rank-and-delete maintenance (D8) |

Scale: the staging dir is the pattern's weak point at 100 TB if files are
tiny — the accumulator exists precisely to coalesce; ``add_items`` writes
one parquet file per call (one "add"), and the flush callback sees an
epoch-bounded DataFrame it can repartition/write at any width. On a real
cluster the staging dir would be object storage + file-notification source,
or Kafka with ``maxOffsetsPerTrigger`` as the size trigger; the code paths
are identical. Rows built on the driver (added items, flush-history rows)
cross to the JVM as one Arrow table (``_local_frame``), so the write that
follows is a ``LocalTableScan`` and starts no Python worker.

Deterministic tests use ``flush_now`` (AvailableNow) only — no wall-clock.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_converter, _make_type_verifier

from .. import fsutil
from ..sources.registry import HandleRegistry, default_registry

FLUSH_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("epoch_id", T.LongType(), False),
        T.StructField("item_count", T.LongType(), False),
        T.StructField("flushed_at", T.TimestampType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("success", T.BooleanType(), False),
        T.StructField("error_message", T.StringType(), True),
    ]
)


def _decimal_rounder(dtype: T.DataType):
    """Value mapper that rounds every decimal inside ``dtype`` HALF_UP to
    its declared scale, as the JVM does when it reads pickled Python rows
    (an Arrow decimal array rejects the extra digits instead). None when
    ``dtype`` holds no decimal. Works on internal values: structs are
    tuples, maps dicts, arrays sequences."""
    if isinstance(dtype, T.DecimalType):
        exp = decimal.Decimal(1).scaleb(-dtype.scale)
        ctx = decimal.Context(prec=38)  # Spark's maximum decimal precision
        f = lambda v: v.quantize(exp, rounding=decimal.ROUND_HALF_UP, context=ctx)  # noqa: E731
    elif isinstance(dtype, T.ArrayType):
        e = _decimal_rounder(dtype.elementType)
        f = e and (lambda v: [e(x) for x in v])
    elif isinstance(dtype, T.MapType):
        k, e = _decimal_rounder(dtype.keyType), _decimal_rounder(dtype.valueType)
        f = (k or e) and (lambda v: {k(a) if k else a: e(x) if e else x for a, x in v.items()})
    elif isinstance(dtype, T.StructType):
        fs = [_decimal_rounder(fld.dataType) for fld in dtype.fields]
        f = any(fs) and (lambda v: tuple(g(x) if g else x for g, x in zip(fs, v)))
    else:
        return None
    return (lambda v: None if v is None else f(v)) if f else None


def _local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with an Arrow transport.

    Each row takes the same Python steps as the list path — the type
    verifier, the dict/tuple converter, ``StructType.toInternal`` (so a
    naive datetime is still read in the process time zone) and the JVM's
    HALF_UP decimal rounding — and the internal columns then cross to
    the JVM as one ``pyarrow.Table``. The plan is a ``LocalTableScan``:
    the list path's ``parallelize`` builds a ``PythonRDD``, so every job
    over it started a Python worker just to re-pickle a few rows. One
    difference: a decimal too wide for its precision raises here
    (``ArrowInvalid``), not later inside the job that reads the frame."""
    import pyarrow as pa  # noqa: PLC0415

    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*internal)) if internal else [()] * len(schema.fields)
    arrays = []
    for col, field_, arrow_type in zip(columns, schema.fields, arrow_schema.types):
        rnd = _decimal_rounder(field_.dataType)
        if rnd is not None:
            col = [rnd(v) for v in col]
        arrays.append(pa.array(col, type=arrow_type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


@dataclass
class BatchAccumulator:
    """One accumulator = one logical batch stream (a reference ``baseBatchId``).

    Parameters mirror the reference's ``BatchConfig``
    (src/client/index.ts:204-213): ``process_batch`` (handle name),
    ``flush_interval_s`` (flushIntervalMs), ``immediate_flush_threshold``
    (size trigger, expressed as max staged files admitted per micro-batch).
    """

    spark: SparkSession
    batch_id: str
    root: str  # working dir: staging/, checkpoint/, history/
    item_schema: T.StructType
    process_batch: str  # handle name resolved via registry at flush time
    flush_interval_s: float = 30.0
    immediate_flush_threshold: int | None = None
    registry: HandleRegistry = field(default_factory=lambda: default_registry)

    # --- paths --------------------------------------------------------------

    @property
    def staging_dir(self) -> str:
        return os.path.join(self.root, "staging")

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.root, "checkpoint")

    @property
    def history_dir(self) -> str:
        return os.path.join(self.root, "history")

    # --- S5: client push ----------------------------------------------------

    def add_items(self, items: list[dict]) -> int:
        """Append one add-call's items to the staging log (append-only —
        mirrors the reference's conflict-free items insert, lib.ts:87-96).
        Returns the number of items staged.

        The items are checked and converted exactly as
        ``createDataFrame(items, item_schema)`` would (a bad item raises
        before anything is written), then cross to the JVM as one Arrow
        table: the staging write runs no Python worker."""
        if not items:
            return 0
        df = _local_frame(self.spark, items, self.item_schema)
        # one file per add: the add is the atomic unit the size trigger counts
        df.coalesce(1).write.mode("append").parquet(self.staging_dir)
        return len(items)

    def add_dataframe(self, df: DataFrame) -> None:
        """Bulk staging append (the Spark-native add path)."""
        df.write.mode("append").parquet(self.staging_dir)

    # --- flush machinery ----------------------------------------------------

    def _read_stream(self) -> DataFrame:
        reader = (
            self.spark.readStream.schema(self.item_schema)
            .format("parquet")
        )
        if self.immediate_flush_threshold is not None:
            # admission control ≈ size trigger: an epoch closes once this
            # many staged files are admitted (D1 size path)
            reader = reader.option("maxFilesPerTrigger", self.immediate_flush_threshold)
        return reader.load(self.staging_dir)

    def _record_history(self, epoch_id: int, item_count: int, duration_ms: int,
                        success: bool, error: str | None) -> None:
        row = [
            (
                self.batch_id,
                epoch_id,
                item_count,
                dt.datetime.now(),
                duration_ms,
                success,
                error,
            )
        ]
        (
            _local_frame(self.spark, row, FLUSH_HISTORY_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(self.history_dir)
        )

    def _foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Epoch executor ≈ executeFlush (lib.ts:546-597): dispatch the
        registered handle, record history, propagate failure so the
        checkpoint replays the epoch (at-least-once, D5)."""
        handle = self.registry.resolve(self.process_batch)
        # cache: the pre-count and the user handle both traverse the epoch;
        # without this the staged files are scanned twice per flush
        batch_df.persist()
        try:
            count = batch_df.count()
            if count == 0:
                return  # empty-group short-circuit (lib.ts:157-159)
            start = time.monotonic()
            try:
                handle(batch_df, epoch_id)
            except Exception as e:  # noqa: BLE001
                dur = int((time.monotonic() - start) * 1000)
                self._record_history(epoch_id, count, dur, False, f"{type(e).__name__}: {e}")
                raise
            dur = int((time.monotonic() - start) * 1000)
            self._record_history(epoch_id, count, dur, True, None)
        finally:
            batch_df.unpersist()

    def _ensure_staging(self) -> bool:
        # a parquet stream needs the dir to exist; before any add there is
        # nothing to flush (flushBatch's "no batch" early-out, lib.ts:141-148)
        return fsutil.is_dir(self.spark, self.staging_dir)

    def flush_now(self) -> bool:
        """Manual flush (D2) — run the stream once over everything staged
        (``Trigger.AvailableNow``), honoring the size-threshold admission
        (multiple epochs if more files are staged than the threshold).

        Returns False if nothing was ever staged. Raises if the user handle
        raised (after recording the failed attempt) — re-calling retries the
        same epoch from the checkpoint: at-least-once.
        """
        if not self._ensure_staging():
            return False
        self.registry.resolve(self.process_batch)  # fail fast on bad handle names
        q = (
            self._read_stream()
            .writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .queryName(f"flush-{self.batch_id}-{uuid.uuid4().hex[:8]}")
            .start()
        )
        try:
            q.awaitTermination()
        except Exception as exc:  # StreamingQueryException → retryable flush failure
            raise RuntimeError(f"flush failed (re-calling retries the same epoch): {exc}") from exc
        finally:
            if q.isActive:
                q.stop()
        return True

    def start(self):
        """Continuous accumulation (D1 time path): interval-triggered stream.
        Returns the StreamingQuery; caller owns stop()."""
        if not self._ensure_staging():
            fsutil.mkdirs(self.spark, self.staging_dir)
            # streaming parquet source requires at least the directory
        return (
            self._read_stream()
            .writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=f"{self.flush_interval_s} seconds")
            .queryName(f"accumulate-{self.batch_id}")
            .start()
        )

    # --- D8 retention: delete flushed staging files -------------------------

    def _source_epoch_files(self) -> dict[int, set[str]]:
        """Staging file BASENAMES per epoch, from the checkpoint's
        FileStreamSource log — every epoch the stream ever ADMITTED,
        whether its commit landed or not. All filesystem access goes
        through the Hadoop FS API (fsutil) so the root may be an object
        store; comparison is by basename because the source log stores
        percent-encoded URIs while directory listings return raw paths —
        staging is one flat dir of Spark part-files, whose names are
        globally unique and URI-safe, so basenames identify exactly.

        COMPACTION: every compactInterval-th (default 10) batch is
        written as ``N.compact`` holding the CUMULATIVE entry list (and
        the plain files it superseded may be cleaned up), so epochs must
        be grouped by each entry's own ``batchId`` field, never by log
        file name — reading only plain digit files silently loses every
        10th epoch from listing/vacuum/status."""
        import json
        from urllib.parse import unquote, urlparse

        source_log = os.path.join(self.checkpoint_dir, "sources", "0")
        out: dict[int, set[str]] = {}
        for fname in fsutil.listdir(self.spark, source_log):
            stem, dot, suffix = fname.partition(".")
            if not stem.isdigit() or (dot and suffix != "compact"):
                continue  # .tmp / .crc noise
            file_batch = int(stem)
            # an admitted batch exists even if it carries zero entries
            out.setdefault(file_batch, set())
            for line in fsutil.read_text(
                self.spark, os.path.join(source_log, fname)
            ).splitlines():
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                path = entry.get("path", "")
                if not path:
                    continue
                batch = int(entry.get("batchId", file_batch))
                out.setdefault(batch, set()).add(
                    os.path.basename(unquote(urlparse(path).path))
                )
        return out

    def _committed_epochs(self) -> set[int]:
        """Epoch ids whose foreachBatch commit landed (checkpoint commits/)."""
        commits_dir = os.path.join(self.checkpoint_dir, "commits")
        return {int(n) for n in fsutil.listdir(self.spark, commits_dir) if n.isdigit()}

    def _committed_files(self) -> set[str]:
        """BASENAMES of staging files belonging to COMMITTED epochs."""
        by_epoch = self._source_epoch_files()
        names: set[str] = set()
        for epoch in self._committed_epochs():
            names |= by_epoch.get(epoch, set())
        return names

    def vacuum_staging(self, dry_run: bool = False) -> list[str]:
        """Delete staging files whose epochs are COMMITTED (the reference
        deletes flushed batchItems, lib.ts:622-634). Uncommitted epochs
        (failed flushes pending retry) keep their files, preserving
        at-least-once. Returns the deleted (or would-delete) paths.
        """
        committed = self._committed_files()
        doomed = [
            os.path.join(self.staging_dir, name)
            for name in fsutil.listdir(self.spark, self.staging_dir)
            if name in committed
        ]
        if not dry_run:
            for p in doomed:
                fsutil.delete(self.spark, p)
        return doomed

    # --- views (getBatchStatus / getFlushHistory parity) --------------------

    def flush_history(self, limit: int | None = None) -> DataFrame:
        """getFlushHistory (lib.ts:279-301): newest-first audit rows.

        Delivery caveat (inherent to the at-least-once model): history rows
        are AT-LEAST-ONCE per epoch, written outside the checkpoint commit.
        If the handle succeeds but the history write itself fails, the
        epoch replays → duplicate handle side effects AND a possible
        success row for an epoch whose commit never landed; a replayed
        epoch likewise re-records its attempt. Consumers that need
        exactly-one row per attempt should dedupe on
        (batch_id, epoch_id, success) keeping the latest flushed_at."""
        if not fsutil.is_dir(self.spark, self.history_dir):
            return _local_frame(self.spark, [], FLUSH_HISTORY_SCHEMA)
        df = self.spark.read.schema(FLUSH_HISTORY_SCHEMA).parquet(self.history_dir)
        df = df.orderBy(F.col("flushed_at").desc(), F.col("epoch_id").desc())
        return df.limit(limit) if limit is not None else df

    def _count_staged(self, names: set[str]) -> int:
        """Row count across a set of staging-file basenames (0 if empty).
        ``ignoreMissingFiles``: a concurrent vacuum or delete_batch may
        remove a file between the caller's listing snapshot and this
        read — a control-plane count must degrade, not crash."""
        paths = [
            os.path.join(self.staging_dir, n) for n in names if n.endswith(".parquet")
        ]
        if not paths:
            return 0
        return (
            self.spark.read.schema(self.item_schema)
            .option("ignoreMissingFiles", "true")
            .parquet(*paths)
            .count()
        )

    @staticmethod
    def _pending_names(by_epoch: dict[int, set[str]], existing: set[str]) -> set[str]:
        """Staged parquet basenames not admitted by ANY epoch — the
        accumulating batch's contents (shared by list_batches and
        delete_batch so the two APIs can never disagree)."""
        admitted: set[str] = set().union(*by_epoch.values()) if by_epoch else set()
        return {n for n in existing - admitted if n.endswith(".parquet")}

    @staticmethod
    def _tombstoned(existing: set[str]) -> set[int]:
        """Sequences whose COMMITTED batch document was deleted
        (lib.ts:300-337 deletes the batch doc itself, so the batch
        disappears from getAllBatchesForBaseId). The epoch number lives
        immutably in the checkpoint source log, so deletion is recorded
        as a ``_deleted_{seq}`` marker file in staging; list_batches
        omits marked sequences and delete_batch reports them not-found."""
        out: set[int] = set()
        for n in existing:
            if n.startswith("_deleted_") and not n.startswith("_deleted_acc_"):
                try:
                    out.add(int(n[len("_deleted_"):]))
                except ValueError:
                    pass
        return out

    @staticmethod
    def _acc_tombstoned(existing: set[str]) -> set[int]:
        """Sequences whose EMPTY ACCUMULATING batch doc was deleted
        (``_deleted_acc_{seq}`` markers). Unlike committed tombstones
        these are conditional: they only suppress the accumulating entry
        while it stays empty — the reference recreates the batch doc
        when items arrive again, so staged ROWS (zero-row files don't
        count — same emptiness predicate as delete_batch) or an admitted
        epoch under the same sequence void the marker (it is simply
        ignored for any sequence other than the CURRENT empty
        next_seq)."""
        out: set[int] = set()
        for n in existing:
            if n.startswith("_deleted_acc_"):
                try:
                    out.add(int(n[len("_deleted_acc_"):]))
                except ValueError:
                    pass
        return out

    def list_batches(self) -> list[dict]:
        """getAllBatchesForBaseId (lib.ts:246-277) over the epoch model:
        ``sequence`` ≡ foreachBatch ``epoch_id`` (D6), ``batch_id`` is the
        composed ``base::seq`` (P6, lib.ts:62). A COMMITTED epoch is a
        ``completed`` batch; an admitted-but-uncommitted epoch (failed
        flush pending retry) is ``flushing``; staged files not yet
        admitted form the current ``accumulating`` batch with
        sequence = next epoch.

        ``item_count`` counts rows whose staging files still exist — the
        reference computes itemCount from live batchItems and deletes
        them at flush (lib.ts:622-634; ``vacuum_staging`` is that
        deletion here), so a completed batch counts its flushed size
        until vacuumed, 0 after. ``last_updated_at`` mirrors
        max(batchItems.createdAt) via file mtimes, falling back to the
        batch's own timestamp — here the epoch's flush-history time
        (lib.ts:259-267)."""
        if not self._ensure_staging():
            return []  # nothing ever staged → no batch docs (lib.ts:251-253)
        from urllib.parse import unquote, urlparse

        by_epoch = self._source_epoch_files()
        committed = self._committed_epochs()
        # one listStatus snapshot: names AND mtimes together (no per-file
        # stat round-trips, no stat-after-delete race)
        statuses = fsutil.list_statuses(self.spark, self.staging_dir)
        existing = set(statuses)
        hist_at: dict[int, dt.datetime] = {}
        for r in self.flush_history().collect():
            hist_at.setdefault(r.epoch_id, r.flushed_at)  # newest-first order

        # ONE Spark job for every per-file row count — a listing must not
        # cost O(epochs) jobs; zero-row/vanished files simply don't appear
        counts: dict[str, int] = {}
        live_parquet = sorted(n for n in existing if n.endswith(".parquet"))
        if live_parquet:
            rows = (
                self.spark.read.schema(self.item_schema)
                .option("ignoreMissingFiles", "true")
                .parquet(*[os.path.join(self.staging_dir, n) for n in live_parquet])
                .groupBy(F.input_file_name().alias("_f"))
                .count()
                .collect()
            )
            counts = {
                os.path.basename(unquote(urlparse(r["_f"]).path)): r["count"]
                for r in rows
            }

        # The reference's batch doc ALWAYS carries createdAt (schema.ts) —
        # an empty accumulating batch (no staged files, no history row)
        # must still report a concrete timestamp, not None: fall back to
        # the newest staging-dir mtime, else now (batch doc creation time)
        dir_fallback = (
            dt.datetime.fromtimestamp(max(statuses.values()))
            if statuses else dt.datetime.now()
        )

        def entry(seq: int, names: set[str], status: str) -> dict:
            live = names & existing
            times = [statuses[n] for n in live]
            fallback = hist_at.get(seq) or dir_fallback
            return {
                "batch_id": f"{self.batch_id}::{seq}",
                "base_batch_id": self.batch_id,
                "sequence": seq,
                "item_count": sum(counts.get(n, 0) for n in live),
                "status": status,
                "created_at": dt.datetime.fromtimestamp(min(times)) if times else fallback,
                "last_updated_at": dt.datetime.fromtimestamp(max(times)) if times else fallback,
            }

        deleted = self._tombstoned(existing)
        out = [
            entry(seq, names, "completed" if seq in committed else "flushing")
            for seq, names in sorted(by_epoch.items())
            if seq not in deleted  # deleted batch docs vanish (lib.ts:300-337)
        ]
        next_seq = max(by_epoch) + 1 if by_epoch else 0
        pending = self._pending_names(by_epoch, existing)
        # a deleted EMPTY accumulating batch stays hidden until ITEMS
        # arrive again (the reference recreates the doc on the next add).
        # "Empty" is the same predicate delete_batch uses — zero ROWS, not
        # zero files: a zero-row staged parquet (add_dataframe of an empty
        # frame) has no items, so it neither blocks the delete there nor
        # voids the marker here.
        pending_rows = sum(counts.get(n, 0) for n in pending)
        if pending_rows > 0 or next_seq not in self._acc_tombstoned(existing):
            out.append(entry(next_seq, pending, "accumulating"))
        return out

    def delete_batch(self, sequence: int) -> dict:
        """deleteBatch (lib.ts:300-337): refuse while flushing or with
        pending items, else delete the batch's staged items — the
        reference's batchItems deletion; flush-history audit rows
        survive, exactly as the reference keeps flushHistory."""
        if not self._ensure_staging():
            return {"deleted": False, "reason": "Batch not found"}
        by_epoch = self._source_epoch_files()
        committed = self._committed_epochs()
        existing = set(fsutil.listdir(self.spark, self.staging_dir))
        next_seq = max(by_epoch) + 1 if by_epoch else 0
        if sequence not in by_epoch and sequence != next_seq:
            return {"deleted": False, "reason": "Batch not found"}
        if sequence in self._tombstoned(existing):
            # batch doc already deleted — the reference's second delete
            # hits a missing document (lib.ts:304-306)
            return {"deleted": False, "reason": "Batch not found"}
        if sequence in by_epoch and sequence not in committed:
            # admitted but no commit: a flush is in flight (or failed and
            # pending its at-least-once retry) — deleting its files would
            # corrupt the replay (lib.ts:312-314)
            return {"deleted": False, "reason": "Cannot delete batch while flushing"}
        if sequence == next_seq:
            if self._count_staged(self._pending_names(by_epoch, existing)) > 0:
                return {"deleted": False, "reason": "Cannot delete batch with pending items"}
            if sequence in self._acc_tombstoned(existing):
                # already deleted and still empty — the doc is gone until
                # items arrive and recreate it (lib.ts:304-306)
                return {"deleted": False, "reason": "Batch not found"}
            # empty accumulating batch (lib.ts:323-325): mark the doc
            # deleted; staged items or a flush under this sequence void
            # the marker (the reference recreates the doc on re-add)
            fsutil.write_text(
                self.spark,
                os.path.join(self.staging_dir, f"_deleted_acc_{sequence}"),
                "",
                overwrite=True,
            )
            return {"deleted": True}
        for name in by_epoch.get(sequence, set()) & existing:
            fsutil.delete(self.spark, os.path.join(self.staging_dir, name))
        # tombstone AFTER the item deletes: the batch doc disappears from
        # getAllBatchesForBaseId (lib.ts deletes the doc itself); flush
        # history survives as the audit trail
        fsutil.write_text(
            self.spark,
            os.path.join(self.staging_dir, f"_deleted_{sequence}"),
            "",
            overwrite=True,
        )
        return {"deleted": True}

    def status(self) -> dict:
        """getBatchStatus (lib.ts:206-253): PENDING item count + flush stats.

        Parity note: the reference's currentItemCount counts un-flushed
        items only (flushed rows are deleted, lib.ts:622-634), so pending
        here counts staging files NOT in committed epochs — computed on
        demand, never stored (T3/schema.ts:9)."""
        staged = 0
        if self._ensure_staging():
            committed = self._committed_files()
            staged = self._count_staged(
                {
                    f
                    for f in fsutil.listdir(self.spark, self.staging_dir)
                    if f not in committed
                }
            )
        hist = self.flush_history()
        agg = hist.agg(
            F.count(F.lit(1)).alias("attempts"),
            F.sum(F.when(F.col("success"), F.col("item_count")).otherwise(0)).alias("flushed_items"),
            F.max("flushed_at").alias("last_flush_at"),
        ).collect()[0]
        return {
            "batch_id": self.batch_id,
            "staged_item_count": staged,
            "flush_attempts": agg["attempts"],
            "flushed_items": agg["flushed_items"] or 0,
            "last_flush_at": agg["last_flush_at"],
        }

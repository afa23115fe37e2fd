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
| addItems append-only items log (lib.ts:87)  | one driver-written parquet file per add in a staging dir (append-only by construction — no write conflicts, T2; no Spark job) |
| interval timer per batch (lib.ts:76-83)     | ``trigger(processingTime=...)``       |
| size-threshold immediate flush (lib.ts:104) | ``maxFilesPerTrigger`` admission + the add path nudging a manual run |
| manual flush (lib.ts:123-179)               | one-shot ``Trigger.AvailableNow`` run |
| snapshot cutoff createdAt < flushStartedAt  | micro-batch offset range — exact by construction (D3) |
| stranded-item carryover (lib.ts:635-662)    | files landing mid-batch are simply the next epoch's offsets (D4) |
| at-least-once + retry (lib.ts:694-710)      | foreachBatch failure fails the query; restart replays the SAME epoch from the checkpoint (D5) |
| batch sequence `base::N` (lib.ts:55-62)     | ``epoch_id`` of foreachBatch (D6)     |
| single-winner flush races (lib.ts:471-544)  | single streaming writer + checkpoint — races don't exist (D7) |
| flushHistory audit rows (lib.ts:599-619)    | one driver-written history parquet file per epoch attempt (D9; no Spark job) |
| retention: keep newest completed (lib.ts:671-692) | ``cleanup_staging`` rank-and-delete maintenance (D8) |

Scale: the staging dir is the pattern's weak point at 100 TB if files are
tiny — the accumulator exists precisely to coalesce; ``add_items`` writes
one parquet file per call (one "add"), and the flush callback sees an
epoch-bounded DataFrame it can repartition/write at any width. On a real
cluster the staging dir would be object storage + file-notification source,
or Kafka with ``maxOffsetsPerTrigger`` as the size trigger; the code paths
are identical. Rows built on the driver (added items, flush-history rows)
never become a Spark job: they are checked and converted as
``createDataFrame`` would, into one Arrow table (``_arrow_table``),
serialized to parquet in memory and committed through the Hadoop FS API
as ``part-<uuid>.snappy.parquet`` via a hidden ``_``-prefixed tmp file
and a rename (``fsutil.write_bytes``). Spark's file listing skips hidden
names, so a flush never admits a half-written add; the views apply the
same rule (``_hidden``), so they count and time exactly what a flush can
admit.

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
from pyspark.sql.streaming import StreamingQuery
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


def _arrow_table(rows: list, schema: T.StructType):
    """``rows`` as the ``pyarrow.Table`` that ``spark.createDataFrame(rows,
    schema)`` would hold.

    Each row takes the same Python steps as the list path — the type
    verifier, the dict/tuple converter, ``StructType.toInternal`` (so a
    naive datetime is still read in the process time zone) and the JVM's
    HALF_UP decimal rounding. One difference: a decimal too wide for its
    precision raises here (``ArrowInvalid``), not later inside the job
    that reads the rows."""
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
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def _local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with an Arrow transport: a
    ``LocalTableScan``, where the list path's ``parallelize`` builds a
    ``PythonRDD`` and every job over it starts a Python worker."""
    return spark.createDataFrame(_arrow_table(rows, schema), schema=schema)


def _write_parquet_file(spark: SparkSession, directory: str, rows: list,
                        schema: T.StructType) -> None:
    """Commit ``rows`` as one new ``part-<uuid>.snappy.parquet`` file in
    ``directory``, serialized on the driver: no Spark job. The file
    carries the footer keys a Spark write sets, so every reader — a
    schema-less ``spark.read.parquet`` included — sees the same types and
    reads its datetimes as proleptic Gregorian (no legacy rebase)."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    table = _arrow_table(rows, schema).replace_schema_metadata({
        "org.apache.spark.version": spark.version,
        "org.apache.spark.sql.parquet.row.metadata": schema.json(),
    })
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    fsutil.write_bytes(
        spark,
        os.path.join(directory, f"part-{uuid.uuid4()}.snappy.parquet"),
        sink.getvalue().to_pybytes(),
    )


def _hidden(name: str) -> bool:
    """Spark's file listing skips this name, so a flush never admits it:
    ``_``-prefixed (unless it holds a ``=``, a partition-style name),
    ``.``-prefixed, or an in-progress ``._COPYING_`` upload. In-flight
    tmp files, checksums and the deletion markers are all hidden."""
    return ((name.startswith("_") and "=" not in name) or name.startswith(".")
            or name.endswith("._COPYING_"))


@dataclass(frozen=True)
class _Staging:
    """One snapshot of an accumulator's bookkeeping, read once per view
    call: every epoch the stream ADMITTED with its staging-file basenames
    (checkpoint source log), the epochs whose commit landed (checkpoint
    commits/), and one staging listing split by Spark's hidden-name rule:
    the files a flush can admit (basename -> mtime) and the hidden names.
    Every derived set below comes from this one read, so the views cannot
    disagree with each other or with what a flush admits."""

    epochs: dict[int, set[str]]
    committed: set[int]
    files: dict[str, float]
    hidden: set[str]

    @property
    def next_seq(self) -> int:
        """Sequence of the accumulating batch: the next epoch id."""
        return max(self.epochs) + 1 if self.epochs else 0

    def committed_files(self) -> set[str]:
        """Listed staging files that belong to COMMITTED epochs."""
        names = set().union(*(self.epochs.get(e, set()) for e in self.committed))
        return names & self.files.keys()

    def pending_files(self) -> set[str]:
        """Visible parquet files not admitted by ANY epoch — the
        accumulating batch's contents."""
        admitted = set().union(*self.epochs.values())
        return {n for n in self.files if n.endswith(".parquet") and n not in admitted}

    def markers(self, prefix: str) -> set[int]:
        """Sequences carrying a ``{prefix}{seq}`` deletion marker in staging.

        ``_deleted_{seq}``: the COMMITTED batch document was deleted
        (lib.ts:300-337 deletes the batch doc itself, so the batch
        disappears from getAllBatchesForBaseId). The epoch number lives
        immutably in the checkpoint source log, so deletion is recorded
        as a marker file; list_batches omits marked sequences and
        delete_batch reports them not-found.

        ``_deleted_acc_{seq}``: the EMPTY ACCUMULATING batch doc was
        deleted. Unlike committed tombstones these are conditional: they
        only suppress the accumulating entry while it stays empty — the
        reference recreates the batch doc when items arrive again, so
        staged ROWS (zero-row files don't count — same emptiness
        predicate as delete_batch) or an admitted epoch under the same
        sequence void the marker (it is simply ignored for any sequence
        other than the CURRENT empty next_seq).

        The ``_deleted_`` prefix never picks up an ``_deleted_acc_``
        marker: ``acc_N`` is not a number."""
        tails = (n[len(prefix):] for n in self.hidden if n.startswith(prefix))
        return {int(t) for t in tails if t.isascii() and t.isdecimal()}


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
        before anything is written), then written from the driver as one
        parquet file: an add starts no Spark job."""
        if not items:
            return 0
        # one file per add: the add is the atomic unit the size trigger counts
        _write_parquet_file(self.spark, self.staging_dir, items, self.item_schema)
        return len(items)

    def add_dataframe(self, df: DataFrame) -> None:
        """Bulk staging append (the Spark-native add path)."""
        df.write.mode("append").parquet(self.staging_dir)

    # --- flush machinery ----------------------------------------------------

    def _start_stream(self, query_name: str, **trigger) -> StreamingQuery:
        """The accumulating stream: staged files -> ``_foreach_batch``,
        checkpointed, under the given trigger."""
        reader = self.spark.readStream.schema(self.item_schema).format("parquet")
        if self.immediate_flush_threshold is not None:
            # admission control ≈ size trigger: an epoch closes once this
            # many staged files are admitted (D1 size path)
            reader = reader.option("maxFilesPerTrigger", self.immediate_flush_threshold)
        return (
            reader.load(self.staging_dir)
            .writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(**trigger)
            .queryName(query_name)
            .start()
        )

    def _record_history(self, epoch_id: int, item_count: int, duration_ms: int,
                        success: bool, error: str | None) -> None:
        row = (self.batch_id, epoch_id, item_count, dt.datetime.now(),
               duration_ms, success, error)
        _write_parquet_file(self.spark, self.history_dir, [row], FLUSH_HISTORY_SCHEMA)

    def _foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Epoch executor ≈ executeFlush (lib.ts:546-597): dispatch the
        registered handle, record history, propagate failure so the
        checkpoint replays the epoch (at-least-once, D5).

        The handle gets the epoch's frame UNCACHED: the pre-count needs
        no column, so it reads only the admitted files' parquet footers,
        and the handle's own action is the one full scan. A handle that
        runs several actions over the frame should ``persist`` it (and
        ``unpersist`` before returning)."""
        handle = self.registry.resolve(self.process_batch)
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
        q = self._start_stream(f"flush-{self.batch_id}-{uuid.uuid4().hex[:8]}",
                               availableNow=True)
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
        return self._start_stream(f"accumulate-{self.batch_id}",
                                  processingTime=f"{self.flush_interval_s} seconds")

    # --- D8 retention: delete flushed staging files -------------------------

    def _source_epoch_files(self) -> dict[int, set[str]]:
        """Staging file BASENAMES per epoch, from the checkpoint's
        FileStreamSource log — every epoch the stream ever ADMITTED,
        whether its commit landed or not. All filesystem access goes
        through the Hadoop FS API (fsutil) so the root may be an object
        store; comparison is by basename because the source log stores
        percent-encoded URIs while directory listings return raw paths —
        staging is one flat dir of part-files whose names carry a UUID
        (globally unique and URI-safe), so basenames identify exactly.

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

    def _staging(self) -> _Staging:
        """The one bookkeeping read behind each view (see ``_Staging``)."""
        commits_dir = os.path.join(self.checkpoint_dir, "commits")
        # one listStatus snapshot: names AND mtimes together (no
        # per-file stat round-trips, no stat-after-delete race)
        listing = fsutil.list_statuses(self.spark, self.staging_dir)
        return _Staging(
            epochs=self._source_epoch_files(),
            committed={int(n) for n in fsutil.listdir(self.spark, commits_dir) if n.isdigit()},
            files={n: t for n, t in listing.items() if not _hidden(n)},
            hidden={n for n in listing if _hidden(n)},
        )

    def _row_counts(self, names) -> dict[str, int]:
        """Row count per staging parquet file among ``names``: ONE Spark
        job for all of them (a listing must not cost O(epochs) jobs), and
        none when there is no parquet file. Zero-row files do not appear.
        ``ignoreMissingFiles``: a concurrent vacuum or delete_batch may
        remove a file between the caller's listing and this read — a
        control-plane count must degrade, not crash."""
        from urllib.parse import unquote, urlparse

        paths = [
            os.path.join(self.staging_dir, n) for n in sorted(names) if n.endswith(".parquet")
        ]
        if not paths:
            return {}
        rows = (
            self.spark.read.schema(self.item_schema)
            .option("ignoreMissingFiles", "true")
            .parquet(*paths)
            .groupBy(F.input_file_name().alias("_f"))
            .count()
            .collect()
        )
        return {os.path.basename(unquote(urlparse(r["_f"]).path)): r["count"] for r in rows}

    def vacuum_staging(self) -> list[str]:
        """Delete staging files whose epochs are COMMITTED (the reference
        deletes flushed batchItems, lib.ts:622-634). Uncommitted epochs
        (failed flushes pending retry) keep their files, preserving
        at-least-once. Returns the deleted paths.
        """
        doomed = [
            os.path.join(self.staging_dir, name)
            for name in sorted(self._staging().committed_files())
        ]
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
        s = self._staging()
        hist_at: dict[int, dt.datetime] = {}
        for r in self.flush_history().collect():
            hist_at.setdefault(r.epoch_id, r.flushed_at)  # newest-first order
        counts = self._row_counts(s.files)

        # The reference's batch doc ALWAYS carries createdAt (schema.ts) —
        # an empty accumulating batch (no staged files, no history row)
        # must still report a concrete timestamp, not None: fall back to
        # the newest visible staging file's mtime, else now (batch doc
        # creation time)
        dir_fallback = (
            dt.datetime.fromtimestamp(max(s.files.values()))
            if s.files else dt.datetime.now()
        )

        def entry(seq: int, names: set[str], status: str) -> dict:
            live = names & s.files.keys()
            times = [s.files[n] for n in live]
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

        deleted = s.markers("_deleted_")
        out = [
            entry(seq, names, "completed" if seq in s.committed else "flushing")
            for seq, names in sorted(s.epochs.items())
            if seq not in deleted  # deleted batch docs vanish (lib.ts:300-337)
        ]
        pending = s.pending_files()
        # a deleted EMPTY accumulating batch stays hidden until ITEMS
        # arrive again (the reference recreates the doc on the next add).
        # "Empty" is the same predicate delete_batch uses — zero ROWS, not
        # zero files: a zero-row staged parquet (add_dataframe of an empty
        # frame) has no items, so it neither blocks the delete there nor
        # voids the marker here.
        pending_rows = sum(counts.get(n, 0) for n in pending)
        if pending_rows > 0 or s.next_seq not in s.markers("_deleted_acc_"):
            out.append(entry(s.next_seq, pending, "accumulating"))
        return out

    def delete_batch(self, sequence: int) -> dict:
        """deleteBatch (lib.ts:300-337): refuse while flushing or with
        pending items, else delete the batch's staged items — the
        reference's batchItems deletion; flush-history audit rows
        survive, exactly as the reference keeps flushHistory."""
        if not self._ensure_staging():
            return {"deleted": False, "reason": "Batch not found"}
        s = self._staging()
        if sequence not in s.epochs and sequence != s.next_seq:
            return {"deleted": False, "reason": "Batch not found"}
        if sequence in s.markers("_deleted_"):
            # batch doc already deleted — the reference's second delete
            # hits a missing document (lib.ts:304-306)
            return {"deleted": False, "reason": "Batch not found"}
        if sequence in s.epochs and sequence not in s.committed:
            # admitted but no commit: a flush is in flight (or failed and
            # pending its at-least-once retry) — deleting its files would
            # corrupt the replay (lib.ts:312-314)
            return {"deleted": False, "reason": "Cannot delete batch while flushing"}
        if sequence == s.next_seq:
            if sum(self._row_counts(s.pending_files()).values()) > 0:
                return {"deleted": False, "reason": "Cannot delete batch with pending items"}
            if sequence in s.markers("_deleted_acc_"):
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
        for name in s.epochs.get(sequence, set()) & s.files.keys():
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
            s = self._staging()
            staged = sum(self._row_counts(s.files.keys() - s.committed_files()).values())
        # coalesce(1): the global aggregate then needs no exchange, so it is
        # one job over the (tiny, control-plane) history rows, not two
        hist = self.flush_history().coalesce(1)
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

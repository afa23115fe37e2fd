"""Batch accumulator — the reference's core subsystem (SURVEY.md §2.9
D1-D9): a flush state machine on the accumulator's own epoch log, whose
epochs Spark reads as batch DataFrames.

Reference semantics (convex-batch-processor, src/component/lib.ts:24-730):
collect items into a named batch; flush to a user callback when (a) an
interval timer fires, (b) an add crosses a size threshold, or (c) a manual
flush is requested; snapshot-cutoff isolation per flush; at-least-once
delivery with failure retry; per-flush audit history; retention cleanup.

Mapping:

| reference                                   | here                                  |
|---------------------------------------------|---------------------------------------|
| addItems append-only items log (lib.ts:87)  | one driver-written parquet file per add in a staging dir (append-only by construction — no write conflicts, T2; no Spark job) |
| interval timer per batch (lib.ts:76-83)     | ``start()``: a daemon thread calling ``flush_now`` every ``flush_interval_s`` |
| size-threshold immediate flush (lib.ts:104) | ``immediate_flush_threshold``: at most that many staged files per epoch |
| manual flush (lib.ts:123-179)               | ``flush_now``                         |
| snapshot cutoff createdAt < flushStartedAt  | the epoch's file list, logged as ``checkpoint/epochs/N.json`` before it is read (D3) |
| stranded-item carryover (lib.ts:635-662)    | files staged after the flush's one staging listing form the next epoch (D4) |
| at-least-once + retry (lib.ts:694-710)      | an epoch logged without ``checkpoint/commits/N`` replays with its logged files on the next flush, timer tick or restart (D5) |
| batch sequence `base::N` (lib.ts:55-62)     | epoch id N, contiguous from 0 (D6)    |
| single-winner flush races (lib.ts:471-544)  | one lock per accumulator serializes flushes; epoch log and commit files are create-only (D7) |
| flushHistory audit rows (lib.ts:599-619)    | one driver-written history parquet file per epoch attempt (D9; no Spark job) |
| retention: keep newest completed (lib.ts:671-692) | ``vacuum_staging`` deletes committed epochs' files (D8) |

Scale: ``add_items`` writes one parquet file per call (one "add"), and
the handle sees an epoch-bounded DataFrame it can repartition/write at
any width; every control-plane file goes through the Hadoop FS API
(``fsutil``), so the root may be an object store. Driver-built rows
(added items, history rows) start no Spark job: they are checked and
converted as ``createDataFrame`` would (``_arrow_table``), serialized to
parquet in memory and committed as ``part-<uuid>.snappy.parquet`` via a
hidden ``_``-prefixed tmp file and a rename (``fsutil.write_bytes``).
Flushes and views skip hidden names as Spark's listing does
(``_hidden``), so no epoch admits a half-written add.

Bookkeeping reads start no Spark job either: item counts (a flush's
epoch size, the views' staged and per-batch counts) are the row counts
in the staging files' parquet footers, and the views read the one-row
history files on the driver (``_history_rows``). The only jobs a flush
starts are the ones its handle runs.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_converter, _make_type_verifier

from .. import fsutil
from ..sources.registry import HandleRegistry, default_registry

#: a hidden ``_….tmp`` staging file older than this many seconds is a
#: write that died between write and rename; ``vacuum_staging`` deletes it
STALE_TMP_S = 3600.0

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


class _HistoryRow(NamedTuple):
    """The flush-history columns the views read."""

    epoch_id: int
    item_count: int
    success: bool
    flushed_at: dt.datetime  # naive local time, as ``collect()`` returns it


def _hidden(name: str) -> bool:
    """Spark's file listing skips this name, and so does a flush:
    ``_``-prefixed (unless it holds a ``=``, a partition-style name),
    ``.``-prefixed, or an in-progress ``._COPYING_`` upload. In-flight
    tmp files, checksums and the deletion markers are all hidden."""
    return ((name.startswith("_") and "=" not in name) or name.startswith(".")
            or name.endswith("._COPYING_"))


@dataclass(frozen=True)
class _Staging:
    """One snapshot of an accumulator's bookkeeping, read once per view
    call and once per flush: every LOGGED epoch with its staging-file
    basenames (``checkpoint/epochs/``), the epochs whose commit landed
    (``checkpoint/commits/``), and one staging listing split by Spark's
    hidden-name rule: the files a flush can admit and the hidden names,
    each with its mtime. Every derived set below comes from this one
    read, so the views cannot disagree with each other or with what a
    flush admits."""

    epochs: dict[int, set[str]]
    committed: set[int]
    files: dict[str, float]
    hidden: dict[str, float]

    @property
    def next_seq(self) -> int:
        """Sequence of the accumulating batch: the next epoch id."""
        return max(self.epochs) + 1 if self.epochs else 0

    def committed_files(self) -> set[str]:
        """Listed staging files that belong to COMMITTED epochs."""
        names = set().union(*(self.epochs.get(e, set()) for e in self.committed))
        return names & self.files.keys()

    def pending_files(self) -> set[str]:
        """Visible parquet files not logged in ANY epoch — the
        accumulating batch's contents."""
        logged = set().union(*self.epochs.values())
        return {n for n in self.files if n.endswith(".parquet") and n not in logged}

    def markers(self, prefix: str) -> set[int]:
        """Sequences carrying a ``{prefix}{seq}`` deletion marker in staging.

        ``_deleted_{seq}``: the COMMITTED batch document was deleted
        (lib.ts:300-337 deletes the doc itself). The epoch stays in the
        immutable epoch log, so list_batches omits marked sequences and
        delete_batch reports them not-found.

        ``_deleted_acc_{seq}``: the EMPTY ACCUMULATING batch doc was
        deleted. The marker only counts for the CURRENT next_seq while it
        holds no staged ROWS (zero-row files don't count — delete_batch's
        emptiness predicate): the reference recreates the doc when items
        arrive again. (``acc_N`` is not a number, so the ``_deleted_``
        prefix never picks these up.)"""
        tails = (n[len(prefix):] for n in self.hidden if n.startswith(prefix))
        return {int(t) for t in tails if t.isascii() and t.isdecimal()}


class _EpochFailed(RuntimeError):
    """The handle raised inside an epoch; the attempt is in the history."""


class FlushTimer(threading.Thread):
    """The interval flush ``BatchAccumulator.start`` returns: a daemon
    thread that flushes every ``flush_interval_s`` until ``stop``. A
    failed tick is in the history and its epoch replays on the next tick,
    as the reference reschedules a failed flush (lib.ts:694-710)."""

    def __init__(self, acc: BatchAccumulator) -> None:
        super().__init__(name=f"accumulate-{acc.batch_id}", daemon=True)
        self.acc, self._stopped = acc, threading.Event()
        self.start()

    def run(self) -> None:
        while not self._stopped.wait(self.acc.flush_interval_s):
            self.acc._flush_unattended()

    def stop(self) -> None:
        """End the loop and join the thread (a running flush finishes)."""
        self._stopped.set()
        self.join()


@dataclass
class BatchAccumulator:
    """One accumulator = one logical batch stream (a reference ``baseBatchId``).

    Parameters mirror the reference's ``BatchConfig``
    (src/client/index.ts:204-213): ``process_batch`` (handle name),
    ``flush_interval_s`` (flushIntervalMs), ``immediate_flush_threshold``
    (size trigger, expressed as max staged files per epoch).
    """

    spark: SparkSession
    batch_id: str
    root: str  # working dir: staging/, checkpoint/, history/
    item_schema: T.StructType
    process_batch: str  # handle name resolved via registry at flush time
    flush_interval_s: float = 30.0
    immediate_flush_threshold: int | None = None
    registry: HandleRegistry = field(default_factory=lambda: default_registry)
    # one flush at a time per accumulator: the single winner (D7)
    _flush_lock: threading.Lock = field(default_factory=threading.Lock, init=False, compare=False)

    # --- paths --------------------------------------------------------------

    @property
    def staging_dir(self) -> str:
        return os.path.join(self.root, "staging")

    @property
    def checkpoint_dir(self) -> str:
        """The epoch log: ``epochs/N.json`` and ``commits/N``."""
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

    def _record_history(self, epoch_id: int, item_count: int, duration_ms: int,
                        success: bool, error: str | None) -> None:
        row = (self.batch_id, epoch_id, item_count, dt.datetime.now(),
               duration_ms, success, error)
        _write_parquet_file(self.spark, self.history_dir, [row], FLUSH_HISTORY_SCHEMA)

    def _deliver(self, batch_df: DataFrame, epoch_id: int, count: int) -> None:
        """Epoch executor ≈ executeFlush (lib.ts:546-597): dispatch the
        registered handle on the epoch's ``count`` items and record
        history; a handle failure is recorded, then raised as
        ``RuntimeError`` so the epoch stays uncommitted and replays
        (at-least-once, D5).

        The handle gets the epoch's frame UNCACHED, and its own actions
        are the only Spark jobs of the epoch: ``count`` comes from the
        files' parquet footers. A handle that runs several actions over
        the frame should ``persist`` it (and ``unpersist`` before
        returning)."""
        handle = self.registry.resolve(self.process_batch)
        start, failure = time.monotonic(), None
        try:
            handle(batch_df, epoch_id)
        except Exception as e:  # noqa: BLE001
            failure = e
        error = None if failure is None else f"{type(failure).__name__}: {failure}"
        dur = int((time.monotonic() - start) * 1000)
        self._record_history(epoch_id, count, dur, failure is None, error)
        if failure is not None:
            msg = f"flush failed in epoch {epoch_id} (re-calling retries it): {error}"
            raise _EpochFailed(msg) from failure

    def _run_epoch(self, epoch_id: int, names) -> None:
        """Deliver one LOGGED epoch: count its files' rows from their
        footers, run the handle over exactly those files, write history,
        then commit. An epoch with no rows is committed without a handle
        call (the empty-group short-circuit, lib.ts:157-159). A crash
        before the commit leaves the log entry, so the epoch replays with
        the same id and files."""
        count = sum(self._row_counts(names).values())
        if count:
            paths = [os.path.join(self.staging_dir, n) for n in sorted(names)]
            df = self.spark.read.schema(self.item_schema).parquet(*paths)
            self._deliver(df, epoch_id, count)
        commit = os.path.join(self.checkpoint_dir, "commits", str(epoch_id))
        fsutil.write_text(self.spark, commit, "")

    def _has_staging(self) -> bool:
        # before any add there is nothing to flush or list (flushBatch's
        # "no batch" early-out, lib.ts:141-148)
        return fsutil.is_dir(self.spark, self.staging_dir)

    def flush_now(self) -> bool:
        """Manual flush (D2). Under the accumulator's lock, from one
        staging snapshot: replay every logged epoch that has no commit, in
        epoch order, with its logged files; then cut the pending files,
        oldest first by (mtime, name), into new epochs of at most
        ``immediate_flush_threshold`` files (all when None), each logged
        before it is read. Returns False if nothing was ever staged.
        Raises ``RuntimeError`` if the user handle raised (after recording
        the attempt): the epoch stays logged without a commit, so the next
        flush retries it with the same files — at-least-once."""
        with self._flush_lock:
            if not self._has_staging():
                return False
            self.registry.resolve(self.process_batch)  # fail fast on bad handle names
            s = self._staging()
            for epoch_id in sorted(s.epochs.keys() - s.committed):
                self._run_epoch(epoch_id, s.epochs[epoch_id])
            pending = sorted(s.pending_files(), key=lambda n: (s.files[n], n))
            size = self.immediate_flush_threshold or max(len(pending), 1)
            for epoch_id, at in enumerate(range(0, len(pending), size), start=s.next_seq):
                names = pending[at:at + size]
                log = os.path.join(self.checkpoint_dir, "epochs", f"{epoch_id}.json")
                fsutil.write_text(self.spark, log, json.dumps(names))
                self._run_epoch(epoch_id, names)
            return True

    def _flush_unattended(self) -> None:
        """``flush_now`` for a caller nobody waits on (the timer, a
        background flush). A handle failure is already in the history and
        replays on the next flush; any other failure (an unregistered
        handle name, a storage error) is recorded as epoch -1 so it does
        not vanish with the thread."""
        try:
            self.flush_now()
        except _EpochFailed:
            pass
        except Exception as exc:  # noqa: BLE001
            with contextlib.suppress(Exception):  # last resort: never kill the thread
                self._record_history(-1, 0, 0, False, f"{type(exc).__name__}: {exc}")

    def start(self) -> FlushTimer:
        """Continuous accumulation (D1 time path): flush every
        ``flush_interval_s`` on a daemon thread; the caller owns ``stop()``."""
        return FlushTimer(self)

    # --- bookkeeping --------------------------------------------------------

    def _epoch_log(self) -> dict[int, set[str]]:
        """Staging-file basenames per logged epoch (``epochs/N.json``)."""
        log = os.path.join(self.checkpoint_dir, "epochs")
        # not an in-flight ``_N.json.<uuid>.tmp``
        names = [n for n in fsutil.listdir(self.spark, log)
                 if n.endswith(".json") and n[:-5].isdigit()]
        return {int(n[:-5]): set(json.loads(data))
                for n, data in fsutil.read_files(self.spark, log, names).items()}

    def _staging(self) -> _Staging:
        """The one bookkeeping read behind each view and flush (see ``_Staging``)."""
        commits_dir = os.path.join(self.checkpoint_dir, "commits")
        # one listStatus snapshot: names AND mtimes together (no
        # per-file stat round-trips, no stat-after-delete race)
        listing = fsutil.list_statuses(self.spark, self.staging_dir)
        return _Staging(
            epochs=self._epoch_log(),
            committed={int(n) for n in fsutil.listdir(self.spark, commits_dir) if n.isdigit()},
            files={n: t for n, t in listing.items() if not _hidden(n)},
            hidden={n: t for n, t in listing.items() if _hidden(n)},
        )

    def _row_counts(self, names) -> dict[str, int]:
        """Row count per staging parquet file among ``names``, from the
        files' footers on the driver: no Spark job. A concurrent vacuum or
        delete_batch may remove a file between the caller's listing and
        this read; such a file is left out (counts 0) — a control-plane
        count must degrade, not crash."""
        parquet = sorted(n for n in names if n.endswith(".parquet"))
        return fsutil.parquet_row_counts(self.spark, self.staging_dir, parquet)

    def _history_rows(self) -> list[_HistoryRow]:
        """Every flush-history row, read on the driver (no Spark job): the
        one shared reader behind ``status`` and ``list_batches``.
        ``flushed_at`` is converted as ``collect()`` converts it, so the
        views agree with ``flush_history()`` in any process time zone."""
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        names = [n for n in fsutil.listdir(self.spark, self.history_dir) if not _hidden(n)]
        ts = T.TimestampType()
        rows = []
        for data in fsutil.read_files(self.spark, self.history_dir, names).values():
            # ParquetFile.read: a quarter of read_table's per-file cost
            t = pq.ParquetFile(pa.BufferReader(data)).read(columns=list(_HistoryRow._fields))
            micros = t.column("flushed_at").cast(pa.int64()).to_pylist()
            rows += [
                _HistoryRow(e, n, ok, ts.fromInternal(at))
                for e, n, ok, at in zip(t.column("epoch_id").to_pylist(),
                                        t.column("item_count").to_pylist(),
                                        t.column("success").to_pylist(), micros)
            ]
        return rows

    # --- D8 retention: delete flushed staging files -------------------------

    def vacuum_staging(self) -> list[str]:
        """Delete staging files whose epochs are COMMITTED (the reference
        deletes flushed batchItems, lib.ts:622-634), and hidden
        ``_….tmp`` files older than ``STALE_TMP_S`` (adds that died
        between write and rename: no flush admits them and nothing else
        deletes them). Uncommitted epochs (failed flushes pending retry)
        keep their files, preserving at-least-once. Returns the deleted
        paths.
        """
        s = self._staging()
        cutoff = time.time() - STALE_TMP_S
        stale = {n for n, t in s.hidden.items()
                 if n.startswith("_") and n.endswith(".tmp") and t < cutoff}
        doomed = [
            os.path.join(self.staging_dir, name)
            for name in sorted(s.committed_files() | stale)
        ]
        for p in doomed:
            fsutil.delete(self.spark, p)
        return doomed

    # --- views (getBatchStatus / getFlushHistory parity) --------------------

    def flush_history(self, limit: int | None = None) -> DataFrame:
        """getFlushHistory (lib.ts:279-301): newest-first audit rows.

        Delivery caveat (inherent to the at-least-once model): history rows
        are AT-LEAST-ONCE per epoch, written before the epoch's commit.
        If the history write or the commit fails after the handle
        succeeded, the epoch replays → duplicate handle side effects AND
        possibly a success row for an epoch whose commit never landed; a
        replayed epoch likewise re-records its attempt. Consumers that
        need exactly-one row per attempt should dedupe on
        (batch_id, epoch_id, success) keeping the latest flushed_at."""
        if not fsutil.is_dir(self.spark, self.history_dir):
            return _local_frame(self.spark, [], FLUSH_HISTORY_SCHEMA)
        df = self.spark.read.schema(FLUSH_HISTORY_SCHEMA).parquet(self.history_dir)
        df = df.orderBy(F.col("flushed_at").desc(), F.col("epoch_id").desc())
        return df.limit(limit) if limit is not None else df

    def list_batches(self) -> list[dict]:
        """getAllBatchesForBaseId (lib.ts:246-277) over the epoch model:
        ``sequence`` ≡ epoch id (D6), ``batch_id`` is the composed
        ``base::seq`` (P6, lib.ts:62). A COMMITTED epoch is a
        ``completed`` batch; a logged-but-uncommitted epoch (flush in
        flight, or failed and pending retry) is ``flushing``; staged
        files in no epoch form the current ``accumulating`` batch with
        sequence = next epoch.

        ``item_count`` counts rows whose staging files still exist — the
        reference computes itemCount from live batchItems and deletes
        them at flush (lib.ts:622-634; ``vacuum_staging`` is that
        deletion here), so a completed batch counts its flushed size
        until vacuumed, 0 after. ``last_updated_at`` mirrors
        max(batchItems.createdAt) via file mtimes, falling back to the
        batch's own timestamp — here the epoch's flush-history time
        (lib.ts:259-267)."""
        if not self._has_staging():
            return []  # nothing ever staged → no batch docs (lib.ts:251-253)
        s = self._staging()
        hist_at: dict[int, dt.datetime] = {}
        for r in self._history_rows():
            hist_at[r.epoch_id] = max(r.flushed_at, hist_at.get(r.epoch_id, r.flushed_at))
        counts = self._row_counts(s.files)

        # the reference's batch doc ALWAYS carries createdAt (schema.ts): an
        # empty batch with no history row falls back to the newest visible
        # staging file's mtime, else now (batch doc creation time)
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
        # a deleted EMPTY accumulating batch stays hidden until ITEMS arrive
        # again (the reference recreates the doc on the next add); "empty"
        # is delete_batch's predicate: zero ROWS, so a zero-row staged
        # parquet neither blocks the delete there nor voids the marker here
        pending_rows = sum(counts.get(n, 0) for n in pending)
        if pending_rows > 0 or s.next_seq not in s.markers("_deleted_acc_"):
            out.append(entry(s.next_seq, pending, "accumulating"))
        return out

    def delete_batch(self, sequence: int) -> dict:
        """deleteBatch (lib.ts:300-337): refuse while flushing or with
        pending items, else delete the batch's staged items — the
        reference's batchItems deletion; flush-history audit rows
        survive, exactly as the reference keeps flushHistory."""
        if not self._has_staging():
            return {"deleted": False, "reason": "Batch not found"}
        s = self._staging()
        if sequence not in s.epochs and sequence != s.next_seq:
            return {"deleted": False, "reason": "Batch not found"}
        if sequence in s.markers("_deleted_"):
            # batch doc already deleted — the reference's second delete
            # hits a missing document (lib.ts:304-306)
            return {"deleted": False, "reason": "Batch not found"}
        if sequence in s.epochs and sequence not in s.committed:
            # logged but no commit: a flush is in flight (or failed and
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
            marker = os.path.join(self.staging_dir, f"_deleted_acc_{sequence}")
            fsutil.write_text(self.spark, marker, "", overwrite=True)
            return {"deleted": True}
        for name in s.epochs.get(sequence, set()) & s.files.keys():
            fsutil.delete(self.spark, os.path.join(self.staging_dir, name))
        # tombstone AFTER the item deletes: the batch doc disappears from
        # getAllBatchesForBaseId (lib.ts deletes the doc itself); flush
        # history survives as the audit trail
        fsutil.write_text(self.spark, os.path.join(self.staging_dir, f"_deleted_{sequence}"),
                          "", overwrite=True)
        return {"deleted": True}

    def status(self) -> dict:
        """getBatchStatus (lib.ts:206-253): PENDING item count + flush stats.

        Parity note: the reference's currentItemCount counts un-flushed
        items only (flushed rows are deleted, lib.ts:622-634), so pending
        here counts staging files NOT in committed epochs — computed on
        demand, never stored (T3/schema.ts:9).

        Starts no Spark job: the staged count sums parquet footers and
        the flush stats come from the history rows read on the driver
        (``last_flush_at`` is the naive local datetime ``collect()``
        returns). The cost grows with the number of history files, one
        per epoch attempt."""
        staged = 0
        if self._has_staging():
            s = self._staging()
            staged = sum(self._row_counts(s.files.keys() - s.committed_files()).values())
        history = self._history_rows()
        return {
            "batch_id": self.batch_id,
            "staged_item_count": staged,
            "flush_attempts": len(history),
            "flushed_items": sum(r.item_count for r in history if r.success),
            "last_flush_at": max((r.flushed_at for r in history), default=None),
        }

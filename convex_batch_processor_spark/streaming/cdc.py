"""Streaming CDC state maintenance: a continuously-updated
last-writer-wins keyed table with delete tombstones.

The batch twin is ``queries/llm17.cdc_apply_changelog`` (collapse a full
changelog to final state in one window); this view applies the same
semantics INCREMENTALLY from a micro-batch stream, the shape a
Debezium/Delta CDC feed needs: each epoch's delta is collapsed to
latest-per-key and merged into ONLY the hash buckets it touches.

Storage layout and commit protocol come from
``verstore.VersionedBucketStore`` (copy-on-write version dirs +
version-stamped manifest as the atomic commit point — idempotent under
at-least-once replay; the recovery argument is in verstore's module
docstring). What lives here is the merge state machine:

- state rows are the full latest row per key INCLUDING tombstones —
  a delete is data (op = 'D'), not an absence, so a LATE upsert with an
  older ordering key can never resurrect a deleted row (the tombstone
  out-ranks it), and a newer upsert correctly overwrites the tombstone;
- ``read()`` filters tombstones at the edge, where retention policy
  belongs (``compact()`` can drop tombstones older than a horizon once
  the source can no longer deliver rows that old — the watermark
  argument, left to the caller).

Scale: per-epoch cost is O(changed buckets), and the per-bucket merge is
one window over (old rows-per-key + delta rows-per-key) = O(delta) state
touched; the key-hash bucketing spreads hot keys no worse than any hash
partitioning (LWW collapse bounds every bucket's state at one row per
live key).

Reference parity: the patch-then-delete document state machine,
lib.ts:82,527-532,671-692 — expressed as idempotent set merges instead
of per-document mutations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .verstore import VersionedBucketStore


@dataclass
class CdcStateView(VersionedBucketStore):
    """Layout, manifest commit protocol, empty-safe version writes, reads,
    and vacuum come from :class:`VersionedBucketStore`; only the
    last-writer-wins collapse lives here."""

    spark: SparkSession
    root: str
    key_cols: list[str]
    order_cols: list[str]  # total order per key (last element must break ties)
    op_col: str = "op"  # 'U' upsert / 'D' delete
    n_buckets: int = 16

    # --- the state machine ---------------------------------------------------

    def _collapse(self, df: DataFrame) -> DataFrame:
        """Latest-row-per-key (tombstones included) — idempotent, so it
        collapses raw deltas AND merges prior collapsed state: the same
        shape in and out, which is what makes epochs composable."""
        if "bucket" not in df.columns:
            df = df.withColumn("bucket", self._bucket())
        w = Window.partitionBy("bucket", *self.key_cols).orderBy(
            *[F.col(c).desc() for c in self.order_cols]
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Merge one micro-batch of change rows as version ``epoch_id``.
        Recovery is :class:`VersionedBucketStore`'s: committed epochs are
        skipped (manifest = commit point), uncommitted ones redo from the
        newest committed parent."""
        if epoch_id in self.committed_versions():
            return
        delta = self._collapse(batch_df).persist()
        try:
            changed = [r.bucket for r in delta.select("bucket").distinct().collect()]
            if not changed:
                return
            parent = self._parent_manifest(epoch_id)
            by_version: dict[int, list[int]] = {}
            for b in changed:
                if str(b) in parent:
                    by_version.setdefault(parent[str(b)], []).append(b)
            merged = delta
            for ver, buckets in by_version.items():
                merged = merged.unionByName(
                    self.spark.read.parquet(self._version_dir(ver)).filter(
                        F.col("bucket").isin(buckets)
                    )
                )
            self._write_version(self._collapse(merged), epoch_id)
            manifest = dict(parent)
            manifest.update({str(b): epoch_id for b in changed})
            self._commit_manifest(epoch_id, manifest)
        finally:
            delta.unpersist()

    # --- readers -------------------------------------------------------------

    def read(self, version: int | None = None, with_tombstones: bool = False) -> DataFrame:
        """Final table state at a committed version (default latest):
        live rows only unless ``with_tombstones`` (audit/compaction)."""
        out = self._read_state(self._latest_version(version))
        if not with_tombstones:
            out = out.filter(F.col(self.op_col) != "D")
        return out.drop("bucket")

    # --- maintenance ---------------------------------------------------------

    def compact(self, epoch_id: int, drop_tombstones_where=None) -> None:
        """Full rewrite as version ``epoch_id``: every bucket re-collapsed
        into one version dir, optionally dropping tombstones that match
        ``drop_tombstones_where`` (a Column predicate over state rows —
        typically 'order col below the source's replay horizon', the
        caller's watermark argument). Live rows are never dropped.
        Same commit protocol as foreach_batch, so a crashed compaction
        redoes and a replayed one is skipped. A compact that drops
        EVERYTHING (all keys deleted, every tombstone past the horizon)
        commits an empty manifest over a schema-bearing empty version —
        read() then returns zero rows instead of crashing."""
        if epoch_id in self.committed_versions():
            return
        state = self.read(with_tombstones=True).withColumn("bucket", self._bucket())
        if drop_tombstones_where is not None:
            state = state.filter(
                (F.col(self.op_col) != "D") | ~drop_tombstones_where
            )
        self._write_version(state, epoch_id)
        self._commit_manifest(
            epoch_id, {str(b): epoch_id for b in self._written_buckets(epoch_id)}
        )

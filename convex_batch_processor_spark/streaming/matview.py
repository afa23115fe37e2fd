"""Incremental materialized-view maintenance with copy-on-write bucket
snapshots.

The reference's accumulator maintains APPEND state (staged items + a
history log); this module maintains AGGREGATE state: a keyed mergeable
aggregate (count / decimal sum / min / max) kept continuously up to date
from a stream, readable at any committed version.

Storage layout (a miniature LSM/Delta-style table):

    root/
      data/v=<epoch>/bucket=<b>/part-*.parquet   only buckets CHANGED in e
      manifest/v<epoch>.json                     {bucket: version-that-owns-it}

Each epoch merges its delta into ONLY the hash buckets the delta touches
(copy-on-write: untouched buckets stay owned by older versions, carried
forward by manifest reference — never rewritten). The manifest write is
the COMMIT POINT (atomic create+rename of a version-stamped file): a
replayed epoch whose manifest exists is skipped outright, and one that
died pre-commit redoes its version dir + manifest from the newest
committed parent — idempotent under retry: exactly-once state from
at-least-once delivery, the same contract the reference's flush loop
targets (lib.ts:546-597), achieved by versioning instead of locks.

Scale: per-epoch write cost is O(changed buckets), not O(state);
``n_buckets`` controls the rewrite granularity (4096+ on a real cluster —
a skewed epoch touching one hot key rewrites 1/4096th of the state).
Readers pay one manifest read + a bucket-pruned scan per referenced
version; ``vacuum`` bounds version sprawl.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from .verstore import VersionedBucketStore


@dataclass
class IncrementalAggView(VersionedBucketStore):
    """Continuously-maintained keyed aggregate: count, exact decimal sum,
    min, max of ``value_col`` per ``key_cols``.

    Layout, manifest commit protocol, empty-safe version writes, reads,
    and vacuum come from :class:`VersionedBucketStore` (shared with
    CdcStateView); only the mergeable-aggregate state machine lives
    here."""

    spark: SparkSession
    root: str
    key_cols: list[str]
    value_col: str
    n_buckets: int = 16

    # --- the aggregate ------------------------------------------------------

    def _aggregate(self, df: DataFrame) -> DataFrame:
        """Mergeable partial aggregate of raw rows OR of prior partials —
        the same shape in and out (count/sum re-sum, min/max re-min/max),
        which is what makes epochs composable."""
        if "n_rows" in df.columns:
            n = F.sum("n_rows").alias("n_rows")
            # cast back: Spark widens sum(decimal(28,2)) to (38,2); without
            # the cast, merged version dirs would carry a different decimal
            # precision than epoch-0 files (schema-unstable layout)
            sm = F.sum("sum_v").cast("decimal(28,2)").alias("sum_v")
            mn, mx = F.min("min_v").alias("min_v"), F.max("max_v").alias("max_v")
        else:
            v = F.col(self.value_col)
            n = F.count(F.lit(1)).alias("n_rows")
            sm = F.sum(v.cast("decimal(28,2)")).cast("decimal(28,2)").alias("sum_v")
            mn, mx = F.min(v).alias("min_v"), F.max(v).alias("max_v")
        return (
            df.withColumn("bucket", F.coalesce(F.col("bucket"), self._bucket()))
            if "bucket" in df.columns
            else df.withColumn("bucket", self._bucket())
        ).groupBy("bucket", *self.key_cols).agg(n, sm, mn, mx)

    # --- epoch merge (foreachBatch target) ----------------------------------

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Merge one micro-batch into the view as version ``epoch_id``.
        Idempotent: an ALREADY-COMMITTED epoch (its manifest exists — the
        manifest write is the commit point) is skipped outright, so
        replay after a post-commit failure is a no-op even if ``vacuum``
        has since dropped older manifests; an UNCOMMITTED epoch redoes
        its version dir and manifest from the newest committed parent,
        which every ``vacuum(keep_versions >= 1)`` retains."""
        if epoch_id in self.committed_versions():
            return
        delta = self._aggregate(batch_df).persist()
        try:
            changed = [r.bucket for r in delta.select("bucket").distinct().collect()]
            if not changed:
                return
            parent = self._parent_manifest(epoch_id)
            prev_parts = []
            by_version: dict[int, list[int]] = {}
            for b in changed:
                if str(b) in parent:
                    by_version.setdefault(parent[str(b)], []).append(b)
            for ver, buckets in by_version.items():
                prev_parts.append(
                    self.spark.read.parquet(self._version_dir(ver)).filter(
                        F.col("bucket").isin(buckets)
                    )
                )
            merged = delta
            for p in prev_parts:
                merged = merged.unionByName(p)
            self._write_version(self._aggregate(merged), epoch_id)
            manifest = dict(parent)
            manifest.update({str(b): epoch_id for b in changed})
            self._commit_manifest(epoch_id, manifest)
        finally:
            delta.unpersist()

    # --- readers ------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """The view at a committed version (default: latest) — one
        bucket-pruned scan per version the manifest references."""
        return self._read_state(self._latest_version(version)).drop("bucket")


@dataclass
class IncrementalJoinView:
    """Delta-join materialized view: V = A ⋈_key B kept up to date under
    APPEND-ONLY epoch deltas with the classic incremental-view rule

        ΔV_e = ΔA ⋈ B_{e-1}  ∪  A_{e-1} ⋈ ΔB  ∪  ΔA ⋈ ΔB

    (the DBSP / differential-dataflow bilinear form) — the JOIN sibling
    of IncrementalAggView. The reference maintains only append state;
    join views are the Spark-side generalization its consumers build on
    top (SURVEY §2.9 D1-D5 epoch discipline).

    Layout: ``a/v=N``, ``b/v=N`` (the epoch logs), ``view/v=N`` (the
    epoch's view delta), ``manifest/vN.json`` — the manifest write is
    the COMMIT POINT, exactly the IncrementalAggView recipe: a replayed
    committed epoch is a no-op; an uncommitted crash redoes its three
    dirs (mode=overwrite) from committed parents only, so at-least-once
    delivery yields exactly-once view contents.

    Scale: per-epoch cost is two delta-vs-state equi-joins (AQE
    broadcasts the delta side when small — the common case) plus the
    delta×delta join; reading the view is a union of epoch-delta scans
    (compact with ``sinks.compact`` when epoch count grows). The three
    delta terms are provably disjoint by epoch provenance, so no dedup
    step exists anywhere.
    """

    spark: SparkSession
    root: str
    key_col: str

    def _dir(self, kind: str, epoch: int) -> str:
        return os.path.join(self.root, kind, f"v={epoch}")

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "manifest")

    def committed_epochs(self) -> list[int]:
        out = []
        for name in fsutil.listdir(self.spark, self._manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _read_epochs(self, kind: str, epochs: list[int]) -> DataFrame | None:
        paths = [
            self._dir(kind, e)
            for e in epochs
            if fsutil.exists(self.spark, self._dir(kind, e))
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def apply_epoch(self, epoch_id: int, da: DataFrame, db: DataFrame) -> None:
        """Merge one epoch's append deltas into the view (idempotent)."""
        if epoch_id in self.committed_epochs():
            return
        overlap = (set(da.columns) & set(db.columns)) - {self.key_col}
        if overlap:
            raise ValueError(f"side columns must be disjoint, both have {overlap}")
        prior = [e for e in self.committed_epochs() if e < epoch_id]
        a_prev = self._read_epochs("a", prior)
        b_prev = self._read_epochs("b", prior)
        da.write.mode("overwrite").parquet(self._dir("a", epoch_id))
        db.write.mode("overwrite").parquet(self._dir("b", epoch_id))
        # Build the three delta terms from the PERSISTED logs, not the lazy
        # inputs: a non-deterministic input (recomputed source, sampled or
        # rand() column) would otherwise commit one set of rows to a/v=N
        # while the view delta re-evaluates to a different set, silently
        # breaking the recompute() differential contract.
        da = self.spark.read.parquet(self._dir("a", epoch_id))
        db = self.spark.read.parquet(self._dir("b", epoch_id))
        parts = [da.join(db, self.key_col)]
        if b_prev is not None:
            parts.append(da.join(b_prev, self.key_col))
        if a_prev is not None:
            parts.append(a_prev.join(db, self.key_col))
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        delta.write.mode("overwrite").parquet(self._dir("view", epoch_id))
        fsutil.write_text(
            self.spark,
            os.path.join(self._manifest_dir, f"v{epoch_id}.json"),
            json.dumps({"epoch": epoch_id}),
        )

    def read_view(self) -> DataFrame | None:
        return self._read_epochs("view", self.committed_epochs())

    def recompute(self) -> DataFrame | None:
        """Full A ⋈ B from the epoch logs — the differential-test twin."""
        a = self._read_epochs("a", self.committed_epochs())
        b = self._read_epochs("b", self.committed_epochs())
        if a is None or b is None:
            return None
        return a.join(b, self.key_col)


def join_view_foreach_batch(
    view: IncrementalJoinView,
    side_col: str = "_side",
    a_cols: list[str] | None = None,
    b_cols: list[str] | None = None,
):
    """Streaming entry for :class:`IncrementalJoinView`: a foreachBatch
    target for ONE multiplexed delta stream (rows tagged 'a'/'b' in
    ``side_col`` — the CDC-topic shape where several tables share a
    changelog). Each micro-batch splits into the two side deltas and
    applies as one epoch; idempotency under Structured Streaming's
    at-least-once epoch replay comes from apply_epoch's manifest commit.
    """

    def _fn(batch_df: DataFrame, epoch_id: int) -> None:
        # persist: the two side filters each traverse the micro-batch, and
        # in foreachBatch every action re-reads the epoch's staged input
        batch_df.persist()
        try:
            da = batch_df.filter(F.col(side_col) == "a").select(view.key_col, *(a_cols or []))
            db = batch_df.filter(F.col(side_col) == "b").select(view.key_col, *(b_cols or []))
            view.apply_epoch(epoch_id, da, db)
        finally:
            batch_df.unpersist()

    return _fn

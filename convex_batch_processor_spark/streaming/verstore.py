"""Copy-on-write versioned bucket store: the storage layout and commit
protocol under CdcStateView (cdc.py).

    root/
      data/v=<epoch>/bucket=<b>/part-*.parquet   only buckets CHANGED in e
      manifest/v<epoch>.json                     {bucket: version-that-owns-it}

Recovery: the manifest write is the COMMIT POINT (atomic create+rename of
a version-stamped file). An epoch whose manifest already exists was
committed, so a replay of it is skipped outright. An epoch that died
before its manifest landed left at most a half-written version dir that
no manifest references; its replay redoes the version dir and the
manifest from the newest committed parent strictly below it, never from
its own partial output. Each epoch therefore changes the state exactly
once under at-least-once delivery, and untouched buckets stay owned by
older versions, carried forward by manifest reference.

The consumer mixes this in over attributes ``spark``, ``root``,
``key_cols``, ``n_buckets`` and keeps only its own merge semantics (the
last-writer-wins collapse).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fsutil


class VersionedBucketStore:
    """Layout, manifest protocol, bucket hash, empty-safe version writes,
    manifest-driven reads, and vacuum — everything except the merge."""

    # --- layout ---------------------------------------------------------

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "manifest")

    def _version_dir(self, version: int) -> str:
        return os.path.join(self._data_dir, f"v={version}")

    # --- manifests ------------------------------------------------------

    def committed_versions(self) -> list[int]:
        out = []
        for name in fsutil.listdir(self.spark, self._manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _read_manifest(self, version: int) -> dict[str, int]:
        path = os.path.join(self._manifest_dir, f"v{version}.json")
        return json.loads(fsutil.read_text(self.spark, path))

    def _parent_manifest(self, epoch_id: int) -> dict[str, int]:
        """Latest committed manifest STRICTLY BELOW this epoch — a replayed
        epoch must merge from the same parent it used the first time, never
        from its own (possibly half-written) output."""
        parents = [v for v in self.committed_versions() if v < epoch_id]
        return self._read_manifest(max(parents)) if parents else {}

    def _commit_manifest(self, epoch_id: int, manifest: dict[str, int]) -> None:
        fsutil.mkdirs(self.spark, self._manifest_dir)
        fsutil.write_text(
            self.spark,
            os.path.join(self._manifest_dir, f"v{epoch_id}.json"),
            json.dumps(manifest, sort_keys=True),
        )

    # --- bucketing ------------------------------------------------------

    def _bucket(self):
        key = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in self.key_cols])
        return F.pmod(F.xxhash64(key), F.lit(self.n_buckets)).cast("int")

    # --- version IO -----------------------------------------------------

    def _write_version(self, df: DataFrame, epoch_id: int) -> None:
        """Write ``df`` (must carry a ``bucket`` column) as the epoch's
        version dir. EMPTY-SAFE: ``partitionBy`` over zero rows leaves a
        dir with no partition dirs and no schema footer (unreadable), so
        an empty frame is written PLAIN instead — same columns, zero
        rows, schema-bearing — keeping a fully-compacted-away state
        readable (e.g. a CDC compact after every key was deleted and all
        tombstones passed the drop horizon).

        ``df`` is the epoch's full merge (prev-version scan + delta union
        + collapse/aggregate) — persist it around the emptiness probe so
        the merge is computed ONCE, not once for ``isEmpty`` and again
        for the write."""
        df = df.persist()
        try:
            # hash-repartition on bucket across n_buckets tasks: parallel
            # writers, still one file per bucket dir (partitionBy splits by
            # value within each task). repartition(1, ...) funneled every
            # write — including full compactions — through a single task.
            writer = df.repartition(self.n_buckets, "bucket").write.mode("overwrite")
            if df.isEmpty():
                writer.parquet(self._version_dir(epoch_id))
            else:
                writer.partitionBy("bucket").parquet(self._version_dir(epoch_id))
        finally:
            df.unpersist()

    def _written_buckets(self, epoch_id: int) -> list[int]:
        """Distinct buckets of an already-written version dir (one
        column-pruned scan; [] for an empty version)."""
        return [
            r.bucket
            for r in self.spark.read.parquet(self._version_dir(epoch_id))
            .select("bucket")
            .distinct()
            .collect()
        ]

    def _read_state(self, version: int) -> DataFrame:
        """The full state at a committed version, ``bucket`` column kept:
        one bucket-pruned scan per version the manifest references. An
        EMPTY manifest (everything compacted away) reads the version's
        own schema-bearing empty dir."""
        manifest = self._read_manifest(version)
        if not manifest:
            return self.spark.read.parquet(self._version_dir(version))
        by_version: dict[int, list[int]] = {}
        for b, ver in manifest.items():
            by_version.setdefault(ver, []).append(int(b))
        parts = [
            self.spark.read.parquet(self._version_dir(ver)).filter(
                F.col("bucket").isin(buckets)
            )
            for ver, buckets in sorted(by_version.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _latest_version(self, version: int | None) -> int:
        versions = self.committed_versions()
        if not versions:
            raise FileNotFoundError(f"no committed version under {self.root}")
        return versions[-1] if version is None else version

    # --- maintenance ----------------------------------------------------

    def vacuum(self, keep_versions: int = 1) -> list[int]:
        """Drop version dirs no committed-and-kept manifest references and
        manifests older than the newest ``keep_versions``. Returns removed
        version ids."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1 (0 would delete every "
                             "manifest and leave the data unreadable)")
        versions = self.committed_versions()
        kept_manifests = versions[-keep_versions:]
        referenced: set[int] = set(kept_manifests)  # an empty manifest still
        # owns its own (schema-bearing empty) version dir — _read_state
        # reads it directly, so it must survive vacuum
        for v in kept_manifests:
            referenced.update(self._read_manifest(v).values())
        newest_committed = versions[-1] if versions else -1
        removed = []
        for name in fsutil.listdir(self.spark, self._data_dir):
            if not name.startswith("v="):
                continue
            ver = int(name[2:])
            # never touch a version dir NEWER than the newest committed
            # manifest: it belongs to an IN-FLIGHT epoch whose manifest has
            # not committed yet — deleting it would let the epoch commit a
            # manifest over a vanished dir (permanently corrupt, since the
            # manifest-existence guard then skips replay forever)
            if ver > newest_committed:
                continue
            if ver not in referenced:
                fsutil.delete(
                    self.spark, os.path.join(self._data_dir, name), recursive=True
                )
                removed.append(ver)
        for v in versions[:-keep_versions]:
            fsutil.delete(self.spark, os.path.join(self._manifest_dir, f"v{v}.json"))
        return sorted(removed)

"""Streaming CDC state view: incremental epochs equal the batch
changelog collapse, tombstones never resurrect, replay is idempotent,
and compaction drops only expired tombstones."""

from __future__ import annotations

from pyspark.sql import functions as F

from convex_batch_processor_spark.catalog import load_table
from convex_batch_processor_spark.queries import QUERIES
from convex_batch_processor_spark.streaming.cdc import CdcStateView


def _changelog(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "event_type",
        "value",
    )


def _view(spark, tmp_path, n_buckets=8):
    return CdcStateView(
        spark,
        str(tmp_path / "cdc"),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        n_buckets=n_buckets,
    )


def _state(view):
    return {
        r.user_id: (r.event_type, r.value, r.ts)
        for r in view.read().collect()
    }


def test_cdc_stream_matches_batch_changelog_collapse(spark, sf_dir, tmp_path):
    """Four epochs of arbitrary row assignment converge to exactly the
    batch cdc_apply_changelog result (LWW is split-invariant)."""
    log = _changelog(spark, sf_dir).persist()
    view = _view(spark, tmp_path)
    for e in range(4):
        view.foreach_batch(log.filter(F.col("event_id") % 4 == e), e)
    batch = {
        r.user_id: (r.last_state, r.last_value, r.updated_at)
        for r in QUERIES["cdc_apply_changelog"].fn(spark, sf_dir).collect()
    }
    assert _state(view) == batch
    log.unpersist()


def test_cdc_replay_is_idempotent(spark, sf_dir, tmp_path):
    log = _changelog(spark, sf_dir).persist()
    view = _view(spark, tmp_path)
    for e in range(3):
        view.foreach_batch(log.filter(F.col("event_id") % 3 == e), e)
    before = _state(view)
    view.foreach_batch(log.filter(F.col("event_id") % 3 == 1), 1)  # redelivery
    assert _state(view) == before
    log.unpersist()


def test_cdc_tombstone_never_resurrects(spark, tmp_path):
    """upsert(ts=5) -> delete(ts=10) -> LATE upsert(ts=7): the key stays
    deleted; a genuinely newer upsert(ts=12) then revives it."""
    schema = "user_id long, ts long, event_id long, op string, event_type string, value double"
    view = CdcStateView(
        spark, str(tmp_path / "cdc"), ["user_id"], ["ts", "event_id"], n_buckets=4
    )
    view.foreach_batch(
        spark.createDataFrame([(1, 5, 100, "U", "signup", 1.0)], schema), 0
    )
    view.foreach_batch(
        spark.createDataFrame([(1, 10, 101, "D", "error", 0.0)], schema), 1
    )
    view.foreach_batch(
        spark.createDataFrame([(1, 7, 102, "U", "login", 2.0)], schema), 2
    )
    assert view.read().count() == 0
    assert view.read(with_tombstones=True).count() == 1  # tombstone is state
    view.foreach_batch(
        spark.createDataFrame([(1, 12, 103, "U", "purchase", 3.0)], schema), 3
    )
    assert {r.event_type for r in view.read().collect()} == {"purchase"}


def test_cdc_same_ts_tie_breaks_by_sequence(spark, tmp_path):
    """Equal timestamps resolve by the unique sequence column — the
    crafted-collision case the generated testdata never produces."""
    schema = "user_id long, ts long, event_id long, op string, event_type string, value double"
    view = CdcStateView(
        spark, str(tmp_path / "cdc"), ["user_id"], ["ts", "event_id"], n_buckets=4
    )
    view.foreach_batch(
        spark.createDataFrame(
            [(1, 5, 200, "U", "a", 1.0), (1, 5, 201, "U", "b", 2.0)], schema
        ),
        0,
    )
    assert _state(view)[1][0] == "b"


def test_cdc_compaction_drops_only_expired_tombstones(spark, tmp_path):
    schema = "user_id long, ts long, event_id long, op string, event_type string, value double"
    view = CdcStateView(
        spark, str(tmp_path / "cdc"), ["user_id"], ["ts", "event_id"], n_buckets=4
    )
    rows = [
        (1, 5, 1, "D", "error", 0.0),   # old tombstone -> dropped
        (2, 50, 2, "D", "error", 0.0),  # recent tombstone -> kept
        (3, 5, 3, "U", "login", 1.0),   # old live row -> kept
    ]
    view.foreach_batch(spark.createDataFrame(rows, schema), 0)
    view.compact(1, drop_tombstones_where=F.col("ts") < 10)
    with_t = {r.user_id for r in view.read(with_tombstones=True).collect()}
    assert with_t == {2, 3}
    assert {r.user_id for r in view.read().collect()} == {3}
    # a replayed epoch BELOW the compaction is skipped (already committed)
    view.foreach_batch(spark.createDataFrame(rows, schema), 0)
    assert {r.user_id for r in view.read(with_tombstones=True).collect()} == {2, 3}


def test_cdc_precommit_crash_redo(spark, sf_dir, tmp_path):
    """A version dir written without its manifest (crash before commit)
    is redone cleanly from the committed parent."""
    import shutil

    log = _changelog(spark, sf_dir).persist()
    view = _view(spark, tmp_path)
    view.foreach_batch(log.filter(F.col("event_id") % 2 == 0), 0)
    view.foreach_batch(log.filter(F.col("event_id") % 2 == 1), 1)
    good = _state(view)
    # simulate: epoch 1 wrote data but crashed pre-manifest
    (tmp_path / "cdc" / "manifest" / "v1.json").unlink()
    shutil.rmtree(str(tmp_path / "cdc" / "data" / "v=1"))
    view.foreach_batch(log.filter(F.col("event_id") % 2 == 1), 1)
    assert _state(view) == good
    log.unpersist()


def test_cdc_compact_to_empty_state_stays_readable(spark, tmp_path):
    """Review r6: a compact that drops EVERYTHING (all keys deleted,
    every tombstone past the horizon) used to either crash the rewrite
    (partitionBy over zero rows leaves an unreadable dir) or poison the
    manifest so read() IndexError'd. It must commit an empty-but-
    schema-bearing version: read() returns zero rows, later epochs
    apply on top, and vacuum keeps the empty version readable."""
    schema = "user_id long, ts long, event_id long, op string, event_type string, value double"
    view = CdcStateView(
        spark, str(tmp_path / "cdc"), ["user_id"], ["ts", "event_id"], n_buckets=4
    )
    view.foreach_batch(
        spark.createDataFrame([(1, 5, 1, "U", "signup", 1.0)], schema), 0
    )
    view.foreach_batch(
        spark.createDataFrame([(1, 10, 2, "D", "error", 0.0)], schema), 1
    )
    view.compact(2, drop_tombstones_where=F.col("ts") < 100)  # drops the lot
    assert view.read().count() == 0
    assert view.read(with_tombstones=True).count() == 0
    assert view.read().columns == ["user_id", "ts", "event_id", "op", "event_type", "value"]
    # vacuum must keep the empty version's (schema-bearing) dir readable
    view.vacuum(keep_versions=1)
    assert view.read().count() == 0
    # life goes on: a later epoch rebuilds state on the empty parent
    view.foreach_batch(
        spark.createDataFrame([(2, 20, 3, "U", "login", 2.0)], schema), 3
    )
    assert _state(view) == {2: ("login", 2.0, 20)}


def test_cdc_vacuum_shared_with_matview(spark, tmp_path):
    """CdcStateView's vacuum comes from VersionedBucketStore: version
    dirs no kept manifest references are reclaimed, state is unchanged."""
    import os as _os

    schema = "user_id long, ts long, event_id long, op string, event_type string, value double"
    view = CdcStateView(
        spark, str(tmp_path / "cdc"), ["user_id"], ["ts", "event_id"], n_buckets=2
    )
    for e in range(4):  # same key every epoch -> every version superseded
        view.foreach_batch(
            spark.createDataFrame([(1, e, e, "U", f"s{e}", float(e))], schema), e
        )
    before = _state(view)
    removed = view.vacuum(keep_versions=1)
    assert removed and all(v < 3 for v in removed)
    assert _state(view) == before
    live_dirs = {d for d in _os.listdir(tmp_path / "cdc" / "data") if d.startswith("v=")}
    assert live_dirs == {"v=3"}


def test_vacuum_never_touches_in_flight_uncommitted_version(spark, tmp_path):
    """An epoch's version dir is written BEFORE its manifest commits; a
    concurrent vacuum() must not delete it (no kept manifest references it
    yet), or the epoch would commit a manifest over a vanished dir —
    permanently corrupt, since the manifest-existence guard then skips
    replay forever."""
    import os as _os

    schema = (
        "user_id long, ts long, event_id long, op string, "
        "event_type string, value double"
    )
    view = CdcStateView(
        spark, str(tmp_path / "cdc"), ["user_id"], ["ts", "event_id"], n_buckets=2
    )
    for e in range(2):
        view.foreach_batch(
            spark.createDataFrame([(1, e, e, "U", f"s{e}", float(e))], schema), e
        )
    # simulate epoch 2 mid-flight: version dir written, manifest NOT yet
    # (CdcStateView IS the VersionedBucketStore)
    delta = spark.createDataFrame([(1, 2, 2, "U", "s2", 2.0)], schema)
    merged = delta.withColumn("bucket", view._bucket())
    view._write_version(merged, 2)
    removed = view.vacuum(keep_versions=1)
    live_dirs = {
        d for d in _os.listdir(tmp_path / "cdc" / "data") if d.startswith("v=")
    }
    assert "v=2" in live_dirs, "in-flight uncommitted version dir was vacuumed"
    assert 2 not in removed

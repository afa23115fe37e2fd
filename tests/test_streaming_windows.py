"""Streaming execution of the engine's event-time aggregations: the
tumbling-window query from the registry, run as a real Structured Streaming
job (readStream over the events parquet, watermark, memory sink,
AvailableNow) must produce exactly the batch result — micro-batch admission
must not change the aggregate (D1/D3 in streaming form)."""

from __future__ import annotations

from pyspark.sql import functions as F

from convex_batch_processor_spark.catalog import load_table, table_path, normalize_ts
from convex_batch_processor_spark.queries import QUERIES


def test_streaming_tumbling_window_equals_batch(spark, sf_dir, tmp_path):
    # file streaming sources need a directory; expose the single-file table
    # through a symlinked dir
    import os

    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    os.symlink(table_path(sf_dir, "events"), src_dir / "events.parquet")

    stream = (
        spark.readStream.schema(spark.read.parquet(table_path(sf_dir, "events")).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    # same ns->us normalization the catalog applies
    stream = stream.transform(lambda d: normalize_ts(d, "ts"))

    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in QUERIES["tumbling_window_counts"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_streaming_session_window_equals_batch_sessionize(spark, sf_dir, tmp_path):
    """The streaming form of ``sessionize_events``: session_window(ts, 30d)
    over a multi-file stream must reproduce the batch lag→running-sum
    sessionization exactly — including sessions whose events arrive in
    different micro-batches (state-store session merge)."""
    raw = spark.read.parquet(table_path(sf_dir, "events"))
    src_dir = tmp_path / "events_stream"
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1, so sessions
    # spanning files exercise cross-batch session merging
    raw.repartition(4).write.parquet(str(src_dir))

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
        .transform(lambda d: normalize_ts(d, "ts"))
    )
    agg = (
        stream.groupBy(F.session_window("ts", "30 days").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("t_start"),
            F.max("ts").alias("t_end"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
        .select("user_id", "n_events", "t_start", "t_end", "session_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = {
        (r.user_id, r.t_start): (r.n_events, r.t_end, r.session_value)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # batch twin keys sessions by (user_id, session_idx); session_window has
    # no idx, so compare on the natural session identity (user_id, t_start)
    batch = {
        (r.user_id, r.t_start): (r.n_events, r.t_end, r.session_value)
        for r in QUERIES["sessionize_events"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_approx_sketches_within_error_bounds(spark, sf_dir):
    """approx_count_distinct (HLL++, ~2-5% rsd) and percentile_approx stay
    near the exact values — the contract that lets them replace exact
    distinct/median at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = {r.l_returnflag: r for r in QUERIES["approx_stats"].fn(spark, sf_dir).collect()}
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("d"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("med"),
        )
        .collect()
    }
    for flag, ex in exact.items():
        ap = approx[flag]
        assert abs(ap.approx_parts - ex.d) / ex.d < 0.1
        assert abs(ap.approx_median_price - ex.med) / ex.med < 0.1

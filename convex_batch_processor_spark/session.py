"""SparkSession construction.

Local test profile: ``local[N]`` single-JVM. Cluster profile notes are in
docstrings — the same code runs unchanged on a real cluster; only the
builder config differs (executors, memory, shuffle service).

Scale design (100 TB):
- AQE on: runtime join-strategy switches, skew-join splitting, and
  post-shuffle partition coalescing replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is a *starting* hint only; AQE coalesces.
  At 100 TB raw / ~128 MB target partitions that hint would be ~800k tasks,
  so on a real cluster set it to ~2-4x total cores and let AQE split skew.
- Arrow enabled for the Pandas-UDF slow paths (llmops/multimodal only).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  correctness oracle and are cluster-invariant.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "convex_batch_processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Accepts ``*`` (all cores) as well as an integer.
    """
    # Pin the PROCESS timezone, not just the session's:
    # spark.sql.session.timeZone governs SQL semantics, but PySpark
    # renders collected TimestampType values in the OS timezone
    # (TimestampType.fromInternal), so results that must hash identically
    # across hosts — the driver's correctness gate — need the process tz
    # pinned too. Must happen before the JVM starts; best-effort on
    # platforms without tzset.
    os.environ["TZ"] = "Etc/UTC"
    if hasattr(time, "tzset"):
        time.tzset()
    # '' (the shell's way to neutralize a variable) means unset, matching
    # the falsy-cpus local[*] fallback below instead of raising
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or None
    if cpus is not None and cpus != "*" and not (cpus.isdecimal() and int(cpus) > 0):
        raise ValueError(
            f"SPARK_GRAFT_CPUS={cpus!r}: expected a positive integer or '*'"
        )
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # '*' is valid in the master string but not as a partition count
        shuffle_partitions = (
            int(cpus) if cpus and cpus != "*" else (os.cpu_count() or 8)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE, not core count: with
        # the default parallelismFirst=true, AQE never coalesces below
        # defaultParallelism, so a KB-scale shuffle still launches one
        # task per core and the stage is pure scheduling overhead (the
        # same waste at every scale: tiny per-key aggregates, bounded
        # inventories, convergence checks). size-first targets
        # advisoryPartitionSizeInBytes (guide §2.2 "fewer, larger reduce
        # partitions"); at 100 TB the advisory bound — not core count —
        # is what sizes reducers anyway.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # normalize to micros in catalog.load_table (matches DuckDB's
        # nanos->micros truncation on read)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

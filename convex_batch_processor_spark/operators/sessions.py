"""Gap-based sessionization as a reusable batch operator.

The lag → new-session flag → running-sum index → per-session aggregate
pattern (reference parity: none — the reference has no event-time
analytics; this is the Spark-native generalization SURVEY §2.9 notes).
Streaming twin: ``session_window`` (tests/test_streaming_windows.py).

Scale: ONE exchange on the key; the window functions and the session
aggregate reuse the same partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..queries.registry import dsum


def sessionize(
    df: DataFrame,
    gap_ms: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-session aggregates: (key, session_idx, n_events, t_start, t_end,
    session_value). A session breaks when the gap to the previous event of
    the same key exceeds ``gap_ms``; ``tiebreak_col`` makes the in-key
    order total (equal timestamps would otherwise make session indices
    nondeterministic).

    NULL timestamps sort FIRST (pinned explicitly — Spark's asc default,
    but DuckDB's ORDER BY defaults NULLS LAST, so every oracle paired
    with this operator must write ``ts NULLS FIRST``): a NULL-ts event
    opens its key's first session rather than re-ordering per engine."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc_nulls_first(), tiebreak_col
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ms = F.lag(F.unix_millis(F.col(ts_col))).over(w)
    is_new = F.when(
        prev_ms.isNull() | ((F.unix_millis(F.col(ts_col)) - prev_ms) > gap_ms), 1
    ).otherwise(0)
    sessions = (
        df.select(key_col, tiebreak_col, ts_col, value_col)
        .withColumn("is_new", is_new)
        .withColumn("session_idx", F.sum("is_new").over(wf))
    )
    return sessions.groupBy(key_col, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("t_start"),
        F.max(ts_col).alias("t_end"),
        dsum(value_col, "session_value"),
    )

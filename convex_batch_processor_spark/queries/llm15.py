"""Post-window round-4 additions, part 8 (round-5 rotation material):
event-sequence constraint validation and RFM segmentation.

Registered last in queries/__init__.py (after llm14); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Event-sequence constraint validation
# ---------------------------------------------------------------------------

# transition whitelist: next-event -> prerequisite previous-events. A
# 'purchase' must directly follow an engagement event (view/click), a
# 'click' must follow something visible (view/click/error). The concrete
# rules are illustrative config — the operator is the validation shape.
_SEQ_RULES = {
    "purchase": ("view", "click"),
    "click": ("view", "click", "error"),
}


def _rules_sql() -> str:
    rows = []
    for nxt, prevs in sorted(_SEQ_RULES.items()):
        allowed = ", ".join(f"'{p}'" for p in prevs)
        rows.append(
            f"SELECT '{nxt}' AS next_type, unnest([{allowed}]) AS allowed_prev"
        )
    return " UNION ALL ".join(rows)


@register(
    "event_sequence_violations",
    oracle=f"""
    WITH rules AS ({_rules_sql()}),
    seq AS (
        SELECT user_id, event_type,
               -- ts NULLS FIRST pinned on both sides (sessionize class)
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                   AS prev_type
        FROM events
    ),
    checked AS (
        SELECT s.user_id, s.event_type, s.prev_type,
               r.allowed_prev IS NOT NULL AS ok
        FROM seq s
        LEFT JOIN rules r
          ON r.next_type = s.event_type AND r.allowed_prev = s.prev_type
        WHERE s.event_type IN (SELECT DISTINCT next_type FROM rules)
          AND s.prev_type IS NOT NULL
    )
    SELECT event_type, prev_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           NOT bool_or(ok) AS is_violation
    FROM checked GROUP BY 1, 2
    """,
)
def event_sequence_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence constraint validation: a declarative transition
    whitelist (purchase must follow view/click, etc.) checked against
    every user's actual event order — the behavioral-data quality gate
    that catches instrumentation bugs (e.g. purchases firing without a
    preceding engagement event). Emits every observed (event, prev)
    combination for ruled events with its count and violation flag.

    One user-keyed window for the lag, a broadcast rule join, a bounded
    (type x type) rollup. The rule table is config-as-data: the same
    shape extends to any whitelist without a code change."""
    ev = _t(spark, sf_dir, "events")
    rules = spark.createDataFrame(
        [(nxt, p) for nxt, prevs in sorted(_SEQ_RULES.items()) for p in prevs],
        "next_type string, allowed_prev string",
    )
    # ts NULLS FIRST pinned on both sides (the sessionize_events class)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc()
    )
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    checked = (
        seq.filter(
            F.col("event_type").isin(list(_SEQ_RULES)) & F.col("prev_type").isNotNull()
        )
        .join(
            F.broadcast(rules),
            (F.col("next_type") == F.col("event_type"))
            & (F.col("allowed_prev") == F.col("prev_type")),
            "left",
        )
        .select(
            "user_id",
            "event_type",
            "prev_type",
            F.col("allowed_prev").isNotNull().alias("ok"),
        )
    )
    return checked.groupBy("event_type", "prev_type").agg(
        F.count(F.lit(1)).alias("n"),
        (~F.bool_or("ok")).alias("is_violation"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation with fixed deterministic bands
# ---------------------------------------------------------------------------

_RFM_R_DAYS = (3, 10)  # recency band edges (days since last purchase)
_RFM_F_N = (3, 10)  # frequency band edges (purchase count)
_RFM_M_CENTS = (100_00, 500_00)  # monetary band edges (total cents)


@register(
    "user_rfm_segments",
    oracle=f"""
    WITH refd AS (SELECT MAX(CAST(ts AS DATE)) AS r FROM events),
    base AS (
        SELECT user_id,
               date_diff('day', MAX(CAST(ts AS DATE)), refd.r) AS rec_days,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        FROM events CROSS JOIN refd
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY user_id, refd.r
    )
    SELECT user_id, rec_days, freq, monetary_cents,
           CASE WHEN rec_days <= {_RFM_R_DAYS[0]} THEN 3
                WHEN rec_days <= {_RFM_R_DAYS[1]} THEN 2 ELSE 1 END AS r_score,
           CASE WHEN freq >= {_RFM_F_N[1]} THEN 3
                WHEN freq >= {_RFM_F_N[0]} THEN 2 ELSE 1 END AS f_score,
           CASE WHEN monetary_cents >= {_RFM_M_CENTS[1]} THEN 3
                WHEN monetary_cents >= {_RFM_M_CENTS[0]} THEN 2 ELSE 1 END AS m_score
    FROM base
    """,
)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    FIXED band edges: days since last purchase, purchase count, and
    exact-cents spend, each scored 1-3 — the classic CRM feature triple.

    Fixed bands (not ntiles) on purpose: scores are row-independent, so
    a user's segment never silently shifts because OTHER users changed —
    re-runnable, incrementally maintainable (a mergeable base aggregate
    can be kept live), and free of the global-ntile scale hazard the
    length-curriculum query had to engineer around (histogram_rank).
    All arithmetic is exact integers; the reference date is a broadcast
    scalar.

    Scale: one user-keyed aggregation; scoring is map-side CASE."""
    ev = _t(spark, sf_dir, "events")
    refd = ev.agg(F.max(F.col("ts").cast("date")).alias("r"))
    base = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .crossJoin(F.broadcast(refd))
        .groupBy("user_id", "r")
        .agg(
            F.datediff(F.col("r"), F.max(F.col("ts").cast("date"))).alias("rec_days"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    r_score = (
        F.when(F.col("rec_days") <= _RFM_R_DAYS[0], 3)
        .when(F.col("rec_days") <= _RFM_R_DAYS[1], 2)
        .otherwise(1)
    )
    f_score = (
        F.when(F.col("freq") >= _RFM_F_N[1], 3)
        .when(F.col("freq") >= _RFM_F_N[0], 2)
        .otherwise(1)
    )
    m_score = (
        F.when(F.col("monetary_cents") >= _RFM_M_CENTS[1], 3)
        .when(F.col("monetary_cents") >= _RFM_M_CENTS[0], 2)
        .otherwise(1)
    )
    return base.select(
        "user_id",
        "rec_days",
        "freq",
        "monetary_cents",
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
    )

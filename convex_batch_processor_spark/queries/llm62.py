"""Post-window round-4 additions, part 55 (round-5 rotation material):
planner advisories — join-order costing and a skew/salting advisor.

cost-based-optimizer primitives as first-class queries: llm32 built the
CMS join-size ESTIMATE; these compute the ground truth it approximates
and turn it into decisions. ``join_order_advisor`` prices the three
left-deep orders of the orders-customer-nation join (sum of
intermediate cardinalities, the textbook cost model) including the
no-edge cartesian plan a naive enumerator would consider;
``salting_advisor`` finds the keys whose frequency would straggle a
keyed shuffle and computes the salt fan-out that levels them.

Registered last in queries/__init__.py (after llm61); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_PARTS = 32  # target shuffle partitions for the salting advisor
_HOT_FACTOR = 2.0  # keys above 2x the fair per-partition share get salted


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "join_order_advisor",
    oracle="""
    WITH co AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
    cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
    cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation),
    j_oc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    j_cn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
    fin AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey)
    SELECT plan, first_join_rows, final_rows,
           first_join_rows + final_rows AS cost,
           CAST(row_number() OVER (ORDER BY first_join_rows + final_rows, plan)
                AS INTEGER) AS rank
    FROM (
        SELECT '(orders x customer) x nation' AS plan,
               j_oc.n AS first_join_rows, fin.n AS final_rows
        FROM j_oc CROSS JOIN fin
        UNION ALL
        SELECT '(customer x nation) x orders', j_cn.n, fin.n
        FROM j_cn CROSS JOIN fin
        UNION ALL
        SELECT '(orders x nation) x customer', co.n * cn.n, fin.n
        FROM co CROSS JOIN cn CROSS JOIN fin)
    """,
)
def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-deep join-order costing with GROUND-TRUTH cardinalities: the
    three orders of the orders-customer-nation chain priced by the
    classic sum-of-intermediates model, including the no-edge
    (orders x nation) cartesian start a naive enumerator must learn to
    reject — its first intermediate is |O| * |N|, which is exactly why
    join graphs are walked along edges. The ranking is what a CBO's
    enumeration would pick; join_size_estimate_cms (llm32) is the
    sketch that approximates these counts without running the joins.

    Scale: three count aggregates and two FK-join counts (each one
    shuffle); the advisory itself is 3 rows of arithmetic."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    co = o.agg(F.count(F.lit(1)).cast("long").alias("n_o"))
    cn = n.agg(F.count(F.lit(1)).cast("long").alias("n_n"))
    j_oc = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_oc"))
    )
    j_cn = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_cn"))
    )
    fin = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_fin"))
    )
    base = (
        j_oc.crossJoin(F.broadcast(j_cn))
        .crossJoin(F.broadcast(fin))
        .crossJoin(F.broadcast(co))
        .crossJoin(F.broadcast(cn))
    )
    plans = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("(orders x customer) x nation").alias("plan"),
                    F.col("n_oc").alias("first_join_rows"),
                ),
                F.struct(
                    F.lit("(customer x nation) x orders").alias("plan"),
                    F.col("n_cn").alias("first_join_rows"),
                ),
                F.struct(
                    F.lit("(orders x nation) x customer").alias("plan"),
                    (F.col("n_o") * F.col("n_n")).alias("first_join_rows"),
                ),
            )
        ).alias("p"),
        F.col("n_fin").alias("final_rows"),
    ).select("p.plan", "p.first_join_rows", "final_rows")
    from pyspark.sql import Window

    w = Window.orderBy(F.col("first_join_rows") + F.col("final_rows"), F.col("plan"))
    return plans.select(
        "plan",
        "first_join_rows",
        "final_rows",
        (F.col("first_join_rows") + F.col("final_rows")).alias("cost"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


@register(
    "salting_advisor",
    oracle=f"""
    WITH g AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g),
    top AS (
        SELECT g.user_id, g.n,
               round(CAST(g.n * {_PARTS} AS BIGINT) / CAST(tot.total AS DOUBLE), 9)
                   AS partition_share
        FROM g CROSS JOIN tot
        -- explicit NULLS LAST: Spark's ASC default is NULLS FIRST, so a
        -- NULL-user_id group tying at the cut would be kept by one
        -- engine and dropped by the other without the pin
        ORDER BY g.n DESC, g.user_id NULLS LAST LIMIT 10)
    SELECT user_id, n AS n_rows, partition_share,
           CAST(greatest(1, CAST(ceil(partition_share / {_HOT_FACTOR!r}) AS INTEGER))
                AS INTEGER) AS salt_factor,
           CAST(partition_share > {_HOT_FACTOR!r} AS BOOLEAN) AS needs_salt
    FROM top
    """,
)
def salting_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew remediation advisory: the ten heaviest keys with their
    share of a fair {_PARTS}-way partition, whether they exceed the
    {_HOT_FACTOR}x straggler threshold, and the salt fan-out that would
    level them — the per-key decision layer above partition_skew_audit's
    aggregate balance report, feeding an explicit salting stage or
    corroborating AQE's runtime choice. A uniform corpus correctly
    reports needs_salt = false for every key.

    Scale: one key-count aggregation + a TakeOrdered(10) — the advisory
    never materializes more than the hot tail."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = g.agg(F.sum("n").cast("long").alias("total"))
    share = (F.col("n") * _PARTS).cast("long") / F.col("total").cast("double")
    top = (
        g.crossJoin(F.broadcast(tot))
        .select("user_id", "n", F.round(share, 9).alias("partition_share"))
        # asc_nulls_last pins the tie-break to DuckDB's default ordering
        .orderBy(F.col("n").desc(), F.col("user_id").asc_nulls_last())
        .limit(10)
    )
    return top.select(
        "user_id",
        F.col("n").alias("n_rows"),
        "partition_share",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("partition_share") / _HOT_FACTOR).cast("int"),
        )
        .cast("int")
        .alias("salt_factor"),
        (F.col("partition_share") > _HOT_FACTOR).alias("needs_salt"),
    )

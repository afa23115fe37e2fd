"""Relational core operators (SURVEY.md §2.1-§2.8).

Each function is a pure DataFrame transformation — no actions, no collects —
so Catalyst sees the whole plan (pushdown, pruning, join selection, AQE).

Reference parity notes cite /root/reference file:line; the reference runs
these shapes as Convex indexed queries + JS post-processing; here they are
declarative plans Spark executes columnar + codegen'd.

Scale notes per operator are inline. The shared themes:
- point/range lookups (S1-S3) push predicates into the parquet scan — at
  100 TB with a partitioned/sorted layout they become partition + row-group
  pruning, not full scans;
- per-key agg joins (J1) shuffle both sides on the key unless one side is
  broadcastable — aggregate BEFORE joining to shrink the shuffle;
- top-k (O2) uses TakeOrderedAndProject (per-partition heap + driver merge),
  never a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- §2.1 scans -------------------------------------------------------------

def point_lookup(df: DataFrame, **eq: object) -> DataFrame:
    """S1: indexed equality lookup on a composite key prefix.

    Parity: ``.withIndex(q => q.eq(a, x).eq(b, y)).first()``
    (reference src/component/lib.ts:45-50 and 11 sibling sites).
    Spark: conjunctive equality filter; Catalyst pushes it into the parquet
    scan (check PushedFilters). ``.limit(1)`` is the caller's choice.

    NULL probes use eqNullSafe: the reference's ``q.eq(field, null)``
    MATCHES null-valued rows (index equality over the stored value),
    whereas SQL ``=`` would return nothing — ``<=>`` still pushes down
    as an IsNull filter for a null literal.
    """
    cond = None
    for k, v in eq.items():
        c = F.col(k).eqNullSafe(F.lit(v))
        cond = c if cond is None else (cond & c)
    return df.filter(cond) if cond is not None else df


# --- §2.2 projections / string key ops -------------------------------------

def parse_batch_id(df: DataFrame, id_col: str, base_col: str = "base_id", seq_col: str = "seq") -> DataFrame:
    """P5: parse a ``base::sequence`` composite id into its parts.

    Parity: lib.ts:40-42, 185-187 (`batchId.includes("::") ? split("::")[0]`).
    Pure string expressions — stays inside whole-stage codegen. try_cast,
    not cast: under ANSI (this repo's default session) a malformed seq
    segment ("job::retry") must yield seq NULL like the reference's
    non-fatal JS parse, not abort the whole job with CAST_INVALID_INPUT.
    """
    return df.withColumn(base_col, F.substring_index(F.col(id_col), "::", 1)).withColumn(
        seq_col,
        F.when(
            F.col(id_col).contains("::"),
            F.element_at(F.split(F.col(id_col), "::"), -1).try_cast("bigint"),
        ).otherwise(F.lit(None).cast("bigint")),
    )


def make_batch_id(base: Column, seq: Column) -> Column:
    """P6: compose ``base::seq`` (lib.ts:62 template concat).

    NULL-PROPAGATING (``concat``, the SQL ``||`` convention): a NULL base
    or seq yields a NULL id, never a partial one — ``concat_ws`` silently
    DROPS null parts, so a NULL base would compose the bare seq string
    and parse back as a different id (ADVICE-class concat_ws/|| split;
    the reference never sees null here, v.string-validated)."""
    return F.concat(base, F.lit("::"), seq.cast("string"))


# --- §2.3 join patterns -----------------------------------------------------

def per_key_agg_join(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_key: str,
    aggs: list[Column],
) -> DataFrame:
    """J1: correlated per-row subquery = left join + per-key aggregation.

    Parity: getBatchStatus / getAllBatchesForBaseId fetch each batch's
    batchItems then reduce in JS (lib.ts:214-232, 255-277).

    Scale: aggregate the child FIRST (map-side partial agg shrinks the
    shuffle to one row per key), then join the compact aggregate back to the
    parent — vs joining raw child rows then aggregating, which shuffles the
    full fact table. With a small parent, AQE turns this into a broadcast.
    """
    child_agg = child.groupBy(F.col(child_key).alias(parent_key)).agg(*aggs)
    return parent.join(child_agg, on=parent_key, how="left")


def exists_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """J2 (exists): left-semi join — duplicate-jobId style existence check
    (lib.ts:749-756)."""
    return left.join(right, on=on, how="left_semi")


def not_exists_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """J2 (not exists): left-anti join — reuse-or-create probe (lib.ts:45-53)."""
    return left.join(right, on=on, how="left_anti")


# --- §2.5 windows -----------------------------------------------------------

def _order_exprs(order_by, desc: bool) -> list[Column]:
    """Normalize an order spec: bare strings get the ``desc`` direction;
    Column objects are taken as-is (direction already baked in). Callers
    should end the list with a UNIQUE column — ``row_number`` over a
    tied prefix returns an engine/partitioning-dependent row set (the
    adversarial events fixture crafts equal-ts pairs for exactly this)."""
    cols = order_by if isinstance(order_by, (list, tuple)) else [order_by]
    return [
        (F.col(c).desc() if desc else F.col(c).asc()) if isinstance(c, str) else c
        for c in cols
    ]


def latest_per_key(df: DataFrame, key_cols: list[str], order_by, desc: bool = True) -> DataFrame:
    """W2: latest row per key (the reference's desc-order ``.first()``,
    lib.ts:55-59, used to allocate the next sequence number).

    ``order_by`` takes one or more columns — pass a unique tiebreak last
    (see ``_order_exprs``) or ties return an arbitrary row.

    Scale: one shuffle on the key; ``row_number`` needs only a per-partition
    sort. For heavily skewed keys, pre-aggregate ``max(order_col)`` and
    semi-join instead — both forms are provided by callers as needed.
    """
    w = Window.partitionBy(*key_cols).orderBy(*_order_exprs(order_by, desc))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def retention_doomed(df: DataFrame, key_cols: list[str], order_by, keep: int = 1) -> DataFrame:
    """W1: retention — rank rows per key by ``order_by`` (strings = desc)
    and return the rows PAST the newest ``keep`` (the delete set). Pass a
    unique tiebreak column last or ties doom an arbitrary row.

    Parity: cleanupOldBatches keeps only the most recent completed batch per
    baseBatchId and deletes the rest (lib.ts:671-692).
    """
    w = Window.partitionBy(*key_cols).orderBy(*_order_exprs(order_by, desc=True))
    return df.withColumn("_rank", F.row_number().over(w)).filter(F.col("_rank") > keep).drop("_rank")


# --- §2.6 top-k -------------------------------------------------------------

def top_k(df: DataFrame, order_by, k: int, desc: bool = True) -> DataFrame:
    """O2: ``order(desc).take(k)`` (lib.ts:292-294, 913). Pass a unique
    tiebreak column last for a deterministic row set.

    Spark compiles orderBy+limit to TakeOrderedAndProject: each partition
    keeps a k-row heap, the driver merges — no global sort at any scale.
    """
    return df.orderBy(*_order_exprs(order_by, desc)).limit(k)


def top_k_per_group(df: DataFrame, key_cols: list[str], order_by, k: int) -> DataFrame:
    """Top-k within each group (window rank ≤ k; strings order desc).
    Pass a unique tiebreak column last for a deterministic row set."""
    w = Window.partitionBy(*key_cols).orderBy(*_order_exprs(order_by, desc=True))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")

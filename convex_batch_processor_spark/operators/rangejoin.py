"""Bucketed interval range join — the scale-safe plan for time-window
joins (`b.ts ∈ (a.ts, a.ts + Δ]`).

Expressed naively, a range predicate next to an equi-key gives Spark a
sort-merge join on the key followed by a per-key filter — fine when every
key is small, quadratic inside any hot key (one power user with 10⁶
events = 10¹² candidate pairs on one task). Without an equi-key at all it
degenerates to BroadcastNestedLoopJoin / cartesian.

The bucketed form bounds the fan-out structurally: bucket the right side
by ⌊ts/Δ⌋, explode the left side to its two covering buckets (a window of
width Δ spans at most two Δ-aligned buckets), equi-join on
(key, bucket), then apply the exact interval filter. The shuffle key
becomes (key, time-bucket) — hot keys spread across their timeline, the
join is a plain hash/sort-merge equi-join, and each candidate pair is
produced exactly once (the right row lives in exactly one bucket).

This is the standard interval-join decomposition (Flink's interval join
and range-join bucketing in Spark extensions use the same trick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    delta_s: int,
) -> DataFrame:
    """Pairs where keys match and ``right_ts ∈ (left_ts, left_ts + delta_s]``.

    Returns left columns + right columns (right ts column must be named
    differently from the left's). Exactly-once pair semantics: the right
    row's single bucket is matched by one of the left row's two exploded
    buckets. Both the bucket key AND the exact interval filter work in
    integer epoch microseconds (``unix_micros``): the bucket width then
    EQUALS the window width exactly, so a matching right row is always in
    bucket lb or lb+1 — the earlier seconds-floor bucket key divided a
    floored timestamp by a possibly-fractional delta and could land a
    true match TWO buckets past the left row (delta_s=2.5, left 2.6 s,
    right 5.05 s), silently dropping the pair. No float rounding at the
    boundary either: a pair at exactly ``left_ts`` or ``left_ts + Δ`` is
    classified identically to an integer-arithmetic oracle.
    """
    # round, don't truncate: a fractional delta_s (the int annotation is
    # not enforced) must widen the window to its true microsecond value —
    # int() would silently shrink 2.5 s to 2 s
    delta_us = int(round(delta_s * 1_000_000))
    # integer `div`, NOT floor(double /): double division loses low bits
    # past 2^53 µs (timestamps outside ~1684-2255), which could land a
    # true match outside {lb, lb+1} before the exact filter runs — the
    # same trap zorder_layout_stats' bucket key avoids. Floor semantics for
    # negative epochs via the mod correction (div truncates toward zero).
    def _floor_div_us(col_name: str):
        us = F.unix_micros(F.col(col_name))
        q = F.expr(f"unix_micros({col_name}) div {delta_us}")
        return F.when(
            (us % F.lit(delta_us) != 0) & (us < 0), q - F.lit(1)
        ).otherwise(q)

    lb = _floor_div_us(left_ts)
    rb = _floor_div_us(right_ts)
    lx = left.withColumn("_bin", F.explode(F.array(lb, lb + 1)))
    rx = right.withColumn("_bin", rb)
    lus = F.unix_micros(F.col(left_ts))
    rus = F.unix_micros(F.col(right_ts))
    cond = (rus > lus) & (rus <= lus + F.lit(delta_us))
    return lx.join(rx, [*key_cols, "_bin"]).filter(cond).drop("_bin")

"""Grouped-map Pandas operators (applyInPandas) — the X1 row-level UDF
surface (SURVEY.md §2.10) in its per-group form.

Use ONLY when the per-group computation genuinely needs imperative pandas
(iterative fitting, scipy calls); anything expressible as window/agg
Columns (including the z-score below) should stay JVM-side — this module
exists to prove the plumbing and to host genuinely-pandas logic later.

Scale: each group becomes one Arrow batch on one executor — groups must
fit in memory (salt or pre-aggregate monster groups first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def group_zscore(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key z-score normalization via applyInPandas.

    Nested function on purpose: cloudpickle ships nested functions by
    value, so executor Python workers never import this package. A
    module-level function is pickled by reference and breaks when the
    driver runs outside the repo root.

    Determinism (oracle parity): mean/variance are derived from EXACT
    integer sums of the 2-dp values (``round(v*100)`` as int64 — order
    independent), then combined in float64 with a fixed operand order that
    the DuckDB oracle mirrors expression-for-expression; the z-score is
    rounded to 6 dp. Variance is the textbook ``(Σx² − n·mean²)/(n−1)``
    sum-of-squares form — fine here because the inputs are 2-dp
    human-scale metrics (no catastrophic cancellation), and exactness of
    the integer sums is what makes the result reproducible across engines,
    partitionings, and retries.
    """
    # derive key/id/value types from the input — hardcoding long/double
    # fails Arrow serialization for any caller whose columns have another
    # type (the pack_greedy recipe, packing.py)
    key_t = df.schema[key_col].dataType.simpleString()
    id_t = df.schema[id_col].dataType.simpleString()
    val_t = df.schema[value_col].dataType.simpleString()
    schema = f"{key_col} {key_t}, {id_col} {id_t}, {value_col} {val_t}, zscore double"

    def normalize(pdf):
        import math

        # NULL values arrive as NaN in the Arrow batch; nullable Float64
        # turns them back into <NA> so they (a) don't crash the int64
        # cast and (b) round-trip to SQL NULL, matching the oracle where
        # SUM skips NULLs but COUNT(*) counts the rows and a NULL value's
        # z-score is NULL
        vals = pdf[value_col].astype("Float64")
        good = vals.dropna().astype("float64")
        iv = (good * 100).round().astype("int64")
        n = len(pdf)
        s = int(iv.sum())
        s2 = int((iv * iv).sum())
        mean = s / (100.0 * n)
        var = (s2 / 10000.0 - (n * mean) * mean) / (n - 1.0) if n > 1 else 0.0
        if var > 0:
            z = ((vals - mean) / math.sqrt(var)).round(6)
        else:
            z = vals * 0.0
        return pdf[[key_col, id_col]].assign(**{value_col: vals, "zscore": z})

    return df.select(key_col, id_col, value_col).groupBy(key_col).applyInPandas(normalize, schema)

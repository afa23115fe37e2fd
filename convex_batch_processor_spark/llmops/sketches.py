"""Probabilistic sketch operators: Count-Min, HyperLogLog, Bloom filter.

The sketches a 100 TB curation pipeline actually uses when exact state no
longer fits: heavy-hitter term counts without a full vocabulary table
(CMS), per-stratum distinct cardinalities in O(m) memory (HLL), and a
compact pre-filter that prunes a decontamination join before it shuffles
(Bloom). No reference counterpart — north-star additions alongside
llmops/retrieval.py (SURVEY.md §2 extension set).

Design for 100 TB:
- Every sketch here is an ORDER-INDEPENDENT aggregate (sums of counters,
  max of register ranks, OR of bit positions), so Spark's partial
  aggregation combines map-side and the final sketch is a tiny table:
  depth×width cells (CMS), m registers per group (HLL), m_bits/32 words
  (Bloom). The corpus shuffles its *keys* once; the sketch itself always
  fits in one executor — and is broadcast back for probing.
- The hash family is md5-derived and ENGINE-PORTABLE: h_salt(x) = the
  first 15 hex chars of md5("salt:" || x) parsed as a base-16 integer
  (60 bits, always positive in an int64). Spark spells it
  conv(substring(md5(..), 1, 15), 16, 10); DuckDB spells it
  CAST('0x' || substr(md5(..), 1, 15) AS BIGINT) — verified bit-equal in
  tests/test_sketches.py, which is what lets a SQL oracle replay the
  whole sketch (the minhash_portable_neardup recipe, queries/llm5.py).
- In production Spark you would additionally reach for the native
  runtime bloom-filter join (spark.sql.optimizer.runtime.bloomFilter.*)
  and approx_count_distinct (a tuned HLL++); these operators exist for
  the cases those don't cover: persisting the sketch as DATA (shipping a
  bloom/CMS to another job), probing it as a plan literal, and replaying it
  byte-for-byte across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: hex chars of md5 kept by the portable hash — 60 bits, < 2^60 (positive).
PORTABLE_HASH_HEX = 15


def md5_int(col: str | Column, salt: int | str | None = None) -> Column:
    """60-bit engine-portable hash (see module doc for the DuckDB twin)."""
    c = F.col(col) if isinstance(col, str) else col
    if salt is not None:
        c = F.concat(F.lit(f"{salt}:"), c)
    return F.conv(F.substring(F.md5(c), 1, PORTABLE_HASH_HEX), 16, 10).cast("long")


def md5_int_sql(expr: str, salt: int | str | None = None) -> str:
    """The DuckDB spelling of :func:`md5_int` for oracle SQL."""
    if salt is not None:
        expr = f"'{salt}:' || {expr}"
    return f"CAST('0x' || substr(md5({expr}), 1, {PORTABLE_HASH_HEX}) AS BIGINT)"


# --- Count-Min sketch -------------------------------------------------------


def cms_cells(term_col, depth: int = 4, width: int = 1024):
    """The CMS cell coordinates of a term as an array<struct<j,bucket>>
    Column — THE cross-engine cell layout (md5_int(term, j) % width per
    depth). Single definition shared by the batch sketch builder, the
    probe, and both streaming maintainers: the layout is the bit-parity
    contract their oracles and batch==streaming tests pin, so it must
    not fork."""
    term_col = F.col(term_col) if isinstance(term_col, str) else term_col
    return F.array(*[
        F.struct(
            F.lit(j).alias("j"),
            (md5_int(term_col, j) % width).alias("bucket"),
        )
        for j in range(depth)
    ])


def cms_sketch(
    counts: DataFrame,
    term_col: str = "term",
    cnt_col: str = "cnt",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) from PRE-AGGREGATED
    term counts: (j, bucket, counter) with counter = Σ counts hashing to
    the cell. Feeding aggregated counts (not raw occurrences) keeps the
    depth-explode vocab-bounded; the result is at most depth×width rows
    regardless of corpus size — counters are sums, so map-side partial
    aggregation collapses everything before the one (j, bucket) shuffle."""
    cells = counts.select(
        F.col(cnt_col),
        F.explode(cms_cells(term_col, depth, width)).alias("cell"),
    )
    return (
        cells.select("cell.j", "cell.bucket", cnt_col)
        .groupBy("j", "bucket")
        .agg(F.sum(cnt_col).alias("counter"))
    )


def cms_estimate(
    probe: DataFrame,
    sketch: DataFrame,
    term_col: str = "term",
    depth: int = 4,
    width: int = 1024,
    out: str = "cms_est",
) -> DataFrame:
    """Point-query the sketch: est(term) = min over depths of the cell
    counter (the classic one-sided estimate — never under, over by at
    most eps·N with prob 1-delta). The sketch is tiny → broadcast join;
    the probe side never shuffles."""
    pos = probe.select(
        F.col(term_col),
        F.explode(cms_cells(term_col, depth, width)).alias("cell"),
    ).select(term_col, "cell.j", "cell.bucket")
    return (
        pos.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(term_col)
        .agg(F.min(F.coalesce(F.col("counter"), F.lit(0))).alias(out))
    )


# --- HyperLogLog ------------------------------------------------------------


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    b: int = 8,
    out: str = "hll_est",
) -> DataFrame:
    """HyperLogLog (Flajolet et al. 2007) distinct-count estimate per
    group, m = 2^b registers. bucket = h % m; rho = leading-zero rank of
    the remaining (60-b)-bit word, computed with length(bin(w)) — exact
    integer arithmetic, portable to any engine with bin().

    Determinism contract for the oracle: the register sum is accumulated
    as an EXACT INTEGER Σ 2^(K - M_j) (K = 61 - b), so the only float ops
    are the final alpha·m²·2^K / S — one shared IEEE expression tree,
    bit-identical cross-engine (never a float Σ 2^-M, whose rounding is
    order-dependent past 53 bits). Small-range correction (linear
    counting m·ln(m/V) when raw ≤ 2.5m and V zero registers remain) IS
    applied — without it the raw estimator over-reads 5× at n ≪ m — with
    ln() rounded to 9 dp (the repo's cross-engine ln recipe) so the
    branch and the value replay identically in SQL.

    Scale: one (group, bucket) shuffle of max-ranks — partial-aggregated
    map-side to ≤ m rows per group per task; per-group state is m
    registers whatever the corpus size. Missing registers contribute
    (m - present)·2^K without materializing empty rows."""
    return hll_estimate_from_registers(
        hll_registers(df, key_col, group_cols, b), group_cols, b, out
    )


def hll_registers(
    df: DataFrame, key_col: str, group_cols: list[str], b: int = 8
) -> DataFrame:
    """The HLL state: (group..., bucket, m_reg) max-rank registers — the
    MERGEABLE form (union of key sets ≡ element-wise max of registers),
    which is what lets HLL state combine across partitions, micro-batches,
    and groups without ever revisiting the data."""
    m = 1 << b
    ebits = 4 * PORTABLE_HASH_HEX - b  # bits in the rank word w
    k_exp = ebits + 1  # rho of w == 0 (all-zeros word)
    if len(group_cols) == 0:
        raise ValueError("group_cols must be non-empty (use a lit group for global)")
    # Σ 2^(k_exp - m_reg) <= m * 2^k_exp = 2^61 always fits int64 for any
    # b; what actually needs validating is the bucket-width range itself
    if not 4 <= b <= 16:
        raise ValueError(f"b={b} out of the supported register range [4, 16]")
    h = md5_int(key_col)
    # rank word w = h div m must use INTEGER division (F.expr `div`, never `/`)
    # NULL keys are NOT distinct elements: md5(NULL) is NULL and would mint
    # a phantom (bucket NULL, m_reg NULL) register that inflates `present`
    # by one — biasing the estimate upward and potentially flipping the
    # linear-counting branch (mirrored in hll_registers_sql_ctes)
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(
            *group_cols,
            (h % m).alias("bucket"),
            F.expr(
                f"CASE WHEN ({md5_spark_sql(key_col)} div {m}) = 0 THEN {k_exp} "
                f"ELSE {k_exp} - length(bin({md5_spark_sql(key_col)} div {m})) END"
            ).alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("m_reg"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: list[str], b: int = 8, out: str = "hll_est"
) -> DataFrame:
    """Estimate from a (group..., bucket, m_reg) register table — shared by
    hll_distinct and any register-MERGED estimate (unions of sketches)."""
    m = 1 << b
    k_exp = 4 * PORTABLE_HASH_HEX - b + 1
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    agg = regs.groupBy(*group_cols).agg(
        # pyspark's shiftleft() only takes a literal numBits — SQL form needed
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {k_exp} - m_reg)")).alias("s_data"),
        F.count(F.lit(1)).alias("present"),
    )
    s_total = F.col("s_data") + (F.lit(m) - F.col("present")) * F.lit(1 << k_exp)
    zeros = F.lit(m) - F.col("present")
    raw = alpha * F.lit(float(m * m)) * F.lit(float(1 << k_exp)) / s_total.cast("double")
    linear = F.lit(float(m)) * F.round(
        F.log(F.lit(float(m)) / zeros.cast("double")), 9
    )
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), linear).otherwise(raw)
    return agg.select(
        *group_cols,
        zeros.alias("zero_registers"),
        est.alias(out),
    )


def md5_spark_sql(col: str) -> str:
    """Spark-SQL spelling of md5_int (for F.expr contexts needing `div`)."""
    return f"CAST(conv(substring(md5({col}), 1, {PORTABLE_HASH_HEX}), 16, 10) AS BIGINT)"


def hll_estimate_sql_ctes(regs_cte: str, prefix: str = "hll", b: int = 8) -> str:
    """DuckDB twin of :func:`hll_estimate_from_registers` over a register
    CTE ``{regs_cte}(grp, bucket, m_reg)``; exposes
    ``{prefix}_agg(grp, zero_registers, hll_est)``."""
    m = 1 << b
    k_exp = 4 * PORTABLE_HASH_HEX - b + 1
    alpha = (
        f"(CAST(0.7213 AS DOUBLE) / "
        f"(CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST({m}.0 AS DOUBLE)))"
    )
    return f"""
    {prefix}_pre AS (
        SELECT grp,
               CAST({m} - COUNT(*) AS BIGINT) AS zero_registers,
               {alpha} * CAST({m * m} AS DOUBLE) * CAST({1 << k_exp} AS DOUBLE)
                   / CAST(CAST(SUM(1::BIGINT << ({k_exp} - m_reg)) AS BIGINT)
                          + ({m} - COUNT(*)) * {1 << k_exp} AS DOUBLE) AS raw_est
        FROM {regs_cte} GROUP BY 1),
    {prefix}_agg AS (
        SELECT grp, zero_registers,
               CASE WHEN raw_est <= CAST({2.5 * m} AS DOUBLE) AND zero_registers > 0
                    THEN CAST({m} AS DOUBLE)
                         * round(ln(CAST({m} AS DOUBLE) / CAST(zero_registers AS DOUBLE)), 9)
                    ELSE raw_est END AS hll_est
        FROM {prefix}_pre)
    """


def hll_registers_sql_ctes(
    key_expr: str, group_expr: str, src: str, b: int = 8
) -> str:
    """DuckDB twin of :func:`hll_registers` over ``src``; exposes
    ``hll_regs(grp, bucket, m_reg)``."""
    m = 1 << b
    k_exp = 4 * PORTABLE_HASH_HEX - b + 1
    h = md5_int_sql(key_expr)
    return f"""
    hll_h AS (SELECT {group_expr} AS grp, {h} AS h FROM {src}
              WHERE {key_expr} IS NOT NULL),
    hll_regs AS MATERIALIZED (
        SELECT grp, h % {m} AS bucket,
               MAX(CASE WHEN h // {m} = 0 THEN {k_exp}
                        ELSE {k_exp} - length(bin(h // {m})) END) AS m_reg
        FROM hll_h GROUP BY 1, 2)
    """


def hll_oracle_ctes(
    key_expr: str, group_expr: str, src: str, b: int = 8
) -> str:
    """DuckDB CTE chain replaying :func:`hll_distinct` over ``src`` (a CTE
    with columns ``{group_expr}`` and ``{key_expr}``); exposes
    ``hll_agg(grp, zero_registers, hll_est)``."""
    return (
        hll_registers_sql_ctes(key_expr, group_expr, src, b)
        + ","
        + hll_estimate_sql_ctes("hll_regs", "hll", b)
    )


# --- Bloom filter -----------------------------------------------------------


def bloom_bitmap(
    keys: DataFrame, key_col: str, m_bits: int = 4096, k: int = 3
) -> list[int]:
    """Collect the Bloom filter as driver-side 32-bit words — the form a
    production job ships: the whole filter is ≤ m_bits/32 ints (8 KB at
    m=65536) whatever the key count, so this is bounded control-plane
    state (the k-means-centroid collect pattern), not a corpus collect.

    Built as ONE word-keyed bit_or aggregation (guide §2.3 "aggregate
    before you shuffle"): bit-OR is idempotent, so no distinct pass over
    bit positions is needed, partial aggregation collapses the position
    stream map-side to ≤ m_bits/32 word rows per task, and the driver
    materializes words — not one row per set bit, which at 100 TB bloom
    sizings (billions of bits) would be a corpus-scale collect."""
    word = F.floor(F.col("pos") / 32).cast("int").alias("w")
    # SQL shiftleft: the DataFrame F.shiftleft only takes a LITERAL count
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
    rows = (
        keys.select(
            F.explode(
                F.array(*[(md5_int(key_col, i) % m_bits) for i in range(k)])
            ).alias("pos")
        )
        .groupBy(word)
        .agg(F.bit_or(bit).alias("bits"))
        .collect()
    )
    words = [0] * ((m_bits + 31) // 32)
    for r in rows:
        words[r.w] = int(r.bits)
    return words


def bloom_hit_col(
    key_col: str | Column, words: list[int], m_bits: int, k: int = 3
) -> Column:
    """Map-side membership test against a literal bitmap: k portable
    hashes, two literal-array lookups each, zero shuffles and zero
    Python. The bit extract is (word div 2^s) mod 2 with word < 2^32 —
    exact in double (dyadic scaling), so no engine-specific bit ops.

    This is the 100 TB shape for bloom pruning: the filter rides the
    plan as a broadcast literal; the probe side keeps its partitioning
    and the downstream exact join only sees survivors."""
    # F.lit(list) makes a single ArrayType Literal — F.array(*lits) would
    # be a CreateArray rebuilt per row (measured 4x slower at m=65536)
    bm = F.lit([int(w) for w in words])
    pow2 = F.lit([1 << s for s in range(32)])
    hit = F.lit(True)
    for i in range(k):
        pos = md5_int(key_col, i) % m_bits
        word = F.element_at(bm, F.floor(pos / 32).cast("int") + 1)
        sel = F.element_at(pow2, (pos % 32).cast("int") + 1)
        bit = F.floor(word / sel).cast("long") % 2
        hit = hit & (bit == 1)
    return hit


def cms_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame, out: str = "est"
) -> DataFrame:
    """Equi-join SIZE ESTIMATE from two Count-Min sketches over the join
    keys (Cormode & Muthukrishnan 2005, §4.2): |A ⋈ B| = Σ_k a_k·b_k, and
    the CMS estimate is min over depths of the per-depth cell-product sum
    — one-sided (never under), the primitive a cost-based planner probes
    before choosing a join strategy, computable without ever touching the
    other table's rows.

    Both sketches are depth×width tiny; the estimate is a join of two
    ≤4096-row tables. Products accumulate in decimal (counters can be
    ~1e12 at 100 TB; their products overflow int64) and the ESTIMATE is
    returned as decimal(38,0) too: the per-depth collision mass is
    ~N_A·N_B/width, which itself exceeds int64 at that scale — a long
    output would throw under ANSI mode exactly when the docstring's
    scale claim is exercised."""
    pa = sketch_a.select("j", "bucket", F.col("counter").alias("ca"))
    pb = sketch_b.select("j", "bucket", F.col("counter").alias("cb"))
    per_j = (
        pa.join(pb, ["j", "bucket"])
        .groupBy("j")
        .agg(
            F.sum(F.col("ca").cast("decimal(19,0)") * F.col("cb").cast("decimal(19,0)"))
            .alias("ip")
        )
    )
    # a depth with ZERO colliding cells contributes sum 0 — the join drops
    # it, and min over the surviving (strictly positive) depths would
    # overestimate, or return NULL for fully disjoint sketches. Pad the
    # missing depths with 0 (depth inventory from sketch_a; two genuinely
    # empty sketches coalesce to 0 — |A ⋈ B| = 0 is the right answer).
    depths = sketch_a.select("j").distinct()
    full = depths.join(per_j, "j", "left").select(
        F.coalesce(F.col("ip"), F.lit(0).cast("decimal(38,0)")).alias("ip")
    )
    return full.agg(
        F.coalesce(F.min("ip"), F.lit(0)).cast("decimal(38,0)").alias(out)
    )

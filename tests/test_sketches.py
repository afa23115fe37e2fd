"""Sketch operators (llmops/sketches.py): portable-hash parity, CMS
one-sided error, HLL error bound, Bloom no-false-negatives."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from convex_batch_processor_spark.llmops import sketches as K
from convex_batch_processor_spark.llmops.dedup import tokens_col, with_shingles
from convex_batch_processor_spark.catalog import load_table


def test_portable_hash_parity_spark_vs_duckdb(spark):
    """The whole module rests on md5_int(Spark) == md5_int_sql(DuckDB)."""
    samples = ["", "a", "hello world", "ünïcode ☃ text", "0" * 64, "tab\tand\nnl"]
    sdf = spark.createDataFrame([(s,) for s in samples], ["s"])
    srows = {
        r.s: (r.h0, r.h7)
        for r in sdf.select(
            "s",
            K.md5_int("s").alias("h0"),
            K.md5_int("s", 7).alias("h7"),
        ).collect()
    }
    con = duckdb.connect()
    for s in samples:
        d0, d7 = con.execute(
            f"SELECT {K.md5_int_sql('?')}, {K.md5_int_sql('?', 7)}", [s, s]
        ).fetchone()
        assert srows[s] == (d0, d7), s
        assert 0 <= d0 < (1 << 60)


def test_cms_never_underestimates_and_bounds_error(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    depth, width = 4, 1024
    sketch = K.cms_sketch(counts, "term", "cnt", depth, width)
    # probe EVERY vocabulary term — the guarantee is per-point, test it all
    est = K.cms_estimate(counts, sketch, "term", depth, width)
    joined = counts.join(est, "term").select("term", "cnt", "cms_est").collect()
    total = sum(r.cnt for r in joined)
    overs = [r.cms_est - r.cnt for r in joined]
    assert all(o >= 0 for o in overs), "CMS must never underestimate"
    # classic bound: over <= e*N/width holds w.p. 1-e^-depth per point;
    # allow a handful of outliers at this corpus size
    bound = 2.718281828 * total / width
    n_bad = sum(1 for o in overs if o > bound)
    assert n_bad <= max(2, len(overs) // 100), (n_bad, bound, total)


def test_hll_error_within_bound(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    lt = docs.select("lang", F.explode(tokens_col("text")).alias("term")).distinct()
    est = {r.lang: r.hll_est for r in K.hll_distinct(lt, "term", ["lang"], b=8).collect()}
    exact = {r.lang: r.cnt for r in lt.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert set(est) == set(exact)
    for lang, n in exact.items():
        rel = abs(est[lang] - n) / n
        # raw HLL @ b=8: sigma = 1.04/16 = 6.5%; 4 sigma + slack for the
        # missing small-range correction at small n
        assert rel < 0.35, (lang, n, est[lang], rel)


def test_bloom_no_false_negatives(spark, sf_dir):
    g = with_shingles(load_table(spark, sf_dir, "documents"), n=8, out="sh")
    grams = g.select("doc_id", F.explode("sh").alias("gram"))
    eval_grams = grams.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    corpus = grams.filter(F.col("doc_id") % 50 != 0)
    m_bits, k = 4096, 3  # small filter -> some false positives at sf0.001
    words = K.bloom_bitmap(eval_grams, "gram", m_bits, k)
    n_bits = sum(bin(w).count("1") for w in words)
    assert 0 < n_bits <= m_bits
    flagged = corpus.withColumn("bloom_hit", K.bloom_hit_col("gram", words, m_bits, k))
    truth = corpus.join(eval_grams.withColumn("in_eval", F.lit(True)), "gram", "left")
    merged = flagged.join(
        truth.select("doc_id", "gram", "in_eval"), ["doc_id", "gram"]
    ).collect()
    assert merged
    for r in merged:
        if r.in_eval:  # every true member MUST pass the filter
            assert r.bloom_hit, (r.doc_id, r.gram)


def test_bloom_prunes_before_exact_join(spark, sf_dir):
    """The 100 TB point: candidates surviving the bloom are a superset of
    the true hits and a small fraction of the corpus."""
    g = with_shingles(load_table(spark, sf_dir, "documents"), n=8, out="sh")
    grams = g.select("doc_id", F.explode("sh").alias("gram"))
    eval_grams = grams.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    corpus = grams.filter(F.col("doc_id") % 50 != 0)
    words = K.bloom_bitmap(eval_grams, "gram", 65536, 3)
    flagged = corpus.withColumn("bloom_hit", K.bloom_hit_col("gram", words, 65536, 3))
    n_total = corpus.count()
    n_candidates = flagged.filter(F.col("bloom_hit")).count()
    n_true = corpus.join(eval_grams, "gram", "left_semi").count()
    assert n_true <= n_candidates  # superset
    assert n_candidates < n_total / 10  # actually prunes


def test_hll_register_merge_equals_union_build(spark, sf_dir):
    """Mergeability: max-merging two groups' registers must give EXACTLY
    the registers of a sketch built over the union of their key sets."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    st = docs.select("source", F.explode(tokens_col("text")).alias("term")).distinct()
    two = st.filter(F.col("source").isin("src0", "src1"))
    regs = K.hll_registers(two, "term", ["source"], b=6)
    merged = {
        r.bucket: r.m_reg
        for r in regs.groupBy("bucket").agg(F.max("m_reg").alias("m_reg")).collect()
    }
    union_keys = two.select("term").distinct().withColumn("g", F.lit("u"))
    direct = {
        r.bucket: r.m_reg
        for r in K.hll_registers(union_keys, "term", ["g"], b=6).collect()
    }
    assert merged == direct


def test_hll_union_estimate_bounds(spark, sf_dir):
    from pyspark.sql import functions as F
    from convex_batch_processor_spark.queries.llm7 import hll_union_sources

    rows = hll_union_sources(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_intersect_exact <= r.n_union_exact
        # union estimate within the documented HLL error of exact (b=8)
        assert abs(r.hll_union_est - r.n_union_exact) / r.n_union_exact < 0.35


def test_cms_inner_product_disjoint_sketches_estimate_zero(spark):
    """Regression (r8 llmops review): a depth with zero colliding cells
    contributes per-depth sum 0 — dropping it from the min overestimated,
    and fully disjoint sketches returned NULL instead of 0."""
    a = spark.createDataFrame(
        [(f"a{i}", 1) for i in range(20)], "term string, cnt long"
    )
    b = spark.createDataFrame(
        [(f"b{i}", 1) for i in range(20)], "term string, cnt long"
    )
    sa = K.cms_sketch(a, "term", "cnt", 4, 4096)
    sb = K.cms_sketch(b, "term", "cnt", 4, 4096)
    est = K.cms_inner_product(sa, sb).collect()[0][0]
    # width 4096 >> 20 keys: overwhelmingly likely at least one depth has
    # no collisions, and the true inner product is 0 — the min must be 0
    assert est is not None
    assert int(est) == 0, est


def test_hll_registers_ignore_null_keys(spark):
    """Regression (r8 llmops review): a NULL key minted a phantom
    (bucket NULL, m_reg NULL) register that inflated `present` and biased
    the estimate — NULL keys are not distinct elements."""
    with_nulls = spark.createDataFrame(
        [(None, "g")] * 5 + [(f"k{i}", "g") for i in range(50)],
        "k string, g string",
    )
    without = spark.createDataFrame(
        [(f"k{i}", "g") for i in range(50)], "k string, g string"
    )
    r1 = {(r.bucket, r.m_reg) for r in K.hll_registers(with_nulls, "k", ["g"]).collect()}
    r2 = {(r.bucket, r.m_reg) for r in K.hll_registers(without, "k", ["g"]).collect()}
    assert r1 == r2
    assert all(b is not None for b, _ in r1)

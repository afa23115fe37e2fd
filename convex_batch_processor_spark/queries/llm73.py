"""Round-12 pre-flight pack (NOT registered — one pack registers per
round, and round 10 registered llm72; this pack follows llm72's cadence:
built and gated one round ahead, registered at the round-11 close if the
rotation capacity holds, fronting the round-12 window).

The tranche continues the LLM-training-data surface with the curation
operators the llm72 pack didn't cover: Gopher-style repetition signals,
substring-dedup SCRUBBING (spans -> token removal accounting), source-
mix divergence, a hashed linear quality scorer (the fastText-class
model-scoring plumbing), packed-sequence attention-waste accounting,
tokenizer fertility, an isotonic (PAVA) calibration fit, deterministic
span-corruption mask planning (T5-style denoising), a matryoshka
embedding energy profile, and corpus bigram conditional entropy.

This module is deliberately NOT imported by ``queries/__init__.py``;
nothing here can reach the driver window or add stale-green debt.
``tests/test_r12_preflight.py`` runs every entry through the same
compare() harness the fixture gates use at sf0.001, a crafted boundary
fixture, AND sf0.1 (the rounding-tie tier), plus python-reference parity
for the rows-only entry.

Provenance: extends the reference's batch-processing surface
(blocknavi/convex-batch-processor, src/lib.ts — per-key aggregation and
retention state machines) with LLM-pipeline operators the task brief
names as first-class; none have a reference counterpart.

Determinism: the established recipes — exact integer counts until one
raw double division (rule 14: never round an exact ratio), leaf-rounded
transcendentals at 9 dp, division-free guard conditions, md5-derived
integers for portable pseudo-randomness (rule 15: decimal scales narrow
only via explicit round()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops.dedup import (
    positional_gram_array,
    scrub_covered_positions,
    tokens_col,
)
from .llm72 import _SPAN_N
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# name -> (fn, oracle_sql) — the shape register() consumes at
# registration time (the llm72 mechanism).
CANDIDATES: dict[str, tuple] = {}


def _candidate(name: str, oracle: str | None = None):
    def deco(fn):
        CANDIDATES[name] = (fn, oracle)
        return fn

    return deco


# --- 1. Gopher repetition signals: top n-gram character coverage -------------

_REP_NS = (2, 3, 4)


@_candidate(
    "top_ngram_char_fraction",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents WHERE text IS NOT NULL),
    base AS (
        SELECT doc_id, t, CAST(len(array_to_string(t, ' ')) AS BIGINT)
                   AS total_chars
        FROM toks),
    g AS (
        SELECT doc_id, total_chars, n.n AS n,
               array_to_string(t[i:i + n.n - 1], ' ') AS gram
        FROM base
        CROSS JOIN (SELECT unnest({list(_REP_NS)}) AS n) n
        , unnest(range(1, len(t) - n.n + 2)) AS r(i)
        WHERE len(t) >= n.n),
    per_gram AS (
        SELECT doc_id, n, total_chars,
               CAST(COUNT(*) AS BIGINT) * CAST(len(gram) AS BIGINT) AS cover
        FROM g GROUP BY doc_id, n, total_chars, gram)
    SELECT doc_id, CAST(n AS INTEGER) AS n,
           CAST(MAX(cover) AS BIGINT) AS top_cover_chars,
           total_chars,
           CAST(MAX(cover) AS BIGINT) / CAST(total_chars AS DOUBLE)
               AS cover_frac
    FROM per_gram GROUP BY doc_id, n, total_chars
    """,
)
def top_ngram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: per (document, n) for n in (2,3,4),
    the character-coverage of the heaviest n-gram — MAX over grams of
    occurrence_count x gram_char_length, as a fraction of the doc's
    normalized text length (tokens joined by single spaces). High values
    flag boilerplate/repetitive docs the quality filter should drop
    (Rae et al., Gopher, repetition heuristics). Generalizes
    repetition_top_bigram (llm3) from count-of-top-bigram to the
    character-mass formulation across three gram widths — the form the
    Gopher thresholds are stated in. The MAX formulation is
    tie-free by construction: equal-coverage grams yield the same value,
    so no "which gram" tiebreak exists to diverge on.

    Determinism: coverage is an exact integer product; the only float op
    is the final raw division (rule 14: emitted UNROUNDED). cover_frac
    can exceed 1.0 for n >= 2 (occurrences overlap-count positions) —
    that is the standard formulation; the filter thresholds are
    calibrated to it.

    Scale: one positional gram explode per n (map-side, |_REP_NS| = 3
    passes over token arrays) -> ONE (doc, n, gram)-keyed shuffle ->
    one (doc, n) reduce. Candidate volume is 3 x sum-of-positions,
    never doc x doc; gram keys are near-uniform."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select(
        "doc_id",
        tokens_col("text").alias("t"),
    ).select(
        "doc_id", "t",
        F.length(F.array_join("t", " ")).cast("long").alias("total_chars"),
    )
    streams = []
    for n in _REP_NS:
        # the shared helper owns the F.transform lambda-arity footgun
        grams = positional_gram_array("t", n)
        streams.append(
            base.filter(F.size("t") >= n).select(
                "doc_id",
                "total_chars",
                F.lit(n).alias("n"),
                F.explode(grams).alias("gram"),
            )
        )
    g = streams[0]
    for s in streams[1:]:
        g = g.unionAll(s)
    per_gram = g.groupBy("doc_id", "n", "total_chars", "gram").agg(
        (F.count(F.lit(1)) * F.length("gram").cast("long")).alias("cover")
    )
    return per_gram.groupBy("doc_id", "n", "total_chars").agg(
        F.max("cover").alias("top_cover_chars"),
    ).select(
        "doc_id",
        F.col("n").cast("int").alias("n"),
        "top_cover_chars",
        "total_chars",
        (F.col("top_cover_chars") / F.col("total_chars").cast("double"))
        .alias("cover_frac"),
    )


# --- 2. substring-dedup scrub accounting --------------------------------------

# gram width = the span detector's width BY IMPORT, so the scrub always
# accounts for exactly the policy substring_dedup_spans detects
_SCRUB_N = _SPAN_N

# The toks -> positional grams -> cross-doc duplicates -> DISTINCT
# covered token positions CTE chain — the DuckDB twin of
# llmops.dedup.scrub_covered_positions.
SCRUB_COVERED_CTES = f"""toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents WHERE text IS NOT NULL),
    g AS (
        SELECT doc_id, i AS pos, array_to_string(t[i:i + {_SCRUB_N - 1}], ' ') AS gram
        FROM toks, unnest(range(1, len(t) - {_SCRUB_N - 2})) AS r(i)
        WHERE len(t) >= {_SCRUB_N}),
    nd AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
    covered AS (
        SELECT DISTINCT g.doc_id, c.tok_idx
        FROM g JOIN nd USING (gram)
        , unnest(range(g.pos, g.pos + {_SCRUB_N})) AS c(tok_idx))"""


@_candidate(
    "substring_dedup_scrub",
    oracle=f"""
    WITH {SCRUB_COVERED_CTES},
    sized AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
    removed AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
        FROM covered GROUP BY doc_id)
    SELECT s.doc_id, s.n_tokens,
           COALESCE(r.n_removed, 0) AS n_removed_tokens,
           s.n_tokens - COALESCE(r.n_removed, 0) AS n_kept_tokens
    FROM sized s LEFT JOIN removed r ON r.doc_id = s.doc_id
    """,
)
def substring_dedup_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup REMOVAL accounting — the action step after
    substring_dedup_spans (llm72): a token is removed iff ANY cross-doc
    duplicated 8-gram (_SCRUB_N) covers it (the Lee et al. substring-
    removal policy with the duplication threshold = the gram width).
    Emits per-doc kept/removed token counts for every tokenizable doc
    (zero-duplication docs emit n_removed = 0) — the budget a training
    pipeline reclaims by scrubbing.

    Correctness subtlety the spans query cannot see: adjacent duplicated
    runs closer than the gram width cover OVERLAPPING token ranges, so
    removal counts DISTINCT covered token indices (an 8x bounded explode
    of duplicated positions), never a sum of per-run span lengths.

    Determinism: exact integers end to end — no float anywhere.

    Scale: the same gram-keyed shuffle as the spans query; the coverage
    explode is 8x the DUPLICATED-position count only (duplication-bounded,
    not corpus-bounded), then one doc-keyed distinct+reduce. The final
    join back to per-doc sizes is doc-keyed."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select("doc_id", tokens_col("text").alias("t")).select(
        "doc_id", F.size("t").cast("long").alias("n_tokens")
    )
    # the shared removal set (llmops.dedup.scrub_covered_positions):
    # one policy with the span detector and the dedup impact report
    covered = scrub_covered_positions(docs, _SCRUB_N)
    removed = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("n_removed"), F.lit(0)))
            .alias("n_kept_tokens"),
        )
    )


# --- 3. source-mix divergence from uniform -------------------------------------


@_candidate(
    "source_mix_divergence",
    oracle="""
    WITH c AS (
        -- HAVING > 0: a source whose docs are all empty/whitespace text
        -- has share 0 and no defined log-ratio (DuckDB ln(0) ERRORS,
        -- Spark F.log(0) is NULL — divergent); it carries no mix weight,
        -- so it emits no row on both sides
        SELECT source,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                                        x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL GROUP BY source
        HAVING SUM(len(list_filter(string_split(text, ' '),
                                   x -> x <> ''))) > 0),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
                 CAST(COUNT(*) AS BIGINT) AS k FROM c)
    SELECT source, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
           round(ln((CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE))
                    * CAST(k AS DOUBLE)), 9) AS ln_ratio_uniform,
           round((CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE))
                 * round(ln((CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE))
                            * CAST(k AS DOUBLE)), 9), 9) AS kl_term
    FROM c CROSS JOIN t
    """,
)
def source_mix_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix KL decomposition vs the uniform mix: per source its
    token share p_i, ln(p_i / (1/k)) and the KL contribution
    p_i ln(p_i k) — the mixing diagnostic that says which sources a
    rebalancing (temperature_mix_weights, llm72) would move most.
    Zero-token sources (all-empty/whitespace text) are EXCLUDED on both
    sides — share 0 has no log-ratio (DuckDB ln(0) errors, Spark yields
    NULL), and a source with no tokens carries no mix weight — so every
    emitted row has p_i > 0; summing kl_term gives KL(p || uniform)
    over the token-bearing sources.

    Determinism: shares are raw exact-integer ratios (rule 14 —
    unrounded); ln is a leaf-rounded transcendental at 9 dp; kl_term
    re-rounds the product at 9 dp (its bits contain the ln's, so a tie
    is measure-zero, the transcendental-leaf class).

    Scale: one |sources|-keyed shuffle; the total joins back as a
    one-row broadcast; token counting is map-side size(split())."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # zero-token sources excluded on both sides (see the oracle comment)
    c = docs.groupBy("source").agg(
        F.sum(F.size(tokens_col("text"))).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    t = F.broadcast(
        c.agg(
            F.sum("n_tokens").cast("long").alias("tot"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    share = F.col("n_tokens").cast("double") / F.col("tot").cast("double")
    ln9 = F.round(F.log(share * F.col("k").cast("double")), 9)
    return c.crossJoin(t).select(
        "source",
        "n_tokens",
        share.alias("share"),
        ln9.alias("ln_ratio_uniform"),
        F.round(share * ln9, 9).alias("kl_term"),
    )


# --- 4. hashed linear quality scorer (fastText-class plumbing) -----------------

# md5-derived integer weights in [-1e6, 1e6] (scale 1e-6): exact BIGINT
# arithmetic end to end; the weight table IS the hash, so the "model"
# is deterministic, portable, and needs no sidecar state.
_W_MOD = 2000001
_W_OFF = 1000000


def hashed_token_weight(tok_col="tok"):
    """Exact BIGINT pseudo-weight in [-1e6, 1e6] (read at scale 1e-6)
    from a token's 60-bit md5 prefix — the deterministic weight table
    of the scorer. The sign of
    the per-doc SUM is the 0.5-probability decision boundary (sigmoid is
    monotone), so thresholding needs no float at all."""
    col = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10)
        .cast("long") % F.lit(_W_MOD)
        - F.lit(_W_OFF)
    )


def hashed_token_weight_sql(tok_sql: str) -> str:
    """The DuckDB twin of :func:`hashed_token_weight`."""
    return (
        f"(CAST('0x' || substr(md5({tok_sql}), 1, 15) AS BIGINT) "
        f"% {_W_MOD}) - {_W_OFF}"
    )


@_candidate(
    "hashed_linear_quality_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS tok
        FROM documents WHERE text IS NOT NULL),
    w AS (
        SELECT doc_id, {hashed_token_weight_sql("tok")} AS wi
        FROM tok),
    s AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(wi) AS BIGINT) AS w_sum
        FROM w GROUP BY doc_id)
    SELECT doc_id, n_tokens, w_sum,
           CAST(w_sum AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e6)
               AS mean_w,
           round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * 1e6)))), 9) AS quality_p
    FROM s
    """,
)
def hashed_linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality scorer — the fastText-class scoring
    PLUMBING (feature hashing -> per-token weight lookup -> mean ->
    sigmoid) with a deterministic md5-derived weight table standing in
    for trained weights (weight(token) = md5_60bits % 2000001 - 1e6,
    i.e. an integer in [-1e6, 1e6] read at scale 1e-6). Swapping the
    hash-weight expression for a broadcast-joined learned table is the
    production path; every other part of the pipeline is exactly this.

    Determinism: the weight is an exact BIGINT (both engines compute the
    same 60-bit md5 prefix and the same %), the per-doc sum is an exact
    BIGINT, the mean is one raw double division of exact integers
    (rule 14 — unrounded), and only the sigmoid leaf rounds at 9 dp
    (transcendental).

    Scale: token explode (map-side) -> one doc-keyed reduce; the weight
    is a pure column expression, so there is NO model state to ship —
    the 100 TB plan is a single map + reduce."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
    wi = hashed_token_weight("tok")
    s = tok.select("doc_id", wi.alias("wi")).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("wi").cast("long").alias("w_sum"),
    )
    mean_w = F.col("w_sum").cast("double") / (
        F.col("n_tokens").cast("double") * F.lit(1e6)
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "w_sum",
        mean_w.alias("mean_w"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean_w)), 9)
        .alias("quality_p"),
    )


# --- 5. packed-sequence attention-waste accounting ----------------------------

_CHUNK_CAP = 512


@_candidate(
    "chunked_attention_waste",
    oracle=f"""
    WITH sized AS (
        SELECT source, doc_id,
               COALESCE(len(list_filter(string_split(text, ' '), x -> x <> '')), 0)
                   AS n_tokens
        FROM documents),
    binned AS (
        SELECT source, n_tokens,
               CAST(floor((CAST(SUM(n_tokens) OVER (
                               PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens)
                          / {float(_CHUNK_CAP)}) AS BIGINT) AS bin_id
        FROM sized),
    agg AS (
        SELECT source, bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_real,
               CAST(SUM(CAST(n_tokens AS BIGINT) * CAST(n_tokens AS BIGINT))
                    AS BIGINT) AS n_sq
        FROM binned GROUP BY source, bin_id)
    SELECT source, bin_id, n_docs, n_real,
           CASE WHEN n_real > 0
                THEN CAST(n_real * n_real - n_sq AS DOUBLE)
                     / CAST(n_real * n_real AS DOUBLE)
                ELSE NULL END AS cross_attn_frac
    FROM agg
    """,
)
def chunked_attention_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-sequence attention-waste accounting over the streaming-chunk
    packing (token_pack_chunks' bins: per source in doc order, bin =
    exclusive token cumsum div 512): per (source, bin) the fraction of
    dense-attention token pairs that CROSS document boundaries —
    (n_real^2 - sum n_i^2) / n_real^2 — the quantity a block-diagonal
    attention mask (or better packing) reclaims. The sum-of-squares
    identity needs no pair expansion.

    Determinism: exact integers until one raw double division (rule 14 —
    unrounded); an all-empty-doc bin (n_real = 0) yields NULL through a
    DIVISION-FREE guard condition on both engines (the round-7 rule: the
    guard must not itself divide).

    Scale: one window cumsum per source (the packing recipe), one
    (source, bin) reduce — no Python, no pair explosion; n^2 peaks at
    (per-doc token count)^2 inside a BIGINT."""
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "source",
        "doc_id",
        F.coalesce(F.size(tokens_col("text")), F.lit(0)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = sized.select(
        "source",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w).cast("long") - F.col("n_tokens"))
            / F.lit(float(_CHUNK_CAP))
        ).cast("long").alias("bin_id"),
    )
    agg = binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_real"),
        F.sum(
            F.col("n_tokens").cast("long") * F.col("n_tokens").cast("long")
        ).cast("long").alias("n_sq"),
    )
    sq = F.col("n_real") * F.col("n_real")
    return agg.select(
        "source",
        "bin_id",
        "n_docs",
        "n_real",
        F.when(
            F.col("n_real") > 0,
            (sq - F.col("n_sq")).cast("double") / sq.cast("double"),
        ).otherwise(F.lit(None).cast("double")).alias("cross_attn_frac"),
    )


# --- 6. tokenizer fertility by language ----------------------------------------


@_candidate(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH d AS (
        SELECT lang,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens,
               CAST(len(array_to_string(
                        list_filter(string_split(text, ' '), x -> x <> ''), ' '))
                    AS BIGINT) AS n_chars
        FROM documents WHERE text IS NOT NULL),
    g AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM d GROUP BY lang)
    SELECT lang, n_docs, n_tokens, n_chars,
           CASE WHEN n_tokens > 0
                THEN CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                ELSE NULL END AS chars_per_token,
           CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
               AS tokens_per_doc
    FROM g
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility profile by language: docs, whitespace tokens,
    normalized characters (tokens re-joined by single spaces, so
    irregular whitespace never skews the ratio), chars-per-token and
    tokens-per-doc — the per-language cost model a tokenizer/budget
    planner reads before allocating a multilingual mix (fertility
    differences of 2-4x between scripts are the classic surprise).
    NULL-lang docs form their own group on both engines (GROUP BY,
    not a window — no NULL-ordering hazard).

    Determinism: exact integer aggregates; the two ratios are raw
    double divisions (rule 14 — unrounded); the all-empty-text group
    (n_tokens = 0) NULL-guards its ratio with a division-free condition;
    n_docs >= 1 by construction.

    Scale: map-side size/length -> one |langs|-keyed reduce."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # materialize the token array once: two inline tokens_col() calls
    # would run the split+filter twice per row (the shingle perf contract)
    d = docs.select("lang", tokens_col("text").alias("t")).select(
        "lang",
        F.size("t").cast("long").alias("n_tokens"),
        F.length(F.array_join("t", " ")).cast("long").alias("n_chars"),
    )
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
        ).otherwise(F.lit(None).cast("double")).alias("chars_per_token"),
        (F.col("n_tokens").cast("double") / F.col("n_docs").cast("double"))
        .alias("tokens_per_doc"),
    )


# --- 7. isotonic (PAVA) calibration fit (rows-only) ----------------------------


@_candidate("isotonic_calibration_pava", oracle=None)
def isotonic_calibration_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (pool-adjacent-violators) of the return rate
    against quantity — the nonparametric calibration fit that upgrades
    the binned calibration table (calibration_bins, llm44): fit the
    best monotone non-decreasing rate r(v) minimizing weighted squared
    error over the per-quantity histogram (v, c, p), weights c.

    Rows-only by documented contract: PAVA's pooling is an inherently
    sequential scan, not one SQL query — tests/test_r12_preflight.py
    pins exact parity against a pure-Python PAVA plus the invariants
    (non-decreasing fit, weighted mean preserved, fit constant within
    pools). The sequential step runs over the COLLAPSED per-quantity
    histogram (|distinct quantities| rows — the bounded-histogram class
    every calibration query in the repo uses), via applyInPandas on a
    single constant group: the corpus-scale work (the histogram) is
    distributed; only the |values|-sized table is sequential.

    Determinism: pool means are computed from exact integer (sum_p,
    sum_c) pairs carried through the pooling loop; the emitted rate is
    one raw double division per pool (rule 14 — unrounded)."""
    li = _t(spark, sf_dir, "lineitem")
    hist = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("long")
        .alias("p"),
    )

    def pava(pdf):
        import pandas as pd

        pdf = pdf.sort_values("v").reset_index(drop=True)
        # each pool: [v_start, v_end, sum_p, sum_c] with exact ints
        pools: list = []
        for row in pdf.itertuples(index=False):
            pools.append([row.v, row.v, int(row.p), int(row.c)])
            # merge while the monotonicity p/c is violated (exact
            # integer cross-multiplication — no float compare)
            while (
                len(pools) >= 2
                and pools[-2][2] * pools[-1][3] > pools[-1][2] * pools[-2][3]
            ):
                a = pools.pop()
                pools[-1][1] = a[1]
                pools[-1][2] += a[2]
                pools[-1][3] += a[3]
        out = {"v": [], "c": [], "p": [], "rate_fit": []}
        for vs, ve, sp, sc in pools:
            fit = sp / sc
            sub = pdf[(pdf.v >= vs) & (pdf.v <= ve)]
            for r in sub.itertuples(index=False):
                out["v"].append(r.v)
                out["c"].append(int(r.c))
                out["p"].append(int(r.p))
                out["rate_fit"].append(fit)
        return pd.DataFrame(out)

    schema = "v double, c long, p long, rate_fit double"
    return (
        hist.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(pava, schema=schema)
    )


# --- 8. span-corruption mask planning (T5-style denoising) ---------------------

_MASK_PCT = 15   # target masked-token percentage
_SPAN_LEN = 3    # mean/target span length (tokens)


@_candidate(
    "span_corruption_plan",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL),
    planned AS (
        SELECT doc_id, n_tokens,
               (n_tokens * {_MASK_PCT}) // 100 AS n_target,
               ((n_tokens * {_MASK_PCT}) // 100 + {_SPAN_LEN - 1})
                   // {_SPAN_LEN} AS n_spans
        FROM sized
        WHERE (n_tokens * {_MASK_PCT}) // 100 >= 1),
    spans AS (
        SELECT doc_id, n_tokens, n_spans,
               CAST(i AS BIGINT) AS span_idx,
               n_tokens // n_spans AS stratum_len
        FROM planned, unnest(range(0, n_spans)) AS r(i)),
    placed AS (
        SELECT doc_id, n_tokens, span_idx,
               least({_SPAN_LEN}, stratum_len) AS span_len,
               span_idx * stratum_len + 1
                 + (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                            || CAST(span_idx AS VARCHAR)),
                                        1, 15) AS BIGINT)
                    % (stratum_len - least({_SPAN_LEN}, stratum_len) + 1))
                   AS start_pos
        FROM spans)
    SELECT doc_id, n_tokens, span_idx,
           CAST(start_pos AS BIGINT) AS start_pos,
           CAST(span_len AS BIGINT) AS span_len
    FROM placed
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic span-corruption mask plan (the T5/UL2 denoising
    pre-processing step): per document, target 15% (_MASK_PCT) of tokens
    masked in spans of 3 (_SPAN_LEN) — n_spans = ceil(floor(0.15 n)/3)
    strata of equal length, one span per stratum at an md5-derived
    offset, so spans NEVER overlap by construction and the plan is
    reproducible across engines, retries, and partitions (rand() is
    none of those). Docs too short to mask a single token (n < 7) emit
    no rows. start_pos is a 1-based token index; a stratum shorter than
    the span length truncates its span.

    Determinism: exact integer arithmetic end to end — sizes, strata,
    and offsets (60-bit md5 prefix mod available positions); no floats
    anywhere.

    Scale: map-side size + a bounded explode (one row per planned span,
    ~n_tokens/20 per doc) — no shuffle at all until a consumer
    aggregates; the hash placement is a pure column expression."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    )
    planned = (
        sized.withColumn(
            "n_target",
            ((F.col("n_tokens") * _MASK_PCT) / F.lit(100)).cast("long"),
        )
        .filter(F.col("n_target") >= 1)
        .withColumn(
            "n_spans",
            ((F.col("n_target") + F.lit(_SPAN_LEN - 1)) / F.lit(_SPAN_LEN))
            .cast("long"),
        )
    )
    spans = planned.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        F.explode(F.sequence(F.lit(0), F.col("n_spans") - 1)).alias("_i"),
    ).select(
        "doc_id",
        "n_tokens",
        F.col("_i").cast("long").alias("span_idx"),
        (F.col("n_tokens") / F.col("n_spans")).cast("long").alias("stratum_len"),
    )
    span_len = F.least(F.lit(_SPAN_LEN), F.col("stratum_len"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("span_idx").cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    start = (
        F.col("span_idx") * F.col("stratum_len")
        + F.lit(1)
        + (h % (F.col("stratum_len") - span_len + 1))
    )
    return spans.select(
        "doc_id",
        "n_tokens",
        "span_idx",
        start.cast("long").alias("start_pos"),
        span_len.cast("long").alias("span_len"),
    )


# --- 9. matryoshka embedding energy profile ------------------------------------

_ENERGY_KS = (16, 32, 48)


@_candidate(
    "embedding_energy_profile",
    oracle=f"""
    WITH el AS (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE)
                          * CAST(unnest(embedding) AS DOUBLE), 6)
                    AS DECIMAL(18,6)) AS sq
        FROM embeddings WHERE embedding IS NOT NULL),
    per_dim AS (
        SELECT dim, SUM(sq) AS ssq FROM el GROUP BY dim),
    tot AS (SELECT SUM(ssq) AS total FROM per_dim)
    SELECT CAST(k.k AS INTEGER) AS k,
           CAST(SUM(p.ssq) AS DOUBLE) AS energy,
           CAST(tot.total AS DOUBLE) AS total_energy,
           -- NULL-guard an all-zero-vector corpus (total = 0) with a
           -- DIVISION-FREE condition: ANSI Spark throws on 0/0 where
           -- DuckDB yields NULL
           CASE WHEN tot.total > 0
                THEN CAST(SUM(p.ssq) AS DOUBLE) / CAST(tot.total AS DOUBLE)
                ELSE NULL END AS energy_ratio
    FROM (SELECT unnest({list(_ENERGY_KS)}) AS k) k
    JOIN per_dim p ON p.dim <= k.k
    CROSS JOIN tot
    GROUP BY k.k, tot.total
    """,
)
def embedding_energy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation diagnostic: the fraction of total embedding
    energy (sum of squared components over the corpus) captured by the
    first k dims, for k in (16, 32, 48) (_ENERGY_KS) — the measurement
    that says whether truncated vectors are safe for coarse ANN stages
    (Kusupati et al., Matryoshka Representation Learning). NULL vectors
    contribute nothing.

    Determinism: each squared component is leaf-rounded at 6 dp and
    accumulated in DECIMAL(18,6) (order-independent; the unscaled sum
    stays far below 2^52, rule 15b, so the double conversion is
    bit-identical in both engines); the ratio is one raw double division
    of exact decimals (rule 14 — unrounded), NULL-guarded division-free
    for the all-zero-vector corpus (total = 0: ANSI Spark would throw
    where DuckDB yields NULL); an all-NULL corpus emits no rows (the
    join has nothing to match).

    Scale: posexplode is map-side; ONE shuffle on the 64-value dim key
    collapses the corpus to |dims| rows; everything after (the k-table
    join, the total) is constant-size."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    e = F.col("e").cast("double")
    el = emb.select(F.posexplode("embedding").alias("pos", "e")).select(
        (F.col("pos") + 1).alias("dim"),
        F.round(e * e, 6).cast("decimal(18,6)").alias("sq"),
    )
    per_dim = el.groupBy("dim").agg(F.sum("sq").alias("ssq"))
    tot = F.broadcast(per_dim.agg(F.sum("ssq").alias("total")))
    ks = F.broadcast(
        spark.createDataFrame([(k,) for k in _ENERGY_KS], "k int")
    )
    return (
        per_dim.join(ks, per_dim.dim <= ks.k)
        .crossJoin(tot)
        .groupBy("k", "total")
        .agg(F.sum("ssq").alias("energy_dec"))
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("energy_dec").cast("double").alias("energy"),
            F.col("total").cast("double").alias("total_energy"),
            # NULL-guard an all-zero-vector corpus (oracle comment)
            F.when(
                F.col("total") > 0,
                F.col("energy_dec").cast("double")
                / F.col("total").cast("double"),
            ).otherwise(F.lit(None).cast("double")).alias("energy_ratio"),
        )
    )


# --- 10. corpus bigram conditional entropy --------------------------------------


@_candidate(
    "bigram_conditional_entropy",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents WHERE text IS NOT NULL),
    bg AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2),
    cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM cb GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS n_types FROM cb),
    terms AS (
        SELECT n.n, n.n_types,
               CAST(round((CAST(cb.c AS DOUBLE) / CAST(n.n AS DOUBLE))
                          * round(ln(CAST(c1.c1 AS DOUBLE)
                                     / CAST(cb.c AS DOUBLE)), 9), 9)
                    AS DECIMAL(18,9)) AS term
        FROM cb JOIN c1 ON c1.w1 = cb.w1 CROSS JOIN n)
    SELECT n AS n_bigrams, n_types AS n_bigram_types,
           CAST(SUM(term) AS DOUBLE) AS cond_entropy_nats
    FROM terms GROUP BY n, n_types
    """,
)
def bigram_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram conditional entropy H(W2|W1) =
    Sum p(w1,w2) ln(c(w1)/c(w1,w2)) in nats — the sequence-predictability
    measure (how much a token constrains its successor) that complements
    vocab_entropy_by_source's unigram diversity; low values flag
    templated/boilerplate corpora even when the vocabulary looks rich.
    One corpus-level row: bigram count, type count, entropy.

    Determinism: counts are exact integers; ln is a leaf-rounded
    transcendental at 9 dp; each term re-rounds at 9 dp (its bits contain
    the ln's — tie measure-zero) into DECIMAL(18,9) so the global sum is
    an exact, order-independent fold whose unscaled value (<= ln V x 1e9)
    sits far below 2^52 (rule 15b).

    Scale: bigram explode (map-side) -> ONE (w1,w2) shuffle for the type
    table; c1 is an aggregate OF that vocabulary-bounded table; N joins
    as a one-row broadcast; the term stream is |bigram types|, not
    corpus occurrences."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(tokens_col("text").alias("t")).filter(F.size("t") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.struct(
            F.element_at("t", i).alias("w1"),
            F.element_at("t", i + F.lit(1)).alias("w2"),
        ),
    )
    bg = toks.select(F.explode(pairs).alias("b")).select("b.w1", "b.w2")
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c1 = cb.groupBy("w1").agg(F.sum("c").alias("c1"))
    n = F.broadcast(
        cb.agg(
            F.sum("c").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
        )
    )
    ln9 = F.round(
        F.log(F.col("c1").cast("double") / F.col("c").cast("double")), 9
    )
    term = F.round(
        (F.col("c").cast("double") / F.col("n").cast("double")) * ln9, 9
    ).cast("decimal(18,9)")
    return (
        cb.join(c1, "w1")
        .crossJoin(n)
        .select("n", "n_types", term.alias("term"))
        .groupBy("n", "n_types")
        .agg(F.sum("term").cast("double").alias("cond_entropy_nats"))
        .select(
            F.col("n").alias("n_bigrams"),
            F.col("n_types").alias("n_bigram_types"),
            "cond_entropy_nats",
        )
    )


# --- registration (round-11 close, per the one-pack-per-round cadence) --------
# Every candidate above shipped TWO rounds of pre-flight green before
# this loop ran (built late r10): DuckDB parity at sf0.001 + sf0.01 +
# sf0.1, the crafted boundary fixture in tests/test_r12_preflight.py,
# a 200-partition/64KB-split partition-invariance probe at two scales,
# plan shapes (zero cartesians, zero global windows — the PAVA
# sequential step runs over the collapsed histogram only), and the
# scale sweep (worst second-decade alpha 0.836). Registers at the BACK
# of the registry — outside the round-11 driver window — and fronts
# the round-12 window per NOTES "Round-12 rotation plan".
for _name, (_fn, _oracle) in CANDIDATES.items():
    register(_name, _oracle)(_fn)
del _name, _fn, _oracle

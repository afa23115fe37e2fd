"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- Exact dedup is a hash-groupBy on a content digest — one shuffle on the
  digest, perfectly parallel, no skew (digests are uniform).
- MinHash-LSH turns the quadratic near-dup problem into: signatures (narrow,
  one pass), band buckets (explode ×n_bands), candidate generation
  (self-join on band bucket — only colliding docs meet), then exact Jaccard
  verification on the tiny candidate set. Shuffle volume is
  O(n_docs × n_bands), never O(n_docs²).
- SimHash blocks by 16-bit chunks (a Hamming-≤3 pair must agree on ≥1 of 4
  chunks), same join-on-block pattern.
- All hash functions are xxhash64 with literal seeds — deterministic across
  runs/executors, which keeps re-runs idempotent (the engine's at-least-once
  story, SURVEY.md §2.9 D5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# --- tokenization / shingling ----------------------------------------------


def tokens_col(text_col: str = "text"):
    """Whitespace tokens, empties removed (pure Column expr)."""
    return F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))


def shingles_from_tokens(toks, n: int = 3):
    """Distinct word n-gram shingles from a TOKEN ARRAY COLUMN; documents
    shorter than ``n`` tokens yield an EMPTY array (Spark's sequence(1, 0)
    is descending [1, 0], not empty — without the guard, slice(toks, 0, n)
    crashes the whole job on any 1-2 token doc).

    IMPORTANT perf contract: ``toks`` must be a materialized column
    (attribute), not an inline split() expression — the transform lambda
    references it per gram, and an inlined split would be recomputed per
    gram: O(tokens²) per doc (measured 6.5× slower at sf0.1)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))))
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def positional_gram_array(toks, n: int):
    """ORDERED (non-distinct) word n-gram strings from a TOKEN ARRAY
    COLUMN — one gram per position, for positional consumers (span
    islands, coverage scrubbing, phrase positions, repetition counts);
    :func:`shingles_from_tokens` is the DISTINCT variant for set-style
    consumers. Same perf contract: pass a materialized column, not an
    inline split().

    PRECONDITION: callers must filter ``size(toks) >= n`` first —
    Spark's sequence(1, size - n + 1) is DESCENDING (not empty) for
    shorter arrays, and slice(toks, 0, n) then crashes the job
    ("array indices start at 1"). :func:`shingles_from_tokens` embeds
    the guard because its callers don't pre-filter; this helper leaves
    it out so the pushed-down size filter stays a plain scan predicate
    (a when() wrapper here would re-enter the InferFiltersFromGenerate
    pathology the exploded_shingles docstring documents). Every current
    caller filters; :func:`positional_gram_index` does it internally.

    The lambda is a plain 1-ary closure on purpose: F.transform
    dispatches on the lambda's ARITY, so a binary lambda (e.g. the
    ``_n=n`` default-arg trick) silently receives (element, array_index)
    and the index OVERWRITES the bound width — garbage grams, no error
    (the phrase_tag_spans footgun, NOTES r9). Callers binding loop
    variables must go through this helper, never copy the transform.
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def positional_gram_index(
    docs: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
):
    """(gram stream, duplicated-gram set) for positional substring dedup:
    ``g`` = (id, pos, gram) for every position of every tokenizable doc
    with >= n tokens (0-based pos), PERSISTED — by contract it feeds both
    the document-frequency aggregate and a join-back (deliberate
    session-lifetime cache, LRU-evictable; the plan is lazy so the
    unpersist point is the caller's last action); ``dup`` = the grams
    occurring in >= 2 DISTINCT docs. Shared by the span detector
    (queries/llm72.substring_dedup_spans) and the scrub accounting
    (queries/llm73.substring_dedup_scrub) so the two stay one policy by
    construction.

    Scale: gram explode is map-side; ``dup`` is ONE gram-keyed shuffle;
    candidate volume is sum-of-positions, never doc x doc."""
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .select(id_col, tokens_col(text_col).alias("t"))
        .filter(F.size("t") >= n)
    )
    g = toks.select(
        id_col, F.posexplode(positional_gram_array("t", n)).alias("pos", "gram")
    ).persist()
    dup = (
        g.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    return g, dup


def scrub_covered_positions(
    docs: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """DISTINCT (id, tok_idx) token positions covered by ANY cross-doc
    duplicated n-gram — the REMOVAL SET of substring scrubbing (a gram
    at 0-based position p covers tokens p..p+n-1; adjacent duplicated
    runs closer than the gram width overlap, so the distinct is
    load-bearing). Built on :func:`positional_gram_index` so the span
    detector (queries/llm72) and the scrub accounting (queries/llm73)
    stay ONE policy.

    Scale: the coverage explode is n x the DUPLICATED-position count
    (duplication-bounded, not corpus-bounded), then one id-keyed
    distinct."""
    g, dup = positional_gram_index(docs, n, text_col, id_col)
    return (
        g.join(dup, "gram")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("tok_idx"),
        )
        .distinct()
    )


def with_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, out: str = "sh") -> DataFrame:
    """(id, shingle-array) projection with the tokens materialized first
    (see shingles_from_tokens perf contract).

    USE ONLY FOR ARRAY CONSUMERS (array_intersect verification, signature
    folds) or behind a persist(). If you are about to ``explode`` the
    array, use :func:`exploded_shingles` instead: exploding a projected
    array column triggers InferFiltersFromGenerate + PushDownPredicate,
    which duplicates the WHOLE shingle pipeline (split included) into a
    pushed-down ``size(...) > 0`` filter — every row then builds its gram
    array twice (measured 4.7× slower at sf0.1)."""
    return (
        df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
        .select(F.col(id_col), shingles_from_tokens("_toks", n).alias(out))
    )


def exploded_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n: int = 3, out: str = "shingle") -> DataFrame:
    """(id, shingle) ROWS in the inferred-filter-safe shape: the shingle
    expression stays INSIDE the Generate (explode) node, where Catalyst
    does not infer a pushed-down size() filter over a copy of the whole
    pipeline (see with_shingles). Always prefer this for explode
    consumers — same output, none of the double compute."""
    toks = df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
    return toks.select(
        F.col(id_col), F.explode(shingles_from_tokens("_toks", n)).alias(out)
    )


def content_hash(text_col: str = "text"):
    """Exact-dup digest (md5 — cheap, collision-adequate for dedup)."""
    return F.md5(F.col(text_col))


# --- exact dedup ------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per exact content hash.

    Equivalent to dropDuplicates on the digest but with a deterministic
    survivor (min id), which dropDuplicates does not guarantee.
    """
    return (
        df.select(content_hash(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- Winnowing (MOSS) fingerprints ------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    hash every k-token gram (first 8 hex chars of md5 — engine-portable),
    then keep the minimum hash of each sliding window of ``w`` consecutive
    gram hashes. Returns distinct (id, fp) rows.

    Guarantee: any shared token run of length >= k + w - 1 between two
    documents yields at least one shared fingerprint; expected density is
    ~2/(w+1) of the grams. Documents shorter than k + w - 1 tokens emit
    nothing (callers wanting whole-short-doc coverage can union an md5 of
    the full text for those).

    Plan shape: the gram-hash array is MATERIALIZED in its own projection
    (transform lambdas re-evaluate inline sub-expressions per element —
    see shingles_from_tokens), and the window-min selection stays INSIDE
    the Generate (explode of an expression, not of a projected array — see
    exploded_shingles). Entirely map-side: no shuffle until the caller
    aggregates.
    """
    toks = df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
    hs = toks.filter(F.size("_toks") >= k + w - 1).select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
            lambda i: F.substring(F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), i, k))), 1, 8),
        ).alias("_h"),
    )
    return hs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("_h") - (w - 1)),
                    lambda j: F.array_min(F.slice(F.col("_h"), j, w)),
                )
            )
        ).alias("fp"),
    )


# --- MinHash + LSH ----------------------------------------------------------


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_perm: int = 32
) -> DataFrame:
    """Per-doc MinHash signature: min over shingles of xxhash64(shingle, i)
    for each of ``num_perm`` seeded permutations.

    One explode + one groupBy(id) — the signature table is narrow
    (id + num_perm longs) no matter how large the corpus.
    """
    shingled = exploded_shingles(df, text_col, id_col)
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_perm)
    ]
    agg = shingled.groupBy(id_col).agg(*mins)
    return agg.select(F.col(id_col), F.array(*[f"h{i}" for i in range(num_perm)]).alias("signature"))


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str = "doc_id", rows_per_band: int = 4
) -> DataFrame:
    """Band the signatures and emit candidate pairs that collide in ≥1 band.

    banding: signature[num_perm] → num_perm/rows_per_band bands; bucket key =
    xxhash64(band_idx, band slice). Self-join on the bucket key — the join is
    an equi-join Catalyst shuffles on (band_idx, bucket), so only genuinely
    colliding docs ever meet. Output is distinct (id_a < id_b) pairs.
    """
    n_bands = F.floor(F.size("signature") / rows_per_band).cast("int")
    # guard the band index sequence: for a signature SHORTER than one band
    # (n_bands = 0), sequence(0, -1) yields the DESCENDING [0, -1] (the
    # module-docstring trap) and band -1 would slice from the END —
    # emitting bogus buckets for a banding that was never requested
    band_idx = F.when(n_bands >= 1, F.sequence(F.lit(0), n_bands - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bands = sig_df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                band_idx,
                lambda b: F.xxhash64(
                    b, F.concat_ws(",", F.slice("signature", b * rows_per_band + 1, rows_per_band))
                ),
            )
        ).alias("band_idx", "bucket"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct shingles for given candidate pairs.

    Pass a precomputed (persisted) ``shingle_df`` to avoid recomputing
    shingles for both join sides."""
    sh = shingle_df if shingle_df is not None else with_shingles(df, text_col, id_col)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def minhash_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    persist_mode: str = "shingles",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → band candidates →
    exact-Jaccard verification ≥ threshold.

    ``persist_mode`` is the memory/recompute knob; both modes return
    identical pairs (tested):

    - ``"shingles"`` (default, right at test scale): the wide shingle
      table feeds three consumers (signatures + both verify sides), so it
      is persisted — 3× faster than recomputation, measured at sf0.1.
    - ``"signatures"`` (the 100 TB mode): persist only the NARROW
      signature table (num_perm longs per doc — fits executor memory at
      any corpus size the cluster can hold at all), and rebuild shingles
      ONLY for documents that appear in some candidate pair, via a
      left-semi join of the corpus against the candidate id set. The wide
      shingle table never materializes corpus-wide; the recompute cost is
      proportional to the (small) candidate set.
    """
    sh_raw = with_shingles(df, text_col, id_col)
    if persist_mode == "shingles":
        sh_raw = sh_raw.persist()
        # exploding the CACHED array is safe (the inferred size() filter
        # can't substitute past the InMemoryRelation boundary)
        shingled = sh_raw.select(F.col(id_col), F.explode("sh").alias("shingle"))
    elif persist_mode == "signatures":
        # unpersisted: keep the shingle expr inside Generate (see
        # exploded_shingles) or the whole pipeline is computed twice
        shingled = exploded_shingles(df, text_col, id_col)
    else:
        raise ValueError(f"unknown persist_mode {persist_mode!r}")
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_perm)
    ]
    sigs = shingled.groupBy(id_col).agg(*mins).select(
        F.col(id_col), F.array(*[f"h{i}" for i in range(num_perm)]).alias("signature")
    )
    if persist_mode == "signatures":
        sigs = sigs.persist()
    cands = lsh_candidate_pairs(sigs, id_col, rows_per_band)
    verify_sh = sh_raw
    if persist_mode == "signatures":
        cand_ids = (
            cands.select(F.col("id_a").alias(id_col))
            .union(cands.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        verify_sh = sh_raw.join(cand_ids, id_col, "left_semi")
    return jaccard_pairs(df, cands, text_col, id_col, shingle_df=verify_sh).filter(
        F.col("jaccard") >= threshold
    )


def minhash_md5_digests(shingle_col="shingle", num_perm: int = 16) -> dict:
    """Digest columns ``_d0.._d{ceil(num_perm/4)-1}`` for the engine-
    portable MinHash family: ``_db = md5(f"{b}:" || shingle)``, and
    permutation p = 4b + r takes hex chars [8r+1, 8r+8] of ``_db`` as an
    exact 32-bit int64 ('0x'||hex → BIGINT in DuckDB ≡ conv(hex,16,10)
    here — the proven cross-engine recipe). One md5 digest yields FOUR
    independent permutation hashes (disjoint digest bits), so 16 perms
    cost 4 md5 evaluations per shingle instead of 16 — and at 100 TB
    the per-token hash cost IS the cost of MinHash.

    Why not Kirsch–Mitzenmacher (h1 + p·h2 from 2 md5 calls)? KM is
    sound for Bloom filters but WRONG for MinHash: argmin_s(h1 + p·h2)
    can only move monotonically from the min-h1 element (p=0) to the
    min-h2 element (p→∞), so the num_perm signature components are
    near-perfectly correlated — measured agreement on near-identical
    shingle sets collapsed to 0/16 where Jaccard predicts ~11/16
    (caught by test_group_signature_agreement_tracks_overlap). Disjoint
    digest bits are genuinely independent across p. 32-bit mins: within
    a document's ~10²-shingle set the collision odds are ~10⁴/2³³ —
    immaterial, and identical in both engines either way."""
    col = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    n_digests = (num_perm + 3) // 4
    return {
        f"_d{b}": F.md5(F.concat(F.lit(f"{b}:"), col)) for b in range(n_digests)
    }


def _minhash_md5_mins(num_perm: int) -> tuple[list, list]:
    """(aggregates, post-projection) for the signature build over rows
    carrying the ``_db`` digest columns (project them ONCE with
    minhash_md5_digests — each md5 call amortizes over four
    permutations). The aggregates MIN the raw 8-hex slices as strings —
    fixed-width lowercase hex sorts lexicographically ≡ numerically —
    and the post-projection converts the num_perm surviving strings per
    GROUP to int64; hex→int conversion per shingle ROW inside the
    aggregate was measured 1.6× slower at sf0.1 (2.81 s vs 1.72 s for
    the signature stage)."""
    aggs, post = [], []
    for p in range(num_perm):
        b, r = divmod(p, 4)
        aggs.append(
            F.min(F.substring(F.col(f"_d{b}"), 8 * r + 1, 8)).alias(f"_s{p}")
        )
        post.append(F.conv(F.col(f"_s{p}"), 16, 10).cast("long").alias(f"h{p}"))
    return aggs, post


def minhash_group_signatures(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    num_perm: int = 16,
) -> DataFrame:
    """Merged MinHash signature PER GROUP (h0..h{num_perm-1} columns):
    the min over every shingle of every document in the group — the
    group-level shingle-set sketch (estimate cross-source containment/
    Jaccard from signature agreement without touching row data).

    Because min is a mergeable, order-independent aggregate, this same
    expression runs as a STREAMING stateful aggregation
    (streaming/sketches.streaming_minhash_signatures) with state
    guaranteed bit-identical to the batch-built sketch — and mergeable
    with one across pipelines.

    SKETCH FORMAT v2 (round 5): h0..h{p-1} changed from 16-hex STRINGS
    (min over hex digests) to INT64 (conv base-16 min applied after the
    string min — same ordering, fixed-width hex is order-isomorphic to
    its integer value). Any streaming checkpoint or persisted sketch
    written by the v1 string-typed aggregates is schema-incompatible:
    REBUILD such state from source rather than restoring/merging — a
    restore fails on the aggregate expression change, and a hand-merged
    v1 string MIN against v2 int64 MIN would silently mismatch.
    """
    toks = df.select(*group_cols, tokens_col(text_col).alias("_toks"))
    sh = toks.select(
        *group_cols, F.explode(shingles_from_tokens("_toks")).alias("shingle")
    )
    sh = sh.withColumns(minhash_md5_digests(num_perm=num_perm))
    aggs, post = _minhash_md5_mins(num_perm)
    return sh.groupBy(*group_cols).agg(*aggs).select(*group_cols, *post)


def _md5_band_pairs(
    sigs: DataFrame, num_perm: int, rows_per_band: int, id_col: str
) -> DataFrame:
    """Banded LSH candidate pairs from an (id, h0..h{p-1}) signature
    frame: concat each band's rows into a bucket key, self-join on
    (band_idx, band_key) with the id_a < id_b tie-break, distinct. The
    ONE copy of the band-key contract every md5-family pipeline shares —
    the oracles pin this exact candidate set, so it must never fork
    between the verified and estimated variants."""
    n_bands = num_perm // rows_per_band
    bands = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[f"h{b * rows_per_band + r}" for r in range(rows_per_band)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_md5_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    rows_per_band: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """The banded CANDIDATE stage of the md5 MinHash pipeline, exposed
    separately so callers can audit the raw candidate set (the LSH
    recall/precision evaluation in queries/llm50) instead of only the
    verified pairs. Returns (candidate pairs, persisted shingle frame) —
    reuse the latter for verification to avoid recomputing shingles."""
    sh_raw = with_shingles(df, text_col, id_col).persist()
    shingled = sh_raw.select(F.col(id_col), F.explode("sh").alias("shingle"))
    shingled = shingled.withColumns(minhash_md5_digests(num_perm=num_perm))
    aggs, post = _minhash_md5_mins(num_perm)
    sigs = shingled.groupBy(id_col).agg(*aggs).select(id_col, *post)
    return _md5_band_pairs(sigs, num_perm, rows_per_band, id_col), sh_raw


def minhash_md5_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """ENGINE-PORTABLE MinHash-LSH near-dup: identical pipeline shape to
    ``minhash_neardup`` (signatures -> bands -> exact-Jaccard verify) but
    the hash family is md5-derived — permutation p = 4b + r takes an
    exact 32-bit slice of md5(f"{b}:" || shingle)
    (``minhash_md5_digests``), minimized numerically in int64 — so ANY
    engine with md5 reproduces the exact same signatures, candidates,
    and verified pairs (xxhash64 exists only in Spark, which is why
    minhash_neardup is rows-only). The trade: num_perm/4 md5 calls per
    shingle still cost more than xxhash64 — use this variant when
    cross-engine reproducibility of the candidate set matters (dataset
    versioning, audited dedup), the xxhash one when raw throughput
    does.

    Scale shape is unchanged: one shingle-keyed aggregation for
    signatures (num_perm mins in a single groupBy pass), banded bucket
    equi-join (never all-pairs), candidate-only verification.
    """
    cands, sh_raw = minhash_md5_candidates(df, text_col, id_col, num_perm, rows_per_band)
    return jaccard_pairs(df, cands, text_col, id_col, shingle_df=sh_raw).filter(
        F.col("jaccard") >= threshold
    )


def simhash_md5_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """ENGINE-PORTABLE SimHash near-dup: 32-bit signatures whose bits come
    from md5 nibbles (hex-char position arithmetic — reproducible on any
    engine, unlike xxhash64's bit mix in ``simhash_signatures``), blocked
    by the four 8-bit signature bytes (pigeonhole: hamming ≤ 3 pairs agree
    on ≥ 1 of 4 blocks), verified by exact ``bit_count(a XOR b)``.

    Per token: h = first 8 hex chars of md5(token); bit b of the token
    hash = bit (b mod 4) of nibble (b div 4). Per doc and bit: sum ±1
    across tokens, sign → signature bit (ties → 0, deterministic).

    Scale: one token explode → 32 conditional sums in ONE groupBy pass →
    4-row block explode → (block_idx, block_val) equi-join — shuffle
    O(n·4), never all-pairs; the verify is integer bit arithmetic.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    hx = F.substring(F.md5(F.col("tok")), 1, 8)
    nib = [
        F.instr(F.lit("0123456789abcdef"), F.substring(hx, j + 1, 1)) - 1
        for j in range(8)
    ]
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(nib[b // 4], b % 4).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(32)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sig = None
    for b in range(32):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseXOR(term)  # disjoint bits
    sigs = agg.select(F.col(id_col), sig.alias("simhash"))
    blocks = sigs.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 8 * m).bitwiseAND(F.lit(255))
                    for m in range(4)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    a = blocks.alias("a")
    b2 = blocks.alias("b")
    pairs = (
        a.join(
            b2,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
    return (
        pairs.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# --- SimHash ----------------------------------------------------------------


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over token xxhash64s.

    For each bit position, sum +1/-1 across token hashes; bit = sign.
    64 conditional-sum aggregates in ONE groupBy pass (no per-bit shuffles).
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    h = F.xxhash64(F.col("tok"))
    bit_sums = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: XOR == OR == +
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Blocking: split the 64-bit hash into 4 × 16-bit chunks; any pair with
    Hamming ≤ 3 agrees exactly on ≥ 1 chunk (pigeonhole), so candidates are
    an equi-join on (chunk_idx, chunk_value) — never a cross join.
    """
    sigs = simhash_signatures(df, text_col, id_col)
    chunks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def minhash_estimate_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash near-dup with SIGNATURE-AGREEMENT Jaccard estimation — the
    verify-free scale variant of ``minhash_neardup``.

    Instead of re-joining candidate docs back to their shingle sets for an
    exact Jaccard (two wide joins carrying full shingle arrays), the
    Jaccard is ESTIMATED as the fraction of agreeing signature components
    (an unbiased estimator; per-pair std ≈ sqrt(J(1-J)/num_perm), ~0.09 at
    J=0.5 with 32 perms). The candidate join then carries only the two
    narrow signatures (num_perm longs each) — at 100 TB the shingle table
    is never materialized a second time, and the verify step is a zip_with
    over 2×num_perm longs per pair instead of set-intersection over
    hundreds of shingles per pair.

    Use when the threshold decision tolerates the estimator's variance
    (typical for >=0.7 dedup gates); keep exact ``minhash_neardup`` when
    precision at the boundary matters. Estimator-vs-exact error is
    asserted in tests/test_llmops.py.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_perm).persist()
    cands = lsh_candidate_pairs(sigs, id_col, rows_per_band)
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (agree.cast("double") / F.lit(num_perm)).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= threshold)
    )


def minhash_md5_estimate_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """ENGINE-PORTABLE signature-agreement MinHash near-dup: the
    verify-free estimator of ``minhash_estimate_neardup`` over the
    md5-derived hash family of ``minhash_md5_neardup`` — every stage
    (signatures, bands, candidates, the agreement count) replays in any
    engine with md5, so the ESTIMATE itself is hash-verifiable, not just
    the pipeline shape. jaccard_est = agreeing components / num_perm is
    an exact power-of-two-denominator division (num_perm = 16), so the
    threshold comparison is engine-exact too.

    Scale shape is the estimate variant's: one shingle-keyed groupBy for
    signatures, banded bucket equi-join, and a candidate join carrying
    only 2×num_perm int64 components per pair — the shingle table is never
    materialized a second time."""
    shingled = exploded_shingles(df, text_col, id_col)
    shingled = shingled.withColumns(minhash_md5_digests(num_perm=num_perm))
    aggs, post = _minhash_md5_mins(num_perm)
    sigs = shingled.groupBy(id_col).agg(*aggs).select(id_col, *post).persist()
    cands = _md5_band_pairs(sigs, num_perm, rows_per_band, id_col)
    sig_arr = F.array(*[f"h{p}" for p in range(num_perm)])
    a = sigs.select(F.col(id_col).alias("id_a"), sig_arr.alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), sig_arr.alias("sig_b"))
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (agree.cast("double") / F.lit(num_perm)).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= threshold)
    )


def edit_distance_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 4,
    max_rel_dist: float = 0.4,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs — the fuzzy-dedup family
    MinHash cannot express: catches typo-level and small-edit duplicates
    whose shingle sets already diverge. Blocking: docs sharing an md5
    fingerprint of their first ``block_tokens`` tokens pair up (same
    prefix ⇒ same block); within a block every (id_a < id_b) pair gets
    exact ``levenshtein`` (JVM built-in, O(len²) per pair) and survives
    iff dist / max(len_a, len_b) ≤ ``max_rel_dist``.

    Output: (id_a, id_b, dist, rel_dist).

    Scale: the self-join is on the block fingerprint — an equi-join, so
    only same-block docs ever meet and the pair count is Σ|block|², never
    corpus². At 100 TB, cap block sizes (count-filter oversized blocks,
    typically boilerplate) and run this as the VERIFY stage behind a
    MinHash candidate pass. Portability caveat: Spark's levenshtein
    counts CHARS while DuckDB's counts BYTES — identical on ASCII text
    (this corpus), so the oracle replays exactly; on multibyte corpora
    the oracle-side distance would differ (documented, not hit here).
    """
    from .textstats import prefix_fingerprint

    # NULL-text docs (tombstoned/failed-fetch rows) cannot be compared:
    # they all share the md5('') block and the 0.0 empty-empty fallback
    # below would emit them as mutual near-dups with dist NULL — a dedup
    # consumer would collapse distinct tombstoned docs into one survivor
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.col(text_col),
        F.length(F.col(text_col)).alias("_len"),
        prefix_fingerprint(text_col, block_tokens).alias("_blk"),
    )
    a = base.select(
        F.col("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("_ta"),
        F.col("_len").alias("_la"),
    )
    b = base.select(
        F.col("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("_tb"),
        F.col("_len").alias("_lb"),
    )
    dist = F.levenshtein("_ta", "_tb")
    # two empty texts are identical: rel_dist 0, not 0/0 (NULL would
    # silently drop the pair from the <= threshold filter)
    den = F.greatest("_la", "_lb").cast("double")
    rel = F.when(den > 0, dist.cast("double") / den).otherwise(F.lit(0.0))
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist"), rel.alias("rel_dist"))
        .filter(F.col("rel_dist") <= max_rel_dist)
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 2,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocked sorted-neighborhood candidate generation (Hernández &
    Stolfo, 1995) + exact 3-gram Jaccard verify — the third classic
    near-dup family next to the gram-inverted-index join and MinHash
    banding: sort records by a derived key and compare each record only
    to its ``window`` sorted neighbors. Near-identical texts sort
    adjacently (shared prefixes), so candidates are O(n·window) — by far
    the cheapest generator, at the cost of missing dups whose keys sort
    apart (multi-pass with different keys is the standard mitigation).

    Distributed form: the sort is blocked by the FIRST TOKEN (the window
    runs per block via lag(), never a global order — no single-partition
    WindowExec), and the sort key inside a block is (remaining text, id).
    One exchange on the block key; verification touches only the
    O(n·window) candidates.

    Returns (id_a, id_b, neighbor_dist, jaccard >= threshold) with
    id_a < id_b.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("_t")
    )
    keyed = toks.select(
        "doc_id",
        # F.get (0-based) returns NULL out of bounds; element_at THROWS
        # under ANSI on the empty-text docs real corpora contain
        F.coalesce(F.get("_t", 0), F.lit("")).alias("blk"),
        F.concat_ws(" ", F.slice("_t", 2, 1_000_000)).alias("rest"),
        shingles_from_tokens("_t").alias("sh"),
    ).persist()
    w = Window.partitionBy("blk").orderBy("rest", "doc_id")
    pairs = None
    for d in range(1, window + 1):
        nbr = keyed.select(
            "doc_id",
            "blk",
            "rest",
            "sh",
        ).withColumns(
            {
                "nbr_id": F.lag("doc_id", d).over(w),
                "nbr_sh": F.lag("sh", d).over(w),
                "nbr_rest": F.lag("rest", d).over(w),
            }
        )
        cand = nbr.filter(F.col("nbr_id").isNotNull()).select(
            F.least("doc_id", "nbr_id").alias("id_a"),
            F.greatest("doc_id", "nbr_id").alias("id_b"),
            F.lit(d).alias("neighbor_dist"),
            F.size(F.array_intersect("sh", "nbr_sh")).alias("i"),
            (F.size("sh") + F.size("nbr_sh")).alias("ab"),
            # same block (the partition) + same rest == identical token
            # sequences: the only way to score sub-3-token docs, whose
            # shingle sets are empty
            (F.col("rest") == F.col("nbr_rest")).alias("same_key"),
        )
        pairs = cand if pairs is None else pairs.unionByName(cand)
    denom = (F.col("ab") - F.col("i")).cast("double")
    # identical docs too short to shingle (< 3 tokens, ab = 0) are jaccard
    # 1.0, not NULL — a bare when() silently dropped every such pair from
    # the >= threshold filter (the edit_distance empty-empty class)
    jac = F.when(denom > 0, F.col("i") / denom).when(
        (F.col("ab") == 0) & F.col("same_key"), F.lit(1.0)
    )
    return (
        pairs.select("id_a", "id_b", "neighbor_dist", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def exact_substr_scrub(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style duplicate-SPAN REMOVAL (Lee et al. 2022): rewrite
    each document dropping every token covered by an ``n``-token span
    that also occurs in an earlier document (min-doc_id occurrence keeps
    its text — one copy of every duplicated passage survives, the
    dedup-keeps-one policy). This is the TRANSFORM the dup_span_coverage
    metric (queries/llm4.py) measures the need for.

    Returns (doc_id, n_tokens, n_removed, clean_md5) — the md5 pins the
    exact rebuilt text, so a one-token-off span boundary fails parity.

    Scale shape: inverted index on the span gram (one count shuffle,
    vocabulary-bounded), join back on the gram key (aggregate-to-postings,
    never doc x doc), explode n covered positions per duplicated
    occurrence, one anti-join on (doc, pos), and a per-doc rebuild via
    groupBy + array_sort(collect_list(...)) — no windows, no global sort,
    and per-doc state bounded by document length.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("toks"))
    g = toks.filter(F.size("toks") >= n).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.struct(
                    i.alias("i"), F.concat_ws(" ", F.slice("toks", i, n)).alias("g")
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.i").alias("i"), F.col("s.g").alias("g"))
    # two consumers (the dup aggregation and the coverage join) — persist
    # the DERIVED gram table so the per-position slice+concat construction
    # runs once, not twice (0.57 s of 2.77 s at sf0.1; the sh_raw
    # discipline — never a raw base table, only derived frames)
    g = g.persist()
    dup = (
        g.groupBy("g")
        .agg(
            F.min("doc_id").alias("mind"),
            F.countDistinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("g", "mind")
    )
    # Per-doc REMOVAL SET instead of per-token anti-join (guide §2.3/§2.4):
    # the old shape exploded every token to a (doc, pos, tok) row, anti-
    # joined the covered positions, and re-collected + sorted each doc's
    # survivors — three corpus-scale exchanges over token rows. The
    # covered positions are BOUNDED by doc length, so collecting them
    # into one set per doc (collect_set also subsumes the old distinct)
    # and rebuilding the text MAP-SIDE from the token array removes the
    # token explode, the anti-join, and the rebuild groupBy outright:
    # array_except(sequence(1, len), rem) keeps the surviving 1-based
    # positions IN ORDER (it preserves the left argument's order), and
    # element_at maps them back to tokens.
    covd = (
        g.join(dup, "g")
        .filter(F.col("doc_id") > F.col("mind"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("rem"))
    )
    all_pos = F.when(
        F.size("toks") > 0, F.sequence(F.lit(1), F.size("toks"))
    ).otherwise(F.array().cast("array<int>"))
    kept_pos = F.array_except(all_pos, F.coalesce("rem", F.array().cast("array<int>")))
    ct = F.concat_ws(
        " ", F.transform(kept_pos, lambda p: F.element_at("toks", p))
    )
    return (
        toks.join(covd, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.size(kept_pos).cast("long").alias("_n_kept"),
            ct.alias("_ct"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.col("_n_kept")).alias("n_removed"),
            F.md5(F.col("_ct")).alias("clean_md5"),
        )
    )

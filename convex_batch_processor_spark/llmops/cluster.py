"""Distributed k-means clustering over an embedding column (Lloyd's
algorithm) — the unsupervised counterpart of the label-seeded IVF coarse
quantizer in similarity.py, and the missing piece for clustering-based
curation (cluster-balanced sampling, SemDeDup-style per-cluster dedup).

Spark shape per iteration (scale-first):
- centroids are k·dim doubles — always broadcast; the assignment step is
  a map-side argmin over the corpus (no shuffle of vectors).
- centroid recomputation is ONE aggregation shuffle keyed by
  (cluster, dim) after a posexplode — the same distributed elementwise
  mean as similarity.label_centroids, uniform keys, no skew beyond the
  cluster-size imbalance inherent to the data.
- the model state (k·dim centroid doubles) round-trips through the
  driver each iteration — the MLlib KMeans pattern: it is bounded control
  plane (bytes), never corpus data, and rebuilding the centroid table as
  a literal DataFrame each round keeps the lineage flat with no
  checkpoint bookkeeping.

Determinism: init picks the ``k`` lowest-id vectors (no RNG), distances
are exact double folds with an (dist asc, cluster_id asc) tiebreak — the
numpy replica in tests reproduces the same assignments and centroids to
float tolerance.

Total cost for ``n_iter`` rounds: n_iter corpus scans + n_iter (cluster,
dim)-keyed shuffles of k·dim·P partial rows — at 100 TB the scans
dominate and are embarrassingly parallel; the only collected data is the
k·dim model state.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves the stringified
# type hints (future-annotations) against the function's module globals

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _l2_assign_rows(
    embeddings: DataFrame, cent_rows: list, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cluster_id, dist2): nearest centroid per vector by squared
    L2 — one Arrow-batched map-side projection (guide §4.2).

    The model state (``cent_rows``: (cluster_id, centroid) pairs, k·dim
    doubles) rides in the UDF closure; only the vector column crosses the
    Python boundary. The numpy kernel replicates the former JVM HOF fold
    BIT-FOR-BIT: float32 elements widen to float64 (exact), (x−c)² is one
    IEEE multiply on identical operands, and the per-row accumulation runs
    in INDEX ORDER (an explicit per-dimension loop — np.sum's pairwise
    reduction would drift in the last ulp), so the assignment and dist2
    hash-match the engine-portable oracle exactly as the interpreted
    zip_with/aggregate fold did — at ~10× the throughput (the fold is
    CodegenFallback: interpreted per element, k·dim Catalyst evals per
    row; the r12 codegen-unroll attempt made it 4-20× SLOWER, see
    OPTIMIZATION_r12.md).

    Argmin tiebreak: centroids are sorted by cluster_id and np.argmin
    takes the first minimum — identical to the former array_min over
    (dist2, cluster_id) structs. NULL or dimension-mismatched vectors get
    (lowest cluster_id, NULL dist2), matching the former NULL-fold path;
    a NaN element yields NaN dist2 for every centroid and the lowest
    cluster_id (np.inf masking), matching Spark's NaN-largest ordering —
    but the pandas→Arrow return path masks NaN as null, so the JVM sees
    NULL dist2 where the former fold produced NaN. (A NULL *element*
    inside a non-NULL vector likewise arrives as NaN through Arrow — no
    input class produces either: vectors are synthesized dense.)
    """
    _assign = _nearest_centroid_udf(cent_rows)
    return (
        embeddings.select(id_col, vec_col)
        .withColumn("_b", _assign(F.col(vec_col)))
        .select(
            F.col(id_col),
            F.col(vec_col),  # carried through so the update step needs no re-join
            F.col("_b.cluster_id").alias("cluster_id"),
            F.col("_b.dist2").alias("dist2"),
        )
    )


def _nearest_centroid_udf(cent_rows: list):
    """The (cluster_id, dist2) pandas_udf behind :func:`_l2_assign_rows`;
    its kernel (``.func``) takes one Arrow batch as a pandas Series."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    cents = sorted(
        ((int(c), [float(x) for x in v]) for c, v in cent_rows), key=lambda t: t[0]
    )
    ids = [c for c, _ in cents]
    mat = [v for _, v in cents]

    # scalar Series->DataFrame form (the struct-output pandas_udf shape;
    # the iterator variant does not support struct returns). The k·dim
    # centroid matrix rebuild per batch is noise next to the batch math.
    @pandas_udf("struct<cluster_id: bigint, dist2: double>")
    def _assign(s: pd.Series) -> pd.DataFrame:
        import numpy as np  # noqa: PLC0415

        C = np.asarray(mat, dtype=np.float64)
        cid = np.asarray(ids, dtype=np.int64)
        k, d = C.shape
        vals = s.to_numpy()
        n = len(vals)
        if n == 0:  # an empty batch: valid.all() would be vacuously True
            return pd.DataFrame(
                {"cluster_id": np.empty(0, dtype=np.int64), "dist2": np.empty(0)}
            )
        valid = np.fromiter(
            (v is not None and len(v) == d for v in vals), dtype=bool, count=n
        )
        out_c = np.full(n, cid[0], dtype=np.int64)
        if valid.all():
            X = np.concatenate(list(vals)).reshape(n, d).astype(np.float64)
        elif valid.any():
            X = (
                np.concatenate([np.asarray(v) for v in vals[valid]])
                .reshape(-1, d)
                .astype(np.float64)
            )
        else:
            return pd.DataFrame(
                {"cluster_id": out_c, "dist2": np.full(n, None, dtype=object)}
            )
        D = np.empty((X.shape[0], k))
        for j in range(k):
            sq = X - C[j]
            sq *= sq
            acc = sq[:, 0].copy()
            for t in range(1, d):  # index-order fold == the JVM aggregate
                acc += sq[:, t]
            D[:, j] = acc
        am = np.where(np.isnan(D), np.inf, D).argmin(axis=1)
        dv = D[np.arange(X.shape[0]), am]
        out_c[valid] = cid[am]
        if valid.all():
            dist2 = dv
        else:
            dist2 = np.full(n, None, dtype=object)
            dist2[valid] = [float(x) for x in dv]
        return pd.DataFrame({"cluster_id": out_c, "dist2": dist2})

    return _assign


def _l2_assign(
    embeddings: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """DataFrame-centroids wrapper over :func:`_l2_assign_rows`: collects
    the bounded (cluster_id, centroid) model state — k·dim doubles, the
    kmeans-centroid collect pattern — and runs the Arrow-batched
    assignment."""
    cent_rows = [
        (r["cluster_id"], list(r["centroid"])) for r in centroids.collect()
    ]
    return _l2_assign_rows(embeddings, cent_rows, id_col, vec_col)


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """Lloyd's k-means: returns the trained (cluster_id, centroid) table.

    Init = the k lowest-id vectors (deterministic, no RNG; at real scale
    swap in k-means|| style sampled init — the iteration body is
    unchanged). Empty clusters keep their previous centroid (merged
    driver-side during the model-state update).

    ``round_dp`` rounds each recomputed centroid dimension (F.round,
    HALF_UP) after every iteration. A float mean is order-dependent in its
    last ulp, so two engines computing the same mean can diverge by a bit;
    rounding pins the model state to an exactly-representable value both
    can agree on — the ivf_centroid_assign parity recipe, which makes the
    whole iterative fit reproducible engine-to-engine (and across cluster
    layouts/retries on Spark itself, a property worth having at 100 TB
    independent of any oracle).
    """
    spark = embeddings.sparkSession
    schema = "cluster_id long, centroid array<double>"
    # The MLlib discipline: persist the NARROW (id, vector) projection the
    # iterations rescan — n_iter+1 reads of one cached columnar block
    # instead of n_iter+1 parquet scans + vector re-decodes. MEMORY_AND_DISK
    # default, so at 100 TB partitions that don't fit spill instead of OOM.
    # NULL vectors (failed encoder, tombstoned row — the input class
    # ivf_assign and the decoders guard) can neither seed nor move a
    # centroid: drop them from the fit instead of TypeError-ing on the
    # driver when one lands among the k lowest ids
    data = embeddings.select(id_col, vec_col).filter(F.col(vec_col).isNotNull()).persist()
    try:
        # init: k lowest-id vectors — a TakeOrdered of k rows, not a global sort
        init = data.orderBy(F.col(id_col).asc()).limit(k).collect()
        if not init:
            raise ValueError("kmeans_fit: embeddings input is empty")
        cent_rows = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(init)]
        for _ in range(n_iter):
            # cent_rows IS the model state — feed it to the assignment
            # directly (no literal-DataFrame round trip per iteration)
            assign = _l2_assign_rows(data, cent_rows, id_col, vec_col)
            # MLlib-style bounded driver round-trip: k·dim partial means come
            # back to the driver each round (the centroid table IS the model
            # state — bytes, not corpus). One job per iteration: map-side
            # assignment fused with the (cluster, dim) aggregation; no
            # checkpoint/join lineage to manage because the next round's
            # centroid table is a fresh literal DataFrame.
            m_expr = F.avg(F.col("val").cast("double"))
            if round_dp is not None:
                m_expr = F.round(m_expr, round_dp)
            dm = (
                assign.select("cluster_id", F.posexplode(F.col(vec_col)).alias("dim", "val"))
                .groupBy("cluster_id", "dim")
                .agg(m_expr.alias("m"))
                .collect()
            )
            by_cluster: dict[int, dict[int, float]] = {}
            for r in dm:
                by_cluster.setdefault(r["cluster_id"], {})[r["dim"]] = r["m"]
            cent_rows = [
                (
                    cid,
                    [by_cluster[cid][d] for d in range(len(prev))]
                    if cid in by_cluster
                    else prev,  # empty cluster keeps its previous centroid
                )
                for cid, prev in cent_rows
            ]
    finally:
        data.unpersist()
    return spark.createDataFrame(cent_rows, schema)


def kmeans_clusters(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
    keep_vec: bool = False,
) -> DataFrame:
    """Fit + final assignment: (id, cluster_id, dist2 rounded to 6 dp).
    ``keep_vec`` carries the vector through (``_l2_assign`` has it for
    free), so callers that need vectors per cluster — semantic_dedup_
    kmeans's within-cluster pair stage — don't pay a corpus-scale
    re-join on the id (the ivf_assign keep_vec pattern)."""
    centroids = kmeans_fit(
        embeddings, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col, round_dp=round_dp
    )
    out = _l2_assign(embeddings, centroids, id_col, vec_col)
    vec = [F.col(vec_col)] if keep_vec else []
    return out.select(
        F.col(id_col), *vec, "cluster_id", F.round("dist2", 6).alias("dist2")
    )


def semantic_dedup_kmeans(
    embeddings: DataFrame,
    threshold: float = 0.42,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """SemDeDup as published (Abbas et al., 2023): k-means the embedding
    corpus, then search for near-duplicates ONLY within each cluster —
    (vec_id, component_id, keep) with min-id representatives, like
    similarity.semantic_dedup (whose blocking is banded LSH instead).

    Spark shape: clustering is kmeans_clusters (map-side assignment);
    the pairwise stage self-joins on cluster_id, so candidate volume is
    Σ|cluster|² instead of n² — the paper's trade (k tunes the bound; at
    100 TB pick k so clusters fit the Σ|c|² budget, and compose with the
    banded-LSH variant inside oversized clusters). Pairs above the cosine
    threshold feed connected components (per-round O(|E|) shuffles), and
    the final labeling is a plain left join sized by AQE — no broadcast
    hint (the semantic_dedup lesson: at high dup rates the component
    table is corpus-sized).
    """
    from ..operators.graph import connected_components
    from .similarity import cosine_col

    # keep_vec: the assignment already carries each vector — re-joining
    # the embeddings table on the id just to recover them would shuffle
    # the whole vector corpus once more for nothing
    clustered = kmeans_clusters(
        embeddings, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        round_dp=round_dp, keep_vec=True,
    ).select(id_col, vec_col, "cluster_id")
    a = clustered.select(
        F.col("cluster_id"), F.col(id_col).alias("vec_id_a"), F.col(vec_col).alias("va")
    )
    b = clustered.select(
        F.col("cluster_id"), F.col(id_col).alias("vec_id_b"), F.col(vec_col).alias("vb")
    )
    sim = F.round(cosine_col(F.col("va"), F.col("vb")), 6)
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", sim.alias("sim"))
        .filter(F.col("sim") > threshold)
    )
    comp = connected_components(pairs, "vec_id_a", "vec_id_b")
    return (
        embeddings.select(F.col(id_col).alias("vec_id"))
        .join(comp, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            F.coalesce("component_id", "vec_id").alias("component_id"),
            (F.coalesce("component_id", "vec_id") == F.col("vec_id")).alias("keep"),
        )
    )


def _round_half_up(x: float, dp: int) -> float:
    """Driver-side twin of Spark's F.round on DOUBLE: shortest-repr
    decimal, HALF_UP — Spark rounds BigDecimal.valueOf(double) (which
    parses Double.toString's shortest representation) with HALF_UP, and
    Python's repr produces the same shortest decimal, so quantizing it
    HALF_UP is bit-equivalent. (Plain python round() is banker's —
    different at exact midpoints.)"""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))


def pca_power_top_component(
    embeddings: DataFrame,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Top principal component of the embedding corpus by POWER ITERATION:
    (dim, mu, loading) — the first PCA axis, the workhorse of embedding
    diagnostics (anisotropy checks, all-but-the-top post-processing,
    whitening). Deterministic and engine-reproducible: every piece of
    model state (mean, iterate) is rounded to ``round_dp`` after each
    step — the kmeans_fit(round_dp) recipe extended to linear algebra —
    so an external engine replaying the unrolled iterations reproduces
    the loadings bit-for-bit.

    Algorithm: μ_i = round(avg(x_i)); v₀ = round(normalize(x_min_id − μ));
    repeat v ← round(normalize(round_dims(avg_r(xc_r · (xc_r·v)))));
    finally fix the sign so loading[0] ≥ 0 (eigenvectors are sign-free).

    Spark shape per iteration: ONE job — a map-side projection computes
    the per-row score s = xc·v against broadcast literals (no shuffle of
    vectors), then a (dim)-keyed aggregation of xc_i·s returns dim
    doubles to the driver (the model state — bytes, the MLlib pattern).
    The input projection is persisted across the n_iter+2 scans.
    The per-row score fold and the driver-side norm both accumulate in
    index order, matching an external engine's sequential dot-product
    fold exactly."""
    import math

    spark = embeddings.sparkSession
    # same NULL-vector guard as kmeans_fit: an absent embedding can't
    # contribute to the mean or the component, and the lowest-id row
    # being NULL must not TypeError the driver
    data = embeddings.select(id_col, vec_col).filter(F.col(vec_col).isNotNull()).persist()
    try:
        first = data.orderBy(F.col(id_col).asc()).limit(1).collect()
        if not first:
            raise ValueError("pca_power_top_component: embeddings input is empty")
        dim = len(first[0][vec_col])
        mu_rows = (
            data.select(F.posexplode(F.col(vec_col)).alias("i", "x"))
            .groupBy("i")
            .agg(F.round(F.avg(F.col("x").cast("double")), round_dp).alias("m"))
            .collect()
        )
        mu = [m for _, m in sorted((r["i"], r["m"]) for r in mu_rows)]
        v = [float(x) - m for x, m in zip(first[0][vec_col], mu)]
        for it in range(n_iter + 1):  # pass 0 just normalizes v0
            acc = 0.0
            for c in v:  # index order == the SQL list_dot_product fold
                acc += c * c
            nrm = math.sqrt(acc)
            if nrm == 0.0:
                # a constant corpus (or an iterate that collapsed to zero)
                # has no principal direction: emit the all-zero loading
                # instead of ZeroDivisionError — oracles mirror with a
                # CASE WHEN nrm > 0 guard, and zeros are a fixpoint so
                # breaking early equals running the remaining rounds
                v = [0.0] * dim
                break
            v = [_round_half_up(c / nrm, round_dp) for c in v]
            if it == n_iter:
                break
            muarr = F.array(*[F.lit(m) for m in mu])
            varr = F.array(*[F.lit(c) for c in v])
            # materialize xc as an attribute BEFORE the fold references it
            # (an inline expression would re-evaluate per element)
            d2 = data.withColumn(
                "_xc", F.zip_with(F.col(vec_col), muarr, lambda x, m: x.cast("double") - m)
            ).withColumn(
                "_s",
                F.aggregate(
                    F.zip_with(F.col("_xc"), varr, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc_, d: acc_ + d,
                ),
            )
            w_rows = (
                d2.select(F.posexplode("_xc").alias("i", "xci"), "_s")
                .groupBy("i")
                .agg(F.round(F.avg(F.col("xci") * F.col("_s")), round_dp).alias("w"))
                .collect()
            )
            v = [w for _, w in sorted((r["i"], r["w"]) for r in w_rows)]
    finally:
        data.unpersist()
    if v[0] < 0:
        v = [-c for c in v]  # negation is exact: no re-round needed
    return spark.createDataFrame(
        [(i + 1, mu[i], v[i]) for i in range(dim)], "dim int, mu double, loading double"
    )


def product_quantize(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """Product quantization (PQ, Jégou et al. 2011): split each vector into
    ``m`` contiguous subvectors, k-means each subspace independently, and
    encode every vector as its ``m`` nearest-subcentroid ids —
    ``m·log2(k)`` bits per vector (m=8, k=16 → 4 bytes for a 64-dim
    float32 vector, 64×).

    Returns (id, codes array<int> of length m, recon_err = ‖v − v̂‖₂
    rounded 6 dp) where v̂ concatenates the selected subcentroids.

    Spark shape: each subspace trains on a SLICE of the vector column
    (kmeans_fit — map-side assignment, bounded model state). The m
    codebooks (m·k·(dim/m) doubles — the model, bytes) are then collected
    into ONE nested literal broadcast row, and the encoding of the whole
    corpus is a single map-side projection: per subspace, an indexed
    transform over the codebook picks the argmin subcentroid. The corpus
    is scanned m·n_iter times for training and ONCE for encoding; nothing
    corpus-sized ever shuffles or joins. Completes the ANN compression set
    next to scalar SQ8 (similarity.quantize_int8) and the IVF coarse
    quantizer.
    """
    spark = embeddings.sparkSession
    # probe the dimension from a NON-NULL vector: head(1) on an unordered
    # frame can grab a NULL-embedding row and falsely abort a corpus full
    # of valid vectors (NULL rows still ENCODE per the documented
    # contract below — code 0 per subspace, NULL recon_err)
    probe = embeddings.select(vec_col).filter(F.col(vec_col).isNotNull()).head(1)
    if not probe:
        raise ValueError("product_quantize: embeddings input is empty")
    dim = len(probe[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        subvec = F.slice(F.col(vec_col), j * sub + 1, sub)
        sub_df = embeddings.select(F.col(id_col), subvec.alias("_sv"))
        cb = kmeans_fit(
            sub_df, k=k, n_iter=n_iter, id_col=id_col, vec_col="_sv", round_dp=round_dp
        )
        rows = sorted(cb.collect(), key=lambda r: r["cluster_id"])
        books.append([list(r["centroid"]) for r in rows])
    cb_df = spark.createDataFrame(
        [(books,)], "codebooks array<array<array<double>>>"
    )

    def best(j: int):
        subvec = F.slice(F.col(vec_col), j * sub + 1, sub)
        return F.array_min(
            F.transform(
                F.element_at(F.col("codebooks"), j + 1),
                lambda c, i: F.struct(
                    F.aggregate(
                        F.zip_with(
                            subvec,
                            c,
                            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                        ),
                        F.lit(0.0),
                        lambda acc, d: acc + d,
                    ).alias("d"),
                    i.alias("code"),
                ),
            )
        )

    enc = embeddings.select(id_col, vec_col).join(F.broadcast(cb_df))
    enc = enc.select(
        F.col(id_col), *[best(j).alias(f"_b{j}") for j in range(m)]
    )
    err2 = sum((F.col(f"_b{j}.d") for j in range(m)), F.lit(0.0))
    return enc.select(
        F.col(id_col),
        F.array(*[F.col(f"_b{j}.code").cast("int") for j in range(m)]).alias("codes"),
        F.round(F.sqrt(err2), 6).alias("recon_err"),
    )

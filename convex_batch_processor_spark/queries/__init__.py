"""Named query registry: every operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable paired with its DuckDB oracle SQL.

Importing this package populates ``QUERIES``; submodules register at import.
"""

from __future__ import annotations

from .registry import QUERIES, QuerySpec, prioritize, register  # noqa: F401

# Import order is registration order; the external driver verifies the
# first 50 registry entries against the DuckDB oracle (see prioritize() below).
from . import llm4  # noqa: E402,F401
from . import llm5  # noqa: E402,F401
from . import llm6  # noqa: E402,F401
from . import llm3  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import llm2  # noqa: E402,F401
from . import misc  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import analytics  # noqa: E402,F401
from . import dataflow  # noqa: E402,F401
from . import analytics2  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import tpch_star  # noqa: E402,F401
from . import llm7  # noqa: E402,F401
from . import llm8  # noqa: E402,F401
from . import llm9  # noqa: E402,F401
from . import llm10  # noqa: E402,F401
from . import llm11  # noqa: E402,F401
from . import llm12  # noqa: E402,F401
from . import llm13  # noqa: E402,F401
from . import llm14  # noqa: E402,F401
from . import llm15  # noqa: E402,F401
from . import llm16  # noqa: E402,F401
from . import llm17  # noqa: E402,F401
from . import llm18  # noqa: E402,F401
from . import llm19  # noqa: E402,F401
from . import llm20  # noqa: E402,F401
from . import llm21  # noqa: E402,F401
from . import llm22  # noqa: E402,F401
from . import llm23  # noqa: E402,F401
from . import llm24  # noqa: E402,F401
from . import llm25  # noqa: E402,F401
from . import llm26  # noqa: E402,F401
from . import llm27  # noqa: E402,F401
from . import llm28  # noqa: E402,F401
from . import llm29  # noqa: E402,F401
from . import llm30  # noqa: E402,F401
from . import llm31  # noqa: E402,F401
from . import llm32  # noqa: E402,F401
from . import llm33  # noqa: E402,F401
from . import llm34  # noqa: E402,F401
from . import llm35  # noqa: E402,F401
from . import llm36  # noqa: E402,F401
from . import llm37  # noqa: E402,F401
from . import llm38  # noqa: E402,F401
from . import llm39  # noqa: E402,F401
from . import llm40  # noqa: E402,F401
from . import llm41  # noqa: E402,F401
from . import llm42  # noqa: E402,F401
from . import llm43  # noqa: E402,F401
from . import llm44  # noqa: E402,F401
from . import llm45  # noqa: E402,F401
from . import llm46  # noqa: E402,F401
from . import llm47  # noqa: E402,F401
from . import llm48  # noqa: E402,F401
from . import llm49  # noqa: E402,F401
from . import llm50  # noqa: E402,F401
from . import llm51  # noqa: E402,F401
from . import llm52  # noqa: E402,F401
from . import llm53  # noqa: E402,F401
from . import llm54  # noqa: E402,F401
from . import llm55  # noqa: E402,F401
from . import llm56  # noqa: E402,F401
from . import llm57  # noqa: E402,F401
from . import llm58  # noqa: E402,F401
from . import llm59  # noqa: E402,F401
from . import llm60  # noqa: E402,F401
from . import llm61  # noqa: E402,F401
from . import llm62  # noqa: E402,F401
from . import llm63  # noqa: E402,F401
from . import llm64  # noqa: E402,F401
from . import llm65  # noqa: E402,F401
from . import llm66  # noqa: E402,F401
from . import llm67  # noqa: E402,F401
from . import llm68  # noqa: E402,F401
from . import llm69  # noqa: E402,F401
from . import llm70  # noqa: E402,F401
from . import llm71  # noqa: E402,F401
from . import llm72  # noqa: E402,F401
from . import llm73  # noqa: E402,F401


# The driver window: the llm73 oracle-backed names first, then the
# freshness pads that `tests/stale_green_check.py --next-window` derived.
prioritize([
    # llm73 pack, oracle-backed (9) — never-verified, front of window
    "top_ngram_char_fraction", "substring_dedup_scrub",
    "source_mix_divergence", "hashed_linear_quality_score",
    "chunked_attention_waste", "tokenizer_fertility_by_lang",
    "span_corruption_plan", "embedding_energy_profile",
    "bigram_conditional_entropy",
    # freshness pads (41): oldest-verdict fresh names, tool order
    "supplier_triangles", "time_decay_user_score", "ts_feature_matrix",
    "user_rfm_segments", "vocab_entropy_by_source",
    "weighted_sample_orders", "window_funnel_depth",
    "zorder_layout_stats", "bfs_hop_distance", "calibration_bins",
    "char_entropy_quality", "consistent_hash_rebalance",
    "exact_substr_scrub", "feature_hash_stats",
    "frequent_word_subsample", "functional_dependency_check",
    "jaccard_pair_histogram", "k_anonymity_audit",
    "minhash_estimate_neardup", "mmr_diverse_topk",
    "neardup_eval_metrics", "negative_sampling_table",
    "ols_price_normal_eq", "partition_skew_audit", "payload_byte_stats",
    "peak_concurrency_by_user", "png_decode_features",
    "randomized_response_rate", "robots_filter_stats", "rrf_fusion_topk",
    "semantic_dedup_keep", "skipgram_pairs_topk", "target_encode_brand",
    "tfidf_cosine_pairs", "unicode_normalize_stats",
    "url_canonicalize_stats", "asof_interpolate_price",
    "bradley_terry_strengths", "cidr_zone_lookup",
    "clustering_nmi_vmeasure", "clustering_purity",
])


def spark_queries():
    """The ``queries()`` dict for the driver contract."""
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sqls():
    """The ``oracle_sql()`` dict for the driver contract (SQL-expressible only)."""
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}

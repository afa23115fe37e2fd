"""Physical-plan contracts — the 100 TB design encoded as assertions.

If a refactor stops a filter from reaching the parquet scan, widens a
ReadSchema, or turns a top-k into a global sort, these fail."""

from __future__ import annotations

import pytest

# slow tier: excluded from the default run (pytest.ini); run with -m ""
pytestmark = pytest.mark.slow

from convex_batch_processor_spark.catalog import load_table
from convex_batch_processor_spark.plans import explain as E
from convex_batch_processor_spark.queries import QUERIES


def q(spark, sf_dir, name):
    return QUERIES[name].fn(spark, sf_dir)


def test_point_lookup_pushes_filter_to_scan(spark, sf_dir):
    df = q(spark, sf_dir, "s1_point_lookup")
    assert E.has_pushed_filter(df, "o_orderkey")


def test_range_scan_pushes_both_predicates_and_prunes_columns(spark, sf_dir):
    df = q(spark, sf_dir, "s2_snapshot_range_scan")
    assert E.has_pushed_filter(df, "l_orderkey")
    assert E.has_pushed_filter(df, "l_shipdate")
    cols = set(E.read_schema_columns(df))
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"}


def test_q1_reads_only_referenced_columns(spark, sf_dir):
    df = q(spark, sf_dir, "q1_pricing_summary")
    cols = set(E.read_schema_columns(df))
    assert cols == {
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate",
    }


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    assert E.uses_take_ordered(q(spark, sf_dir, "o2_topk_orders"))


def test_semi_join_broadcasts_small_side(spark, sf_dir):
    df = q(spark, sf_dir, "j2_semi_exists")
    assert E.uses_broadcast_join(df)


def test_knn_broadcasts_query_side(spark, sf_dir):
    assert E.uses_broadcast_join(q(spark, sf_dir, "knn_bruteforce"))


def test_per_key_agg_join_aggregates_before_join(spark, sf_dir):
    """The J1 plan must shuffle the AGGREGATED child, not raw lineitem:
    the partial HashAggregate has to appear below the join."""
    plan = E.physical_plan(q(spark, sf_dir, "j1_per_key_agg_join"))
    join_pos = min(
        (plan.find(tok) for tok in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
         if plan.find(tok) != -1),
        default=-1,
    )
    agg_pos = plan.find("HashAggregate")
    assert join_pos != -1 and agg_pos != -1
    assert agg_pos > join_pos  # aggregate is a child (printed below the join)


def test_window_queries_single_exchange(spark, sf_dir):
    """All five window functions share one shuffle on user_id."""
    df = q(spark, sf_dir, "window_rank_lag_running")
    assert E.count_exchanges(df) <= 1


def test_projection_view_prunes_to_four_columns(spark, sf_dir):
    cols = set(E.read_schema_columns(q(spark, sf_dir, "p1_projection_view")))
    assert cols == {"o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"}


def test_q3_pushes_filters_and_broadcasts_dimension(spark, sf_dir):
    """TPC-H Q3: segment/date filters reach the scans; the filtered
    customer dimension joins via broadcast (no full shuffle of the facts
    against a small dim)."""
    df = q(spark, sf_dir, "q3_shipping_priority")
    assert E.has_pushed_filter(df, "c_mktsegment")
    assert E.has_pushed_filter(df, "o_orderdate")
    assert E.has_pushed_filter(df, "l_shipdate")
    assert E.uses_broadcast_join(df)


def test_asof_join_single_shuffle_per_side(spark, sf_dir):
    """The union+window as-of join must not contain a nested-loop or
    row-multiplying join — only exchanges for the window partition."""
    plan = E.physical_plan(q(spark, sf_dir, "asof_join_latest_order"))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_exact_single_exchange(spark, sf_dir):
    df = q(spark, sf_dir, "dedup_exact")
    assert E.count_exchanges(df) <= 1


def test_q9_broadcasts_dims_and_prunes_part_name(spark, sf_dir):
    """q9: the LIKE filter reaches the part scan; part/supplier/nation are
    broadcast; the only exchanges belong to lineitem<->orders + the agg."""
    df = q(spark, sf_dir, "q9_product_type_profit")
    assert E.uses_broadcast_join(df)
    plan = E.physical_plan(df)
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_q19_single_scan_no_union(spark, sf_dir):
    """q19's OR-of-conjunctions must stay one lineitem scan + one part
    broadcast — not a union of three per-branch scans."""
    df = q(spark, sf_dir, "q19_disjunctive_revenue")
    plan = E.physical_plan(df)
    assert "Union" not in plan
    assert plan.count("Scan parquet") == 2  # lineitem + part, once each
    assert E.uses_broadcast_join(df)


def test_q22_anti_join_pushes_date_filter(spark, sf_dir):
    """q22: the dormancy date predicate reaches the orders scan feeding the
    left-anti join; the scalar average is a broadcast, not a collect."""
    df = q(spark, sf_dir, "q22_dormant_customer_balance")
    assert E.has_pushed_filter(df, "o_orderdate")
    plan = E.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_training_pipeline_single_wide_shuffle(spark, sf_dir):
    """The composed pipeline's scale contract: exactly ONE exchange (the
    md5 dedup window); quality gate and mod-sample stay map-side."""
    df = q(spark, sf_dir, "training_data_pipeline")
    assert E.count_exchanges(df) == 1
    cols = set(E.read_schema_columns(df))
    assert cols == {"doc_id", "lang", "source", "text"}


def test_cosine_bucketed_no_cartesian(spark, sf_dir):
    """The LSH near-dup must never degrade to the all-pairs theta join:
    no cartesian/nested-loop anywhere in the candidate plan."""
    df = q(spark, sf_dir, "cosine_neardup_bucketed")
    plan = E.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_and_jaccard_no_cartesian(spark, sf_dir):
    """Gram-blocked joins must stay equi-joins: neither decontamination
    nor the prefiltered exact-Jaccard pairs may plan a cartesian or
    nested-loop join."""
    for name in ("eval_contamination", "ngram_jaccard_pairs"):
        plan = E.physical_plan(q(spark, sf_dir, name))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_interval_join_is_bucketed_equi_join(spark, sf_dir):
    """The attribution range join must plan as a plain equi-join on
    (user, bucket) — no nested-loop/cartesian fallback, and the exact
    interval predicate is a post-join filter, not a join strategy."""
    df = q(spark, sf_dir, "view_purchase_attribution")
    plan = E.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_bin" in plan  # the bucket key actually reaches the join


def test_repetition_top_bigram_no_exchange(spark, sf_dir):
    """The sorted-array fold form must stay map-only: zero shuffles."""
    df = q(spark, sf_dir, "repetition_top_bigram")
    assert E.count_exchanges(df) == 0


def test_quality_and_quantize_are_map_only(spark, sf_dir):
    """Per-row quality rules and SQ8 quantization must never shuffle."""
    for name in ("gopher_quality_filter", "embedding_quantize_int8"):
        assert E.count_exchanges(q(spark, sf_dir, name)) == 0, name


def test_session_window_single_exchange(spark, sf_dir):
    """Native session windows aggregate in one user-keyed shuffle."""
    assert E.count_exchanges(q(spark, sf_dir, "session_window_agg")) == 1


def test_bm25_filters_terms_before_aggregation(spark, sf_dir):
    """The posting-list explode must be filtered to the query terms before
    any exchange — the shuffle carries matching postings only — and the
    tiny idf/stats sides must broadcast."""
    df = q(spark, sf_dir, "bm25_topk")
    plan = E.physical_plan(df)
    gen = plan.find("Generate explode")
    assert gen != -1
    # the term filter appears in the same codegen stage as the explode:
    # locate the IN-list predicate and ensure it sits above the Generate
    # (Spark prints children below parents, so filter offset < explode offset)
    in_pos = plan.find(" IN (")
    assert in_pos != -1 and in_pos < gen
    assert E.uses_broadcast_join(df)
    assert E.uses_take_ordered(df)


def test_ivf_search_broadcasts_probe_sides(spark, sf_dir):
    """IVF search must broadcast the tiny sides (centroids, probe list);
    the corpus must never appear on a nested-loop join."""
    df = q(spark, sf_dir, "ivf_search_topk")
    plan = E.physical_plan(df)
    assert E.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_pack_chunks_single_exchange(spark, sf_dir):
    """The cumsum packing is ONE shuffle (the per-source window sort):
    any second exchange means the window lost its partitioning."""
    df = q(spark, sf_dir, "token_pack_chunks")
    assert E.count_exchanges(df) == 1


def test_lm_and_pipeline_queries_no_cartesian(spark, sf_dir):
    """The LM scorers and the composed pipeline join only on keys (term/
    gram/doc) plus broadcast single-row stats — a cartesian or nested-loop
    join on a corpus-sized side means a join key was lost."""
    for name in ("lm_bigram_quality", "lm_trigram_quality",
                 "training_pipeline_v2", "corpus_report"):
        plan = E.physical_plan(q(spark, sf_dir, name))
        assert "CartesianProduct" not in plan, name
        # the only nested-loop joins allowed are broadcasts of one-row
        # stats frames (N/avgdl/vocab cross joins)
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line or "Inner" in line, (name, line)


def test_pipeline_v2_pushes_source_filter_to_scan(spark, sf_dir):
    """The train-split filter must reach the documents parquet scan."""
    df = q(spark, sf_dir, "training_pipeline_v2")
    assert E.has_pushed_filter(df, "source")


def test_pipeline_v2_global_rank_never_carries_text(spark, sf_dir):
    """The quality-gate rank is global by semantics, but it must run over
    the (doc_id, avg_logp) projection ONLY — document text through a
    single-partition WindowExec is the 100 TB killer VERDICT r3 flagged."""
    df = q(spark, sf_dir, "training_pipeline_v2")
    inputs = E.global_window_inputs(df)
    assert inputs, "expected the global score-rank window to exist"
    for cols in inputs:
        assert "text" not in cols, cols
        assert cols <= {"doc_id", "avg_logp", "rn"}, cols


def test_histogram_rank_global_windows_are_value_bounded(spark, sf_dir):
    """zipf_vocab_fit and length_curriculum_buckets rank via
    operators/rank.histogram_rank: the ONLY unpartitioned window allowed
    in their plans is the (value, count) histogram running sum — never the
    term table or the corpus."""
    for name, allowed in (
        ("zipf_vocab_fit", {"freq", "_cnt"}),
        ("length_curriculum_buckets", {"n_chars", "_cnt"}),
    ):
        for cols in E.global_window_inputs(q(spark, sf_dir, name)):
            assert cols <= allowed, (name, cols)


# --- late-r4: sketch pack + explode-duplication guards ----------------------


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_no_inferred_filter_duplicates_shingle_pipeline(spark, sf_dir):
    """The InferFiltersFromGenerate regression guard: exploding a projected
    array column makes Catalyst push a size() filter containing a COPY of
    the whole per-gram transform pipeline (4.7x measured). A filter that
    merely re-derives the token COUNT (one extra split per row) is cheap
    and allowed; a `transform(` inside any Filter line is the pathology."""
    for name in ("bloom_decontamination_prefilter", "ngram_novelty_score",
                 "dup_span_coverage", "minhash_neardup", "eval_contamination"):
        plan = _optimized(QUERIES[name].fn(spark, sf_dir))
        bad = [
            ln for ln in plan.split("\n")
            if "Filter" in ln and "transform(" in ln
        ]
        assert not bad, (name, bad[:1])


def test_exploded_shingles_computes_split_once(spark, sf_dir):
    from pyspark.sql import functions as F
    from convex_batch_processor_spark.llmops.dedup import exploded_shingles

    df = exploded_shingles(load_table(spark, sf_dir, "documents"), n=8)
    plan = _optimized(df)
    assert plan.count("split(text") == 1, plan[:400]


def test_cms_probe_broadcasts_the_sketch(spark, sf_dir):
    df = QUERIES["cms_heavy_hitters"].fn(spark, sf_dir)
    assert E.uses_broadcast_join(df)


def test_bloom_query_is_single_aggregation_no_position_join(spark, sf_dir):
    """The bitmap form: membership is a map-side expression, so the plan
    must have no join on a bit-position column and only doc-keyed
    aggregation exchanges plus the broadcast of the eval-gram flags."""
    df = QUERIES["bloom_decontamination_prefilter"].fn(spark, sf_dir)
    # one shuffle for the final doc_id aggregation; everything else broadcast
    assert E.uses_broadcast_join(df)
    assert E.count_exchanges(df) <= 3, E.count_exchanges(df)


def test_hll_union_runs_on_register_state_not_corpus(spark, sf_dir):
    """The pairwise union work must join register tables (bounded), never
    re-scan documents per pair: documents appears a bounded number of
    times in the plan (distinct + exact branches), not once per pair."""
    df = QUERIES["hll_union_sources"].fn(spark, sf_dir)
    plan = E.physical_plan(df)
    # every consumer of the (source, term) distinct and of the register
    # table must read the cache, not rescan the corpus (InMemoryRelation
    # descriptions embed the original FileScan text, so count cache scans,
    # not parquet mentions)
    assert plan.count("InMemoryTableScan") >= 5, plan.count("InMemoryTableScan")


def test_tfidf_cosine_pairs_no_cartesian(spark, sf_dir):
    """The weighted similarity join must stay inverted-index shaped:
    candidates come from the (source, gram) equi-join, never a doc x doc
    product."""
    plan = E.physical_plan(q(spark, sf_dir, "tfidf_cosine_pairs"))
    assert "CartesianProduct" not in plan
    # nested-loop joins may appear ONLY as the broadcast of the 1-row
    # corpus-stats aggregate (n_docs) — a scalar cross join repeated
    # textually wherever the weighted-tf subtree is reused, never a pair
    # generator; the candidate join itself must be an equi-join on the gram
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )


def test_sorted_neighborhood_windows_are_blocked(spark, sf_dir):
    """SNM's sort must be per-block (first-token partitions) — a global
    sorted window over the corpus would be the single-task killer."""
    df = q(spark, sf_dir, "sorted_neighborhood_pairs")
    assert E.global_window_inputs(df) == []


def test_journey_triples_global_rank_only_on_census(spark, sf_dir):
    """The per-user lead() windows are keyed; the only global operator is
    the TakeOrdered top-20 over the tiny journey census."""
    df = q(spark, sf_dir, "journey_triples_topk")
    assert E.global_window_inputs(df) == []
    assert E.uses_take_ordered(df)


def test_split_gain_global_window_is_histogram_bounded(spark, sf_dir):
    """Split finding's only unpartitioned windows run over the ~50-row
    (quantity, count, pos) histogram — never the lineitem scan."""
    for cols in E.global_window_inputs(q(spark, sf_dir, "best_split_information_gain")):
        named = {c for c in cols if not c.startswith("_we")}  # drop internal
        assert named <= {"split_value", "c", "p", "nl", "pl", "n", "pp"}, cols


def test_skipgram_pairs_are_generated_map_side(spark, sf_dir):
    """The pair stream must come from a Generate over the token array —
    no join anywhere (the position self-join is the shape we rejected),
    and the top-k is a TakeOrdered, not a global sort."""
    df = q(spark, sf_dir, "skipgram_pairs_topk")
    plan = E.physical_plan(df)
    for tok in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert tok not in plan, tok
    assert E.uses_take_ordered(df)


def test_negative_sampling_global_window_is_vocab_bounded(spark, sf_dir):
    """The cumulative-probability window is global by semantics but must
    see only the bounded top-k vocabulary projection, never corpus rows."""
    inputs = E.global_window_inputs(q(spark, sf_dir, "negative_sampling_table"))
    assert inputs, "expected the cum-prob window"
    for cols in inputs:
        assert "text" not in cols and "doc_id" not in cols, cols


def test_quantile_normalize_window_is_histogram_bounded(spark, sf_dir):
    """The midrank cumulative window runs on the (v, c) value histogram —
    no corpus column may appear in its input."""
    inputs = E.global_window_inputs(q(spark, sf_dir, "quantile_normalize_values"))
    assert inputs, "expected the cumulative histogram window"
    for cols in inputs:
        assert cols <= {"v", "c", "below"}, cols


def test_calibration_windows_and_joins_stay_on_histogram(spark, sf_dir):
    """Both calibration queries reduce lineitem once; everything after is
    histogram-sized with broadcast-only joins."""
    for name in ("calibration_bins", "calibration_ece_brier"):
        df = q(spark, sf_dir, name)
        plan = E.physical_plan(df)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_target_encoding_broadcasts_the_dimension(spark, sf_dir):
    assert E.uses_broadcast_join(q(spark, sf_dir, "target_encode_brand"))


def test_bfs_has_no_cartesian_and_bounded_rounds(spark, sf_dir):
    plan = E.physical_plan(q(spark, sf_dir, "bfs_hop_distance"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_peak_concurrency_windows_are_key_partitioned(spark, sf_dir):
    """The sweep-line running sum must be user-partitioned — a global
    endpoint window would serialize the corpus through one task."""
    assert E.global_window_inputs(q(spark, sf_dir, "peak_concurrency_by_user")) == []


def test_dedup_eval_truth_join_has_no_cartesian(spark, sf_dir):
    """Pair generation must be equi-joins (band buckets / shared
    shingles). The BroadcastNestedLoopJoin nodes that DO appear are the
    three 1-row scalar-count combines — idiomatic and O(1)."""
    plan = E.physical_plan(q(spark, sf_dir, "neardup_eval_metrics"))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # scalar combines only


# --- current driver-window sweep ---------------------------------------------


def test_current_window_global_windows_are_bounded(spark, sf_dir):
    """Plan gate over the ENTIRE live driver window (the first 50
    registry entries — VERDICT r4 #7; UPDATE the `allowed` pins when
    rotating): no CartesianProduct, and no unpartitioned WindowExec.
    The round-12 window has two audited bounded global windows
    (measured at the swap via global_window_inputs; each runs over a
    bounded aggregate — the 150-row negative-sampling vocabulary's
    cumulative weight, and the two 100-row BM25 run rankings inside
    the RRF fusion) and zero cartesians."""
    allowed: dict[str, set[str]] = {
        "negative_sampling_table": {"term", "cnt", "w9"},
        "rrf_fusion_topk": {"doc_id", "score"},
    }
    allowed_cartesian: set[str] = set()
    names = list(QUERIES)[:50]
    assert len(names) == 50
    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        if name not in allowed_cartesian:
            assert "CartesianProduct" not in E.physical_plan(df), name
        inputs = E.global_window_inputs(df)
        if name in allowed:
            assert inputs, (name, "expected the bounded global window")
            for cols in inputs:
                assert cols <= allowed[name], (name, cols)
        else:
            assert inputs == [], (name, inputs)


def test_full_registry_no_new_cartesians_or_global_windows(spark, sf_dir):
    """Ratchet over the ENTIRE 291-query registry (rounds 6-7 material
    included, ahead of the rotation): the ONLY CartesianProducts are the
    two histogram x histogram DP queries (bounded ~|bins|^2 by design),
    and the ONLY queries with unpartitioned WindowExecs are the audited
    set below — each runs its global window over a bounded aggregate
    (value/score histograms, vocab top-k, |sources| demand tables, DP
    grids) or a documented projection (training_pipeline_v2's
    (doc_id, avg_logp) rank; window_range_frame's RANGE frame runs over
    the o_orderkey < 300 slice, pushed to the scan — bounded too). Any
    refactor that introduces a global window or a cartesian anywhere
    else fails here before it can ship."""
    allowed_cartesian = {"voptimal_cost_curve", "equiwidth_vs_voptimal"}
    allowed_global_window = {
        # round-5 window (pinned in detail by the r5 sweep test above)
        "km_signup_to_purchase", "neyman_allocation", "revenue_pareto_bands",
        # audited bounded-aggregate / documented-projection windows
        "zipf_vocab_fit", "token_budget_allocation",
        "length_curriculum_buckets", "sampled_by_lang",
        "training_pipeline_v2", "window_range_frame", "rrf_fusion_topk",
        "best_split_information_gain", "pareto_front_parts",
        "histogram_quantile_accuracy", "auc_quantity_returnflag",
        "negative_sampling_table", "quantile_normalize_values",
        "waterfill_allocation", "voptimal_cost_curve",
        "equiwidth_vs_voptimal", "retrieval_eval_ndcg",
        "join_order_advisor", "ks_wasserstein_drift",
        # llm72 pack (registered late r10): reverse-cumulative risk set
        # over the bounded |distinct tenure-days| histogram
        "tenure_hazard_table",
    }
    for name, spec in QUERIES.items():
        df = spec.fn(spark, sf_dir)
        plan = E.physical_plan(df)
        if name not in allowed_cartesian:
            assert "CartesianProduct" not in plan, name
        if name not in allowed_global_window:
            assert E.global_window_inputs(df) == [], name
        # the InferFiltersFromGenerate pathology (a transform() inside a
        # pushed Filter re-builds the whole array expression per row —
        # 4.7x measured on shingles): zero occurrences registry-wide
        bad = [
            ln for ln in _optimized(df).split("\n")
            if "Filter" in ln and "transform(" in ln
        ]
        assert not bad, (name, bad[:1])


def test_full_registry_output_types_are_driver_precedented(spark, sf_dir):
    """Every registered query returns only column types an external
    hash-verified run has already proven safe end-to-end: int64/int32,
    float64, boolean, string, date, timestamp (tz and ntz). Arrays
    crashed the external canonicalizer once (the product_quantize_pq
    lesson) and raw decimal outputs materialize differently at the two
    engines' pandas layers (Spark -> object of Decimal, DuckDB ->
    float64), so both are banned at the QUERY boundary — accumulate in
    decimal internally, cast to bigint/double on return."""
    safe = {
        "bigint", "int", "smallint", "tinyint", "double", "boolean",
        "string", "date", "timestamp", "timestamp_ntz",
    }
    for name, spec in QUERIES.items():
        schema = spec.fn(spark, sf_dir).schema
        bad = {
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.dataType.simpleString().split("(")[0].split("<")[0] not in safe
        }
        assert not bad, (name, bad)

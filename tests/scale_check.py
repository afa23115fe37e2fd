"""Scaling-exponent sweep: measure how operator runtime grows with data.

The correctness gates prove operators RIGHT at small scale; this gate
measures whether their cost grows like the plan audit claims. Each
audited query runs at sf0.001 / sf0.01 / sf0.1 (100x data end to end)
and the per-decade exponent alpha = log10(t_hi / t_lo) is reported for
each step. An operator whose plan is one scan + bounded shuffles should
land alpha <= ~1.2 on the 0.01 -> 0.1 decade (alpha is biased DOWN on
the first decade, where fixed job latency dominates the tiny inputs —
report both, judge on the second). alpha >= superlinear_limit on the
second decade fails the sweep: that is the signature of a pair
expansion outgrowing its cap, a broadcast flipping to a shuffle of
something corpus-sized, or driver-side state growing with the data.

Runnable standalone (prints one JSON line per query + a summary table):

    python tests/scale_check.py [query ...]

Defaults cover the most expensive plan families: inverted-index pair
expansion (jaccard / tfidf-cosine / winnowing), banded LSH (md5 MinHash),
iterative convergence (k-means, connected components via dedup collapse,
pagerank, golden-record merge), sketch build+probe (bloom
decontamination), global aggregation (TPC-H q1), a mapInPandas codec
(audio), triangle enumeration, and hyperplane-LSH bucket join + rerank.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIRS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]

#: audited set: one representative per expensive plan family
DEFAULT_QUERIES = [
    "q1_pricing_summary",          # full-scan global agg (the linear baseline)
    "dedup_exact",                 # one digest shuffle
    "ngram_jaccard_pairs",         # inverted-index pair expansion
    "tfidf_cosine_pairs",          # weighted pair expansion, df-capped
    "minhash_portable_neardup",    # banded LSH candidates + verify
    "winnowing_fingerprint_pairs", # fingerprint-keyed pair expansion
    "bloom_decontamination_prefilter",  # sketch build + map-side probe
    "kmeans_clusters",             # iterative broadcast-assign
    "dedup_keep_best",             # pair graph + iterative min-label CC
    "pagerank_event_graph",        # iteration on a bounded aggregate
    "exact_substr_scrub",          # inverted 8-gram index + rebuild
    "audio_decode_features",       # mapInPandas codec batch path
    # round-6 additions: the three most expensive r5-bench entries the
    # verdict audited by plan shape — now also pinned empirically
    "supplier_triangles",          # ordered-edge triangle enumeration, fanout-capped
    "cosine_lsh_portable_neardup", # 16-plane LSH bucket join + exact rerank
    "golden_record_merge",         # min-label CC + component-keyed aggregations
    # round-9/10 additions: the llm72 and llm73 packs' expensive families
    "substring_dedup_spans",       # positional-gram index + islands window
    "kneser_ney_doc_logprob",      # bigram index + occurrence join-back
    "hits_part_supplier",          # unrolled bipartite iteration
    "rank_gauss_prices",           # per-segment rank window + map-side transform
    "top_ngram_char_fraction",     # 3x positional gram explode + gram reduce
    "substring_dedup_scrub",       # gram index + 8x coverage explode + distinct
]

#: second-decade exponent above this fails the sweep
SUPERLINEAR_LIMIT = 1.35
RUNS = 3


def main() -> None:
    from convex_batch_processor_spark.queries import QUERIES
    from convex_batch_processor_spark.session import get_spark

    names = sys.argv[1:] or DEFAULT_QUERIES
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown query name(s): {unknown}")

    # shared measurement protocol (session scan conf, warmup, timed noop
    # loop, median) — bench.py and this sweep must measure identically or
    # their numbers stop being comparable
    from tests.benchlib import SCAN_CONF, time_query, warm_up

    spark = get_spark(app_name="scale-check", extra_conf=SCAN_CONF)
    warm_up(spark)

    failures = []
    for name in names:
        fn = QUERIES[name].fn
        med = [time_query(spark, fn, sf_dir, RUNS) for sf_dir, _sf in SF_DIRS]
        alphas = [
            round(math.log10(med[i + 1] / med[i]), 3) for i in range(len(med) - 1)
        ]
        ok = alphas[-1] <= SUPERLINEAR_LIMIT
        print(
            json.dumps(
                {
                    "query": name,
                    "sec": [round(t, 3) for t in med],
                    "alpha_per_decade": alphas,
                    "ok": ok,
                }
            ),
            flush=True,
        )
        if not ok:
            failures.append((name, alphas[-1]))

    if failures:
        print(f"\nSUPERLINEAR (alpha > {SUPERLINEAR_LIMIT} on 0.01->0.1): {failures}")
    else:
        print(f"\nall {len(names)} queries subquadratic "
              f"(second-decade alpha <= {SUPERLINEAR_LIMIT})")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

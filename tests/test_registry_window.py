"""Round-12 driver-window contract (NOTES "Round-12 rotation plan").

The driver verifies the FIRST 50 registry entries per round. Round 11
closed the last ledger item (oracle-backed stale count 0, a first) and
registered the pre-flighted llm73 pack at the BACK (291 -> 301). The
round-12 window therefore carries the 9 oracle-backed llm73 names (the
only never-verified backlog — placed by hand, since ``--next-window``
only proposes already-verdicted names; the rows-only
isotonic_calibration_pava records no hash verdict by contract) and 41
machine-derived freshness pads. These tests pin that state so an
accidental import reorder or registry growth fails loudly BEFORE the
driver runs — no Spark session needed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from convex_batch_processor_spark.queries import QUERIES

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The round-12 window (NOTES "Round-12 rotation plan": the 9 llm73
# oracle names by hand + stale_green_check --next-window's pad
# proposal, re-derived STRICT and matched exactly at the swap). Order
# matters: the driver reads the first 50 registry entries positionally.
_R12_WINDOW = [
    # llm73 pack, oracle-backed (9) — never-verified backlog
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
]

_PACK_TIER = _R12_WINDOW[:9]
_PAD_TIER = _R12_WINDOW[9:]


def _latest_verdicts() -> dict[str, int]:
    seen: dict[str, int] = {}
    for r in ("01", "02", "03", "04", "05", "06",
              "07", "08", "09", "10", "11"):
        path = os.path.join(_REPO, f"CORRECTNESS_r{r}.json")
        with open(path) as f:
            for name in json.load(f):
                seen[name] = max(seen.get(name, 0), int(r))
    return seen


def test_registry_is_exactly_301():
    """The llm73 pack registered at the r11 close (291 -> 301). Pinned
    EXACTLY (ADVICE r11: a relaxed tuple is dead slack that would mask
    a lost pack registration)."""
    assert len(QUERIES) == 301, len(QUERIES)


def test_round12_window_is_the_pinned_rotation():
    """The first 50 registry entries must equal the NOTES round-12
    rotation (9 llm73 names + the --next-window pads), in order."""
    assert list(QUERIES)[:50] == _R12_WINDOW


def test_round12_window_tiers():
    """Tier shape: the 9 pack names have NO driver verdict yet (the
    whole point of fronting them); every pad is already verdicted
    (freshness refresh, not backlog)."""
    verdicts = _latest_verdicts()
    never = [n for n in _PACK_TIER if n in verdicts]
    assert never == [], f"pack names already verdicted: {never}"
    missing = [n for n in _PAD_TIER if n not in verdicts]
    assert missing == [], missing


def test_round12_window_is_fixture_gated():
    """VERDICT r8 #2: every window name must be covered by a crafted
    adversarial fixture gate's query list BEFORE the driver re-verifies
    it. The pads span test_adversarial_fixtures' gates; pack names are
    gated by their pre-flight suite's own boundary fixture (NOTES r11
    swap caveat (a)). The union is built GENERICALLY over every
    tests/test_r*_preflight module so future swaps cannot forget to
    extend it: a pack suite only counts if it actually parametrizes a
    boundary-fixture parity test over its CANDIDATES."""
    import glob as _glob
    import importlib

    from . import test_adversarial_fixtures as fx

    gated: set[str] = set()
    for attr in dir(fx):
        if "_QUERIES" in attr and attr.startswith("_"):
            gated.update(getattr(fx, attr))
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(_glob.glob(os.path.join(here, "test_r*_preflight.py"))):
        mod = importlib.import_module(
            f"tests.{os.path.basename(path)[:-3]}"
        )
        if not hasattr(mod, "test_preflight_boundary_parity"):
            continue  # no crafted fixture -> contributes nothing
        qmod = importlib.import_module(mod.CANDIDATES_MODULE) if hasattr(
            mod, "CANDIDATES_MODULE") else None
        cands = getattr(mod, "CANDIDATES", None) or (
            qmod.CANDIDATES if qmod else {})
        gated.update(cands)
    missing = [n for n in _R12_WINDOW if n not in gated]
    assert missing == [], missing
    # and the current pack tier must come from a suite, not be assumed
    assert set(_PACK_TIER) <= gated


def test_every_query_module_is_imported_by_the_registry():
    """Every ``queries/*.py`` module must be reached by importing the
    package: a module the registry never imports is inventory no driver,
    bench or oracle gate can run. Checked in a fresh interpreter so
    modules other tests import cannot mask an unreachable one."""
    code = (
        "import pkgutil, sys\n"
        "import convex_batch_processor_spark.queries as q\n"
        "print(' '.join(m.name for m in pkgutil.iter_modules(q.__path__)\n"
        "               if f'{q.__name__}.{m.name}' not in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO, check=True,
        capture_output=True, text=True,
    ).stdout.split()
    assert out == [], f"query modules the registry never imports: {out}"


def test_every_window_entry_is_oracle_backed():
    """A window slot spent on a rows-only entry is wasted — all 50 must
    carry DuckDB oracle SQL so the driver records a full hash verdict."""
    missing = [n for n in list(QUERIES)[:50] if not QUERIES[n].oracle]
    assert missing == [], missing


def test_window_oracles_carry_no_rounded_exact_ratio():
    """Rule-14 regression gate for THIS window (the r10 sf0.1 sweep
    proved the class fires in practice): no in-window oracle may
    round() a division/product of exact-decimal operands with no
    transcendental leaf inside. round() whose argument contains a
    transcendental (ln/log/sqrt/exp/pow — leaf-rounding absorbs libm
    ulp skew, and a tie is measure-zero) is the documented-safe shape,
    as are integer cents casts round(value * 100) of 2-dp data (never
    near a half) and the int8 quantizer's round(x/scale) algorithm
    semantics (data-dependent operands, measure-zero)."""
    import re

    trans = re.compile(r"\b(ln|log|log10|log2|sqrt|exp|pow|power)\s*\(", re.I)
    cents = re.compile(r"^\s*(CAST\()?\s*\w+(\.\w+)?\s*\*\s*100\s*\)?\s*$")
    offenders: list[tuple[str, str]] = []
    for name in list(QUERIES)[:50]:
        sql = QUERIES[name].oracle or ""
        sql = re.sub(r"--[^\n]*", "", sql)  # strip SQL comments
        for m in re.finditer(r"round\s*\(", sql, re.I):
            i, depth = m.end(), 1
            while i < len(sql) and depth:
                depth += {"(": 1, ")": -1}.get(sql[i], 0)
                i += 1
            inner = sql[m.end():i - 1]
            body = inner.rsplit(",", 1)[0] if "," in inner else inner
            if trans.search(body) or cents.match(body):
                continue
            if "/" in body or "*" in body:
                offenders.append((name, " ".join(inner.split())[:100]))
    allowed = {
        # int8 quantizer semantics (data-dependent operands, green r4)
        "embedding_quantize_int8",
        # slope round(,6) is LEAF-ABSORPTION of DuckDB's double-rounded
        # DECIMAL(38,18)->DOUBLE cast — stripping it FAILS sf0.1 parity
        # (measured at the r11 swap; see the query docstring). The
        # operands are noisy doubles, so a 6-dp tie is measure-zero.
        "zipf_vocab_fit",
        # r12 triage — measured/reasoned KEEPs (final ratios in these
        # queries were stripped where strippable; what remains is):
        # syy's DECIMAL->DOUBLE cast passes 2^53 (unscaled 2.2e19 at
        # sf0.1; DuckDB measured 1 ulp off the correctly-rounded value)
        # — the output rounds are leaf-absorption (see docstring).
        "ols_price_normal_eq",
        # dot/norm decimal sums reach 3.8e21 unscaled >> 2^53 at sf0.1
        # — round(,6) is leaf-absorption + threshold guard (docstring).
        "tfidf_cosine_pairs",
        # remaining round is the pi9 = (p+1)/(c+2) decimal-grid pin
        # (pre-aggregation, feeds binning + exact decimal products) —
        # not a final-ratio mask; avg_conf/frac_pos stripped r12.
        "calibration_bins",
        # round(x*x, 6) is the pre-sum decimal-grid pin into
        # DECIMAL(18,6) (order-independent accumulation); the output
        # ratio is already raw per rule 14.
        "embedding_energy_profile",
        # every round is an MM-iteration lockstep pin (pre-sum
        # DECIMAL(18,9) pins + per-round 6-dp state normalization, the
        # kmeans/pagerank recipe) — algorithm semantics, no final mask.
        "bradley_terry_strengths",
    }
    bad = [o for o in offenders if o[0] not in allowed]
    assert bad == [], bad

"""Registry wiring query callables to their DuckDB oracle SQL.

``queries()``/``oracle_sql()`` in ``__spark_entry__.py`` are thin views over
these dicts.  A query registered with ``oracle=None`` is deliberately
oracle-less (approximate or hash-seeded semantics that no other engine can
reproduce bit-for-bit); the driver then records a weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as query ``name`` with optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` across the session's cores before a CPU-bound
    kernel.

    A single small parquet file scans as ONE partition, so without this
    a per-row Python kernel (``mapInPandas`` tokenizers, shingling,
    MinHash signatures, per-pair Jaro-Winkler, the codec
    synthesize-and-decode kernels) or a codegen explode (sliding-window
    chunks, winnowing k-grams) inherits that width and runs on one core.
    Callers pass the skinny input relation (ids, plus text where the
    kernel needs it), so the exchange is cheap; at large scale the input already
    arrives in many splits and this is a straggler guard.
    ``tests/test_fanout_plans.py`` pins the exchange in front of the
    kernels that depend on it."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


# The per-round driver verifies queries in dict-iteration order and caps at
# the first 50 (the cap is empirical, see COVERAGE.md).  The window ROTATES
# per round so the union of CORRECTNESS_r0{1..N}.json stays fresh across
# the whole catalog.  Round-14 rotation (VERDICT r13 ask #1 — finish the
# staleness burn-down so no oracle-backed query's freshest driver row is
# older than round 8):
#
# 1. round-14 NEW or semantics-changed queries lead:
#    streaming_lsh_frozen_candidates (the r13 ask-#6 oracle-backed twin,
#    never driver-checked) and parquet_native_roundtrip (gains the
#    legacy 2-level bare-repeated LIST leg this round, r13 ask #3);
# 2. ALL 20 oracle-backed queries whose freshest driver row is ROUND 6
#    (the oldest tail — the 5 rows-only r6 entries
#    audio_spectrogram_stats / embedding_pca_projection /
#    hll_incremental_distinct / quality_classifier_scores /
#    semdedup_survivors stay out per the standing no-rows-only-in-window
#    rule and are covered by the local full-catalog replay instead);
# 3. round-8-stale oracle-backed fill in name order up to the 50-cap
#    (includes jpeg420_decode_features / jpeg_progressive_decode_features,
#    whose decoder gains multi-macroblock third-party conformance vectors
#    this round).  The 13 remaining r8-stale names are listed after the
#    cap for the r15 window and covered meanwhile by the local
#    full-catalog replay at sf0.01 and sf0.1 (tools/check_oracle.py).
CHECK_PRIORITY: list[str] = [
    # -- round-14: new or semantics changed this round ----------------------
    "streaming_lsh_frozen_candidates",  # frozen-permutation LSH oracle twin (new)
    "parquet_native_roundtrip",  # + legacy 2-level bare-repeated lists (changed)
    # -- freshest driver row is round 6, oracle-backed (all of them) ---------
    "json_roundtrip_documents",
    "leakage_safe_split",
    "lineitem_correlations",
    "link_customer_records",
    "link_customer_records_snb",
    "lm_perplexity",
    "nation_balance_gini",
    "neardup_pagerank",
    "neardup_triangle_count",
    "orc_roundtrip_lineitem",
    "orders_bucket_checksums",
    "pareto_parts",
    "profile_lineitem",
    "rolling_hour_user_value",
    "scd2_point_in_time_join",
    "scd2_user_segments",
    "signup_purchase_outer",
    "snapshot_diff_orders",
    "validate_orders_constraints",
    "weighted_sample_docs",
    # -- freshest driver row is round 8, oracle-backed (fill to the cap) -----
    "adpcm_audio_features",
    "alpha_mixture_allocation",
    "bloom_pruned_join_revenue",
    "bootstrap_order_value_ci",
    "c4_line_filter",
    "conjunctive_term_search",
    "cross_join_region_status",
    "customers_buying_all_core_parts",
    "dedup_exact_survivors",
    "ewma_daily_revenue",
    "g711_audio_features",
    "golden_customer_records",
    "gopher_quality_filter",
    "having_supplier_volume",
    "hrw_shard_routing",
    "jpeg420_decode_features",
    "jpeg_progressive_decode_features",
    "keyword_tag_docs",
    "line_dedup_survivors",
    "link_customer_records_jw",
    "lm_kneser_ney_perplexity",
    "map_functions_priority",
    "matryoshka_prefix_recall",
    "neardup_kcore",
    "neardup_labelprop",
    "neardup_link_prediction",
    "nfc_normalize_docs",
    "phrase_search_positions",
    # ---- 50-cap boundary: names below spill to the r15 window -------------
    "ppjoin_neardup_pairs",
    "q18_large_orders",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "sequence_pack_docs",
    "set_except_all_priorities",
    "set_except_cheap_orders",
    "set_intersect_all_priorities",
    "source_token_drift",
    "tar_roundtrip_documents",
    "tiff_decode_features",
    "window_value_functions",
    "zorder_orders_layout",
]


def check_ordered(d: dict) -> dict:
    """``d`` reordered so CHECK_PRIORITY entries lead (in that order) and
    everything else follows in registration order."""
    missing = [n for n in CHECK_PRIORITY if n not in QUERIES]
    if missing:
        raise ValueError(f"CHECK_PRIORITY names not registered: {missing}")
    head = {n: d[n] for n in CHECK_PRIORITY if n in d}
    tail = {n: v for n, v in d.items() if n not in head}
    return {**head, **tail}

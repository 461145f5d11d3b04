"""Registry wiring query callables to their DuckDB oracle SQL, plus the
helpers every operator shares: ``load_tables`` (the memoised reader of the
TPC-H/events/documents tables the catalogue queries) and ``fan_out``.

``queries()``/``oracle_sql()`` in ``__spark_entry__.py`` are thin views over
these dicts.  A query registered with ``oracle=None`` is deliberately
oracle-less (approximate or hash-seeded semantics that no other engine can
reproduce bit-for-bit); the driver then records a weaker rows-only check.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from national_caseload_data_ingest_spark.session import configure_runtime

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


# Footers sniffed per directory: enough to catch a mixed-era rewrite
# (old nanos parts + new micros parts) without touching every footer of a
# 100k-file table.
_SNIFF_FOOTERS = 8


def parquet_nanos_columns(path: str) -> list[str]:
    """Columns stored as INT64 TIMESTAMP(NANOS) in the parquet footer.

    These are the only columns ``spark.sql.legacy.parquet.nanosAsLong``
    surfaces as raw int64 (needing an explicit ns→µs conversion).  The
    check reads the PHYSICAL parquet type, not the arrow view: legacy
    INT96 timestamps (Spark's own default writer output) also present as
    ``timestamp[ns]`` through ``pyarrow.read_schema`` but are decoded
    natively by Spark as TimestampType — treating them as nanos-as-long
    breaks the read (physicalType INT96, logicalType bigint mismatch).

    Sniff contract (round-6 advice): a directory with NO part files warns
    (the caller is about to default to the micros read path on an empty
    table — correct, but worth a trace when the table fills in later); up
    to ``_SNIFF_FOOTERS`` footers across the listing are checked, not just
    the first; and footers that DISAGREE on the nanos column set raise —
    a mixed-encoding directory cannot be read with one per-column
    conversion rule and must be rewritten to a single encoding first."""
    import glob  # noqa: PLC0415
    import warnings  # noqa: PLC0415

    import pyarrow.parquet as pq  # noqa: PLC0415

    def nanos_cols(one_file: str) -> tuple[str, ...]:
        sch = pq.ParquetFile(one_file).schema
        return tuple(
            sch.column(i).path
            for i in range(len(sch))
            if sch.column(i).physical_type == "INT64"
            and "nanoseconds" in str(sch.column(i).logical_type).lower()
            # leaf paths only: a nested field would surface as "a.b",
            # which withColumn cannot convert in place — flat schemas
            # only (all engine tables are flat; a nested nanos field
            # should fail loudly at read time rather than be silently
            # half-converted here)
            and "." not in sch.column(i).path
        )

    if not os.path.isdir(path):
        return list(nanos_cols(path))
    parts = sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    ) or sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not parts:
        warnings.warn(
            f"parquet_nanos_columns({path!r}): no part files found — "
            "defaulting to the micros read path (no ns→µs conversion); "
            "re-sniff once the table has data",
            stacklevel=2,
        )
        return []
    # First + last + evenly spread footers: one writer produces one
    # schema, so disagreement means the directory mixes writer eras.
    # First/last are ALWAYS sampled (a rewrite appends at one end of the
    # name-sorted listing); the remaining budget spreads over the middle.
    n = len(parts)
    idx = {0, n - 1}
    for k in range(1, _SNIFF_FOOTERS - 1):
        idx.add(k * (n - 1) // (_SNIFF_FOOTERS - 1))
    sniffed = {parts[i]: nanos_cols(parts[i]) for i in sorted(idx)}
    distinct = set(sniffed.values())
    if len(distinct) > 1:
        detail = ", ".join(f"{os.path.basename(f)}→{list(c)}" for f, c in sniffed.items())
        raise ValueError(
            f"mixed parquet timestamp encodings under {path!r}: part files "
            f"disagree on INT64-nanos columns ({detail}).  One per-column "
            "conversion rule cannot read this directory — rewrite it to a "
            "single encoding (e.g. read each era separately and UNION)."
        )
    return list(distinct.pop())


# Per-session memo of loaded tables.  ``spark.read.parquet`` costs
# ~100-150 ms of driver time per call (a py4j round trip plus JVM-side
# footer/schema resolution) and every registered query starts by loading
# its tables — at 200 catalog entries that fixed cost was the dominant
# term on sub-second queries and drifted the bench ~10%/round as the
# catalog grew.  DataFrames are immutable plans over an immutable file
# listing, so a (session, sf_dir, table) memo is semantics-preserving;
# keyed weakly so a stopped session's entries are collectable.  Temp-view
# registration is NOT skipped when a different sf_dir last claimed the
# name (callers switch scale factors within one session).
_TABLE_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict:
    """Read the driver-generated parquet tables and register temp views.

    Returns ``{name: DataFrame}``.  With no ``names``, loads every table that
    exists under ``sf_dir`` (TESTDATA.md inventory).  Reads are memoised per
    (session, directory, table): the parquet relation is resolved once and
    the same DataFrame (an immutable logical plan) is returned on every
    subsequent call, eliminating the per-query driver-side read cost.

    Contract notes (the price of the memo, each an explicit trade):
    * directories are assumed immutable;
    * temp-view registration is skipped when this function last
      registered the same (name, sf_dir), so a caller that DROPs or
      replaces one of these views does not get it repaired on the next
      call (nothing in the repo does; external callers re-registering
      views should use different names).
    """
    cache = _TABLE_CACHE.get(spark)
    if cache is None:
        # One py4j round trip per runtime SQLConf; they are engine-owned
        # constants, so one application per session suffices.
        configure_runtime(spark)
        cache = _TABLE_CACHE[spark] = {"tables": {}, "views": {}}
    all_names = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    out = {}
    for name in names or all_names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not names and not os.path.exists(path):
            continue
        df = cache["tables"].get((sf_dir, name))
        if df is None:
            df = spark.read.parquet(path)
            # nanosAsLong surfaces TIMESTAMP(NANOS) columns as int64
            # nanoseconds; convert to microsecond timestamps (truncation —
            # identical to what DuckDB/Arrow do when narrowing ns → µs).
            from pyspark.sql import functions as F

            for c in parquet_nanos_columns(path):
                # integer `div` — float division loses precision above 2^53
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                )
            cache["tables"][(sf_dir, name)] = df
        if cache["views"].get(name) != sf_dir:
            df.createOrReplaceTempView(name)
            cache["views"][name] = sf_dir
        out[name] = df
    return out


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

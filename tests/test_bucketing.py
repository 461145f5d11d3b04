"""Bucketed co-located joins: the write-once-shuffle-never contract.

Both fact tables are bucketed on the join key with equal bucket counts;
the resulting sort-merge join must read bucket-aligned splits with NO
Exchange on either side — the 100 TB design where recurring fact-fact
join shuffles are paid once at ingest."""

import pytest

from national_caseload_data_ingest_spark.catalog import local_catalog
from national_caseload_data_ingest_spark.operators import layout
from national_caseload_data_ingest_spark.operators.registry import load_tables
from national_caseload_data_ingest_spark.plans import physical_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    cat = local_catalog(
        spark, str(tmp_path_factory.mktemp("bkt")), db_name="bkt_db"
    )
    t = load_tables(spark, SF, "orders", "lineitem")
    layout.write_bucketed(
        cat, "orders_b", t["orders"], ["o_orderkey"], 4, sort_cols=["o_orderkey"]
    )
    layout.write_bucketed(
        cat, "lineitem_b", t["lineitem"], ["l_orderkey"], 4, sort_cols=["l_orderkey"]
    )
    yield cat
    spark.sql("DROP DATABASE IF EXISTS bkt_db CASCADE")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_tables.table("orders_b").join(
            bucketed_tables.table("lineitem_b"),
            on=[
                bucketed_tables.table("orders_b").o_orderkey
                == bucketed_tables.table("lineitem_b").l_orderkey
            ],
        )
        plan = physical_plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_matches_unbucketed(spark, bucketed_tables):
    t = load_tables(spark, SF, "orders", "lineitem")
    expected = t["orders"].join(
        t["lineitem"], t["orders"].o_orderkey == t["lineitem"].l_orderkey
    )
    got = bucketed_tables.table("orders_b").join(
        bucketed_tables.table("lineitem_b"),
        bucketed_tables.table("orders_b").o_orderkey
        == bucketed_tables.table("lineitem_b").l_orderkey,
    )
    assert got.count() == expected.count() > 0


def test_bucketed_groupby_on_bucket_key_no_exchange(spark, bucketed_tables):
    """Aggregations on the bucket key also reuse the bucketing — no
    shuffle before the final agg."""
    df = (
        bucketed_tables.table("lineitem_b")
        .groupBy("l_orderkey")
        .count()
    )
    assert "Exchange" not in physical_plan(df), physical_plan(df)

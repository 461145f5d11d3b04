"""Core relational query surface: scan, filter, project, join (all
flavors), aggregate, top-k, set ops, subqueries.

This is the coverage contract of SURVEY.md §2.2 — the Presto/Athena operator
set the reference reaches through ``Athena.execute_query``
(``/root/reference/ncd/athena.py:57-79``), re-expressed as Catalyst plans.

Scale notes (100 TB):

- Broadcast hints are reserved for relations whose size is provably
  bounded INDEPENDENT of SF: ``nation``/``region`` (constant 25/5 rows),
  one-row scalar aggregates, and top-k results.  SF-scaling relations
  (``customer``/``supplier``/``part``, filtered fact subsets, per-key
  aggregates) are never hinted — AQE broadcasts them at test SFs from
  measured runtime sizes and falls back to partitioned joins at cluster
  scale, where a forced hint would OOM the build side.
- Aggregations express partial (map-side) combine automatically via
  ``groupBy().agg()`` — no ``reduceByKey``-style hand-rolling.
- Top-k uses ``orderBy().limit(k)`` which Spark executes as
  ``TakeOrderedAndProject`` — a per-partition heap + driver merge, never a
  global sort.
- Filters are plain ``Column`` predicates on scan columns so Catalyst pushes
  them into the parquet reader (verified in ``tests/test_plans.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.functions import davg, dec, dsum
from national_caseload_data_ingest_spark.operators.registry import load_tables, query


def _ts(s: str) -> F.Column:
    return F.to_timestamp(F.lit(s))


# One (1 - discount) / (1 + tax) factor, exact at scale 2: computed in double
# (both operands have <=2 fractional digits so the double is within 1e-15 of
# the true 2dp value) then cast to narrow decimal so products stay inside
# precision 38 and are never rounded.
def _one_minus(col: str) -> F.Column:
    return (F.lit(1.0) - F.col(col)).cast("decimal(8,2)")


def _one_plus(col: str) -> F.Column:
    return (F.lit(1.0) + F.col(col)).cast("decimal(8,2)")


def _revenue() -> F.Column:
    return dec("l_extendedprice") * _one_minus("l_discount")


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1.0 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1.0 - l_discount AS DECIMAL(8,2))
                    * CAST(1.0 + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan filter + 8-way aggregate.

    Plan: parquet scan (pushed filter on l_shipdate) → partial hash agg →
    single shuffle on (returnflag, linestatus) → final agg.  Cardinality of
    the group key is ~6 regardless of SF, so the shuffle moves only partial
    aggregates — this holds at 100 TB.
    """
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= _ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(_revenue()).cast("double").alias("sum_disc_price"),
            F.sum(_revenue() * _one_plus("l_tax")).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1.0 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → top-k by aggregate.

    customer is SF-scaling, so its (filtered) side carries no broadcast
    hint — AQE broadcasts it at test SFs from the measured size and falls
    back to a key-partitioned shuffle at cluster scale.  The orders→lineitem
    join is the one unavoidable fact shuffle.  ``orderBy(...).limit(10)``
    compiles to TakeOrderedAndProject (per-partition heaps, no global
    sort) — the ``l_orderkey`` tie-break makes the k-selection
    deterministic.
    """
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") > _ts("1998-03-15"))
        .join(
            t["orders"].filter(F.col("o_orderdate") < _ts("1998-03-15")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1.0 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with a region filter.

    nation/region are constant-cardinality (25/5 rows at ANY SF) and carry
    explicit broadcast hints; supplier and customer are SF-scaling, so they
    stay unhinted — AQE broadcasts them at test SFs and shuffles at cluster
    scale.  The only guaranteed shuffles are fact-fact
    (orders⋈lineitem, customer⋈orders).
    """
    t = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    nr = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query(
    "q6_revenue_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: multi-predicate scan + global aggregate.

    All four predicates are parquet-pushable; the aggregate is a partial
    (per-partition) sum + single-row final combine — zero data shuffled.
    """
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount", 8, 2))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1.0 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking, top 20."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-10-01"))
                & (F.col("o_orderdate") < _ts("1997-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered IN-subquery over the fact.

    The naive form (oracle SQL) scans lineitem twice — once for the
    IN-group-HAVING subquery, once for the outer join — and re-aggregates
    after the join.  Because ``o_orderkey`` is the grouping key, the outer
    per-(customer, order) SUM equals the subquery's per-order SUM, so the
    engine computes the aggregate ONCE and joins the filtered result to the
    dims: one lineitem scan, one fact shuffle.

    The survivor set is NOT hinted: measured on the synthetic data, orders
    with >150 total quantity are ~19.5% of ALL orders at both sf0.01 and
    sf0.1 — a scale-linear relation, billions of rows at the 100 TB north
    star.  A forced ``F.broadcast`` here would bypass AQE's size check and
    OOM the build side; instead AQE picks broadcast vs shuffle from the
    measured runtime size (broadcast at test SFs, shuffle at cluster
    scale, where the join co-partitions on ``orderkey`` anyway).
    """
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > F.lit(150).cast("decimal(18,2)"))
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            # unhinted: AQE broadcasts customer at test SFs; at cluster
            # scale the (already survivor-filtered) left side is tiny, so
            # either side may build without a fact-sized shuffle
            t["customer"].select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
    )


@query(
    "topk_expensive_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProject: no global sort at any SF."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderpriority",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@query(
    "semi_join_urgent_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def semi_join_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left_semi join (never duplicates, never widens rows)."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@query(
    "anti_join_customers_no_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def anti_join_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left_anti join."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "outer_join_order_counts",
    oracle="""
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
               AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (COUNT over NULL = 0)."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spent"),
        )
    )


@query(
    "full_outer_nation_activity",
    oracle="""
    WITH cust_n AS (
        SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
        FROM customer GROUP BY c_nationkey
    ), supp_n AS (
        SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
        FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(cust_n.nationkey, supp_n.nationkey) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
    FROM cust_n FULL OUTER JOIN supp_n ON cust_n.nationkey = supp_n.nationkey
    """,
)
def full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates with COALESCE'd keys."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    c = t["customer"].groupBy(F.col("c_nationkey").alias("ck")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = t["supplier"].groupBy(F.col("s_nationkey").alias("sk")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        c.join(s, F.col("ck") == F.col("sk"), "full_outer")
        .select(
            F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
    )


@query(
    "set_union_all_party_nations",
    oracle="""
    SELECT nationkey, party, COUNT(*) AS n
    FROM (
        SELECT c_nationkey AS nationkey, 'customer' AS party FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, 'supplier' AS party FROM supplier
    ) u
    GROUP BY nationkey, party
    """,
)
def set_union_all_party_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two differently-shaped scans, then aggregate."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    u = t["customer"].select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("party")
    ).unionAll(
        t["supplier"].select(
            F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("party")
        )
    )
    return u.groupBy("nationkey", "party").agg(F.count(F.lit(1)).alias("n"))


@query(
    "set_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics)."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    return (
        t["customer"]
        .select(F.col("c_nationkey").alias("nationkey"))
        .intersect(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
    )


@query(
    "set_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics): nations with customers but no
    suppliers.  NOTE: empty at every shipped SF (all 25 nations have
    both) — the driver hash-match is vacuous here by data accident;
    ``set_except_cheap_orders`` below is the non-vacuous EXCEPT gate."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    return (
        t["customer"]
        .select(F.col("c_nationkey").alias("nationkey"))
        .subtract(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
    )


@query(
    "set_except_cheap_orders",
    oracle="""
    SELECT l_orderkey AS orderkey FROM lineitem
    EXCEPT
    SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
    """,
)
def set_except_cheap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT with a NON-vacuous answer at every SF (~20% of orders are
    below the price cut; measured 308 / 2,915 / 29,330 rows at
    sf0.001/0.01/0.1) AND real dedup work: the left side arrives with
    ~4× multiplicity (one row per lineitem), so the hash-match proves
    the distinct-set semantics, not just the subtraction.  One shuffle
    per side on the key; at scale EXCEPT compiles to a left-anti join
    over pre-aggregated keys — never a sort of either fact table."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    return (
        t["lineitem"]
        .select(F.col("l_orderkey").alias("orderkey"))
        .subtract(
            t["orders"]
            .filter(F.col("o_totalprice") > 100000)
            .select(F.col("o_orderkey").alias("orderkey"))
        )
    )


@query(
    "set_except_all_priorities",
    oracle="""
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — BAG semantics: each priority survives with
    multiplicity max(0, count_O − count_F), so the result CONTAINS
    DUPLICATE ROWS and the order-insensitive hash gate verifies the
    multiplicities themselves (non-empty at every SF: 40 / 77 / 477
    rows).  Spark plans ``exceptAll`` as a per-row ±1 counter aggregate
    + generate — one shuffle on the value, no join."""
    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"]
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_orderpriority")
        .exceptAll(
            o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
        )
    )


@query(
    "set_intersect_all_priorities",
    oracle="""
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_all_priorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERSECT ALL — bag semantics sibling of
    ``set_except_all_priorities``: each priority survives with
    multiplicity min(count_O, count_F)."""
    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"]
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_orderpriority")
        .intersectAll(
            o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
        )
    )


@query(
    "distinct_part_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Catalyst expands to a two-stage expand+agg plan."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query("approx_distinct_parts")  # approximate — no cross-engine oracle
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (Presto ``approx_distinct`` parity).

    Deliberately oracle-less: HLL sketches are engine-specific; DuckDB's
    ``approx_count_distinct`` would produce different estimates.  The driver
    records a rows-only check.
    """
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "having_supplier_volume",
    oracle="""
    SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 500
    """,
)
def having_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.groupBy("l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("_q"))
        .filter(F.col("_q") > 500)
        .select("l_suppkey", F.col("_q").cast("double").alias("total_qty"))
    )


@query(
    "in_subquery_rich_customers",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """,
)
def in_subquery_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated IN subquery → semi join."""
    load_tables(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        """
    )


@query(
    "scalar_subquery_above_avg",
    oracle="""
    SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM customer
    )
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate; the threshold is an exact-decimal avg
    so both engines compare against the bit-identical double."""
    load_tables(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            FROM customer
        )
        """
    )


@query(
    "exists_correlated_heavy_parts",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_partkey = p_partkey AND l_quantity >= 49
    )
    """,
)
def exists_correlated_heavy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — Catalyst decorrelates to a left-semi join."""
    load_tables(spark, sf_dir, "part", "lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name
        FROM part
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_partkey = p_partkey AND l_quantity >= 49
        )
        """
    )


@query(
    "theta_join_nation_pairs",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a
    JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def theta_join_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + inequality join (same-region unordered nation pairs)."""
    n = load_tables(spark, sf_dir, "nation")["nation"]
    a = n.alias("a")
    b = n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(F.col("a.n_name").alias("nation_a"), F.col("b.n_name").alias("nation_b"))


@query(
    "range_join_value_bins",
    oracle="""
    SELECT b.bin AS bin, COUNT(e.event_id) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (SELECT CAST(range AS BIGINT) AS bin FROM range(0, 10)) b
    JOIN events e ON e.value >= b.bin * 50.0 AND e.value < (b.bin + 1) * 50.0
    GROUP BY b.bin
    """,
)
def range_join_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (BETWEEN-style) join against a tiny generated bin table.

    The 10-row bin side broadcasts → BroadcastNestedLoopJoin; the fact side
    streams through without a shuffle.  This is the scalable shape for
    binning-by-range when the bin table is small.
    """
    t = load_tables(spark, sf_dir, "events")
    bins = spark.range(0, 10).select(F.col("id").alias("bin"))
    e = t["events"]
    return (
        e.join(
            F.broadcast(bins),
            (F.col("value") >= F.col("bin") * 50.0)
            & (F.col("value") < (F.col("bin") + 1) * 50.0),
        )
        .groupBy("bin")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


@query(
    "cross_join_region_status",
    oracle="""
    SELECT r_name, o.o_orderstatus AS o_orderstatus
    FROM region
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) o
    """,
)
def cross_join_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny inputs (dimension scaffolding)."""
    t = load_tables(spark, sf_dir, "region", "orders")
    statuses = t["orders"].select("o_orderstatus").distinct()
    return t["region"].select("r_name").crossJoin(statuses)


@query(
    "customers_buying_all_core_parts",
    oracle="""
    WITH purchases AS (
        SELECT DISTINCT o_custkey, p_brand
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN part     ON p_partkey = l_partkey
    ),
    divisor AS (SELECT COUNT(DISTINCT p_brand) AS n_brands FROM part)
    SELECT o_custkey AS c_custkey,
           CAST(COUNT(*) AS BIGINT) AS core_parts_bought
    FROM purchases
    GROUP BY o_custkey
    HAVING COUNT(*) = (SELECT n_brands FROM divisor)
    """,
)
def customers_buying_all_core_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION (the ÷ of relational algebra — 'for all'
    queries): customers whose purchases cover EVERY part brand.

    Division has no SQL keyword; the standard encodings are the double
    NOT EXISTS or — as here — the count-matching form: map fact rows to
    the divisor attribute, distinct on (customer, brand), then one
    customer-keyed aggregate keeping groups whose distinct-count equals
    the divisor's cardinality (a one-row broadcast scalar).  The divisor
    is the brand domain — constant cardinality (25) at ANY SF, like
    ``nation`` — so the answer is non-empty at every catalog scale
    (measured: 21 customers at sf0.01, 325 at sf0.1) and the driver's
    hash-match exercises the HAVING count-match path, not a vacuous
    empty set.  Scale shape: the distinct and the aggregate share the
    customer key (one shuffle), the one-row divisor count broadcasts,
    and nothing depends on the fact table's width — the same plan covers
    'users who triggered every alert type' or 'docs containing every
    query term' (BM25's conjunctive-AND sibling)."""
    t = load_tables(spark, sf_dir, "orders", "lineitem", "part")
    purchases = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .select("o_custkey", "p_brand")
        .distinct()
    )
    divisor = t["part"].agg(F.countDistinct("p_brand").alias("n_brands"))
    return (
        purchases.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("core_parts_bought"))
        .join(
            F.broadcast(divisor),
            F.col("core_parts_bought") == F.col("n_brands"),
        )
        .drop("n_brands")
    )

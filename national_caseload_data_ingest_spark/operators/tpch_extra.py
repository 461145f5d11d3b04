"""TPC-H query shapes 7-22 (adapted to the synthetic schema, which has no
``partsupp`` table and trims some columns).

These complete the relational coverage contract of SURVEY.md §2.2 — the
arbitrary-Presto-SQL surface the reference reaches through
``Athena.execute_query`` (``/root/reference/ncd/athena.py:57-79``).  Each
query exercises an operator archetype the rest of the catalog doesn't:

- q7: self-aliased dim (nation twice) + disjunctive pair predicate
- q8: conditional market-share ratio over a multi-region star join
- q9: LIKE-filtered part join with computed profit expression
- q13: outer join with ON-clause filter + two-level aggregation
- q14: conditional aggregate ratio (promo share)
- q15: aggregate view joined against its own MAX (scalar subquery)
- q17: correlated per-group average threshold (decorrelated to a join)
- q19: OR-of-ANDs predicate across both join sides
- q22: scalar subquery threshold + anti join + aggregate

Scale notes (100 TB): broadcast hints are reserved for relations whose
size is SF-independent — ``nation``/``region`` (constant 25/5 rows) and
one-row scalar aggregates.  SF-scaling relations (``supplier``, ``part``,
filtered subsets of either, per-part aggregates) carry NO hint: AQE
broadcasts them at test SFs from measured runtime sizes and falls back to
key-partitioned joins at cluster scale, where a pinned hint would OOM the
build side (round-6 audit: supplier is ~10⁹ rows at SF≈100k).  Money aggregates go through the exact-decimal helpers
(:mod:`national_caseload_data_ingest_spark.functions`) so results are
deterministic cross-engine — see that module's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.functions import dec, dsum
from national_caseload_data_ingest_spark.operators.registry import load_tables, query


def _ts(s: str) -> F.Column:
    return F.to_timestamp(F.lit(s))


def _one_minus_discount() -> F.Column:
    return (F.lit(1.0) - F.col("l_discount")).cast("decimal(8,2)")


def _revenue() -> F.Column:
    return dec("l_extendedprice") * _one_minus_discount()


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* CAST(1.0 - l_discount AS DECIMAL(8,2))"
)


@query(
    "q7_nation_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation joined twice under different roles.

    Both nation copies broadcast (constant 25 rows); supplier is unhinted
    (SF-scaling — AQE decides).  The disjunctive pair predicate runs after
    both dim joins so Catalyst can still push the shipdate range to the
    scan.  Guaranteed shuffles: lineitem⋈orders and orders⋈customer only.
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                         THEN {_REV_SQL} ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({_REV_SQL}) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region   ON n2.n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY year(o_orderdate)
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share of one supplier nation per year.

    Numerator and denominator are both exact-decimal sums computed in ONE
    aggregation pass (a conditional sum, not a self-join); the ratio is a
    single double division.  nation/region broadcast (constant-size);
    part/supplier are unhinted — AQE picks the strategy from real sizes.
    """
    t = load_tables(
        spark, sf_dir,
        "lineitem", "part", "supplier", "nation", "orders", "customer", "region",
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    asia = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    vol = _revenue()
    share_num = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        t["lineitem"]
        .join(
            t["part"].filter(F.col("p_type") == "ECONOMY"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") < _ts("1998-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia), F.col("c_nationkey") == F.col("c_nk"), "inner")
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                F.sum(share_num).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_type_profit",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1.0 - l_discount AS DECIMAL(8,2))
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(0.1 AS DECIMAL(8,2))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year for parts whose
    name matches a LIKE pattern.

    Without ``partsupp``, supply cost is modeled as 10% of retail price per
    unit — the expression shape (product minus product, aggregated exactly)
    is what Q9 exercises.  nation broadcasts (constant-size); the
    LIKE-filtered part and supplier are unhinted (SF-scaling).
    """
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation", "orders")
    amount = _revenue() - dec("p_retailprice") * dec("l_quantity") * F.lit(
        0.1
    ).cast("decimal(8,2)")
    return (
        t["lineitem"]
        .join(
            t["part"].filter(F.col("p_name").like("%gear%")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with an ON-clause residual filter, then
    a distribution-of-counts double aggregation.

    The filter must live in the join condition (not a WHERE) so customers
    whose only orders are urgent still appear with count 0 — the left-join
    semantics Q13 exists to test.  Second aggregation is over ≤|customer|
    rows — trivially small at any SF.
    """
    t = load_tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT (100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                          THEN {_REV_SQL}
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE))
             / CAST(SUM({_REV_SQL}) AS DOUBLE) AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: global conditional-aggregate ratio (promo share of
    one month's revenue).  One part join (unhinted — AQE broadcasts at
    test SFs, partitions at scale) + one partial-agg reduction to a single
    row; the month filter is pushed to the lineitem scan."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    vol = _revenue()
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-09-01"))
            & (F.col("l_shipdate") < _ts("1997-10-01"))
        )
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(vol).cast("double")
            ).alias("promo_revenue")
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view joined against its own MAX.

    The revenue view is computed once and reused for both the scalar MAX
    and the equality filter (same exact-decimal→double value on both
    sides, so the double equality is deterministic).  The one-row MAX
    broadcasts (hinted — provably one row); supplier is unhinted.
    """
    t = load_tables(spark, sf_dir, "lineitem", "supplier")
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1997-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue()).cast("double").alias("total_revenue"))
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(
            t["supplier"],
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average threshold, decorrelated
    into a grouped aggregate joined back to the fact rows.

    The per-part averages are computed only over lineitems of the filtered
    brand's parts (the join restricts parts, not lineitems, so the average
    matches the correlated-subquery semantics exactly).  Quantities are
    small integers, so the double AVG is order-independent and the `<`
    threshold compare is deterministic cross-engine.  The averages
    relation is |parts-of-brand| rows — SF-scaling, so unhinted: AQE
    broadcasts it at test SFs; at cluster scale the join co-partitions on
    partkey with the aggregate that produced it (no extra shuffle).
    """
    t = load_tables(spark, sf_dir, "lineitem", "part")
    brand_parts = (
        t["part"].filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    )
    li = t["lineitem"].join(
        brand_parts, F.col("l_partkey") == F.col("p_partkey")
    )
    limits = li.groupBy(F.col("p_partkey").alias("lim_pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        li.join(limits, F.col("p_partkey") == F.col("lim_pk"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate straddling both join sides.

    Catalyst extracts the common-to-all-branches conjuncts per side (brand
    IN (..), size ≤ 35 → part scan; quantity ∈ [1,30] → lineitem scan) so
    both scans still prune, and evaluates the residual disjunction after
    the broadcast join.
    """
    t = load_tables(spark, sf_dir, "lineitem", "part")
    q = F.col("l_quantity")

    def branch(brand: str, max_size: int, qlo: int, qhi: int) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & (q >= qlo)
            & (q <= qhi)
        )

    pred = (
        branch("Brand#1", 15, 1, 11)
        | branch("Brand#2", 25, 10, 20)
        | branch("Brand#3", 35, 20, 30)
    )
    return (
        t["lineitem"]
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .filter(pred)
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@query(
    "q22_idle_customers",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*)
            FROM customer WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT'
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS anti join.

    (Adapted: every synthetic customer has *some* order, so the EXISTS side
    is restricted to recent urgent orders to keep the anti join
    non-vacuous.)  The positive-balance average is an exact-decimal sum
    over a double count (deterministic), broadcast as a one-row literal
    relation.  The NOT EXISTS decorrelates to a left-anti join on custkey —
    at scale this is the one shuffle (orders filtered and projected to its
    join key first).
    """
    t = load_tables(spark, sf_dir, "customer", "orders")
    cust = t["customer"]
    thr = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
            "avg_bal"
        )
    )
    return (
        cust.join(F.broadcast(thr), F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            t["orders"]
            .filter(
                (F.col("o_orderpriority") == "1-URGENT")
                & (F.col("o_orderdate") >= _ts("1999-01-01"))
            )
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# The remaining TPC-H archetypes (q2, q4, q11, q12, q16, q20, q21), adapted:
# the synthetic schema has no ``partsupp``, so the *supply relation* is
# derived as the distinct (l_partkey, l_suppkey) pairs observed in lineitem
# (with MIN(l_extendedprice) standing in for ps_supplycost — MIN is
# order-independent, so the double equality joins below are deterministic
# cross-engine), and no commit/receipt dates, so *lateness* is
# datediff(l_shipdate, o_orderdate) over a threshold.
# ---------------------------------------------------------------------------


def _supply(t: dict[str, DataFrame]) -> DataFrame:
    """Derived supply relation: one row per observed (part, supplier) pair
    with its minimum observed sale price as the supply cost."""
    return (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("supplycost"))
    )


_SUPPLY_SQL = (
    "SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost "
    "FROM lineitem GROUP BY l_partkey, l_suppkey"
)


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH supply AS ({_SUPPLY_SQL}),
    fparts AS (
        SELECT p_partkey FROM part
        WHERE p_type = 'STANDARD' AND p_size <= 25
    )
    SELECT s_acctbal, s_name, n_name AS nation,
           l_partkey AS partkey, supplycost
    FROM supply
    JOIN fparts   ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE supplycost = (
        SELECT MIN(s2.supplycost) FROM supply s2
        WHERE s2.l_partkey = supply.l_partkey
    )
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part correlated MIN over the supply relation,
    decorrelated into a grouped MIN joined back on (part, cost) equality.

    MIN over the raw price set is order-independent, so the double
    equality is exact in both engines.  The per-part minima relation is
    |filtered parts| rows — SF-scaling, so unhinted (AQE broadcasts at
    test SFs; at scale it co-partitions on partkey with the supply
    aggregate).  Guaranteed shuffle: the one supply groupBy.
    """
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    fparts = (
        t["part"]
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 25))
        .select("p_partkey")
    )
    supply = _supply(t).join(
        fparts, F.col("l_partkey") == F.col("p_partkey")
    )
    min_cost = supply.groupBy(F.col("l_partkey").alias("mc_pk")).agg(
        F.min("supplycost").alias("min_cost")
    )
    return (
        supply.join(
            min_cost,
            (F.col("l_partkey") == F.col("mc_pk"))
            & (F.col("supplycost") == F.col("min_cost")),
        )
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("l_partkey").alias("partkey"),
            "supplycost",
        )
    )


@query(
    "q4_order_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND datediff('day', o_orderdate, l_shipdate) > 180
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with an inequality correlation (late-shipped
    line), decorrelated to a left-semi join whose condition carries both
    the key equality and the cross-table date predicate."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    quarter = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-04-01"))
    )
    late_line = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 180
    )
    return (
        quarter.join(t["lineitem"], late_line, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH nat_li AS (
        SELECT l_partkey,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2)) AS v
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_13', 'NATION_15')
    ),
    per_part AS (SELECT l_partkey AS partkey, SUM(v) AS value FROM nat_li
                 GROUP BY l_partkey)
    SELECT partkey, CAST(value AS DOUBLE) AS part_value
    FROM per_part
    WHERE value > (SELECT SUM(value) FROM per_part)
                    * CAST(0.002 AS DECIMAL(8,3))
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group exact-decimal value, kept only where it
    exceeds a scalar-subquery fraction of the grand total.

    Both sides of the ``>`` are exact decimals (sum and fraction-multiply),
    so the threshold compare is engine-independent.  The one-row total
    broadcasts; the only shuffle is the per-part aggregation.  The 0.002
    fraction is chosen so the query returns rows (17) at the sf0.01
    correctness scale — a 0-row hash match would prove nothing.
    """
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    nat_supp = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].filter(
                    F.col("n_name").isin("NATION_13", "NATION_15")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        t["lineitem"]
        .join(nat_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(dec("l_extendedprice") * dec("l_quantity")).alias("value"))
    )
    total = per_part.agg(F.sum("value").alias("grand_total"))
    return (
        per_part.join(
            F.broadcast(total),
            F.col("value")
            > F.col("grand_total") * F.lit(0.002).cast("decimal(8,3)"),
        )
        .select("partkey", F.col("value").cast("double").alias("part_value"))
    )


@query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 365
                THEN 'LATE' ELSE 'ONTIME' END AS late_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: two-way conditional counting grouped by a derived
    category (lateness bucket standing in for ship mode)."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 365,
                F.lit("LATE"),
            )
            .otherwise(F.lit("ONTIME"))
            .alias("late_bucket")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supply
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 1600.0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part attribute triple,
    with a NOT IN exclusion set decorrelated to a left-anti join."""
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    excluded = (
        t["supplier"].filter(F.col("s_acctbal") < 1600.0).select("s_suppkey")
    )
    fparts = t["part"].filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    supply = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    return (
        supply.join(
            excluded,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(fparts, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_excess_shippers",
    oracle="""
    WITH gear AS (SELECT p_partkey FROM part WHERE p_name LIKE '%gear%'),
    sp97 AS (
        SELECT l_suppkey, l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem JOIN gear ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
    ),
    ptot AS (SELECT l_partkey AS tp, SUM(qty) AS part_qty FROM sp97
             GROUP BY l_partkey)
    SELECT s_name, s_acctbal, n_name AS nation
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM sp97 JOIN ptot ON l_partkey = tp
        WHERE qty > part_qty * CAST(0.15 AS DECIMAL(8,2))
    )
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers having any
    (part, year) share above a per-part threshold.

    Share compare is exact-decimal on both sides.  The per-part totals
    and the excess-supplier set are SF-scaling — both unhinted (AQE
    broadcasts at test SFs; at scale the totals join co-partitions on
    partkey and the semi join shuffles on suppkey).  Guaranteed shuffle:
    the one (supplier, part) aggregation.
    """
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    gear = t["part"].filter(F.col("p_name").like("%gear%")).select("p_partkey")
    sp97 = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(gear, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
    )
    ptot = sp97.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("qty").alias("part_qty")
    )
    excess = (
        sp97.join(ptot, F.col("l_partkey") == F.col("tp"))
        .filter(F.col("qty") > F.col("part_qty") * F.lit(0.15).cast("decimal(8,2)"))
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
    FROM lineitem l1
    JOIN orders   ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE datediff('day', o_orderdate, l1.l_shipdate) > 365
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND datediff('day', o_orderdate, l3.l_shipdate) > 365
      )
    GROUP BY s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the only-late-supplier-on-a-multi-supplier-order
    double correlation (EXISTS + NOT EXISTS against the same fact table).

    Instead of two more self-joins, both correlated conditions collapse
    into per-order window aggregates over ONE shuffle by orderkey:
    ``n_supp > 1`` ≡ the EXISTS (another supplier on the order) and
    ``n_late == 1`` with the current line late ≡ the NOT EXISTS (no
    *other* supplier was late).  At 100 TB this is one fact shuffle
    instead of three.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "lineitem", "orders", "supplier")
    li = t["lineitem"].join(
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 365
    w = Window.partitionBy("l_orderkey")
    flagged = li.withColumn(
        "n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late",
        F.size(
            F.collect_set(F.when(late, F.col("l_suppkey"))).over(w)
        ),
    )
    return (
        flagged.filter(late & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )

"""Analytic query surface: window functions, grouping analytics
(CUBE/ROLLUP/GROUPING SETS), pivot, scalar function families (string, date,
conditional, JSON), and event-time windowing.

Covers the SURVEY.md §2.2 rows: window functions, grouping sets, string fns,
date fns, conditional, array/map/json — the Presto surface the reference's
users reach via Athena.

Scale notes: every window over DATA partitions by a high-cardinality key
(customer/user), so the single shuffle distributes evenly.  The actual
rule on global-order windows (``Window.orderBy`` without ``partitionBy``,
which collapses to one task): they are allowed ONLY over bounded
metadata-sized relations — per-partition stats (one row per partition,
``prefix_max_by_order`` / the SNB offset relations), sketch buckets
(``histogram_quantiles``) — never over a fact-sized relation.  The
WindowExec single-partition warnings those emit are expected and benign:
the input is O(#partitions) or O(#buckets) rows by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from national_caseload_data_ingest_spark.functions import dec
from national_caseload_data_ingest_spark.operators.registry import load_tables, query


@query(
    "window_rank_orders",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
               CAST(RANK() OVER w AS INTEGER) AS rnk,
               CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) t WHERE rn <= 3
    """,
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank per customer; top-3 orders by price.

    The (o_totalprice DESC, o_orderkey) ordering is total, so row_number is
    deterministic across engines and partitionings.
    """
    o = load_tables(spark, sf_dir, "orders")["orders"]
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend,
           CAST(LAG(o_totalprice) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price,
           CAST(LEAD(o_totalprice) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS next_price
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag/lead with an explicit ROWS frame.

    The frame is spelled out (ROWS, not the default RANGE) so semantics are
    identical across engines even under order-by ties.
    """
    o = load_tables(spark, sf_dir, "orders")["orders"]
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice")).over(wf).cast("double").alias("running_spend"),
        F.lag("o_totalprice").over(w).cast("double").alias("prev_price"),
        F.lead("o_totalprice").over(w).cast("double").alias("next_price"),
    )


@query(
    "window_ntile_share",
    oracle="""
    SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           CAST(NTILE(4) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile,
           CAST(CAST(c_acctbal AS DECIMAL(18,2))
                / SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                  OVER (PARTITION BY c_nationkey) AS DOUBLE) AS nation_share
    FROM customer
    """,
)
def window_ntile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing + ratio-to-partition-total (unordered window sum)."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    wo = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wp = W.partitionBy("c_nationkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        F.ntile(4).over(wo).alias("quartile"),
        (dec("c_acctbal") / F.sum(dec("c_acctbal")).over(wp))
        .cast("double")
        .alias("nation_share"),
    )


@query(
    "cube_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
               AS grouping_id
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id (bit order: leftmost column = MSB, per ANSI)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("grouping_id"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "n", "grouping_id"
        )
    )


@query(
    "rollup_region_nation",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP along the region → nation hierarchy (dims broadcast)."""
    t = load_tables(spark, sf_dir, "customer", "nation", "region")
    joined = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(dec("c_acctbal")).cast("double").alias("total_bal"),
    )


@query(
    "grouping_sets_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither cube nor rollup shape)."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "pivot_line_status",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_line_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (no extra discovery pass over the
    fact table — always pass the list at scale)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(dec("l_quantity")).cast("double"))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
    )


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LOWER(p_brand) AS brand_lower,
           SUBSTRING(p_name, 1, 4) AS name_prefix,
           TRIM(CONCAT(p_name, ' ')) AS name_trimmed,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           CAST(p_name LIKE '%gear%' AS BOOLEAN) AS is_gear,
           REGEXP_EXTRACT(p_name, '([a-z]+)$', 1) AS last_word,
           REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CAST(REGEXP_MATCHES(p_brand, 'Brand#[0-9]+') AS BOOLEAN) AS brand_ok,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, 'ECONOMY', 'ECO') AS type_short,
           LPAD(CAST(p_size AS VARCHAR), 3, '0') AS size_padded
    FROM part
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Presto string-function family (§2.2): substr/trim/case/concat/
    like/regexp_* — all JVM-codegen'd, no UDFs."""
    p = load_tables(spark, sf_dir, "part")["part"]
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.trim(F.concat(F.col("p_name"), F.lit(" "))).alias("name_trimmed"),
        F.length("p_name").alias("name_len"),
        F.col("p_name").like("%gear%").alias("is_gear"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_brand").rlike("Brand#[0-9]+").alias("brand_ok"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")).alias("type_short"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
    )


@query(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
           CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
           CAST(DAY(o_orderdate) AS INTEGER) AS order_day,
           CAST(QUARTER(o_orderdate) AS INTEGER) AS order_quarter,
           STRFTIME(o_orderdate, '%Y-%m') AS order_ym,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(DATEDIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER)
               AS days_since_epoch_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date
    FROM orders
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Presto date-function family: extract/format/trunc/diff/add."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_ym"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.to_timestamp(F.lit("1995-01-01")))
        .alias("days_since_epoch_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
    )


@query(
    "conditional_case",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_decoded,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN TRUE
                ELSE FALSE END AS is_priority,
           IF(o_orderstatus = 'F', 1, 0) AS fulfilled_flag
    FROM orders
    """,
)
def conditional_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif / if — conditional family."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING"))
        .alias("status_decoded"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_priority"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("fulfilled_flag"),
    )


@query(
    "json_extract_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           event_type
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column (Presto json_extract parity)."""
    e = load_tables(spark, sf_dir, "events")["events"]
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("event_id", k.alias("k_value"), "event_type")
        .filter(F.col("k_value") > 50)
    )


@query(
    "tumbling_window_events",
    oracle="""
    SELECT make_timestamp(CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 * 1000000)
               AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling event-time windows via ``F.window``.

    Same operator Structured Streaming uses for windowed aggs (the batch and
    streaming plans share this grouping); the oracle floors epoch seconds to
    the same 300 s boundaries (``F.window`` aligns to the epoch origin).
    """
    e = load_tables(spark, sf_dir, "events")["events"]
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "sliding_window_events",
    oracle="""
    WITH offsets AS (SELECT range * 300 AS off FROM range(0, 2))
    SELECT make_timestamp(
               (CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - off) * 1000000)
               AS window_start,
           COUNT(*) AS n_events
    FROM events CROSS JOIN offsets
    GROUP BY 1
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in 2
    windows).  The oracle reproduces Spark's window assignment arithmetic."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@query(
    "math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(l_extendedprice, 1) AS DOUBLE) AS price_round1,
           CAST(ROUND(l_extendedprice) AS DOUBLE) AS price_round0,
           CAST(ABS(l_discount - 0.05) AS DOUBLE) AS disc_dev,
           CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_decile,
           CAST(CEIL(l_extendedprice / 1000) AS BIGINT) AS price_kilo,
           CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DOUBLE)
             AS charged,
           CAST(MOD(CAST(l_quantity AS BIGINT), 7) AS BIGINT) AS qty_mod7,
           CAST(POWER(1 + l_discount, 2) AS DOUBLE) AS disc_sq,
           CAST(SQRT(l_quantity) AS DOUBLE) AS qty_sqrt,
           CAST(LN(l_extendedprice) AS DOUBLE) AS price_ln,
           CAST(GREATEST(l_quantity, 25.0) AS DOUBLE) AS qty_floor25,
           CAST(LEAST(l_discount, l_tax) AS DOUBLE) AS min_rate,
           CAST(SIGN(l_discount - l_tax) AS DOUBLE) AS rate_sign
    FROM lineitem
    WHERE l_orderkey < 200
    """,
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Presto math-function family (§2.2): arithmetic, round/abs/
    floor/ceil/mod/power/sqrt/ln/greatest/least/sign — all JVM-codegen'd
    column expressions (IEEE-754 double ops are bit-deterministic
    cross-engine, so the oracle hash-matches without decimal detours)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.filter(F.col("l_orderkey") < 200).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_round1"),
        F.round("l_extendedprice").cast("double").alias("price_round0"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor(F.col("l_quantity") / 10).alias("qty_decile"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_kilo"),
        (
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("charged"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"),
        F.pow(1 + F.col("l_discount"), 2).alias("disc_sq"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.log(F.col("l_extendedprice")).alias("price_ln"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_floor25"),
        F.least(F.col("l_discount"), F.col("l_tax")).alias("min_rate"),
        F.signum(F.col("l_discount") - F.col("l_tax")).alias("rate_sign"),
    )


@query(
    "unpivot_flag_metrics",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price,
               CAST(COUNT(*) AS DOUBLE) AS n_items
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'n_items' AS metric, n_items AS value FROM wide
    """,
)
def unpivot_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long reshape; ``pivot_line_status``'s inverse) — the
    melt that feeds metric-per-row sinks (dashboards, time-series stores).

    Spark's native ``unpivot`` is a zero-shuffle narrow expansion: each
    wide row emits one row per value column inside the same stage — at any
    scale the only exchange is the upstream aggregate's.  Decimal sums
    (cast back to double) keep the values order-independent and therefore
    hash-stable cross-engine."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    wide = li.groupBy("l_returnflag").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_items"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "n_items"],
        variableColumnName="metric",
        valueColumnName="value",
    )


BASKET_TOP_K = 25


@query(
    "frequent_part_pairs",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT {BASKET_TOP_K}
    """,
)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: the {BASKET_TOP_K} part pairs
    bought together in the most orders — A-Priori's pair-counting stage
    expressed relationally (distinct basket items, basket-keyed self
    join, one pair-keyed count, TakeOrderedAndProject cap).

    Scale shape: the self join is keyed by the BASKET id, so the
    quadratic term is per-basket (items-per-order² — single digits
    squared for order data), never corpus²; the pair count is one
    shuffle on the (a, b) key; the top-k never sorts globally.
    Full A-Priori iterates this with a support-filtered candidate set —
    the k=2 pass shown here is the one that dominates its cost."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # r14: (1) the distinct's implicit exchange is tiny here, so AQE
    # coalesced it to ONE partition and the whole per-basket pair
    # explosion + count serialized onto single tasks (measured 8.4 s
    # steal-free at sf0.1; ~3 s after) — an explicit basket-keyed
    # repartition at the session's parallelism is exempt from AQE
    # coalescing, satisfies the distinct AND both join sides (hash on a
    # key subset), and is scale-adaptive, not a local constant.
    # (2) the self-join otherwise computes the distinct once per branch
    # (the planner broadcasts one side, which breaks exchange reuse) —
    # the lazy localCheckpoint materializes items ONCE and both join
    # sides read it.  Counts are integer aggregates, so the relation is
    # partitioning-insensitive.
    items = (
        li.select("l_orderkey", "l_partkey")
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(BASKET_TOP_K)
    )


def prefix_max_by_order(df: DataFrame, order_col: str, val_col: str) -> DataFrame:
    """EXCLUSIVE running max of ``val_col`` in ``order_col`` order,
    with no single-partition window: the two-pass range-partition
    pattern (repartitionByRange → local running max per partition →
    broadcast per-partition prefix offsets — same machinery as
    ``link_records_snb``'s global rank and the scaled token sharding).
    Input must have unique ``order_col`` values (it is the range/sort
    key); output adds ``prefix_max`` (NULL for the first row — nothing
    precedes it).

    persist() pins one boundary-sampling of the range exchange for the
    stats branch and the ranked branch (see link_records_snb)."""
    from pyspark.sql import Window  # noqa: PLC0415

    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    ranged = (
        df.repartitionByRange(n_part, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    pstats = ranged.groupBy("__pid").agg(F.max(val_col).alias("__pmax"))
    offs = pstats.select(
        "__pid",
        F.max("__pmax")
        .over(
            Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("__carry"),
    )
    local = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.withColumn("__local_max", F.max(val_col).over(local))
        .join(F.broadcast(offs), "__pid")
        .withColumn(
            "prefix_max", F.greatest(F.col("__local_max"), F.col("__carry"))
        )
        .drop("__pid", "__local_max", "__carry")
    )


@query(
    "pareto_parts",
    oracle="""
    WITH pp AS (
        SELECT p_retailprice, MAX(p_size) AS pmax
        FROM part GROUP BY p_retailprice
    ),
    pref AS (
        SELECT p_retailprice, pmax,
               MAX(pmax) OVER (ORDER BY p_retailprice
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prefix_max
        FROM pp
    )
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p JOIN pref USING (p_retailprice)
    WHERE NOT (COALESCE(pref.prefix_max >= p.p_size, false)
               OR pref.pmax > p.p_size)
    """,
)
def pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts no other part beats on BOTH
    price (lower-is-better) and size (higher-is-better) — the
    multi-criteria shortlist query (Börzsönyi et al., ICDE'01).

    The naive dominance test is an O(n²) NOT EXISTS self-join; the 2-D
    case collapses to prefix algebra: p is dominated iff the max size
    among STRICTLY cheaper parts reaches p's size, or an equal-price
    part is strictly bigger.  Plan: one price-keyed aggregate (distinct
    prices ≪ parts), the distributed exclusive prefix-max over price
    order (:func:`prefix_max_by_order` — range-partition two-pass, no
    single-partition window), and one broadcast-able join back.  Every
    pass is linear; ties on both dimensions stay in the frontier
    (neither dominates the other)."""
    p = load_tables(spark, sf_dir, "part")["part"]
    pp = p.groupBy("p_retailprice").agg(F.max("p_size").alias("pmax"))
    pref = prefix_max_by_order(pp, "p_retailprice", "pmax")
    return (
        p.select("p_partkey", "p_retailprice", "p_size")
        .join(pref, "p_retailprice")
        .filter(
            ~(
                F.coalesce(
                    F.col("prefix_max") >= F.col("p_size"), F.lit(False)
                )
                | (F.col("pmax") > F.col("p_size"))
            )
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


@query(
    "nation_balance_gini",
    oracle="""
    WITH ranked AS (
        SELECT c_nationkey,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal, c_custkey) AS rk
        FROM customer
    ),
    agg AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               SUM(CAST(rk AS DECIMAL(18,2)) * bal) AS rb,
               SUM(bal) AS sb
        FROM ranked GROUP BY c_nationkey
    )
    SELECT c_nationkey, n_customers,
           CAST(sb AS DOUBLE) AS total_balance,
           CAST(2.0 * CAST(rb AS DOUBLE)
                / (n_customers * CAST(sb AS DOUBLE))
                - (n_customers + 1.0) / n_customers AS DOUBLE) AS gini
    FROM agg
    """,
)
def nation_balance_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer account balances — the
    concentration/inequality metric (0 = perfectly even, →1 = one
    account holds everything), by the rank formula
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted values.

    The same operator answers the curation question 'is this corpus
    dominated by a few sources?' (swap customer→documents, balance→
    token count, nation→lang).  Plan shape: the rank window and the
    aggregate share the group key — one shuffle, group size bounded by
    per-nation membership; rank·value products and both sums run in
    DECIMAL so the result is bit-reproducible (float accumulation order
    never enters), with one double division at the end.  TPC-H balances
    can be negative, where Gini is formally undefined — the formula
    stays deterministic, which is all the parity gate needs."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    rk = F.row_number().over(
        W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    )
    ranked = c.select(
        "c_nationkey",
        dec("c_acctbal").alias("bal"),
        rk.cast("decimal(18,2)").alias("rk"),
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("rk") * F.col("bal")).alias("rb"),
        F.sum("bal").alias("sb"),
    )
    return agg.select(
        "c_nationkey",
        "n_customers",
        F.col("sb").cast("double").alias("total_balance"),
        (
            F.lit(2.0) * F.col("rb").cast("double")
            / (F.col("n_customers") * F.col("sb").cast("double"))
            - (F.col("n_customers") + F.lit(1.0)) / F.col("n_customers")
        ).cast("double").alias("gini"),
    )


@query(
    "window_value_functions",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(FIRST_VALUE(o_orderkey) OVER w AS BIGINT) AS biggest_order,
           CAST(NTH_VALUE(o_orderkey, 2) OVER w AS BIGINT) AS second_order,
           CAST(LAST_VALUE(o_orderkey)
                OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS BIGINT)
               AS smallest_order,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window VALUE-function family the rank/aggregate queries don't
    touch: first_value / nth_value / last_value (the latter with an
    explicit UNBOUNDED FOLLOWING frame — the default frame stops at
    CURRENT ROW and would return each row's own key, the classic
    last_value trap) plus the distribution functions percent_rank and
    cume_dist.  Deterministic under the (price DESC, orderkey) total
    order; one customer-partitioned shuffle serves all five."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.first("o_orderkey").over(w).alias("biggest_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
        F.last("o_orderkey").over(wfull).alias("smallest_order"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "map_functions_priority",
    oracle="""
    WITH pc AS (
        SELECT o_custkey, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY o_custkey, o_orderpriority
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS INTEGER) AS n_priorities,
           CAST(COALESCE(MAX(CASE WHEN o_orderpriority = '1-URGENT'
                                  THEN n END), 0) AS BIGINT) AS n_urgent,
           string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
               AS priorities_sorted,
           CAST(SUM(n) AS BIGINT) AS n_orders
    FROM pc
    GROUP BY o_custkey
    """,
)
def map_functions_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAP function family (the array/json rows of §2.2 cover the
    other two collection kinds): per customer, build a
    priority→count MAP with ``map_from_entries``, then consume it with
    ``map_keys`` (sorted + joined for a deterministic projection),
    ``element_at`` (missing-key → NULL, coalesced to 0), ``size``, and
    ``map_values`` aggregated back to the order count.  The oracle
    states the same relation without maps — the gate checks the map
    round-trip loses nothing.  Plan: one partial-agg shuffle to the
    (customer, priority) counts, then a map-side-combined groupBy to
    one map row per customer; maps never shuffle as map-typed columns."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    pc = o.groupBy("o_custkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = pc.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("o_orderpriority", "n"))
            )
        ).alias("pmap")
    )
    return m.select(
        "o_custkey",
        F.size("pmap").alias("n_priorities"),
        F.coalesce(F.element_at("pmap", F.lit("1-URGENT")), F.lit(0)).alias(
            "n_urgent"
        ),
        F.array_join(F.array_sort(F.map_keys("pmap")), ",").alias(
            "priorities_sorted"
        ),
        F.aggregate(
            F.map_values("pmap"), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("n_orders"),
    )

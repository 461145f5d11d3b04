"""Temporal + ordered-data operators: as-of join, exact percentiles/median,
array explode/aggregate pipelines.

The as-of join is the one §2.2 operator Spark lacks as a primitive
(SURVEY.md §2.2 "joins — as-of"); it composes from a union + windowed
``last(ignorenulls)`` — a single shuffle on (user, time), no range join, no
UDF.  The oracle uses DuckDB's native ``ASOF JOIN``, so two independent
formulations must agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from national_caseload_data_ingest_spark.operators.registry import load_tables, query


@query(
    "asof_join_last_purchase",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts AS error_ts, p.ts AS last_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every error event, the most recent purchase at or
    before it, per user (inner as-of — errors with no prior purchase drop).

    Implementation: union both event kinds, carry purchase timestamps in a
    nullable column, and take ``last(..., ignorenulls)`` over a (user, time)
    window.  One shuffle, linear scan per user — at 100 TB this beats any
    range-join formulation because state is a single running value.

    Tie rule: a purchase at exactly the error's timestamp counts (DuckDB
    ASOF ``>=`` semantics) — purchases sort before errors at equal ``ts``
    via the kind key.
    """
    e = load_tables(spark, sf_dir, "events")["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("ts").alias("purchase_ts"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp").alias("purchase_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    joined = (
        purchases.unionAll(errors)
        .withColumn(
            "last_purchase_ts", F.last("purchase_ts", ignorenulls=True).over(w)
        )
        .filter((F.col("kind") == 1) & F.col("last_purchase_ts").isNotNull())
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").alias("error_ts"),
        "last_purchase_ts",
    )


@query(
    "median_quantity_by_flag",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.25) AS p25_qty,
           quantile_cont(l_quantity, 0.75) AS p75_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def median_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (median/quartiles).

    ``l_quantity`` is integer-valued, so the linear interpolation
    ``lo + frac·(hi-lo)`` is exact in both engines — deterministic without
    the decimal trick.  Exact percentile requires a per-group sort; for the
    100 TB path use ``approx_quantity_percentiles`` (t-digest-style sketch,
    no sort)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.25)).alias("p25_qty"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query("approx_quantity_percentiles")  # sketch-based — no cross-engine oracle
def approx_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via Spark's positional sketch
    (``approx_percentile``) — the scale path: single pass, bounded memory,
    no per-group sort.  Engine-specific sketch ⇒ rows-only check."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_quantity", [0.25, 0.5, 0.75], 10000).alias(
                "quartiles_arr"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        # JSON text, not a raw array: the harness canonicalizer sorts every
        # output column and chokes on ndarray cells (see array_agg_order_keys).
        .select(
            "l_returnflag",
            F.to_json("quartiles_arr").alias("approx_quartiles"),
            "n",
        )
    )


@query(
    "explode_part_words",
    oracle="""
    SELECT word, COUNT(*) AS n_parts,
           CAST(MIN(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price
    FROM (
        SELECT unnest(string_split(p_name, ' ')) AS word, p_retailprice
        FROM part
    ) t
    GROUP BY word
    """,
)
def explode_part_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array pipeline: split → explode → re-aggregate (the lateral-view
    shape; Presto ``UNNEST`` parity)."""
    p = load_tables(spark, sf_dir, "part")["part"]
    return (
        p.select(
            F.explode(F.split(F.col("p_name"), " ")).alias("word"),
            "p_retailprice",
        )
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("min_price"),
        )
    )


@query(
    "array_agg_order_keys",
    oracle="""
    SELECT o_custkey,
           '[' || array_to_string(list_sort(list(o_orderkey)), ',') || ']'
               AS orderkeys,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) <= 5
    """,
)
def array_agg_order_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list + sort_array (ARRAY_AGG parity) — arrays as first-class
    aggregate outputs, sorted so the value is order-stable.

    The FINAL projection serializes the array to its JSON text
    (``to_json`` ⇒ ``[1,2,3]``): the correctness harness canonicalizes
    results with a pandas sort over every output column, and a raw array
    column (numpy.ndarray after Arrow transfer) is unhashable there —
    round-3 CORRECTNESS recorded exactly that TypeError.  The aggregation
    itself still materializes a first-class ARRAY<BIGINT>; only the result
    contract is a string."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sort_array(F.collect_list("o_orderkey")).alias("keys_arr"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") <= 5)
        .select(
            "o_custkey", F.to_json("keys_arr").alias("orderkeys"), "n"
        )
    )


def upsert_latest(
    base: DataFrame, changes: DataFrame, keys: list[str], version_col: str
) -> DataFrame:
    """CDC merge (latest-wins upsert): one surviving row per key — the
    highest ``version_col`` across base ∪ changes, ties broken toward the
    changes side.

    Implemented as ``max_by(struct(*), (version, is_change))`` — a single
    partial-aggregating shuffle on the key, no window sort.  The window
    ``row_number`` formulation computes the same thing but sorts every
    group; ``max_by`` keeps one running champion per key per task and
    combines map-side, which at 100 TB is the difference between a
    shuffle of winners and a full sort of history.  For recurring merges
    the shuffle disappears entirely when both sides are bucketed on the
    key (``layout.write_bucketed``)."""
    tagged = base.withColumn("__chg", F.lit(0)).unionByName(
        changes.withColumn("__chg", F.lit(1))
    )
    payload = F.struct(*[F.col(c) for c in tagged.columns])
    rank = F.struct(F.col(version_col), F.col("__chg"))
    merged = tagged.groupBy(*keys).agg(F.max_by(payload, rank).alias("__row"))
    return merged.select("__row.*").drop("__chg")


@query(
    "upsert_latest_orders",
    oracle="""
    WITH delta AS (
        SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice, o_orderdate,
               o_orderpriority, 2 AS version
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    unioned AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, 1 AS version, 0 AS chg
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, version, 1 AS chg
        FROM delta
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(version AS BIGINT) AS version
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY version DESC, chg DESC) AS rn
        FROM unioned
    )
    WHERE rn = 1
    """,
)
def upsert_latest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-merge demonstration on ``orders``: a deterministic delta batch
    (every 7th order re-delivered at version 2 with doubled total and
    status F) merged latest-wins over the base snapshot.  The DuckDB
    oracle is the independent ``row_number``-per-key formulation, so the
    ``max_by`` aggregate is cross-checked against a sort-based engine.
    Doubling a double is exponent arithmetic — exact, hash-stable."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    base = o.withColumn("version", F.lit(1))
    delta = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("F"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("version", F.lit(2))
    )
    out = upsert_latest(base, delta, ["o_orderkey"], "version")
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("version").cast("bigint").alias("version"),
    )


@query(
    "event_gap_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us
    FROM gaps
    GROUP BY user_id
    """,
)
def event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics per user via ``lag`` — the LAG/LEAD
    window family (the sessionization primitive: a gap threshold over
    this column is exactly the session cut).

    One shuffle on user_id serves both the window sort and the aggregate
    (same partitioning — Catalyst reuses the exchange).  Gaps stay in
    integer microseconds end-to-end: no float time arithmetic, so the
    cross-engine hash is exact.  Ordering ties on ``ts`` break by
    event_id to keep lag deterministic."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap_us").alias("n_gaps"),
        F.sum("gap_us").alias("total_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.min("gap_us").alias("min_gap_us"),
    )

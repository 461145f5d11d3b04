"""Warehouse time-series operators over the ``events`` table: SCD
type-2 interval building, dense hourly gap-fill with forward-fill, and
range-interval rolling windows.

Three shapes every event-warehouse needs that the plain window suite
(analytic.py) doesn't cover:

* **SCD2**: collapse an event stream into slowly-changing-dimension
  type-2 validity intervals — one row per STATE CHANGE with
  ``[valid_from, valid_to)`` and an ``is_current`` flag.  One window
  per user (lag to detect changes, lead to close intervals); shuffle
  keyed by user id, group size bounded by per-user history.
* **Gap-fill**: aggregate to an hourly grid, then LEFT-join a generated
  dense calendar (``sequence`` + ``explode`` of a broadcast one-row
  min/max aggregate — no driver collect) so silent hours exist as rows;
  zero-fill the additive measures and forward-fill the last observed
  average (``last(..., ignorenulls=True)`` over an unbounded-preceding
  window).  The calendar is O(hours × keys), independent of event
  count, and joins broadcast.
* **Rolling range frame**: per-event trailing-1-hour aggregates via
  ``Window.orderBy(epoch).rangeBetween(-3600, 0)`` — a TIME-based frame
  (rows don't matter, seconds do), which ``rowsBetween`` cannot
  express.  One shuffle on user id; peers at identical timestamps are
  frame-included identically in any engine, so the relation is
  deterministic.

All three carry DuckDB oracles (same windows, same casts; DuckDB's
``RANGE BETWEEN`` and ``IGNORE NULLS`` match Spark's frame semantics).

The reference (/root/reference/ncd/) has no temporal surface; this
extends the build brief's query-surface band alongside as-of joins and
sessionization (temporal.py, streaming/events.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables, query


def scd2_intervals(
    events: DataFrame,
    key: str = "user_id",
    state: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Event stream → SCD type-2 state intervals: one row per state
    change, ``valid_to`` = next change (NULL while current)."""
    order = [F.col(ts), F.col(tiebreak)]
    w = Window.partitionBy(key).orderBy(*order)
    changes = (
        events.select(key, state, ts, tiebreak)
        .withColumn("__prev", F.lag(state).over(w))
        .filter(
            F.col("__prev").isNull() | (F.col(state) != F.col("__prev"))
        )
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    return (
        changes.withColumn("valid_to", F.lead(ts).over(w2))
        .select(
            F.col(key),
            F.col(state).alias("state"),
            F.col(ts).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


@query(
    "scd2_user_segments",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id FROM marked
        WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 intervals of each user's event-type state — the
    dimension-history builder of a warehouse load.  See module docstring
    for the plan shape."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return scd2_intervals(e)


@query(
    "events_hourly_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events
    ),
    grid AS (
        SELECT t.typ AS event_type, g.h AS hour
        FROM (SELECT DISTINCT event_type AS typ FROM events) t,
             (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
              FROM bounds) g
    ),
    hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               SUM(value) AS sum_value,
               COUNT(*) AS n_events,
               SUM(value) / COUNT(*) AS avg_value
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.hour,
           COALESCE(h.sum_value, 0.0) AS sum_value,
           CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events,
           (h.hour IS NULL) AS gap_filled,
           LAST_VALUE(h.avg_value IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS ffill_avg_value
    FROM grid g LEFT JOIN hourly h
      ON g.event_type = h.event_type AND g.hour = h.hour
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly per-event-type series: zero-filled sums/counts on a
    generated calendar plus forward-filled last observed hourly average.
    See module docstring for the broadcast-calendar plan shape."""
    e = load_tables(spark, sf_dir, "events")["events"]
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    grid = e.select("event_type").distinct().crossJoin(F.broadcast(hours))
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.sum("value").alias("sum_value"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("value") / F.count(F.lit(1))).alias("avg_value"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hourly_r = hourly.withColumnRenamed("hour", "hhour").withColumnRenamed(
        "event_type", "htype"
    )
    joined = grid.join(
        hourly_r,
        (F.col("event_type") == F.col("htype"))
        & (F.col("hour") == F.col("hhour")),
        "left",
    ).select(
        "event_type",
        "hour",
        F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.col("hhour").isNull().alias("gap_filled"),
        F.col("avg_value"),
    )
    return joined.withColumn(
        "ffill_avg_value", F.last("avg_value", ignorenulls=True).over(w)
    ).drop("avg_value")


ROLL_SECONDS = 3600


@query(
    "rolling_hour_user_value",
    oracle=f"""
    SELECT event_id, user_id, ts, value,
           SUM(value) OVER w AS roll_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS roll_cnt,
           SUM(value) OVER w / COUNT(*) OVER w AS roll_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN {ROLL_SECONDS} PRECEDING AND CURRENT ROW)
    """,
)
def rolling_hour_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour per-user rolling sum/count/avg for every event —
    a TIME-range frame (``rangeBetween`` on epoch seconds), not a row
    frame.  See module docstring."""
    e = load_tables(spark, sf_dir, "events")["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-ROLL_SECONDS, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum("value").over(w).alias("roll_sum"),
        F.count(F.lit(1)).over(w).alias("roll_cnt"),
        (F.sum("value").over(w) / F.count(F.lit(1)).over(w)).alias("roll_avg"),
    )


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id FROM marked
        WHERE prev IS NULL OR event_type <> prev
    ),
    scd2 AS (
        SELECT user_id, event_type AS state, ts AS valid_from,
               LEAD(ts) OVER w AS valid_to
        FROM changes
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e.event_id, e.user_id, e.ts,
           s.state AS state_at_event,
           s.valid_from AS state_since
    FROM events e JOIN scd2 s
      ON e.user_id = s.user_id
     AND e.ts >= s.valid_from
     AND (s.valid_to IS NULL OR e.ts < s.valid_to)
    WHERE e.event_type = 'purchase'
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) join of purchase events against the SCD2
    state dimension built from the same stream: which state interval was
    each purchase made under?  The canonical warehouse temporal-join
    shape — an equi join on the entity key with the interval-containment
    predicate applied as a post-join codegen filter, so the shuffle is
    keyed by user id and the per-key work is bounded by interval count
    (never a cross join).  At 100 TB the dimension side is the compact
    SCD2 table; a skewed entity's intervals are still one key group and
    AQE splits hot keys."""
    e = load_tables(spark, sf_dir, "events")["events"]
    scd2 = scd2_intervals(e).select(
        F.col("user_id").alias("s_user"), "state", "valid_from", "valid_to"
    )
    purchases = e.filter(F.col("event_type") == "purchase")
    return (
        purchases.join(
            scd2,
            (purchases.user_id == scd2.s_user)
            & (purchases.ts >= scd2.valid_from)
            & (scd2.valid_to.isNull() | (purchases.ts < scd2.valid_to)),
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("state").alias("state_at_event"),
            F.col("valid_from").alias("state_since"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA smoothing over the daily revenue series
# ---------------------------------------------------------------------------

EWMA_BAND_DAYS = 14  # truncated EWMA window (weights below ~0.23 dropped)
# Exact integer weights: 0.9**diff scaled by 10**EWMA_BAND_DAYS —
# 0.9**d * 10**14 == 9**d * 10**(14-d), an exact int64 for d in [0, 14].
# Both engines index the same literal table, so the weighted sums are
# EXACT decimal arithmetic end to end; only the final num/den division
# happens in floating point (relative error ~1e-15 on a ~1e6 result,
# far inside the 6-decimal hash normalization).
EWMA_WEIGHTS = [9**d * 10 ** (EWMA_BAND_DAYS - d) for d in range(EWMA_BAND_DAYS + 1)]

_EWMA_WEIGHT_SQL = "CASE " + " ".join(
    f"WHEN dd = {d} THEN CAST({w} AS BIGINT)"
    for d, w in enumerate(EWMA_WEIGHTS)
) + " END"


@query(
    "ewma_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               CAST(o_orderdate AS DATE) AS day,
               datediff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) AS dnum,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1, 2, 3
    ),
    banded AS (
        SELECT a.priority, a.day, a.rev,
               a.dnum - b.dnum AS dd, b.rev AS rev_b
        FROM daily a JOIN daily b
          ON a.priority = b.priority
         AND b.dnum BETWEEN a.dnum - {EWMA_BAND_DAYS} AND a.dnum
    ),
    agged AS (
        SELECT priority, day,
               MAX(rev) AS rev,
               SUM(CAST(rev_b * 100 AS HUGEINT) * ({_EWMA_WEIGHT_SQL}))
                   AS num_c,
               CAST(SUM({_EWMA_WEIGHT_SQL}) AS HUGEINT) AS den
        FROM banded
        GROUP BY priority, day
    )
    SELECT priority,
           strftime(day, '%Y-%m-%d') AS day,
           CAST(rev AS DOUBLE) AS daily_rev,
           CAST((num_c * 20000 + den) // (2 * den) AS DOUBLE) / 1000000.0
               AS ewma
    FROM agged
    """,
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha-decay 0.9/day,
    truncated at {EWMA_BAND_DAYS} days) of daily order revenue per
    priority — the smoothing stage of an anomaly/trend monitor.

    A weighted moving window is NOT a plain window aggregate (the weight
    depends on the row-to-frame-head distance), and the textbook
    algebraic trick (one running sum of ``x*alpha**-t``) overflows after
    a few hundred days.  The scalable shape is a BANDED SELF-JOIN
    expressed as an equi join: each probe day explodes into the <= 2
    coarse buckets (width {EWMA_BAND_DAYS}+1 days) that can contain its
    band, the join is equi on (priority, bucket) — shuffle-partitioned,
    no range-join fallback, no single-partition window — and the exact
    band filter runs inside the joined stage.  At 100 TB the daily
    relation is O(keys x days), already tiny relative to facts; the same
    shape holds for any banded weighted rollup over a keyed series.

    Weighted sums use exact integer weights over DECIMAL revenue (see
    EWMA_WEIGHTS) so both engines agree bit-for-bit before one final
    float division."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    width = EWMA_BAND_DAYS + 1
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
        .withColumn("dnum", F.datediff("day", F.lit("1992-01-01")))
    )
    # probe side: each day looks at buckets floor((d-B)/W) .. floor(d/W)
    # (at most two distinct values since the band is narrower than the
    # bucket width)
    probe = daily.select(
        "priority",
        "day",
        "rev",
        "dnum",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("dnum") - EWMA_BAND_DAYS) / width),
                    F.floor(F.col("dnum") / width),
                )
            )
        ).alias("bucket"),
    )
    build = daily.select(
        F.col("priority").alias("b_priority"),
        F.col("dnum").alias("b_dnum"),
        F.col("rev").alias("b_rev"),
        F.floor(F.col("dnum") / width).alias("b_bucket"),
    )
    w_arr = F.array(*[F.lit(w) for w in EWMA_WEIGHTS])
    joined = (
        probe.join(
            build,
            (F.col("priority") == F.col("b_priority"))
            & (F.col("bucket") == F.col("b_bucket")),
        )
        .where(
            (F.col("b_dnum") >= F.col("dnum") - EWMA_BAND_DAYS)
            & (F.col("b_dnum") <= F.col("dnum"))
        )
        .withColumn(
            "w", F.element_at(w_arr, (F.col("dnum") - F.col("b_dnum") + 1).cast("int"))
        )
    )
    # Weighted sums stay EXACT integers (revenue cents x integer weight,
    # DECIMAL(38,0) here / HUGEINT in the oracle); the 6-decimal value is
    # then a half-up integer floor-division — round_half_up(a/b) ==
    # (2a + b) div (2b) — so no floating-point operation participates in
    # the rounding decision and both engines emit the identical double.
    agged = joined.groupBy(
        "priority", F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.max("rev").cast("double").alias("daily_rev"),
        F.sum(
            (F.col("b_rev") * 100).cast("decimal(38,0)") * F.col("w")
        ).alias("num_c"),
        F.sum("w").cast("decimal(38,0)").alias("den"),
    )
    return agged.select(
        "priority",
        "day",
        "daily_rev",
        (
            F.expr(
                "(num_c * CAST(20000 AS DECIMAL(38,0)) + den) div (2 * den)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("ewma"),
    )

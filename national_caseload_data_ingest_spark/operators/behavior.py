"""Behavioral / product-analytics operators over the ``events`` table:
ordered funnels, cohort retention, and robust (median/MAD) outlier
detection.

The event-analytics query band of a warehouse engine.  All three are
pure DataFrame aggregate/join compositions with DuckDB oracles:

* **Funnel** — ordered-sequence conversion (view → click → purchase,
  each step strictly AFTER the previous step's first completion).  Each
  step is one filtered aggregate keyed by user joined to the previous
  step's first-completion times; step relations shrink monotonically,
  and the final output is three one-row aggregates unioned with the
  step-1 count broadcast for conversion rates.  Per-step cost: one scan
  + one user-keyed shuffle; no window over the full history.
* **Cohort retention** — users cohorted by first-activity day, one row
  per (cohort_day, day_offset) with distinct active users and the
  retention rate against the cohort size.  Two aggregates + one join,
  all keyed by user/cohort; the output is calendar-bounded
  (days × days), independent of event volume.
* **Robust outliers** — per-type median and MAD (median absolute
  deviation) flag events beyond ``MAD_K`` robust z-units.  Exact
  percentiles sort per group (the oracle-checkable form; route to
  ``approx_percentile`` at 100 TB, same caveat as
  ``median_quantity_by_flag``, temporal.py); the two medians are two
  small per-type aggregates broadcast back onto the stream, so the
  event-sized passes stay narrow.

The reference (/root/reference/ncd/) has no analytics surface; this
extends the build brief's query-surface band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables, query

FUNNEL_STEPS = ("view", "click", "purchase")
MAD_K = 3.0


def funnel(events: DataFrame, steps: tuple[str, ...]) -> DataFrame:
    """Ordered funnel: step k counts users whose first step-k event is
    strictly after their first qualifying step-(k-1) event.  Returns
    (step, step_name, users, conversion) with conversion relative to
    step 1."""
    prev: DataFrame | None = None
    counts = []
    for k, name in enumerate(steps, start=1):
        stage = events.filter(F.col("event_type") == name)
        if prev is not None:
            stage = stage.join(prev, "user_id").filter(
                F.col("ts") > F.col("prev_ts")
            )
        cur = stage.groupBy("user_id").agg(F.min("ts").alias("prev_ts"))
        counts.append(
            cur.agg(
                F.lit(k).alias("step"),
                F.lit(name).alias("step_name"),
                F.count(F.lit(1)).alias("users"),
            )
        )
        prev = cur
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    base = counts[0].select(F.col("users").alias("step1_users"))
    return out.crossJoin(F.broadcast(base)).select(
        "step",
        "step_name",
        "users",
        (F.col("users").cast("double") / F.col("step1_users")).alias(
            "conversion"
        ),
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS users FROM s1
        UNION ALL
        SELECT 2, 'click', COUNT(*) FROM s2
        UNION ALL
        SELECT 3, 'purchase', COUNT(*) FROM s3
    )
    SELECT step, step_name, CAST(users AS BIGINT) AS users,
           CAST(users AS DOUBLE)
           / (SELECT users FROM counts WHERE step = 1) AS conversion
    FROM counts
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step ordered conversion funnel (view → click → purchase).
    See module docstring for the per-step plan shape."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return funnel(e, FUNNEL_STEPS)


@query(
    "daily_cohort_retention",
    oracle="""
    WITH cohorts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    sizes AS (
        SELECT cohort_day, COUNT(*) AS cohort_size
        FROM cohorts GROUP BY cohort_day
    )
    SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
           CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT)
               AS day_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / s.cohort_size
               AS retention
    FROM activity a
    JOIN cohorts c ON a.user_id = c.user_id
    JOIN sizes s ON c.cohort_day = s.cohort_day
    GROUP BY c.cohort_day, day_offset, s.cohort_size
    """,
)
def daily_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: users cohorted by first-seen
    day, per (cohort, offset) distinct-active counts and rates.  See
    module docstring."""
    e = load_tables(spark, sf_dir, "events")["events"]
    cohorts = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        activity.join(cohorts, "user_id")
        .join(sizes, "cohort_day")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
            "cohort_size",
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "day_offset",
            "active_users",
            "cohort_size",
            (
                F.col("active_users").cast("double") / F.col("cohort_size")
            ).alias("retention"),
        )
    )


@query(
    "event_value_outliers",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value, m.med, d.mad,
           (e.value - m.med) / d.mad AS robust_z
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    WHERE abs(e.value - m.med) > {MAD_K} * d.mad
    """,
)
def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outliers: |value − median| > {MAD_K}·MAD.  Two
    tiny per-type aggregates broadcast onto the stream; the filter and
    robust z-score are codegen.  See module docstring for the 100 TB
    percentile route."""
    e = load_tables(spark, sf_dir, "events")["events"]
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > MAD_K * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            ((F.col("value") - F.col("med")) / F.col("mad")).alias("robust_z"),
        )
    )


def funnel_user_steps(
    events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS
) -> DataFrame:
    """Per-user funnel progress: (user_id, step_reached, reached_ts) —
    the user-level relation the step counts aggregate over, and the
    batch twin of the ``transformWithState`` streaming funnel
    (streaming/events.py).  Same per-step joins as :func:`funnel`."""
    prev: DataFrame | None = None
    reached: DataFrame | None = None
    for k, name in enumerate(steps, start=1):
        stage = events.filter(F.col("event_type") == name)
        if prev is not None:
            stage = stage.join(prev, "user_id").filter(
                F.col("ts") > F.col("prev_ts")
            )
        cur = stage.groupBy("user_id").agg(F.min("ts").alias("prev_ts"))
        lvl = cur.select(
            "user_id",
            F.lit(k).alias("step_reached"),
            F.col("prev_ts").alias("reached_ts"),
        )
        reached = lvl if reached is None else reached.unionAll(lvl)
        prev = cur
    return reached.groupBy("user_id").agg(
        F.max("step_reached").alias("step_reached"),
        F.max_by("reached_ts", "step_reached").alias("reached_ts"),
    )



@query(
    "funnel_user_progress",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t
        GROUP BY e.user_id
    ),
    reached AS (
        SELECT user_id, 1 AS k, t FROM s1
        UNION ALL SELECT user_id, 2, t FROM s2
        UNION ALL SELECT user_id, 3, t FROM s3
    )
    SELECT user_id,
           CAST(MAX(k) AS INT) AS step_reached,
           arg_max(t, k) AS reached_ts
    FROM reached GROUP BY user_id
    """,
)
def funnel_user_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel progress (furthest step + its first-completion
    time) — the user-level relation behind the step counts, and the
    batch twin of the streaming ``transformWithState`` funnel."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return funnel_user_steps(e, FUNNEL_STEPS)


TRIGRAM_TOP_K = 25


@query(
    "common_event_trigrams",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS trigram,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, trigram
    LIMIT {TRIGRAM_TOP_K}
    """,
)
def common_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: the {TRIGRAM_TOP_K} most common
    3-event paths across all users (lead windows over each user's
    time-ordered stream → one count aggregate → per-partition top-k
    heaps).  One user-keyed window shuffle + one trigram-keyed
    aggregate; ``TakeOrderedAndProject`` caps the result without a
    global sort.  The path-analysis primitive behind funnels users
    actually take (vs the funnels you hypothesize)."""
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "event_type", "e2", "e3").alias("trigram")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(TRIGRAM_TOP_K)
    )


# MATCH_RECOGNIZE-lite: each event type is one character, so a user's
# whole history is a compact string and sequence patterns are plain
# string algebra — codegen'd, no state machine UDF.
EVENT_TOKENS = {
    "click": "c",
    "error": "e",
    "purchase": "p",
    "signup": "s",
    "view": "v",
}
# the pattern: view, then click, then purchase, ADJACENT (no other event
# between) — the strict form of the funnel (funnel() allows gaps)
PATTERN = "vcp"


def _tok_col() -> F.Column:
    expr = F.lit("?")
    for name, tok in EVENT_TOKENS.items():
        expr = F.when(F.col("event_type") == name, F.lit(tok)).otherwise(expr)
    return expr


def _tok_sql() -> str:
    arms = " ".join(
        f"WHEN '{name}' THEN '{tok}'" for name, tok in EVENT_TOKENS.items()
    )
    return f"CASE event_type {arms} ELSE '?' END"


def event_pattern_matches(events: DataFrame, pattern: str = PATTERN) -> DataFrame:
    """Per-user sequence-pattern matching (MATCH_RECOGNIZE-lite).

    Each user's time-ordered event stream becomes one character string
    (one char per event type), and a fixed adjacent-step pattern is
    counted with pure string functions: non-overlapping occurrences via
    the length-delta-of-replace identity, first match position via
    ``instr``.  The whole operator is ONE user-keyed aggregate
    (``array_sort(collect_list(struct(ts, event_id, tok)))`` makes the
    ordering deterministic and shuffle-count 1 — no window pass) plus
    narrow string expressions; per-user state is O(events-per-user),
    the same bound any per-user sessionization already pays.

    Contrast with :func:`funnel`: the funnel admits gaps between steps
    (first-completion ordering); this demands ADJACENCY — the user did
    view→click→purchase with nothing in between — which funnels cannot
    express but path analysis needs.  Greedy left-to-right
    non-overlapping counting is the semantics of ``replace`` in every
    engine, so the DuckDB oracle reproduces it exactly.
    """
    seq = (
        events.select("user_id", "ts", "event_id", _tok_col().alias("tok"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "tok"))
                    ),
                    lambda x: x["tok"],
                ),
                "",
            ).alias("path")
        )
    )
    plen = len(pattern)
    return seq.select(
        "user_id",
        F.length("path").cast("bigint").alias("n_events"),
        (
            (F.length("path") - F.length(F.replace(F.col("path"), F.lit(pattern))))
            / F.lit(plen)
        )
        .cast("bigint")
        .alias("n_matches"),
        F.instr(F.col("path"), pattern).cast("bigint").alias("first_match_pos"),
    )


@query(
    "event_pattern_matches",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               string_agg({_tok_sql()}, '' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(path) AS BIGINT) AS n_events,
           CAST((length(path) - length(replace(path, '{PATTERN}', '')))
                / {len(PATTERN)} AS BIGINT) AS n_matches,
           CAST(strpos(path, '{PATTERN}') AS BIGINT) AS first_match_pos
    FROM seq
    """,
)
def event_pattern_matches_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver registration of :func:`event_pattern_matches` over the
    events table with the adjacent view>click>purchase pattern."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return event_pattern_matches(e)


@query(
    "attribution_last_touch",
    oracle="""
    WITH conv AS (
        SELECT event_id AS conv_id, user_id, ts AS conv_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT user_id, ts AS touch_ts, event_type
        FROM events WHERE event_type IN ('view', 'click')
    ),
    attributed AS (
        SELECT c.conv_id, c.user_id, c.value,
               (SELECT t.event_type FROM touch t
                WHERE t.user_id = c.user_id
                  AND t.touch_ts <= c.conv_ts
                  AND t.touch_ts >= c.conv_ts - INTERVAL 1 HOUR
                ORDER BY t.touch_ts DESC LIMIT 1) AS channel
    FROM conv c
    )
    SELECT COALESCE(channel, 'unattributed') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS attributed_value
    FROM attributed
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the LAST view/click by the same user within the preceding hour
    (``unattributed`` otherwise) — the funnel family's revenue-side
    sibling, and an AS-OF join at heart: implemented as the bounded
    range join + per-conversion ``max_by(channel, touch_ts)`` pick, ONE
    shuffle keyed by user (the as-of convention — never a global sort).
    Ties on touch_ts break toward the later event_id... the synthetic
    feed has microsecond timestamps, so exact ts ties don't occur and
    both engines pick the same champion.  Value sums ride DECIMAL.
    The oracle replays the pick as a correlated LIMIT-1 subquery."""
    e = load_tables(spark, sf_dir, "events")["events"]
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id"),
        F.col("ts").alias("conv_ts"),
        "value",
    )
    touch = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id"), F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("channel"),
    )
    # LEFT join keeps every conversion (zero-touch users included);
    # the window predicate lives INSIDE the max_by ordering key — a
    # WHERE here would silently DROP conversions whose touches are all
    # out-of-window instead of marking them unattributed
    joined = conv.join(touch, "user_id", "left_outer")
    picked = joined.groupBy("conv_id").agg(
        F.first("value").alias("value"),
        F.max_by(
            "channel",
            F.when(
                F.col("touch_ts").isNotNull()
                & (F.col("touch_ts") <= F.col("conv_ts"))
                & (F.col("touch_ts")
                   >= F.col("conv_ts") - F.expr("INTERVAL 1 HOUR")),
                F.col("touch_ts"),
            ),
        ).alias("channel"),
    )
    return picked.groupBy(
        F.coalesce(F.col("channel"), F.lit("unattributed"))
        .alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
        .alias("attributed_value"),
    )

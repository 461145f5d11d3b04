"""Event-stream operators: windowed aggregation and sessionization, in both
streaming (``readStream``) and batch form.

Design: batch and streaming share the *same* transformation functions — a
DataFrame-in/DataFrame-out operator doesn't know whether its source is
``spark.read`` or ``spark.readStream`` (the Structured Streaming model).
Tests run the streaming path with a file source + memory sink and assert it
equals the batch result on the same data; the batch form of
``session_window`` is also oracle-checked (gaps-and-islands SQL).

Scale notes: watermarks bound state (late events beyond 10 minutes are
dropped); session state is per (user_id, session) and evicts on watermark
passage — the state store grows with *active* sessions, not history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from national_caseload_data_ingest_spark.functions import dec
from national_caseload_data_ingest_spark.operators.registry import (
    load_tables,
    parquet_nanos_columns,
    query,
)

def _events_schema(ts_is_nanos: bool) -> T.StructType:
    """Reader schema for the events stream.  ``ts`` depends on the parquet
    encoding: TIMESTAMP(MICROS) reads natively as ``TimestampType``, while
    TIMESTAMP(NANOS) — which the vectorized reader rejects — surfaces as
    int64 nanoseconds under ``spark.sql.legacy.parquet.nanosAsLong`` and is
    converted after the scan (same convention as ``registry.load_tables``)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if ts_is_nanos else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """File-stream source over a directory; a single-file path (the test
    layout's ``events.parquet``) is handled via its parent + a glob filter,
    since FileStreamSource requires a directory."""
    import os  # noqa: PLC0415

    # FileStreamSource takes a fixed schema, so the ``ts`` unit is decided
    # up front by the batch path's physical footer sniff (µs, ns and INT96
    # files all occur); an empty directory defaults to µs with a warning,
    # and a directory mixing µs and ns footers raises.
    ts_is_nanos = "ts" in parquet_nanos_columns(events_path)
    reader = spark.readStream.schema(_events_schema(ts_is_nanos)).option(
        "maxFilesPerTrigger", 4
    )
    if os.path.isfile(events_path):
        reader = reader.option("pathGlobFilter", os.path.basename(events_path))
        events_path = os.path.dirname(events_path)
    stream = reader.parquet(events_path)
    if ts_is_nanos:
        # integer `div` — float division would lose precision above 2^53
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream

SESSION_GAP = "30 minutes"
WATERMARK = "10 minutes"


def windowed_counts(events: DataFrame, with_watermark: bool) -> DataFrame:
    """5-minute tumbling counts per event_type — batch and streaming."""
    e = events.withWatermark("ts", WATERMARK) if with_watermark else events
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


def sessionize(events: DataFrame, with_watermark: bool) -> DataFrame:
    """Gap-based sessions per user via ``F.session_window`` (30-min gap)."""
    e = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return (
        e.groupBy(F.session_window("ts", SESSION_GAP).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            "n_events",
        )
    )


def windowed_counts_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming form: parquet file source → watermarked windowed agg.

    Returns an unstarted streaming DataFrame; callers attach a sink
    (``writeStream``).  The transformation is byte-identical to the batch
    plan — only the source differs.
    """
    return windowed_counts(_events_stream(spark, events_dir), with_watermark=True)


def sessionize_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    return sessionize(_events_stream(spark, events_dir), with_watermark=True)


@query(
    "session_window_events",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('microsecond', LAG(ts) OVER w, ts)
                            >= 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch session windows (30-min gap) — oracle is the classic
    gaps-and-islands rewrite, proving ``F.session_window`` semantics.

    The >= 1800 s new-session rule matches Spark's merge semantics:
    session windows are closed-open ``[t, t+gap)``, so an event exactly
    ``gap`` after its predecessor starts a new session."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return sessionize(e, with_watermark=False)


# ---------------------------------------------------------------------------
# Custom stateful operator: per-user lifetime stats via applyInPandasWithState
# ---------------------------------------------------------------------------

_USER_STATS_STATE = (
    "n bigint, cents bigint, types string, last_us bigint, max_gap_us bigint"
)
_USER_STATS_OUT = (
    "user_id bigint, n_events bigint, total_value double, "
    "n_types bigint, max_gap_seconds double"
)


def _user_stats_update(key, pdf_iter, state):
    """GroupState kernel: fold a user's new events into running lifetime
    aggregates and emit the current totals.

    Money accumulates in integer cents (values are 2-dp doubles), so the
    emitted double equals the exact-decimal batch sum bit-for-bit —
    streaming arrival order can't drift the total.  The distinct-type set
    rides in state as a sorted ``|``-joined string (scalar state columns
    keep the Arrow state encoding trivial)."""
    import pandas as pd  # noqa: PLC0415

    if state.exists:
        n, cents, types_s, last_us, max_gap_us = state.get
        types = set(types_s.split("|")) if types_s else set()
    else:
        n, cents, types, last_us, max_gap_us = 0, 0, set(), None, 0
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, et, val in zip(pdf["ts"], pdf["event_type"], pdf["value"]):
            us = int(ts.value // 1000)
            if last_us is not None and us - last_us > max_gap_us:
                max_gap_us = us - last_us
            last_us = us
            n += 1
            cents += int(round(float(val) * 100))
            types.add(et)
    state.update((n, cents, "|".join(sorted(types)), last_us, max_gap_us))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_events": n,
                "total_value": cents / 100.0,
                "n_types": len(types),
                "max_gap_seconds": max_gap_us / 1e6,
            }
        ]
    )


def user_lifetime_stats_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming per-user lifetime stats — the custom-stateful-operator
    pattern (``applyInPandasWithState``) for semantics no built-in window
    expresses: unbounded distinct-set tracking plus max inter-event gap
    across the whole stream.

    State is per user_id and bounded by the user population, not history
    length (five scalars per user).  Output mode is ``update``: each
    micro-batch re-emits the users it touched; downstream sinks upsert.
    """
    e = _events_stream(spark, events_dir)
    return e.groupBy("user_id").applyInPandasWithState(
        _user_stats_update,
        outputStructType=_USER_STATS_OUT,
        stateStructType=_USER_STATS_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


@query(
    "user_lifetime_stats",
    oracle="""
    WITH g AS (
        SELECT user_id, value, event_type,
               date_diff('microsecond',
                         LAG(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) AS gap_us
        FROM events
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT event_type) AS n_types,
           CAST(COALESCE(MAX(gap_us), 0) AS DOUBLE) / 1000000.0
             AS max_gap_seconds
    FROM g
    GROUP BY user_id
    """,
)
def user_lifetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful streaming operator (same semantics, lag
    window instead of state) — the oracle-checked ground truth that
    ``tests/test_streaming.py`` also holds the streaming path to."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.withColumn(
        "gap_us", F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    )
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("total_value"),
        F.countDistinct("event_type").alias("n_types"),
        (F.coalesce(F.max("gap_us"), F.lit(0)).cast("double") / F.lit(1e6)).alias(
            "max_gap_seconds"
        ),
    )


# ---------------------------------------------------------------------------
# Stream-static join + streaming dedup — the two remaining Structured
# Streaming shapes a 100 TB event pipeline leans on.
# ---------------------------------------------------------------------------


def enrich_events(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Join events to a static user dimension — identical expression for a
    batch DataFrame and a stream (stream-static joins need no watermark;
    Spark broadcasts/rescans the static side per micro-batch)."""
    return events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"]
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("c_mktsegment").alias("segment"),
    )


def enrich_events_stream(spark: SparkSession, events_dir: str, dim: DataFrame) -> DataFrame:
    """Streaming twin of :func:`enrich_events` over the file source."""
    return enrich_events(_events_stream(spark, events_dir), dim)


def dedup_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Exactly-once event stream via ``dropDuplicatesWithinWatermark`` on
    the event key: re-delivered events arriving within the watermark are
    suppressed, and the dedup state is EVICTED once the watermark passes —
    bounded state, unlike plain ``dropDuplicates`` whose key set grows
    forever.  (Duplicates older than the watermark are dropped by the
    watermark itself — same observable outcome.)"""
    e = _events_stream(spark, events_dir)
    return e.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


@query(
    "events_enriched_segment",
    oracle="""
    SELECT c_mktsegment AS segment, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def events_enriched_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment: events joined to the
    customer dim (broadcast — the dim is always the small side), rolled up
    by (segment, event_type)."""
    t = load_tables(spark, sf_dir, "events", "customer")
    return (
        enrich_events(t["events"], t["customer"])
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


def latest_event_per_user(events: DataFrame) -> DataFrame:
    """Latest event per user by (ts, event_id) — one struct-max aggregate
    (single shuffle; the struct's (ts, event_id) prefix is a unique key,
    so the max is deterministic).

    ``value`` rides the struct untouched — no arithmetic, so double is
    safe here.  If this column ever becomes money-typed, route any SUMMING
    of it through ``functions.dec``/``dsum`` like every monetary aggregate
    in ``operators/``; the max itself needs no change."""
    return (
        events.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"))
        .select(
            "user_id",
            F.col("s.ts").alias("ts"),
            F.col("s.event_id").alias("event_id"),
            F.col("s.event_type").alias("event_type"),
            F.col("s.value").alias("value"),
        )
    )


UPSERT_BUCKETS = 256


def _bucket_expr(n_buckets: int):
    """Deterministic user→bucket assignment (stable across batches/runs)."""
    return F.pmod(F.xxhash64(F.col("user_id")), F.lit(n_buckets)).cast("int")


def _committed_ids(state_dir: str) -> list[int]:
    """Batch ids with a commit marker, ascending."""
    import os  # noqa: PLC0415

    cdir = os.path.join(state_dir, "_commits")
    if not os.path.isdir(cdir):
        return []
    return sorted(int(d) for d in os.listdir(cdir) if d.isdigit())


def _snapshot_bucket_paths(
    state_dir: str, below: int | None = None
) -> dict[int, str]:
    """``{bucket: path}`` of the freshest COMMITTED copy of each bucket.

    ``below`` restricts to versions with id strictly less — the replay
    guard: a retried batch must rebuild from state committed by EARLIER
    batches, never from its own possibly-partial write.
    """
    import os  # noqa: PLC0415

    commits = _committed_ids(state_dir)
    if below is not None:
        commits = [c for c in commits if c < below]
    out: dict[int, str] = {}
    for c in sorted(commits, reverse=True):
        vdir = os.path.join(state_dir, f"v{c:010d}")
        if not os.path.isdir(vdir):
            continue
        for d in os.listdir(vdir):
            if d.startswith("bucket="):
                out.setdefault(int(d.split("=", 1)[1]), os.path.join(vdir, d))
    return out


def _prune_snapshots(state_dir: str, current_id: int) -> None:
    """Bucket-aware retention: delete version dirs that no longer serve
    either the current state or a replay of the NEXT batch.

    A version must be kept iff it is (a) the current batch's own write, or
    (b) the freshest committed copy of at least one bucket when the current
    version is excluded — exactly the set a post-crash replay of batch
    ``current_id`` (or first read of ``current_id + 1``) can reach.
    Everything else — fully-superseded committed versions and leftover
    uncommitted partial writes — is deleted, so disk holds at most two
    copies of any bucket instead of O(batches) full-table copies.
    """
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    keep = {current_id} | {
        int(os.path.basename(os.path.dirname(p))[1:])
        for p in _snapshot_bucket_paths(state_dir, below=current_id).values()
    }
    for d in os.listdir(state_dir):
        if not (d.startswith("v") and d[1:].isdigit()):
            continue
        vid = int(d[1:])
        if vid not in keep:
            shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)
            marker = os.path.join(state_dir, "_commits", f"{vid:010d}")
            if os.path.exists(marker):
                os.remove(marker)


def _latest_upsert_sink(state_dir: str, n_buckets: int = UPSERT_BUCKETS):
    """``foreachBatch`` body: merge each micro-batch into a hash-bucketed
    snapshot table of the latest event per user — INCREMENTALLY.

    Users hash into ``n_buckets`` stable buckets.  A batch (1) reduces to
    its own latest-per-user rows, (2) collects the ≤ ``n_buckets`` distinct
    bucket ids it touches (a tiny driver-side list, never user rows),
    (3) reads ONLY those buckets' freshest committed copies, (4) struct-max
    merges — associativity of max makes the incremental fold equal the
    global aggregate — and (5) writes just the touched buckets under
    ``v{batch_id}/bucket=N/``.  Untouched buckets are not read or written:
    per-batch cost is O(batch + touched-bucket state), not O(total users),
    so a continuous stream over 10⁹ users no longer rewrites the world
    every trigger.

    Exactly-once: the current state of a bucket is its freshest COMMITTED
    version (``_commits/`` marker written only after the parquet lands);
    the merge reads strictly below its own batch id, so a replayed batch
    (foreachBatch is at-least-once) rebuilds from the last committed state
    and overwrites its own possibly-partial write.  Retention then deletes
    fully-superseded versions — bounded disk, O(2 × buckets) dirs max.
    Swap the parquet snapshot for a Delta/Iceberg MERGE when the table
    format provides it; the bucket scheme is exactly what their
    merge-on-read compaction does under the hood.
    """
    import os  # noqa: PLC0415

    def body(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_latest = latest_event_per_user(batch_df).withColumn(
            "bucket", _bucket_expr(n_buckets)
        )
        touched = sorted(
            r["bucket"]
            for r in batch_latest.select("bucket").distinct().collect()
        )
        prev_by_bucket = _snapshot_bucket_paths(state_dir, below=batch_id)
        prev_paths = [
            prev_by_bucket[b] for b in touched if b in prev_by_bucket
        ]
        merged = batch_latest
        if prev_paths:
            prev = spark.read.parquet(*prev_paths)
            merged = latest_event_per_user(
                prev.unionByName(batch_latest.select(*prev.columns))
            ).withColumn("bucket", _bucket_expr(n_buckets))
        merged.write.partitionBy("bucket").mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id:010d}")
        )
        cdir = os.path.join(state_dir, "_commits")
        os.makedirs(cdir, exist_ok=True)
        with open(os.path.join(cdir, f"{batch_id:010d}"), "w"):
            pass  # marker: v{batch_id} is complete and readable
        _prune_snapshots(state_dir, batch_id)

    return body


def read_latest_snapshot(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current upsert state: per bucket, its freshest committed copy."""
    paths = _snapshot_bucket_paths(state_dir)
    if not paths:
        raise FileNotFoundError(
            f"no committed snapshots under {state_dir}: "
            "the source matched no files"
        )
    return spark.read.parquet(*sorted(paths.values()))


def upsert_latest_events_stream(
    spark: SparkSession,
    events_dir: str,
    state_dir: str,
    n_buckets: int = UPSERT_BUCKETS,
) -> DataFrame:
    """Streaming upsert via ``foreachBatch``: fold the event stream into a
    latest-event-per-user snapshot table and return the final snapshot.

    This is the third streaming sink shape (after memory and file):
    arbitrary per-batch logic with idempotent, hash-bucketed incremental
    snapshot writes.  Blocks until the ``availableNow`` run drains."""
    import os  # noqa: PLC0415

    os.makedirs(state_dir, exist_ok=True)
    e = _events_stream(spark, events_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    q = (
        e.writeStream.foreachBatch(_latest_upsert_sink(state_dir, n_buckets))
        .option("checkpointLocation", os.path.join(state_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "upsert_latest_events_stream: availableNow run did not drain "
            "within 600 s; snapshot state would be stale"
        )
    return read_latest_snapshot(spark, state_dir)


@query(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, ts, event_id, event_type, CAST(value AS DOUBLE) AS value
    FROM (
        SELECT user_id, ts, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
    ) WHERE rk = 1
    """,
)
def latest_event_per_user_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the foreachBatch streaming upsert (oracle: the
    row_number formulation of the same latest-wins rule)."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return latest_event_per_user(e).withColumn(
        "value", F.col("value").cast("double")
    )


def correlate_signup_purchase(signups: DataFrame, purchases: DataFrame) -> DataFrame:
    """Interval join: purchases within 1 hour after a signup, per user.

    Identical expression for batch DataFrames and streams; in streaming
    both sides carry watermarks and the time-range condition bounds the
    join state (rows are evicted once the other side's watermark passes
    their interval — the property that makes stream-stream joins viable
    with unbounded inputs)."""
    s = signups.select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")
        ),
    ).select(
        F.col("s_user").alias("user_id"),
        "signup_ts",
        "purchase_ts",
        F.col("purchase_value").cast("double").alias("purchase_value"),
    )


def signup_purchase_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Stream-stream twin: the same file source read as two independent
    streams (signups / purchases), each watermarked."""
    signups = (
        _events_stream(spark, events_dir)
        .filter(F.col("event_type") == "signup")
        .withWatermark("ts", WATERMARK)
    )
    purchases = (
        _events_stream(spark, events_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", WATERMARK)
    )
    return correlate_signup_purchase(signups, purchases)


@query(
    "signup_purchase_within_hour",
    oracle="""
    SELECT s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts,
           CAST(p.value AS DOUBLE) AS purchase_value
    FROM events s
    JOIN events p ON p.user_id = s.user_id
                 AND p.ts >= s.ts
                 AND p.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    """,
)
def signup_purchase_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join (funnel correlation).

    At scale the equality key (user_id) drives the shuffle and the time
    interval is a residual predicate — the same plan shape AQE gives a
    plain fact-fact equi join."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return correlate_signup_purchase(
        e.filter(F.col("event_type") == "signup"),
        e.filter(F.col("event_type") == "purchase"),
    )


# ---------------------------------------------------------------------------
# Streaming funnel: per-user ordered-sequence state machine
# ---------------------------------------------------------------------------

FUNNEL_OUT = "user_id bigint, step_reached int, reached_us bigint"
_FUNNEL_STATE = "step_reached int, reached_us bigint"


def _funnel_update_factory(steps: tuple[str, ...]):
    """GroupState kernel for the streaming funnel.

    State: (step_reached, reached_us) — the furthest step and its
    first-completion time in epoch micros.  Each batch walks the user's
    new events in (ts, event_id) order and advances when the NEXT
    step's event type arrives strictly after the current completion
    time; a row is emitted only when the user advanced (update
    semantics).

    Greedy arrival-order advancement equals the batch min-time
    semantics (`operators/behavior.funnel_user_steps`) when ingestion
    is event-time ordered across batches — the standard append-log
    case; out-of-order feeds should use the reorder-buffered variant
    (:func:`_funnel_buffered_update_factory` /
    :func:`funnel_stream_buffered`), which releases events only after
    the watermark passes them.  State here is two scalars per user:
    bounded by the user population, not history.

    Note: Spark 4's ``transformWithStateInPandas`` expresses the same
    machine with typed ValueState (a mixin sketch lived here briefly),
    but its state server speaks protobuf and ``google.protobuf`` is not
    in this container, so the shipped operator uses the GroupState API
    — functionally identical for a single value-state machine.
    """
    step_names = list(steps)

    def update(key, pdf_iter, state):
        import pandas as pd  # noqa: PLC0415

        if state.exists:
            step, reached_us = state.get
        else:
            step, reached_us = 0, None
        advanced = False
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                if step >= len(step_names):
                    break
                us = int(ts.value // 1000)
                if et == step_names[step] and (
                    reached_us is None or us > reached_us
                ):
                    step += 1
                    reached_us = us
                    advanced = True
        if advanced:
            state.update((step, reached_us))
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "step_reached": step,
                        "reached_us": reached_us,
                    }
                ]
            )

    return update


def funnel_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming ordered funnel (view → click → purchase) — the
    stateful twin of ``funnel_user_progress`` (operators/behavior.py).
    Update mode: a user emits a row only in batches where they
    advanced; the furthest row per user is the current position."""
    from national_caseload_data_ingest_spark.operators.behavior import (  # noqa: PLC0415
        FUNNEL_STEPS,
    )

    e = _events_stream(spark, events_dir)
    return e.groupBy("user_id").applyInPandasWithState(
        _funnel_update_factory(FUNNEL_STEPS),
        outputStructType=FUNNEL_OUT,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


_FUNNEL_BUF_STATE = (
    "step_reached int, reached_us bigint, buf_ts array<bigint>, "
    "buf_eid array<bigint>, buf_type array<string>"
)


def _funnel_buffered_update_factory(steps: tuple[str, ...]):
    """Event-time-correct funnel kernel: a WATERMARK-DELAY REORDER
    BUFFER in front of the same step machine as
    :func:`_funnel_update_factory`.

    Each batch appends the user's new events to a buffered
    ``(ts_us, event_id, event_type)`` list held in state; only events
    whose timestamp is strictly BELOW the current event-time watermark
    are released — in ``(ts, event_id)`` order — into the step machine.
    The watermark guarantees no earlier event can still arrive, so the
    released prefix is in true event-time order and the machine's
    output equals the batch twin (``operators/behavior.
    funnel_user_steps``) on every feed whose disorder is bounded by the
    watermark delay — exactly the divergence case the greedy kernel
    documents.  Events inside the delay horizon stay buffered; an
    event-time timeout (min buffered ts + 1 ms) re-invokes the group
    when the watermark passes them, including availableNow's final
    no-data flush batch.

    State is (two scalars) + O(events within the delay window) per
    user — the price of reordering, bounded by the watermark delay and
    the user's event rate, NOT by history.  Requires ``withWatermark``
    upstream and ``timeoutConf="EventTimeTimeout"``."""
    step_names = list(steps)

    def update(key, pdf_iter, state):
        import pandas as pd  # noqa: PLC0415

        if state.exists:
            step, reached_us, buf_ts, buf_eid, buf_type = state.get
            buf = [
                (int(t), int(e), str(y))
                for t, e, y in zip(buf_ts, buf_eid, buf_type)
            ]
        else:
            step, reached_us, buf = 0, None, []
        for pdf in pdf_iter:
            for ts, eid, et in zip(
                pdf["ts"], pdf["event_id"], pdf["event_type"]
            ):
                buf.append((int(ts.value // 1000), int(eid), str(et)))
        wm_us = state.getCurrentWatermarkMs() * 1000
        buf.sort()
        ready = [b for b in buf if b[0] < wm_us]
        hold = [b for b in buf if b[0] >= wm_us]
        advanced = False
        for us, _eid, et in ready:
            if step >= len(step_names):
                break
            if et == step_names[step] and (
                reached_us is None or us > reached_us
            ):
                step += 1
                reached_us = us
                advanced = True
        state.update(
            (
                step,
                reached_us,
                [b[0] for b in hold],
                [b[1] for b in hold],
                [b[2] for b in hold],
            )
        )
        if hold:
            # strictly above the current watermark by construction
            state.setTimeoutTimestamp(hold[0][0] // 1000 + 1)
        if advanced:
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "step_reached": step,
                        "reached_us": reached_us,
                    }
                ]
            )

    return update


def funnel_stream_buffered(
    spark: SparkSession, events_dir: str, delay: str = WATERMARK
) -> DataFrame:
    """Event-time-correct streaming funnel: watermarked input feeding
    the reorder-buffered kernel.  Output matches the batch twin on any
    feed whose out-of-orderness is bounded by ``delay`` (events still
    inside the delay horizon when the stream ends remain buffered —
    correctness over completeness, the standard watermark trade)."""
    from national_caseload_data_ingest_spark.operators.behavior import (  # noqa: PLC0415
        FUNNEL_STEPS,
    )

    e = _events_stream(spark, events_dir).withWatermark("ts", delay)
    return e.groupBy("user_id").applyInPandasWithState(
        _funnel_buffered_update_factory(FUNNEL_STEPS),
        outputStructType=FUNNEL_OUT,
        stateStructType=_FUNNEL_BUF_STATE,
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )


def correlate_signup_purchase_outer(
    signups: DataFrame, purchases: DataFrame
) -> DataFrame:
    """LEFT OUTER interval join: every signup, with its within-the-hour
    purchases or nulls — the non-converter report the inner join
    (:func:`correlate_signup_purchase`) cannot produce.

    Streaming semantics worth naming: an unmatched signup's null-padded
    row is emitted only once the PURCHASE side's watermark passes the
    end of the signup's interval (before that, a match could still
    arrive), so outer results trail the watermark delay — correctness
    over latency, and the reason both sides MUST carry watermarks and a
    time-range condition (Spark rejects an unbounded-state outer
    stream-stream join outright).  The flush clock is the GLOBAL
    watermark — the min over both sides' (max event time − delay), each
    computed on its own filtered flow — so if one event type stops
    hours before the other, null emission stalls at the quieter side's
    clock (pinned in `tests/test_streaming.py`).  The same expression
    runs unchanged on batch DataFrames, where the left join is just a
    left join."""
    s = signups.select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "leftOuter",
    ).select(
        F.col("s_user").alias("user_id"),
        "signup_ts",
        "purchase_ts",
        F.col("purchase_value").cast("double").alias("purchase_value"),
        F.col("purchase_ts").isNotNull().alias("converted"),
    )


def signup_purchase_outer_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER twin: two watermarked streams off the
    same file source; unmatched signups surface as null rows after the
    watermark passes their hour."""
    signups = (
        _events_stream(spark, events_dir)
        .filter(F.col("event_type") == "signup")
        .withWatermark("ts", WATERMARK)
    )
    purchases = (
        _events_stream(spark, events_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", WATERMARK)
    )
    return correlate_signup_purchase_outer(signups, purchases)


@query(
    "signup_purchase_outer",
    oracle="""
    SELECT s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts,
           CAST(p.value AS DOUBLE) AS purchase_value,
           p.ts IS NOT NULL AS converted
    FROM events s
    LEFT JOIN events p ON p.user_id = s.user_id
                      AND p.ts >= s.ts
                      AND p.ts <= s.ts + INTERVAL 1 HOUR
                      AND p.event_type = 'purchase'
    WHERE s.event_type = 'signup'
    """,
)
def signup_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT OUTER interval join — every signup with
    conversion outcome.  Same single user-keyed shuffle as the inner
    twin; the interval is a residual predicate on the join."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return correlate_signup_purchase_outer(
        e.filter(F.col("event_type") == "signup"),
        e.filter(F.col("event_type") == "purchase"),
    )

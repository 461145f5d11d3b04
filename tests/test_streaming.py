"""Structured Streaming parity: the streaming plan over a file source must
produce exactly the batch result on the same data (same transformation
function, different source) — plus watermark/state sanity."""

import pytest

from national_caseload_data_ingest_spark.operators.registry import load_tables
from national_caseload_data_ingest_spark.streaming.events import (
    sessionize,
    sessionize_events_stream,
    windowed_counts,
    windowed_counts_stream,
)

SF = "/root/testdata/sf0.001"
EVENTS_DIR = f"{SF}/events.parquet"


def _run_stream_to_memory(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_tables(spark, SF, "events")["events"]


def test_windowed_counts_stream_equals_batch(spark, events_batch):
    stream_result = _run_stream_to_memory(
        spark, windowed_counts_stream(spark, EVENTS_DIR), "win_counts"
    ).collect()
    batch_result = windowed_counts(events_batch, with_watermark=False).collect()
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    assert sorted(
        [(r["window_start"], r["event_type"], r["n_events"], r["total_value"])
         for r in stream_result]
    ) == sorted(
        [(r["window_start"], r["event_type"], r["n_events"], r["total_value"])
         for r in batch_result]
    )
    assert len(batch_result) > 0


def test_sessionize_stream_equals_batch(spark, events_batch):
    stream_result = _run_stream_to_memory(
        spark, sessionize_events_stream(spark, EVENTS_DIR), "sessions"
    ).collect()
    batch_result = sessionize(events_batch, with_watermark=False).collect()
    assert sorted(
        [(r["user_id"], r["session_start"], r["n_events"]) for r in stream_result]
    ) == sorted(
        [(r["user_id"], r["session_start"], r["n_events"]) for r in batch_result]
    )
    assert len(batch_result) > 0


def test_streaming_plan_is_streaming(spark):
    sdf = windowed_counts_stream(spark, EVENTS_DIR)
    assert sdf.isStreaming


@pytest.mark.parametrize("unit", ["us", "ns", "int96"])
def test_events_stream_timestamp_unit_agnostic(spark, tmp_path, unit):
    """Regression for the round-4 streaming bug: the stream reader must
    decode ``ts`` correctly for EVERY parquet encoding it can meet —
    ``timestamp[us]`` (the driver's testdata today), ``timestamp[ns]``
    (earlier rounds), and legacy INT96 (Spark's own default writer, which
    pyarrow ALSO presents as timestamp[ns] — only the physical footer type
    tells them apart).  A 2024 event must come out of the stream as a 2024
    timestamp — the bug turned every µs timestamp into January 1970."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from national_caseload_data_ingest_spark.streaming.events import (
        _events_stream,
    )

    t0 = datetime.datetime(2024, 3, 15, 12, 0, 0)
    rows = [t0 + datetime.timedelta(minutes=m) for m in range(4)]
    d = tmp_path / f"events_{unit}"
    if unit == "int96":
        sdf = spark.createDataFrame(
            [
                (i, rows[i], [1, 1, 2, 2][i], "ab"[i % 2], float(i + 1), "{}")
                for i in range(4)
            ],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        )
        sdf.coalesce(1).write.parquet(str(d))  # default writer → INT96
    else:
        table = pa.table(
            {
                "event_id": pa.array(range(4), pa.int64()),
                "ts": pa.array(rows, pa.timestamp(unit)),
                "user_id": pa.array([1, 1, 2, 2], pa.int64()),
                "event_type": pa.array(["a", "b", "a", "b"]),
                "value": pa.array([1.0, 2.0, 3.0, 4.0], pa.float64()),
                "props": pa.array(["{}"] * 4),
            }
        )
        d.mkdir()
        # version 2.6 preserves TIMESTAMP(NANOS) instead of coercing to µs
        pq.write_table(table, d / "part-0.parquet", version="2.6")

    sdf = _events_stream(spark, str(d))
    q = (
        sdf.writeStream.format("memory")
        .queryName(f"unit_mem_{unit}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["ts"])
        for r in spark.sql(f"SELECT event_id, ts FROM unit_mem_{unit}").collect()
    )
    assert got == [(i, rows[i]) for i in range(4)], got


def test_user_lifetime_stats_stream_equals_batch(spark):
    from national_caseload_data_ingest_spark.streaming.events import (
        user_lifetime_stats,
        user_lifetime_stats_stream,
    )

    sdf = user_lifetime_stats_stream(spark, EVENTS_DIR)
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode re-emits a user's row each micro-batch it appears in;
    # n_events is monotone, so the final state is the max-n row per user.
    stream_rows = {}
    for r in spark.sql("SELECT * FROM user_stats").collect():
        prev = stream_rows.get(r["user_id"])
        if prev is None or r["n_events"] > prev["n_events"]:
            stream_rows[r["user_id"]] = r
    batch_rows = {
        r["user_id"]: r for r in user_lifetime_stats(spark, SF).collect()
    }
    assert set(stream_rows) == set(batch_rows) and len(batch_rows) > 0
    for uid, b in batch_rows.items():
        s = stream_rows[uid]
        assert (
            s["n_events"], s["n_types"], s["total_value"], s["max_gap_seconds"]
        ) == (
            b["n_events"], b["n_types"], b["total_value"], b["max_gap_seconds"]
        ), uid


def test_enrich_stream_equals_batch(spark, events_batch):
    """Stream-static join: streaming enrichment over the file source equals
    the batch join row-for-row."""
    from national_caseload_data_ingest_spark.streaming.events import (
        enrich_events,
        enrich_events_stream,
    )

    dim = load_tables(spark, SF, "customer")["customer"]
    sdf = enrich_events_stream(spark, EVENTS_DIR, dim)
    q = (
        sdf.writeStream.format("memory")
        .queryName("enriched_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.sql("SELECT * FROM enriched_mem").collect()
    }
    want = {tuple(r) for r in enrich_events(events_batch, dim).collect()}
    assert got == want and len(want) > 0


def test_streaming_dedup_suppresses_redelivery(spark, events_batch, tmp_path):
    """dropDuplicatesWithinWatermark: a full redelivery of the event file in
    a later micro-batch yields no extra rows — output is exactly the
    distinct event set."""
    import shutil

    from national_caseload_data_ingest_spark.streaming.events import (
        dedup_events_stream,
    )

    d = tmp_path / "dup_events"
    d.mkdir()
    shutil.copy(EVENTS_DIR, d / "a.parquet")
    shutil.copy(EVENTS_DIR, d / "b.parquet")  # exact redelivery
    sdf = dedup_events_stream(spark, str(d))
    q = (
        sdf.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT event_id FROM dedup_mem").collect()
    ids = [r["event_id"] for r in out]
    assert len(ids) == len(set(ids)), "duplicate event_ids in output"
    assert len(set(ids)) == events_batch.count()


def test_streaming_file_sink_e2e_exactly_once(spark, events_batch, tmp_path):
    """End-to-end through a real file sink: dedup stream (with a redelivered
    input file) → parquet + checkpoint → read back.  Covers the commit-log /
    exactly-once plumbing the memory-sink tests skip: the sink's
    _spark_metadata transaction log must exist, and the persisted output
    must be exactly the distinct event set despite the duplicate input."""
    import shutil

    from national_caseload_data_ingest_spark.streaming.events import (
        dedup_events_stream,
    )

    d = tmp_path / "sink_events"
    d.mkdir()
    shutil.copy(EVENTS_DIR, d / "a.parquet")
    shutil.copy(EVENTS_DIR, d / "b.parquet")  # exact redelivery
    out = tmp_path / "sink_out"
    ckpt = tmp_path / "sink_ckpt"
    q = (
        dedup_events_stream(spark, str(d))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert (out / "_spark_metadata").is_dir(), "file-sink commit log missing"
    persisted = spark.read.parquet(str(out))
    got = sorted(r["event_id"] for r in persisted.select("event_id").collect())
    want = sorted(
        r["event_id"] for r in events_batch.select("event_id").collect()
    )
    assert got == want
    # restart on the same checkpoint with no new input: no-op, no dupes
    q2 = (
        dedup_events_stream(spark, str(d))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == len(want)


def test_foreach_batch_upsert_equals_batch(spark, events_batch, tmp_path):
    """foreachBatch snapshot upsert: the stream folded over multiple
    micro-batches must converge to exactly the batch latest-event-per-user
    result (associativity of the struct-max merge), with one snapshot dir
    per batch."""
    from national_caseload_data_ingest_spark.streaming.events import (
        latest_event_per_user,
        upsert_latest_events_stream,
    )

    src = str(tmp_path / "upsert_events")
    events_batch.repartition(6).write.parquet(src)  # 6 files / 4 per trigger
    state = str(tmp_path / "upsert_state")
    final = upsert_latest_events_stream(spark, src, state)
    got = {tuple(r) for r in final.collect()}
    want = {tuple(r) for r in latest_event_per_user(events_batch).collect()}
    assert got == want and len(want) > 0
    import os

    snaps = [d for d in os.listdir(state) if d.startswith("v")]
    assert len(snaps) >= 2, snaps  # genuinely incremental (multi-batch)


def _state_files(state_dir):
    """{relative path: bytes} of every data/marker file under the snapshot
    versions (checkpoint excluded)."""
    import os

    out = {}
    for root, _dirs, files in os.walk(state_dir):
        rel_root = os.path.relpath(root, state_dir)
        if rel_root.startswith("_ckpt"):
            continue
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, state_dir)] = fh.read()
    return out


def test_upsert_untouched_buckets_not_rewritten(spark, events_batch, tmp_path):
    """Incrementality: a micro-batch touching one bucket must write ONLY
    that bucket — every file of the previous snapshot version stays
    byte-identical on disk, and the new version dir contains just the
    touched bucket."""
    import os

    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.streaming.events import (
        latest_event_per_user,
        upsert_latest_events_stream,
    )

    nb = 8
    bucketed = events_batch.withColumn(
        "bucket", F.pmod(F.xxhash64("user_id"), F.lit(nb)).cast("int")
    )
    target = bucketed.select("bucket").first()["bucket"]
    part_a = bucketed.filter(F.col("bucket") != target).drop("bucket")
    part_b = bucketed.filter(F.col("bucket") == target).drop("bucket")
    assert part_a.count() > 0 and part_b.count() > 0

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    part_a.coalesce(2).write.parquet(src)
    upsert_latest_events_stream(spark, src, state, n_buckets=nb)
    before = _state_files(state)
    v0_files = {p for p in before if p.startswith("v") and "bucket=" in p}
    assert v0_files, "first run wrote no bucketed snapshot files"
    assert not any(f"bucket={target}" in p for p in v0_files)

    part_b.coalesce(1).write.mode("append").parquet(src)
    final = upsert_latest_events_stream(spark, src, state, n_buckets=nb)

    after = _state_files(state)
    for p in v0_files:
        assert after.get(p) == before[p], f"untouched snapshot file changed: {p}"
    v1 = os.path.join(state, "v0000000001")
    new_buckets = {d for d in os.listdir(v1) if d.startswith("bucket=")}
    assert new_buckets == {f"bucket={target}"}, new_buckets

    got = {tuple(r) for r in final.collect()}
    want = {tuple(r) for r in latest_event_per_user(events_batch).collect()}
    assert got == want


def test_upsert_retention_prunes_superseded_versions(spark, events_batch, tmp_path):
    """Bucket-aware retention: once every bucket of v0 has two newer
    committed copies, v0 (and its commit marker) are deleted — disk holds
    the current version plus the replay fallback, not O(batches) copies."""
    import os

    from national_caseload_data_ingest_spark.streaming.events import (
        _latest_upsert_sink,
        latest_event_per_user,
        read_latest_snapshot,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)
    body = _latest_upsert_sink(state, n_buckets=4)
    # 150 users over 4 buckets: every synthetic batch touches all buckets,
    # so supersession is deterministic.
    for bid in range(3):
        body(events_batch.select("user_id", "ts", "event_id", "event_type", "value"), bid)
    vdirs = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert vdirs == ["v0000000001", "v0000000002"], vdirs
    markers = sorted(os.listdir(os.path.join(state, "_commits")))
    assert markers == ["0000000001", "0000000002"], markers
    got = {tuple(r) for r in read_latest_snapshot(spark, state).collect()}
    want = {tuple(r) for r in latest_event_per_user(events_batch).collect()}
    assert got == want


def test_upsert_replay_ignores_own_partial_snapshot(spark, events_batch, tmp_path):
    """At-least-once replay guard, sink-level: a retried batch whose first
    attempt left a partial, uncommitted v{N} must rebuild from the last
    committed state and overwrite the wreckage."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.streaming.events import (
        _latest_upsert_sink,
        latest_event_per_user,
        read_latest_snapshot,
    )

    cols = ["user_id", "ts", "event_id", "event_type", "value"]
    half_a = events_batch.filter(F.col("event_id") % 2 == 0).select(*cols)
    half_b = events_batch.filter(F.col("event_id") % 2 == 1).select(*cols)
    state = str(tmp_path / "state")
    os.makedirs(state)
    body = _latest_upsert_sink(state, n_buckets=4)
    body(half_a, 0)
    body(half_b, 1)
    # simulate a crash mid-write of batch 1: corrupt v1, drop its marker
    v1 = os.path.join(state, "v0000000001")
    victim = sorted(d for d in os.listdir(v1) if d.startswith("bucket="))[0]
    shutil.rmtree(os.path.join(v1, victim))
    os.remove(os.path.join(state, "_commits", "0000000001"))
    body(half_b, 1)  # replay (same id, same data)
    got = {tuple(r) for r in read_latest_snapshot(spark, state).collect()}
    want = {tuple(r) for r in latest_event_per_user(events_batch).collect()}
    assert got == want


def test_upsert_crash_recovery_from_checkpoint_e2e(spark, events_batch, tmp_path):
    """End-to-end crash recovery: run batch 0, snapshot the checkpoint,
    run batch 1, then roll the checkpoint back and corrupt batch 1's
    snapshot — as if the process died after the parquet write started but
    before the offset commit.  The restarted stream must replay batch 1
    from the checkpoint, rebuild from v0 via the < batch_id guard, and
    converge to exactly the batch-twin result."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.streaming.events import (
        latest_event_per_user,
        upsert_latest_events_stream,
    )

    cols = ["user_id", "ts", "event_id", "event_type", "value"]
    half_a = events_batch.filter(F.col("event_id") % 2 == 0).select(*cols)
    half_b = events_batch.filter(F.col("event_id") % 2 == 1).select(*cols)
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    half_a.coalesce(2).write.parquet(src)
    upsert_latest_events_stream(spark, src, state, n_buckets=4)
    ckpt = os.path.join(state, "_ckpt")
    ckpt_backup = str(tmp_path / "ckpt_backup")
    shutil.copytree(ckpt, ckpt_backup)

    half_b.coalesce(1).write.mode("append").parquet(src)
    upsert_latest_events_stream(spark, src, state, n_buckets=4)

    # crash simulation: offsets roll back to post-batch-0, v1 is partial
    shutil.rmtree(ckpt)
    shutil.copytree(ckpt_backup, ckpt)
    v1 = os.path.join(state, "v0000000001")
    victim = sorted(d for d in os.listdir(v1) if d.startswith("bucket="))[0]
    shutil.rmtree(os.path.join(v1, victim))
    os.remove(os.path.join(state, "_commits", "0000000001"))

    final = upsert_latest_events_stream(spark, src, state, n_buckets=4)
    got = {tuple(r) for r in final.collect()}
    want = {tuple(r) for r in latest_event_per_user(events_batch).collect()}
    assert got == want


def test_stream_stream_interval_join_equals_batch(spark, events_batch):
    """Stream-stream interval join (watermarked both sides) produces
    exactly the batch interval-join result on the same data."""
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.streaming.events import (
        correlate_signup_purchase,
        signup_purchase_stream,
    )

    sdf = signup_purchase_stream(spark, EVENTS_DIR)
    q = (
        sdf.writeStream.format("memory")
        .queryName("ssjoin_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM ssjoin_mem").collect()}
    want = {
        tuple(r)
        for r in correlate_signup_purchase(
            events_batch.filter(F.col("event_type") == "signup"),
            events_batch.filter(F.col("event_type") == "purchase"),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_lsh_candidates_equal_batch(spark, tmp_path):
    """The stateful streaming LSH candidate generator, fed the corpus one
    file per micro-batch, must emit exactly the batch self-join's pair set
    — arrival order and batch boundaries must not change the result."""
    from national_caseload_data_ingest_spark.streaming.documents import (
        lsh_candidates_batch,
        lsh_candidates_stream,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs_dir = str(tmp_path / "docs_stream")
    docs.repartition(6).write.parquet(docs_dir)

    sdf = lsh_candidates_stream(spark, docs_dir)
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory")
        .queryName("lsh_cands")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    stream_pairs = {
        (r["band"], r["doc_a"], r["doc_b"])
        for r in spark.sql("SELECT * FROM lsh_cands").collect()
    }

    batch_pairs = {
        (r["band"], r["doc_a"], r["doc_b"])
        for r in lsh_candidates_batch(spark.read.parquet(docs_dir)).collect()
    }
    assert len(batch_pairs) > 0
    assert stream_pairs == batch_pairs


def test_streaming_lsh_recall_vs_exact_jaccard(spark):
    """Every exact-Jaccard pair over the batch-LSH threshold must appear
    among the streaming kernel's candidates (same banding guarantee as the
    xxhash batch path — pinned empirically for the fixed seeds)."""
    import __spark_entry__ as ent
    from national_caseload_data_ingest_spark.operators.dedup import (
        JACCARD_THRESHOLD,
    )

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ent.queries()["ngram_jaccard_pairs"](spark, SF).collect()
        if r["jaccard"] >= JACCARD_THRESHOLD
    }
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in ent.queries()["streaming_lsh_candidates"](spark, SF).collect()
    }
    assert len(exact) > 0
    missed = exact - cands
    assert not missed, f"streaming LSH kernel missed ground-truth pairs: {missed}"


def test_funnel_stream_equals_batch(spark):
    """transformWithStateInPandas funnel ≡ the batch per-user funnel
    relation on a single-batch feed."""
    from national_caseload_data_ingest_spark.operators.behavior import (
        FUNNEL_STEPS,
        funnel_user_steps,
    )
    from national_caseload_data_ingest_spark.streaming.events import (
        funnel_stream,
    )

    sdf = funnel_stream(spark, EVENTS_DIR)
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory")
        .queryName("funnel_tws")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {}
    for r in spark.sql("SELECT * FROM funnel_tws").collect():
        prev = stream_rows.get(r["user_id"])
        if prev is None or r["step_reached"] > prev["step_reached"]:
            stream_rows[r["user_id"]] = r
    batch = {
        r["user_id"]: r
        for r in funnel_user_steps(
            spark.read.parquet(EVENTS_DIR), FUNNEL_STEPS
        ).collect()
    }
    assert set(stream_rows) == set(batch) and len(batch) > 0
    for uid, b in batch.items():
        s = stream_rows[uid]
        assert s["step_reached"] == b["step_reached"], uid
        assert s["reached_us"] == int(
            b["reached_ts"].timestamp() * 1_000_000
        ), uid


def test_funnel_stream_multi_batch_in_order(spark, events_batch, tmp_path):
    """Cross-batch state: an in-order two-batch split must produce the
    same final funnel positions as one batch (state carries t1 across
    the file boundary)."""
    import os

    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.behavior import (
        FUNNEL_STEPS,
        funnel_user_steps,
    )
    from national_caseload_data_ingest_spark.streaming import events as sev

    e = events_batch.orderBy("ts", "event_id")
    rows = e.collect()
    mid_ts = rows[len(rows) // 2]["ts"]
    early = e.filter(F.col("ts") <= F.lit(mid_ts))
    late = e.filter(F.col("ts") > F.lit(mid_ts))
    d = str(tmp_path / "ev")
    early.coalesce(1).write.parquet(os.path.join(d, "b0"))
    late.coalesce(1).write.parquet(os.path.join(d, "b1"))

    sdf = (
        spark.readStream.schema(early.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "b*"))
        .groupBy("user_id")
        .applyInPandasWithState(
            sev._funnel_update_factory(FUNNEL_STEPS),
            outputStructType=sev.FUNNEL_OUT,
            stateStructType=sev._FUNNEL_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("funnel_tws2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {}
    for r in spark.sql("SELECT * FROM funnel_tws2").collect():
        prev = stream_rows.get(r["user_id"])
        if prev is None or r["step_reached"] > prev["step_reached"]:
            stream_rows[r["user_id"]] = r
    batch = {
        r["user_id"]: r
        for r in funnel_user_steps(events_batch, FUNNEL_STEPS).collect()
    }
    assert set(stream_rows) == set(batch)
    for uid, b in batch.items():
        assert stream_rows[uid]["step_reached"] == b["step_reached"], uid


def test_funnel_stream_out_of_order_cross_batch_semantics(spark, tmp_path):
    """Pins the documented out-of-order contract (VERDICT r6 item 8): the
    funnel advances in ARRIVAL order, so a step-1 'view' arriving in a
    LATER batch than an already-seen step-2 'click' advances the user to
    step 1 only — the click was consumed while the user still awaited a
    view and is not replayed.  The batch twin (which sees event-time
    order) reaches step 2 on the same data.  This divergence is the
    intended greedy semantics; event-time-correct streaming feeds must
    put a watermark-delay buffer in front (the _funnel_update_factory
    docstring's caveat), and this test is the executable statement of
    exactly what goes wrong without one."""
    import os

    from national_caseload_data_ingest_spark.operators.behavior import (
        FUNNEL_STEPS,
        funnel_user_steps,
    )
    from national_caseload_data_ingest_spark.streaming import events as sev

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    t = lambda s: __import__("datetime").datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    # batch 0: click@t10 (step-2 type, user still at step 0 → ignored)
    # batch 1: late view@t5 (event-time BEFORE the click's)
    b0 = spark.createDataFrame([(1, t(10), 7, "click", 1.0, "{}")], schema)
    b1 = spark.createDataFrame([(2, t(5), 7, "view", 1.0, "{}")], schema)
    d = str(tmp_path / "ooo")
    b0.coalesce(1).write.parquet(os.path.join(d, "b0"))
    b1.coalesce(1).write.parquet(os.path.join(d, "b1"))

    sdf = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "b*"))
        .groupBy("user_id")
        .applyInPandasWithState(
            sev._funnel_update_factory(FUNNEL_STEPS),
            outputStructType=sev.FUNNEL_OUT,
            stateStructType=sev._FUNNEL_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("funnel_ooo")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_ooo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM funnel_ooo").collect()
    final = max(rows, key=lambda r: r["step_reached"])
    # streaming greedy: only the late view advanced (click pre-dated it in
    # ARRIVAL order while the machine still awaited a view)
    assert final["step_reached"] == 1
    assert final["reached_us"] == int(t(5).timestamp() * 1_000_000)
    # batch twin on the union sees event-time order → view@5 then click@10
    batch = funnel_user_steps(b0.unionAll(b1), FUNNEL_STEPS).collect()
    assert len(batch) == 1 and batch[0]["step_reached"] == 2


def test_funnel_stream_buffered_matches_batch_on_out_of_order_feed(
    spark, tmp_path
):
    """The reorder-buffered funnel fixes EXACTLY the divergence the
    greedy pin above documents: the same out-of-order feed (step-2
    click arriving a batch before the step-1 view it should follow) now
    reaches step 3, matching the batch twin, because events are held in
    the watermark-delay buffer and released in event-time order.  A
    later heartbeat event from another user pushes the watermark past
    the funnel events so the final availableNow flush batch releases
    them (that heartbeat itself stays buffered — inside the delay
    horizon when the stream ends, the documented trade)."""
    import os

    from national_caseload_data_ingest_spark.operators.behavior import (
        FUNNEL_STEPS,
        funnel_user_steps,
    )
    from national_caseload_data_ingest_spark.streaming import events as sev

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    t = lambda s: __import__("datetime").datetime(  # noqa: E731
        2024, 1, 1, 0, s // 60, s % 60
    )
    # same shape as the greedy pin: click@t10 arrives BEFORE view@t5,
    # then purchase@t20; heartbeat@t60 (user 99) drives the watermark
    b0 = spark.createDataFrame([(1, t(10), 7, "click", 1.0, "{}")], schema)
    b1 = spark.createDataFrame([(2, t(5), 7, "view", 1.0, "{}")], schema)
    b2 = spark.createDataFrame(
        [
            (3, t(20), 7, "purchase", 1.0, "{}"),
            (4, t(60), 99, "view", 1.0, "{}"),
        ],
        schema,
    )
    d = str(tmp_path / "ooo_buf")
    b0.coalesce(1).write.parquet(os.path.join(d, "b0"))
    b1.coalesce(1).write.parquet(os.path.join(d, "b1"))
    b2.coalesce(1).write.parquet(os.path.join(d, "b2"))

    sdf = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "b*"))
        .withWatermark("ts", "10 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            sev._funnel_buffered_update_factory(FUNNEL_STEPS),
            outputStructType=sev.FUNNEL_OUT,
            stateStructType=sev._FUNNEL_BUF_STATE,
            outputMode="update",
            timeoutConf="EventTimeTimeout",
        )
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("funnel_buf")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_buf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM funnel_buf").collect()
    by_user = {}
    for r in rows:
        prev = by_user.get(r["user_id"])
        if prev is None or r["step_reached"] > prev["step_reached"]:
            by_user[r["user_id"]] = r
    # user 7 matches the batch twin on the funnel events
    funnel_events = b0.unionAll(b1).unionAll(
        b2.filter("user_id = 7")
    )
    batch = {
        r["user_id"]: r
        for r in funnel_user_steps(funnel_events, FUNNEL_STEPS).collect()
    }
    assert batch[7]["step_reached"] == 3
    assert by_user[7]["step_reached"] == 3
    assert by_user[7]["reached_us"] == int(t(20).timestamp() * 1_000_000)
    # the heartbeat user's own event never cleared the watermark
    assert 99 not in by_user


def test_stream_stream_outer_join_matched_equals_batch_and_flushes_nulls(
    spark, events_batch
):
    """LEFT OUTER stream-stream interval join: matched rows equal the
    batch twin's matched rows exactly; null-padded non-converter rows
    are emitted once the purchase-side watermark passes the signup's
    hour (availableNow runs the no-data flush batch), so every signup
    older than the watermark cutoff appears exactly once."""
    import datetime

    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.streaming.events import (
        correlate_signup_purchase_outer,
        signup_purchase_outer_stream,
    )

    sdf = signup_purchase_outer_stream(spark, EVENTS_DIR)
    q = (
        sdf.writeStream.format("memory")
        .queryName("ssouter_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ssouter_mem").collect()
    want = correlate_signup_purchase_outer(
        events_batch.filter(F.col("event_type") == "signup"),
        events_batch.filter(F.col("event_type") == "purchase"),
    ).collect()

    key = lambda r: (r["user_id"], r["signup_ts"], r["purchase_ts"])  # noqa: E731
    got_matched = sorted(key(r) for r in got if r["converted"])
    want_matched = sorted(key(r) for r in want if r["converted"])
    assert got_matched == want_matched and len(got_matched) > 0

    # null rows: the batch twin's non-converters whose interval closed
    # before the final GLOBAL watermark — the min over both sides'
    # (max event time - delay), because each stream watermarks its own
    # filtered event flow (signups end hours before purchases here)
    maxes = [
        events_batch.filter(F.col("event_type") == t)
        .agg(F.max("ts"))
        .collect()[0][0]
        for t in ("signup", "purchase")
    ]
    cutoff = min(maxes) - datetime.timedelta(minutes=10)
    want_nulls = sorted(
        key(r)
        for r in want
        if not r["converted"]
        and r["signup_ts"] + datetime.timedelta(hours=1) < cutoff
    )
    got_nulls = sorted(key(r) for r in got if not r["converted"])
    assert want_nulls  # fixture must actually exercise the flush path
    assert set(want_nulls) <= set(got_nulls)  # all closed intervals flushed
    assert set(got_nulls) <= {key(r) for r in want if not r["converted"]}


def test_lsh_frozen_oracle_matches_kernel(spark):
    """The DuckDB replay of the frozen-permutation LSH pipeline must
    reproduce the Arrow kernel's candidate pairs exactly on the sf0.001
    corpus — the in-repo form of the driver's oracle gate, including the
    empty-text fallback and distinct-bigram shingling edge cases."""
    import duckdb

    from national_caseload_data_ingest_spark.streaming.documents import (
        streaming_lsh_frozen_candidates,
    )
    from national_caseload_data_ingest_spark.operators.registry import (
        ORACLES,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["band"], r["doc_a"], r["doc_b"])
        for r in streaming_lsh_frozen_candidates(spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            ORACLES["streaming_lsh_frozen_candidates"]
        ).fetchall()
    )
    assert got == want
    assert got  # the corpus must actually produce candidate pairs

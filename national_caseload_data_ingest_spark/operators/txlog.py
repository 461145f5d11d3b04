"""Transaction-log table layout: versioned snapshots, time travel, and
checkpoint compaction — the lakehouse ACID-table convention (public
Delta Lake / Iceberg model), built from plain JSON-lines commits over
plain parquet data files.

The reference engine's catalog story is Glue/Athena DDL + MSCK
(``/root/reference/ncd/athena.py``) — partition registration with no
notion of table VERSIONS: a reader racing the loader sees half-written
state, and yesterday's snapshot is unrecoverable once overwritten.  The
transaction-log layout is the standard cure and a first-class capability
of a 100 TB training-data pipeline (reproducibility: "train on the exact
corpus snapshot of version 41").

Layout (one directory per table)::

    <table>/_log/00000000000000000000.json     commit 0
    <table>/_log/00000000000000000001.json     commit 1
    <table>/_log/00000000000000000007.checkpoint.json
    <table>/_log/_last_checkpoint               -> {"version": 7}
    <table>/<data files>.parquet                immutable, append-only

Each commit file is JSON-lines, one ACTION per line:

* ``{"add": {"path": p, "numRecords": n}}`` — data file joins the table;
* ``{"remove": {"path": p}}`` — data file leaves the table (tombstone;
  the bytes stay for time travel);
* ``{"commitInfo": {...}}`` — free-form audit metadata (ignored by
  replay).

Snapshot(V) = replay commits 0..V in order: adds insert, removes delete;
removing an absent path or re-adding a live one raises (the log is
corrupt — losing that check silently doubles or drops files).  A
CHECKPOINT materializes the live add-set at some version so replay cost
is bounded by the checkpoint interval, not table age — ``snapshot``
starts from the newest checkpoint ≤ the requested version.

Scale shape: the log is METADATA — kilobytes per commit, parsed on the
driver (the same shape as Delta/Iceberg, whose logs are also
driver/coordinator-read); the DATA path stays fully distributed
(``spark.read.parquet(*live_files)``, so column pruning and predicate
pushdown hit the scan exactly as for a plain parquet table).  Data files
are immutable and append-only, which is what makes time travel free:
old versions are just different live-sets over the same bytes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables, query

_LOG = "_log"


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, _LOG)


def _commit_file(table_path: str, version: int) -> str:
    return os.path.join(_log_dir(table_path), f"{version:020d}.json")


def txlog_commit(
    table_path: str, version: int, actions: list[dict],
    overwrite: bool = False,
) -> None:
    """Write commit ``version`` (JSON-lines, one action per line).
    Commits must be dense: version V requires V-1 to exist (V>0).

    Creation is EXCLUSIVE (``O_EXCL``): two writers racing to commit the
    same version get one winner and one ``FileExistsError`` — the
    optimistic-concurrency primitive every lakehouse log relies on (the
    loser re-reads the new snapshot, revalidates, and retries at V+1).
    ``overwrite=True`` bypasses the check for test fixtures only."""
    os.makedirs(_log_dir(table_path), exist_ok=True)
    if version > 0 and not os.path.exists(
        _commit_file(table_path, version - 1)
    ):
        raise ValueError(
            f"txlog: commit {version} without commit {version - 1}"
        )
    path = _commit_file(table_path, version)
    flags = os.O_WRONLY | os.O_CREAT | os.O_TRUNC
    if not overwrite:
        flags |= os.O_EXCL
    try:
        fd = os.open(path, flags)
    except FileExistsError:
        raise FileExistsError(
            f"txlog: concurrent commit conflict at version {version} "
            "(another writer won; re-read the snapshot and retry)"
        ) from None
    with os.fdopen(fd, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def txlog_latest_version(table_path: str) -> int:
    versions = [
        int(n[:20])
        for n in os.listdir(_log_dir(table_path))
        if n.endswith(".json") and not n.endswith(".checkpoint.json")
        and n[:20].isdigit()
    ]
    # after retention truncates old commits, the newest checkpoint may
    # BE the latest version (no commits after it)
    ckpt = _read_checkpoint_pointer(table_path)
    if ckpt is not None:
        versions.append(ckpt)
    if not versions:
        raise ValueError("txlog: empty log")
    return max(versions)


def _read_checkpoint_pointer(table_path: str) -> int | None:
    ptr = os.path.join(_log_dir(table_path), "_last_checkpoint")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(json.load(f)["version"])


def _apply_commit(live: dict[str, dict], table_path: str,
                  version: int) -> None:
    with open(_commit_file(table_path, version)) as f:
        for line in f:
            if not line.strip():
                continue
            try:
                action = json.loads(line)
            except json.JSONDecodeError:
                raise ValueError(
                    f"txlog: corrupt action in commit {version}"
                ) from None
            if "add" in action:
                p = action["add"]["path"]
                if p in live:
                    raise ValueError(
                        f"txlog: commit {version} re-adds live file {p}"
                    )
                live[p] = action["add"]
            elif "remove" in action:
                p = action["remove"]["path"]
                if p not in live:
                    raise ValueError(
                        f"txlog: commit {version} removes absent file {p}"
                    )
                del live[p]
            elif "commitInfo" in action:
                continue
            else:
                raise ValueError(
                    f"txlog: unknown action in commit {version}: "
                    f"{sorted(action)}"
                )


def txlog_live_files(
    table_path: str, version: int | None = None
) -> list[dict]:
    """The live add-set at ``version`` (default: latest), replaying from
    the newest checkpoint ≤ version when one exists."""
    latest = txlog_latest_version(table_path)
    if version is None:
        version = latest
    if version > latest or version < 0:
        raise ValueError(
            f"txlog: version {version} out of range (latest {latest})"
        )
    live: dict[str, dict] = {}
    start = 0
    ckpt = _read_checkpoint_pointer(table_path)
    if ckpt is not None and ckpt <= version:
        ckpt_file = os.path.join(
            _log_dir(table_path), f"{ckpt:020d}.checkpoint.json"
        )
        with open(ckpt_file) as f:
            for line in f:
                if line.strip():
                    add = json.loads(line)["add"]
                    live[add["path"]] = add
        start = ckpt + 1
    for v in range(start, version + 1):
        _apply_commit(live, table_path, v)
    return sorted(live.values(), key=lambda a: a["path"])


def txlog_checkpoint(table_path: str, version: int | None = None) -> int:
    """Materialize the live add-set at ``version`` (default latest) as a
    checkpoint and advance ``_last_checkpoint``.  Returns the version.
    Bounds replay cost: snapshot(V) afterwards parses at most
    V - checkpoint commits instead of V."""
    if version is None:
        version = txlog_latest_version(table_path)
    current = _read_checkpoint_pointer(table_path)
    if current is not None and version < current:
        # moving the pointer BACKWARDS would lengthen every later
        # snapshot's replay tail and mislead vacuum's retention math
        raise ValueError(
            f"txlog: checkpoint version {version} is behind the current "
            f"_last_checkpoint pointer {current}; refusing to regress"
        )
    adds = txlog_live_files(table_path, version)
    ckpt_file = os.path.join(
        _log_dir(table_path), f"{version:020d}.checkpoint.json"
    )
    with open(ckpt_file, "w") as f:
        for add in adds:
            f.write(json.dumps({"add": add}) + "\n")
    with open(os.path.join(_log_dir(table_path), "_last_checkpoint"),
              "w") as f:
        json.dump({"version": version}, f)
    return version


def txlog_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """The table AS OF ``version`` (default: latest) as a DataFrame.
    Metadata replay is driver-side (kilobytes); the data read is a plain
    distributed parquet scan over the live files, so pushdown/pruning
    behave exactly as for a static table."""
    adds = txlog_live_files(table_path, version)
    if not adds:
        raise ValueError("txlog: snapshot has no live files")
    paths = [os.path.join(table_path, a["path"]) for a in adds]
    return spark.read.parquet(*paths)


def _write_data_file(df: DataFrame, table_path: str, name: str) -> dict:
    """One immutable data file (a single-file parquet dir keyed by
    ``name``) + its add action.  Single-file per action keeps the demo
    fixture deterministic; production writers add one action per
    emitted part-file, same log semantics.

    ``numRecords`` comes from the WRITTEN files' parquet footers (r14):
    the previous ``df.count()`` re-ran the whole upstream plan once per
    data file — a second full scan+filter per commit — where the footer
    already carries the exact row count of the bytes that actually
    landed (which is also the more faithful source: the log should
    describe the file, not a recomputation of its lineage)."""
    import glob  # noqa: PLC0415

    import pyarrow.parquet as pq  # noqa: PLC0415

    sub = os.path.join(table_path, name)
    df.coalesce(1).write.mode("overwrite").parquet(sub)
    n = sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(sub, "*.parquet"))
    )
    return {"add": {"path": name, "numRecords": n}}


def _footer_meta(
    data_dir: str, stats_cols: tuple[str, ...] = ()
) -> tuple[int, dict]:
    """(numRecords, {col: {min, max}}) of every parquet part under
    ``data_dir``, from the footers alone — the bytes that actually
    landed, no recomputation of the writing plan."""
    import glob  # noqa: PLC0415

    import pyarrow.parquet as pq  # noqa: PLC0415

    n = 0
    stats: dict[str, dict] = {}
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        md = pq.ParquetFile(p).metadata
        n += md.num_rows
        if not stats_cols:
            continue
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in stats_cols:
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    raise ValueError(
                        f"txlog: parquet footer of {p} lacks min/max "
                        f"statistics for {c!r}; cannot register stats"
                    )
                cur = stats.setdefault(c, {"min": st.min, "max": st.max})
                cur["min"] = min(cur["min"], st.min)
                cur["max"] = max(cur["max"], st.max)
    return n, stats


def _write_bucketed_data_files(
    df: DataFrame,
    table_path: str,
    bucket_col,
    names: dict[int, str],
    stats_cols: tuple[str, ...] = (),
) -> dict[int, dict]:
    """Every bucket of ``df`` written in ONE scan (r14, guide §1.2): the
    previous per-bucket ``filter().coalesce(1).write()`` loop re-scanned
    the source once per bucket and then re-scanned each bucket again for
    ``numRecords`` — 8 jobs for a 4-bucket fixture.  A single
    ``partitionBy`` write on the derived bucket column produces the same
    per-bucket single data files (the partition column is dropped from
    the files, so schemas are unchanged), and counts + min/max stats
    come from the written parquet FOOTERS — the more faithful source:
    the log should describe the file, not a recomputation of its
    lineage.  Bucket values absent from ``names`` are discarded,
    matching the filters this replaces; a bucket in ``names`` that
    received no rows raises (the old path wrote an empty file; an empty
    bucket here means the fixture's bucketing expression is wrong).
    Returns ``{bucket_value: add action}`` — callers commit the actions
    in whatever order/grouping their log history needs."""
    import shutil  # noqa: PLC0415

    stage = os.path.join(table_path, "__stage")
    (
        df.withColumn("__bucket", bucket_col)
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(stage)
    )
    actions: dict[int, dict] = {}
    for val, name in names.items():
        src = os.path.join(stage, f"__bucket={val}")
        if not os.path.isdir(src):
            raise ValueError(
                f"txlog: bucket {val} ({name!r}) received no rows — "
                "the bucketing expression does not cover it"
            )
        dst = os.path.join(table_path, name)
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst)
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                shutil.move(os.path.join(src, f), os.path.join(dst, f))
        n, stats = _footer_meta(dst, stats_cols)
        action = {"add": {"path": name, "numRecords": n}}
        if stats_cols:
            action["add"]["stats"] = {
                c: {"min": int(v["min"]), "max": int(v["max"])}
                for c, v in stats.items()
            }
        actions[val] = action
    shutil.rmtree(stage, ignore_errors=True)
    return actions


@query(
    "txlog_time_travel",
    oracle="""
    SELECT 1 AS version, o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
    FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 2 AS version, o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
    FROM orders WHERE o_orderkey % 4 IN (0, 2, 3)
    GROUP BY o_orderpriority
    """,
)
def txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log snapshot + time travel E2E: build a 3-commit
    table from orders (v0 adds buckets key%4∈{0,1}; v1 adds bucket 2
    and CHECKPOINTS; v2 removes bucket 1 and adds bucket 3 — a
    compaction-shaped rewrite), then aggregate the snapshot AS OF v1
    (replayed THROUGH the checkpoint) and AS OF v2 (checkpoint + tail
    commit).  The oracle restates both versions as predicates over raw
    orders, so a wrong live-set at either version — a missed tombstone,
    a double-add, a checkpoint that froze the wrong state — changes
    counts/sums and breaks the hash."""
    import hashlib  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    o = load_tables(spark, sf_dir, "orders")["orders"]
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    table = os.path.join(
        tempfile.gettempdir(), "ncd_spark_txlog", f"{tag}-orders"
    )
    shutil.rmtree(table, ignore_errors=True)

    k = F.col("o_orderkey")
    # one scan writes all four bucket files (see _write_bucketed_data_files)
    adds = _write_bucketed_data_files(
        o, table, k % 4, {b: f"b{b}" for b in range(4)}
    )
    txlog_commit(table, 0, [
        adds[0], adds[1], {"commitInfo": {"operation": "WRITE"}},
    ])
    txlog_commit(table, 1, [adds[2]])
    txlog_checkpoint(table, 1)
    txlog_commit(table, 2, [
        {"remove": {"path": "b1"}},
        adds[3],
        {"commitInfo": {"operation": "REPLACE"}},
    ])

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.groupBy(
            F.lit(version).alias("version"),
            F.col("o_orderpriority").alias("priority"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("total"),
        )

    v1 = txlog_snapshot(spark, table, version=1)
    v2 = txlog_snapshot(spark, table)  # latest
    return agg(v1, 1).unionAll(agg(v2, 2))


def txlog_compact(
    spark: SparkSession,
    table_path: str,
    target_records: int,
    name_prefix: str = "compact",
) -> int:
    """OPTIMIZE: bin-pack small live files into ~``target_records``-row
    rewrites and commit remove+add atomically.  Returns the new version
    (or the current one if nothing qualified).

    Bin assignment is deterministic next-fit over the live-set in path
    order using the log's OWN ``numRecords`` metadata — no data scan is
    needed to PLAN the compaction, only to execute it (the same
    metadata-driven shape as Delta's OPTIMIZE).  Files already at or
    above the target stay untouched.  Readers of older versions are
    unaffected: the rewritten bytes land in NEW files, the old ones are
    only tombstoned."""
    latest = txlog_latest_version(table_path)
    adds = txlog_live_files(table_path, latest)
    bins: list[list[dict]] = []
    cur: list[dict] = []
    cur_n = 0
    for a in adds:
        n = a["numRecords"]
        if n >= target_records:
            continue
        if cur and cur_n + n > target_records:
            bins.append(cur)
            cur, cur_n = [], 0
        cur.append(a)
        cur_n += n
    if cur:
        bins.append(cur)
    # only multi-file bins shrink the table; singletons are already
    # as compact as they can get
    bins = [b for b in bins if len(b) > 1]
    if not bins:
        return latest
    actions: list[dict] = [{"commitInfo": {"operation": "OPTIMIZE"}}]
    for i, group in enumerate(bins):
        paths = [os.path.join(table_path, a["path"]) for a in group]
        df = spark.read.parquet(*paths)
        actions.append(
            _write_data_file(df, table_path, f"{name_prefix}-{i}")
        )
        actions.extend({"remove": {"path": a["path"]}} for a in group)
    txlog_commit(table_path, latest + 1, actions)
    return latest + 1


def txlog_vacuum(table_path: str) -> list[str]:
    """Delete data files no LIVE version references anymore — i.e.
    files absent from the latest live-set AND not needed by any earlier
    version still reachable from the log.  With the full log retained,
    every version is reachable, so vacuum only removes files never
    referenced by any commit's surviving history after the log itself
    was truncated; here it removes files tombstoned at or before the
    newest CHECKPOINT whose predecessor commits were deleted (the
    standard retention contract: vacuuming gives up time travel older
    than the checkpoint).  Returns the deleted paths."""
    import shutil  # noqa: PLC0415

    ckpt = _read_checkpoint_pointer(table_path)
    latest = txlog_latest_version(table_path)
    # determine which versions are still replayable
    reachable: set[str] = set()
    start = 0
    if ckpt is not None and not os.path.exists(
        _commit_file(table_path, 0)
    ):
        start = ckpt
    for v in range(start, latest + 1):
        for a in txlog_live_files(table_path, v):
            reachable.add(a["path"])
    deleted = []
    for entry in sorted(os.listdir(table_path)):
        if entry == _LOG or entry in reachable:
            continue
        full = os.path.join(table_path, entry)
        if os.path.isdir(full):
            shutil.rmtree(full)
            deleted.append(entry)
    return deleted


def txlog_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Change data feed: the row-level difference between two snapshots
    as (row columns..., _change_type) — ``insert`` for rows in files
    ADDED between the versions, ``delete`` for rows in files REMOVED.
    File-granular diffing is exact because data files are immutable: a
    logical update is a remove+add pair and surfaces as delete+insert,
    the standard CDF contract.

    Scale: the diff is computed on METADATA (two live-sets), and only
    the CHANGED files are scanned — an incremental consumer reading
    versions V→V+1 touches exactly the new commit's files, never the
    table."""
    before = {a["path"] for a in txlog_live_files(table_path, from_version)}
    after = {a["path"] for a in txlog_live_files(table_path, to_version)}
    added = sorted(after - before)
    removed = sorted(before - after)
    parts = []
    if added:
        parts.append(
            spark.read.parquet(
                *[os.path.join(table_path, p) for p in added]
            ).withColumn("_change_type", F.lit("insert"))
        )
    if removed:
        parts.append(
            spark.read.parquet(
                *[os.path.join(table_path, p) for p in removed]
            ).withColumn("_change_type", F.lit("delete"))
        )
    if not parts:
        raise ValueError(
            f"txlog: no changes between versions {from_version} and "
            f"{to_version}"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def txlog_scan(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    min_max_filter: tuple[str, int, int] | None = None,
) -> tuple[DataFrame, int, int]:
    """Stats-based data skipping: scan the snapshot, PRUNING whole files
    whose per-file (min, max) statistics — carried in their add actions
    — cannot intersect ``min_max_filter = (column, lo, hi)``.  Returns
    (DataFrame, files_read, files_total).  The DataFrame still applies
    the residual row filter, so pruning is a pure optimization: the
    result is identical with or without stats.

    This is the Iceberg/Delta data-skipping model: at 100 TB the
    min/max prune decides whether a selective query reads 3 files or
    30,000 — the log's metadata does the work of a coarse index.  Files
    whose add action carries NO stats are conservatively read (never
    silently skipped)."""
    adds = txlog_live_files(table_path, version)
    total = len(adds)
    if min_max_filter is None:
        df = txlog_snapshot(spark, table_path, version)
        return df, total, total
    col, lo, hi = min_max_filter
    keep = []
    for a in adds:
        stats = a.get("stats", {}).get(col)
        if stats is None or (stats["min"] <= hi and stats["max"] >= lo):
            keep.append(a)
    if not keep:
        raise ValueError("txlog: every file pruned; empty scan")
    paths = [os.path.join(table_path, a["path"]) for a in keep]
    df = spark.read.parquet(*paths).filter(
        (F.col(col) >= lo) & (F.col(col) <= hi)
    )
    return df, len(keep), total


def write_data_file_with_stats(
    df: DataFrame, table_path: str, name: str, stats_cols: list[str]
) -> dict:
    """``_write_data_file`` plus per-file min/max stats for the named
    columns — ONE aggregate over the frame being written (the writer
    already holds the rows; collecting 2·k scalars costs nothing at any
    scale)."""
    action = _write_data_file(df, table_path, name)
    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    row = df.agg(*aggs).collect()[0]
    action["add"]["stats"] = {
        c: {"min": int(row[f"min_{c}"]), "max": int(row[f"max_{c}"])}
        for c in stats_cols
    }
    return action


@query(
    "txlog_change_feed",
    oracle="""
    SELECT o_orderkey, o_orderpriority AS priority, 'insert' AS _change_type
    FROM orders WHERE o_orderkey % 4 = 3
    UNION ALL
    SELECT o_orderkey, o_orderpriority, 'delete'
    FROM orders WHERE o_orderkey % 4 = 1
    """,
)
def txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed extraction between two table versions: the
    ``txlog_time_travel`` fixture's v1→v2 transition removed bucket
    key%4==1 and added bucket key%4==3, so the feed must be exactly
    those rows tagged delete/insert — a missed tombstone or a diff that
    rescans unchanged files (bucket 0/2 rows appearing) breaks the
    hash.  Metadata diff + a scan of ONLY the changed files."""
    import hashlib  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    o = load_tables(spark, sf_dir, "orders")["orders"]
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    table = os.path.join(
        tempfile.gettempdir(), "ncd_spark_txlog", f"{tag}-cdf"
    )
    shutil.rmtree(table, ignore_errors=True)
    k = F.col("o_orderkey")
    # one scan writes all four bucket files (see _write_bucketed_data_files)
    adds = _write_bucketed_data_files(
        o, table, k % 4, {b: f"b{b}" for b in range(4)}
    )
    txlog_commit(table, 0, [adds[0], adds[1]])
    txlog_commit(table, 1, [adds[2]])
    txlog_commit(table, 2, [
        {"remove": {"path": "b1"}},
        adds[3],
    ])
    feed = txlog_changes(spark, table, 1, 2)
    return feed.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        "_change_type",
    )


@query(
    "txlog_data_skipping",
    oracle="""
    WITH nn AS (SELECT COUNT(*) // 4 AS q FROM orders)
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total,
           CAST(1 AS BIGINT) AS files_read,
           CAST(4 AS BIGINT) AS files_total
    FROM orders, nn
    WHERE o_orderkey >= nn.q AND o_orderkey <= 2 * nn.q - 1
    GROUP BY o_orderpriority
    """,
)
def txlog_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based data skipping (the Iceberg/Delta min-max model):
    orders written as four RANGE-bucketed files whose add actions carry
    per-file (min, max) o_orderkey stats, then a selective range scan
    that must PRUNE three of the four files from metadata alone — the
    measured (files_read, files_total) = (1, 4) travels into the
    hash-checked result, so a skipping bug (reading extra files would
    flip files_read; skipping a needed file would lose rows) breaks the
    oracle either way.  The residual row filter keeps pruning a pure
    optimization: results are identical with stats absent."""
    import hashlib  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    o = load_tables(spark, sf_dir, "orders")["orders"]
    n = o.count()
    q = n // 4
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    table = os.path.join(
        tempfile.gettempdir(), "ncd_spark_txlog", f"{tag}-skip"
    )
    shutil.rmtree(table, ignore_errors=True)
    k = F.col("o_orderkey")
    # one scan writes all four range files + footer-derived stats; rows
    # outside [0, 4q) are discarded exactly as the old per-range filters
    # discarded them (their bucket value is absent from the name map)
    adds = _write_bucketed_data_files(
        o.filter(k >= 0),
        table,
        F.expr(f"CAST(o_orderkey DIV {q} AS INT)"),  # exact integer div
        {i: f"r{i}" for i in range(4)},
        stats_cols=("o_orderkey",),
    )
    txlog_commit(table, 0, [adds[i] for i in range(4)])
    df, files_read, files_total = txlog_scan(
        spark, table, min_max_filter=("o_orderkey", q, 2 * q - 1)
    )
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    ).withColumn("files_read", F.lit(files_read).cast("long")) \
     .withColumn("files_total", F.lit(files_total).cast("long"))


# -- Bloom file index (point-lookup skipping) -------------------------------

_BLOOM_BITS = 1 << 13  # 1 KiB per file per column — metadata-sized
_BLOOM_HASHES = 3


def _bloom_probe_py(value, i: int, m: int) -> int:
    """Probe position i for ``value`` — md5-prefix arithmetic computable
    identically on the driver (hashlib, for skip decisions) and on
    executors (Spark md5/conv, for bitmap builds)."""
    import hashlib  # noqa: PLC0415

    h = hashlib.md5(f"{value}:{i}".encode()).hexdigest()[:15]
    return int(h, 16) % m


def _bloom_probe_col(col, i: int, m: int):
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(col.cast("string"), F.lit(f":{i}"))
                    .cast("binary")
                ),
                1, 15,
            ),
            16, 10,
        ).cast("long") % m
    )


def _build_bloom(df: DataFrame, col: str, m: int, k: int) -> list[int]:
    """Distributed bitmap build: explode probe positions, fold bit
    masks per 64-bit word, collect only the m/64 finished words (the
    decontaminate_bloom pattern — driver cost independent of rows)."""
    words = (
        df.select(
            F.explode(
                F.array(*[
                    _bloom_probe_col(F.col(col), i, m) for i in range(k)
                ])
            ).alias("pos")
        )
        .select(
            (F.col("pos") / F.lit(64)).cast("int").alias("w"),
            (F.col("pos") % F.lit(64)).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.col("b"))
            ).alias("mask")
        )
        .collect()
    )
    arr = [0] * (m // 64)
    for r in words:
        arr[r["w"]] = r["mask"]
    return arr


def write_data_file_with_bloom(
    df: DataFrame,
    table_path: str,
    name: str,
    bloom_col: str,
    bloom_bits: int = _BLOOM_BITS,
    bloom_hashes: int = _BLOOM_HASHES,
) -> dict:
    """``_write_data_file`` plus a per-file Bloom bitmap over
    ``bloom_col`` — the point-lookup complement to min/max stats:
    min/max cannot prune a point probe on a column files are NOT sorted
    by (every file's range covers everything); a per-file bloom prunes
    it to the files that MIGHT hold the key, with no false negatives by
    construction.  Bitmap = bloom_bits/8 bytes of JSON metadata per
    file (Delta's bloom index ships the same shape as sidecar files)."""
    action = _write_data_file(df, table_path, name)
    action["add"]["bloom"] = {
        bloom_col: {
            "m": bloom_bits,
            "k": bloom_hashes,
            "words": _build_bloom(df, bloom_col, bloom_bits, bloom_hashes),
        }
    }
    return action


def txlog_point_scan(
    spark: SparkSession,
    table_path: str,
    col: str,
    value,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Point lookup with Bloom skipping: read only the live files whose
    bloom over ``col`` might contain ``value`` (files without a bloom
    are conservatively read).  Returns (DataFrame, files_read,
    files_total); the DataFrame applies the exact equality filter, so
    skipping is a pure optimization."""
    adds = txlog_live_files(table_path, version)
    total = len(adds)
    keep = []
    for a in adds:
        meta = a.get("bloom", {}).get(col)
        if meta is None:
            keep.append(a)
            continue
        m, kk, words = meta["m"], meta["k"], meta["words"]
        hit = True
        for i in range(kk):
            pos = _bloom_probe_py(value, i, m)
            if not (words[pos // 64] >> (pos % 64)) & 1:
                hit = False
                break
        if hit:
            keep.append(a)
    if not keep:
        # a bloom has no false negatives: no candidate file = no row
        empty = txlog_snapshot(spark, table_path, version) \
            .filter(F.lit(False))
        return empty, 0, total
    paths = [os.path.join(table_path, a["path"]) for a in keep]
    df = spark.read.parquet(*paths).filter(F.col(col) == value)
    return df, len(keep), total


def txlog_delete_where(
    spark: SparkSession,
    table_path: str,
    col: str,
    values: list,
) -> int:
    """Copy-on-write row deletion (the GDPR/right-to-be-forgotten
    primitive): delete every row whose ``col`` is in ``values``,
    rewriting ONLY the files that can contain them — candidate files
    found by per-file Bloom metadata when present (point-prunable) and
    min/max stats otherwise, never a full-table rewrite.  Touched files
    are tombstoned and replaced by their filtered rewrites in one
    commit; untouched files and all older versions are byte-identical.
    Returns the new version (or the current one if no file matched).

    At 100 TB this is the difference between rewriting ~everything and
    rewriting the handful of files a user's rows live in — which is why
    the bloom/stats metadata pays for itself on the DELETE path, not
    just reads."""
    latest = txlog_latest_version(table_path)
    adds = txlog_live_files(table_path, latest)
    candidates = []
    for a in adds:
        meta = a.get("bloom", {}).get(col)
        stats = a.get("stats", {}).get(col)
        if meta is not None:
            m, kk, words = meta["m"], meta["k"], meta["words"]
            hit = any(
                all(
                    (words[(p := _bloom_probe_py(v, i, m)) // 64]
                     >> (p % 64)) & 1
                    for i in range(kk)
                )
                for v in values
            )
        elif stats is not None:
            hit = any(stats["min"] <= v <= stats["max"] for v in values)
        else:
            hit = True  # no metadata: conservative rewrite candidate
        if hit:
            candidates.append(a)
    if not candidates:
        return latest
    actions: list[dict] = [
        {"commitInfo": {"operation": "DELETE", "column": col}}
    ]
    touched = 0
    for a in candidates:
        path = os.path.join(table_path, a["path"])
        df = spark.read.parquet(path)
        kept = df.filter(~F.col(col).isin(values))
        n_kept = kept.count()
        if n_kept == a["numRecords"]:
            continue  # bloom false positive: nothing to rewrite
        touched += 1
        actions.append({"remove": {"path": a["path"]}})
        if n_kept:
            new_name = f"{a['path']}-del{latest + 1}"
            sub = os.path.join(table_path, new_name)
            kept.coalesce(1).write.mode("overwrite").parquet(sub)
            new_add = {"path": new_name, "numRecords": n_kept}
            if a.get("bloom", {}).get(col) is not None:
                meta = a["bloom"][col]
                new_add["bloom"] = {col: {
                    "m": meta["m"], "k": meta["k"],
                    "words": _build_bloom(kept, col, meta["m"], meta["k"]),
                }}
            if a.get("stats", {}).get(col) is not None:
                row = kept.agg(
                    F.min(col).alias("mn"), F.max(col).alias("mx")
                ).collect()[0]
                new_add["stats"] = {
                    col: {"min": int(row["mn"]), "max": int(row["mx"])}
                }
            actions.append({"add": new_add})
    if not touched:
        return latest
    txlog_commit(table_path, latest + 1, actions)
    return latest + 1


@query(
    "txlog_footer_skipping",
    oracle="""
    WITH nn AS (SELECT COUNT(*) // 4 AS q FROM orders)
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total,
           CAST(1 AS BIGINT) AS files_read,
           CAST(4 AS BIGINT) AS files_total
    FROM orders, nn
    WHERE o_orderkey >= nn.q AND o_orderkey <= 2 * nn.q - 1
    GROUP BY o_orderpriority
    """,
)
def txlog_footer_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats BACKFILL from parquet footers: the range-bucketed orders
    table is committed WITHOUT any stats metadata, then
    ``txlog_backfill_stats`` reads each live file's FOOTER with the
    native Thrift-compact walker (`sources/parquetmeta.py` — a
    metadata-only maintenance pass over files SPARK wrote, a third
    writer beside the pyarrow/Spark cross-checks in tests) and commits
    the min/max stats as a new version — after which the same selective
    scan as ``txlog_data_skipping`` must prune 3 of 4 files from
    metadata alone.  A footer mis-parse yields wrong stats, which
    either reads extra files (files_read flips) or loses rows (the
    residual filter can't restore a wrongly-skipped file); both break
    the hash."""
    import hashlib  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from national_caseload_data_ingest_spark.sources.parquetmeta import (  # noqa: PLC0415
        txlog_backfill_stats,
    )

    o = load_tables(spark, sf_dir, "orders")["orders"]
    n = o.count()
    q = n // 4
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    table = os.path.join(
        tempfile.gettempdir(), "ncd_spark_txlog", f"{tag}-footer"
    )
    shutil.rmtree(table, ignore_errors=True)
    k = F.col("o_orderkey")
    actions = []
    for i in range(4):
        part = o.filter((k >= i * q) & (k < (i + 1) * q))
        actions.append(_write_data_file(part, table, f"r{i}"))
    txlog_commit(table, 0, actions)

    v = txlog_backfill_stats(table, ["o_orderkey"])
    if v == 0:
        raise ValueError("txlog: backfill committed nothing")
    df, files_read, files_total = txlog_scan(
        spark, table, min_max_filter=("o_orderkey", q, 2 * q - 1)
    )
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    ).withColumn("files_read", F.lit(files_read).cast("long")) \
     .withColumn("files_total", F.lit(files_total).cast("long"))

"""Data-layout and routing operators: Z-order clustering keys and
Highest-Random-Weight (rendezvous) shard assignment, plus the table
layout writers and maintenance calls built on :class:`SparkCatalog`
(bucketed, range-clustered and Z-ordered writes, compaction, ANALYZE).

Both are the *deterministic key computations* behind physical data
management at scale — Z-ordering is what lakehouse ``OPTIMIZE ZORDER BY``
clusters files with (multi-column range queries then prune most files
because the interleaved key preserves locality in every dimension), and
HRW hashing is the stateless router that assigns documents to shards /
embedding-index partitions with minimal movement when the shard set
changes (only keys whose argmax shard disappeared move — the classic
rendezvous property, Thaler & Ravishankar 1998).

Both kernels are pure integer/hash column algebra — no UDF, no shuffle
beyond what the caller asks for — so at 100 TB they pipeline with the
scan that reads the data being laid out.

The reference (/root/reference/ncd/) partitions output only by district
(catalog.py twin); these operators extend the layout band to
multi-dimensional clustering and stateless routing.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.catalog import PARTITION_COLUMN, SparkCatalog
from national_caseload_data_ingest_spark.operators.registry import load_tables, query

Z_BITS = 16  # bits per dimension interleaved into the 32-bit z-value
Z_DIM_MASK = (1 << Z_BITS) - 1
# Bucket on the HIGH z-bits that the test dims actually populate
# (custkey < 2^14, day-number < 2^12 at the largest test SF, so the
# interleaved key tops out near 2^27; a 32-16 shift would put every row
# in bucket 0 — vacuous).  A real writer derives this shift from column
# stats the same way.
Z_BUCKET_SHIFT = 22


def _z_terms(col: str, offset: int, bits: int = Z_BITS, dims: int = 2) -> str:
    """SQL for one dimension's interleave: bit i of ``col`` lands at
    position dims*i + offset.  Shared verbatim by both engines.  The bit is
    MULTIPLIED by a precomputed 64-bit literal rather than left-shifted:
    ``1 << 31`` overflows DuckDB's INT32 literal arithmetic, while a
    big integer literal parses as BIGINT in both engines."""
    return " + ".join(
        f"((({col} >> {i}) & 1) * {1 << (dims * i + offset)})"
        for i in range(bits)
    )


_Z_EXPR = f"({_z_terms('zx', 0)}) + ({_z_terms('zy', 1)})"


@query(
    "zorder_orders_layout",
    oracle=f"""
    WITH dims AS (
        SELECT o_orderkey,
               o_custkey % {Z_DIM_MASK + 1} AS zx,
               datediff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) % {Z_DIM_MASK + 1} AS zy
        FROM orders
    )
    SELECT o_orderkey, zx, zy,
           CAST({_Z_EXPR} AS BIGINT) AS zvalue,
           CAST(({_Z_EXPR}) >> {Z_BUCKET_SHIFT} AS INTEGER) AS zbucket
    FROM dims
    """,
)
def zorder_orders_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day): bit i
    of each dimension interleaves to positions 2i / 2i+1, so records
    close in EITHER dimension stay close in the single sort key — the
    property that lets one file layout serve range predicates on both
    columns (a lexicographic sort serves only its leading column).
    ``zbucket`` (top {64} z-ranges) is what a writer would
    ``repartitionByRange`` on before writing files.

    The interleave is {Z_BITS} generated shift-and-mask terms per
    dimension — pure codegen integer algebra from one shared SQL string,
    so the engines cannot disagree.  Narrow projection, zero shuffles;
    at 100 TB the cost is the scan itself."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    dims = o.select(
        "o_orderkey",
        (F.col("o_custkey") % (Z_DIM_MASK + 1)).cast("bigint").alias("zx"),
        (
            F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01"))
            % (Z_DIM_MASK + 1)
        )
        .cast("bigint")
        .alias("zy"),
    )
    return dims.select(
        "o_orderkey",
        "zx",
        "zy",
        F.expr(_Z_EXPR).cast("bigint").alias("zvalue"),
        F.expr(f"({_Z_EXPR}) >> {Z_BUCKET_SHIFT}").cast("int").alias("zbucket"),
    )


# ---------------------------------------------------------------------------
# table layout writers and maintenance over a SparkCatalog
# ---------------------------------------------------------------------------

ZORDER_BITS = 8  # write_zordered's bucket resolution per dimension (256)


def write_bucketed(
    cat: SparkCatalog,
    table_name: str,
    df: DataFrame,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> str:
    """Write a hash-bucketed (optionally per-bucket-sorted) managed
    table for co-located joins.

    At 100 TB the recurring fact-fact joins (orders⋈lineitem on
    orderkey, postings⋈postings on doc key) dominate shuffle volume.
    Bucketing both sides on the join key with the same bucket count
    turns every such join into a zero-Exchange sort-merge join — the
    shuffle is paid ONCE at write time and amortized over every
    subsequent query (``tests/test_bucketing.py`` asserts the
    no-Exchange plan).  ``sort_cols`` additionally pre-sorts within
    buckets so single-file buckets skip the SMJ sort.

    Bucketed tables must be *managed* (bucket metadata lives in the
    catalog, not the directory layout), so this bypasses
    ``table_location`` — Spark places data under its warehouse dir.
    Returns the fully-qualified table name.
    """
    cat.create_db()
    fq = f"{cat.db_name}.{table_name}"
    cat.executed_sql.append(
        f"-- write_bucketed {fq} ({n_buckets} buckets on "
        f"{', '.join(bucket_cols)})"
    )
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(fq)
    return fq


def write_range_clustered(
    cat: SparkCatalog,
    table_name: str,
    df: DataFrame,
    cluster_cols: list[str],
    n_files: int,
) -> str:
    """Write a table range-partitioned + sorted on ``cluster_cols`` so
    parquet row-group min/max statistics become selective.

    ``repartitionByRange`` gives each output file a disjoint key range
    and ``sortWithinPartitions`` orders rows inside it; a filter on the
    cluster column then skips whole files/row-groups at scan time (the
    poor man's Z-order for 1-D predicates — the highest-leverage layout
    choice for 100 TB time/keyrange-filtered scans).  One range shuffle
    at write time; ``tests/test_layout.py`` asserts the skipping.
    """
    cat.create_db()
    location = cat.table_location(table_name)
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(location)
    )
    cat.executed_sql.append(
        f"-- write_range_clustered {table_name} on {', '.join(cluster_cols)}"
    )
    return location


def write_zordered(
    cat: SparkCatalog,
    table_name: str,
    df: DataFrame,
    zorder_cols: list[str],
    n_files: int,
) -> str:
    """Write a table clustered on the Z-order (Morton) curve over two
    or more numeric columns, so parquet min/max statistics stay
    selective for predicates on EVERY clustered column — the
    multi-dimensional generalization of :func:`write_range_clustered`
    (whose linear sort serves only its leading column: a filter on the
    second column alone prunes nothing).

    Mechanics: each column is bucketized to ``2**ZORDER_BITS`` uniform
    buckets between its min and max (one small aggregate collects the
    bounds — a scalar model, not a data collect; skew-robust
    bucketization would substitute ``approxQuantile`` boundaries, same
    contract), the bucket ids are bit-interleaved into a Morton key by
    :func:`_z_terms` (pure JVM shift/mask SQL), and the rows are
    range-partitioned + sorted on that key.  Locality of the curve means each
    output file covers a compact hyper-rectangle-ish region, so a box
    predicate intersects few files.  One range shuffle at write time —
    identical write cost to the linear clustering; ``tests/
    test_layout.py`` asserts per-file pruning on both dimensions."""
    if len(zorder_cols) < 2:
        raise ValueError(
            "write_zordered needs >= 2 columns; use write_range_clustered "
            "for 1-D clustering"
        )
    cat.create_db()
    location = cat.table_location(table_name)

    bounds = df.agg(
        *[
            f(c).cast("double").alias(f"{n}_{c}")
            for c in zorder_cols
            for n, f in (("min", F.min), ("max", F.max))
        ]
    ).first()

    nb = 1 << ZORDER_BITS
    buckets = []
    for c in zorder_cols:
        lo, hi = bounds[f"min_{c}"], bounds[f"max_{c}"]
        if lo is None or hi is None or lo == hi:
            buckets.append(F.lit(0))
            continue
        # width_bucket → 1..nb inside [lo, hi]; clamp to 0..nb-1
        b = F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(nb))
        buckets.append(F.least(F.greatest(b - 1, F.lit(0)), F.lit(nb - 1)))

    # the same Morton interleave as zorder_orders_layout, over n dims
    cols = {f"__b{j}": b.cast("bigint") for j, b in enumerate(buckets)}
    zval = " + ".join(
        f"({_z_terms(name, j, ZORDER_BITS, len(cols))})"
        for j, name in enumerate(cols)
    )

    (
        df.withColumns(cols)
        .withColumn("__z", F.expr(zval))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *cols)
        .write.mode("overwrite")
        .parquet(location)
    )
    cat.executed_sql.append(
        f"-- write_zordered {table_name} on {', '.join(zorder_cols)}"
    )
    return location


def _recover_compaction(path: str) -> None:
    """Roll a crashed compaction of ``path`` forward or back.

    Invariants of :func:`_compact_dir`'s rename sequence make every
    crash state recoverable: the ``.precompact`` backup only ever
    exists AFTER the ``.compacting`` staging dir was fully written, so
    (backup ∧ ¬live) ⇒ staging is complete and promotable; a staging
    dir next to a live dir is a pre-rename leftover and simply
    discarded.
    """
    backup, staging = path + ".precompact", path + ".compacting"
    if not os.path.exists(path):
        if os.path.exists(staging) and os.path.exists(backup):
            os.rename(staging, path)  # crash between the two renames
        elif os.path.exists(backup):
            os.rename(backup, path)  # defensive: restore the original
    if os.path.exists(path):
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(backup, ignore_errors=True)


def _compact_dir(cat: SparkCatalog, local: str, target_file_bytes: int) -> int:
    """Rewrite one leaf data directory into ~``target_file_bytes``
    files via stage → backup-rename → promote-rename.  A crash at any
    point is repaired by :func:`_recover_compaction` on the next call
    (the backup is only taken after staging is fully written, so no
    crash state loses data)."""
    local = local.rstrip("/")
    on_disk = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(local, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, -(-on_disk // target_file_bytes))
    df = cat.spark.read.parquet(local)
    staging = local + ".compacting"
    backup = local + ".precompact"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(backup, ignore_errors=True)
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    os.rename(local, backup)
    os.rename(staging, local)
    shutil.rmtree(backup, ignore_errors=True)
    return n_files


def compact_table(
    cat: SparkCatalog,
    table_name: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a path-backed table into ~``target_file_bytes`` files.

    Long-lived tables accumulate small files (per-micro-batch sinks,
    per-district incremental loads); scans then pay per-file open cost
    and lose row-group locality.  Sizing from the CURRENT on-disk bytes
    (not row counts) keeps the heuristic format-aware.  Returns the new
    total file count.

    Hive-partitioned tables are compacted PER PARTITION DIRECTORY: each
    ``filename_district=X/`` leaf is rewritten in place, so the layout
    a registered ``PARTITIONED BY`` table depends on survives intact
    (reading the table root would absorb the partition column into the
    data and flatten the directory tree — silent corruption).

    Local ``file://`` warehouses only: the swap uses POSIX renames.  A
    distributed object-store compaction (s3a/HDFS) needs a
    commit-protocol rewrite job, which this deliberately is not — it
    raises instead of pretending.
    """
    location = cat.table_location(table_name)
    if "://" in location and not location.startswith("file://"):
        raise ValueError(
            f"compact_table only supports local file:// warehouses, got "
            f"{location!r}: object stores need a distributed rewrite "
            "with a commit protocol, not POSIX renames."
        )
    local = location.removeprefix("file://")
    _recover_compaction(local)
    # Recover crashed PER-PARTITION compactions before enumerating
    # partitions: a leftover `filename_district=CT.precompact` dir
    # must be rolled back/forward into `filename_district=CT`, never
    # treated as a partition named 'CT.precompact'.
    for leftover in glob.glob(
        os.path.join(local, f"{PARTITION_COLUMN}=*.precompact")
    ) + glob.glob(os.path.join(local, f"{PARTITION_COLUMN}=*.compacting")):
        base = leftover.rsplit(".", 1)[0]
        _recover_compaction(base)
    part_dirs = sorted(
        d
        for d in glob.glob(os.path.join(local, f"{PARTITION_COLUMN}=*"))
        if os.path.isdir(d)
        and not d.endswith((".precompact", ".compacting"))
    )
    total = 0
    for target in part_dirs or [local]:
        _recover_compaction(target)
        total += _compact_dir(cat, target, target_file_bytes)
    cat.spark.catalog.clearCache()
    cat.executed_sql.append(
        f"-- compact_table {table_name} -> {total} files"
        + (f" across {len(part_dirs)} partitions" if part_dirs else "")
    )
    return total


def analyze_table(
    cat: SparkCatalog, table_name: str, columns: list[str] | None = None
) -> None:
    """``ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]`` — collect
    table row count/size and per-column NDV/min/max/null counts into
    the catalog, so the cost-based optimizer's join reordering and
    broadcast decisions run on measured statistics rather than
    file-size guesses.  At 100 TB this is the difference between a
    dimension correctly broadcast and a fact-sized build side: size
    estimates from compressed parquet footers routinely misjudge the
    decompressed build side, while ANALYZE records true row counts.
    Re-run after large loads or compaction; the scan is one pass and
    parallelizes like any aggregate."""
    fq = f"{cat.db_name}.{table_name}"
    cat.execute_query(f"ANALYZE TABLE {fq} COMPUTE STATISTICS")
    if columns:
        cat.execute_query(
            f"ANALYZE TABLE {fq} COMPUTE STATISTICS FOR COLUMNS "
            + ", ".join(columns)
        )



HRW_SHARDS = 8  # shard count for the rendezvous router


def _hrw_score_sql(shard: int) -> str:
    return f"md5(CAST(doc_id AS VARCHAR) || ':shard:' || '{shard}')"


_HRW_GREATEST = "GREATEST(" + ", ".join(
    _hrw_score_sql(s) for s in range(HRW_SHARDS)
) + ")"

_HRW_CASE = "CASE " + " ".join(
    f"WHEN {_hrw_score_sql(s)} = {_HRW_GREATEST} THEN {s}"
    for s in range(HRW_SHARDS)
) + " END"


@query(
    "hrw_shard_routing",
    oracle=f"""
    SELECT doc_id,
           CAST({_HRW_CASE} AS INTEGER) AS shard
    FROM documents
    """,
)
def hrw_shard_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) shard assignment: each document scores every
    shard with ``md5(doc_id || ':shard:' || s)`` and routes to the
    highest score.  Stateless (any worker computes the same answer with
    no directory service), uniform, and minimally disruptive: removing a
    shard moves ONLY the documents whose argmax it was (~1/{HRW_SHARDS}
    of keys), unlike modulo hashing which reshuffles almost everything —
    the router a distributed embedding index or document store wants.

    {HRW_SHARDS} md5 calls per row is deliberate: for small shard counts
    HRW beats maintaining a consistent-hash ring, and the scoring is
    branch-free codegen (the first WHEN hit is the max — md5 collisions
    across distinct inputs do not occur in any realistic corpus).  Both
    engines compare the same lowercase-hex strings, so argmax is
    bit-identical.  Narrow projection, zero shuffles."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id",
        F.expr(
            _HRW_CASE.replace(
                "CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)"
            )
        )
        .cast("int")
        .alias("shard"),
    )


# ---------------------------------------------------------------------------
# distributed global row numbering (two-phase zipWithIndex)
# ---------------------------------------------------------------------------

INDEX_PARTITIONS = 32


def global_row_index(
    df: DataFrame, *order_cols: str, n_partitions: int = INDEX_PARTITIONS
) -> DataFrame:
    """Dense 0-based global index in ``order_cols`` order WITHOUT a
    single-task global window.

    ``Window.orderBy(...)`` with no partition key — the obvious way to
    write ROW_NUMBER() OVER (ORDER BY ...) — funnels the ENTIRE relation
    through one task (Spark even warns).  The scale-correct plan is the
    classic two-phase zipWithIndex, expressed as ONE query plan:

    1. range-partition by the order columns (so partition p holds a
       contiguous key range, and partitions are mutually ordered);
    2. per-partition row counts → exclusive prefix-sum offsets, as a
       window over the TINY (``n_partitions``-row) counts relation —
       the single-task window there is over 32 rows, not the data;
    3. per-partition local row_number + the partition's offset, joined
       back via a broadcast of the tiny offset relation.

    Both consumers of the range shuffle (the counts branch and the
    row_number branch) live in the SAME plan, so Catalyst/AQE replace
    the second scan with a ``ReusedExchange`` and the sampled shuffle
    executes exactly ONCE — which is what makes the offset arithmetic
    sound: ``repartitionByRange`` picks boundaries by SAMPLING per
    execution, so two independent executions could see DIFFERENT
    boundaries and silently corrupt the index (duplicate/absent
    indices — the round-7 ``link_records_snb`` lesson).  Earlier
    rounds pinned the boundaries with persist()/localCheckpoint, which
    leaks session-lifetime cache entries (SQL-level checkpoints are
    never GC-reaped — measured on 4.1.2); single-plan exchange reuse
    needs no materialization at all.  A plan test asserts exactly one
    range exchange executes; the dense+ordered pytest would catch any
    reuse regression as duplicate/missing indices.  The explicit
    ``n_partitions`` also matters: REPARTITION_BY_NUM pins the shuffle
    out-degree, so AQE cannot coalesce the two reads differently
    (which would skew ``spark_partition_id`` between branches).

    ``order_cols`` must be a total order (include a unique key) for the
    index to be deterministic."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    ordered = [F.col(c) for c in order_cols]
    with_pid = df.repartitionByRange(n_partitions, *ordered).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        with_pid.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            "__pid",
            F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias(
                "__offset"
            ),
        )
    )
    w = Window.partitionBy("__pid").orderBy(*ordered)
    return (
        with_pid.withColumn("__local", F.row_number().over(w))
        .join(F.broadcast(off), "__pid")
        .withColumn(
            "row_index", (F.col("__offset") + F.col("__local") - 1)
        )
        .drop("__pid", "__local", "__offset")
    )


@query(
    "global_order_index",
    oracle="""
    SELECT o_orderkey,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
               AS row_index
    FROM orders
    """,
)
def global_order_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global index over ``orders`` by key — the two-phase
    zipWithIndex primitive (:func:`global_row_index`) proven equal to
    the oracle's single-reducer ROW_NUMBER.  Downstream uses in this
    repo's domain: deterministic example numbering for training-data
    manifests, offset assignment for packed-sequence shards, and stable
    pagination keys — anywhere a total order is needed over data too
    big for one task to sort."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return global_row_index(o.select("o_orderkey"), "o_orderkey").select(
        "o_orderkey", "row_index"
    )


# ---------------------------------------------------------------------------
# deterministic corpus shuffle (epoch-seeded global permutation + shards)
# ---------------------------------------------------------------------------

SHUFFLE_EPOCH = 1
SHUFFLE_SHARDS = 16


@query(
    "corpus_shuffle_index",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5('epoch:{SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR))
                   AS shuffle_key
        FROM documents
    ),
    idx AS (
        SELECT doc_id, shuffle_key,
               ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1
                   AS row_index
        FROM keyed
    )
    SELECT doc_id, shuffle_key,
           CAST(row_index AS BIGINT) AS row_index,
           CAST(row_index % {SHUFFLE_SHARDS} AS INTEGER) AS shard
    FROM idx
    """,
)
def corpus_shuffle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle — the permutation pass a
    training pipeline runs before packing/sharding so examples arrive in
    pseudo-random order every epoch, REPRODUCIBLY (no ``rand()``: the
    order is a pure function of doc_id and the epoch constant, so a
    re-run, a retry, or a different engine produces the identical
    permutation — change ``SHUFFLE_EPOCH`` to reshuffle).

    The permutation key is ``md5('epoch:E:' || doc_id)`` (the catalog's
    cross-engine hash convention); the dense position comes from
    :func:`global_row_index` — the two-phase zipWithIndex, NOT a
    single-reducer ROW_NUMBER, so the sort of the permuted corpus is
    range-partitioned and fully parallel at 100 TB.  ``shard = position
    mod {SHUFFLE_SHARDS}`` deals the permuted order round-robin into
    equal shards: every shard is itself an unbiased sample of the
    corpus, which is what data-parallel trainers want from a shard
    manifest."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    keyed = d.select(
        "doc_id",
        F.md5(
            F.concat(
                F.lit(f"epoch:{SHUFFLE_EPOCH}:"),
                F.col("doc_id").cast("string"),
            ).cast("binary")
        ).alias("shuffle_key"),
    )
    return global_row_index(keyed, "shuffle_key", "doc_id").select(
        "doc_id",
        "shuffle_key",
        F.col("row_index").cast("bigint").alias("row_index"),
        (F.col("row_index") % SHUFFLE_SHARDS).cast("int").alias("shard"),
    )


@query(
    "curriculum_order_index",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
               CAST(len(regexp_extract_all(text, '[aeiou]+'))
                    AS BIGINT) AS v,
               CAST((len(string_split(text, ' '))
                     + (4 + doc_id % 5) - 1)
                    // (4 + doc_id % 5) AS BIGINT) AS s
        FROM documents
    ),
    banded AS (
        SELECT doc_id,
               CASE WHEN 206835 * s * w - 1015 * w * w - 84600 * v * s
                         >= 85000 * s * w THEN 0
                    WHEN 206835 * s * w - 1015 * w * w - 84600 * v * s
                         >= 78000 * s * w THEN 1
                    ELSE 2 END AS band,
               md5('curriculum:7:' || doc_id) AS shuffle_key
        FROM toks
    )
    SELECT doc_id, CAST(band AS BIGINT) AS band,
           CAST(ROW_NUMBER() OVER (ORDER BY band, shuffle_key, doc_id)
                - 1 AS BIGINT) AS curriculum_index
    FROM banded
    """,
)
def curriculum_order_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum manifest: documents ordered easy → hard by the
    integer-exact Flesch band, DETERMINISTICALLY SHUFFLED within each
    band (epoch-seeded md5, the corpus-shuffle convention — curriculum
    learning wants difficulty ordering BETWEEN bands and unbiased
    sampling WITHIN them), with a dense global index assigned by the
    two-phase zipWithIndex (:func:`global_row_index` — never a
    single-task global window; the oracle is the single-reducer
    ROW_NUMBER twin, so the distributed index must match it
    row-for-row)."""
    from national_caseload_data_ingest_spark.operators.text import (  # noqa: PLC0415
        readability_scores,
    )

    bands = readability_scores(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("flesch_band") == "easy", 0)
        .when(F.col("flesch_band") == "medium", 1)
        .otherwise(2).cast("long").alias("band"),
        F.md5(
            F.concat(F.lit("curriculum:7:"),
                     F.col("doc_id").cast("string")).cast("binary")
        ).alias("shuffle_key"),
    )
    indexed = global_row_index(bands, "band", "shuffle_key", "doc_id")
    return indexed.select(
        "doc_id", "band",
        F.col("row_index").alias("curriculum_index"),
    )

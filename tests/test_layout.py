"""Physical-layout utilities: range clustering (min/max skipping) and
small-file compaction — the table-maintenance half of 100 TB operability."""

import glob
import os

import pyarrow.parquet as pq

from national_caseload_data_ingest_spark.catalog import SparkCatalog
from national_caseload_data_ingest_spark.operators import layout
from national_caseload_data_ingest_spark.operators.registry import load_tables

SF = "/root/testdata/sf0.001"


def test_range_clustered_files_have_disjoint_ranges(spark, tmp_path):
    """Every output file owns a disjoint o_orderkey range, so a range
    predicate can skip whole files on parquet stats — and the data
    round-trips losslessly."""
    cat = SparkCatalog(spark, str(tmp_path), db_name="layout_db")
    orders = load_tables(spark, SF, "orders")["orders"]
    loc = layout.write_range_clustered(cat, "orders_rc", orders, ["o_orderkey"], 8)
    local = loc.removeprefix("file://")
    ranges = []
    for f in sorted(glob.glob(os.path.join(local, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("o_orderkey")
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) >= 4  # actually split into multiple files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} vs {(lo2, hi2)}"
    got = spark.read.parquet(loc)
    assert got.count() == orders.count()


def test_compact_table_reduces_files_losslessly(spark, tmp_path):
    cat = SparkCatalog(spark, str(tmp_path), db_name="layout_db2")
    orders = load_tables(spark, SF, "orders")["orders"]
    loc = cat.table_location("orders_many")
    orders.repartition(24).write.mode("overwrite").parquet(loc)
    local = loc.removeprefix("file://")
    before = len(glob.glob(os.path.join(local, "*.parquet")))
    assert before >= 24
    want = sorted(tuple(r) for r in spark.read.parquet(loc).collect())
    n_files = layout.compact_table(cat, "orders_many")
    after = len(glob.glob(os.path.join(local, "*.parquet")))
    assert after == n_files < before
    got = sorted(tuple(r) for r in spark.read.parquet(loc).collect())
    assert got == want


def test_compact_table_preserves_hive_partitions(spark, tmp_path):
    """Compacting a Hive-partitioned table must rewrite each
    ``filename_district=X/`` leaf in place: same partition dirs, same
    rows (WITH the partition column), and a registered PARTITIONED BY
    table still answers queries after MSCK — the round-2 corruption mode
    (flat rewrite at the table root) would leave it empty."""
    from pyspark.sql import functions as F

    cat = SparkCatalog(spark, str(tmp_path), db_name="layout_db3")
    orders = load_tables(spark, SF, "orders")["orders"]
    part = orders.withColumn(
        "filename_district",
        F.when(F.col("o_orderkey") % 2 == 0, "FLM").otherwise("CT"),
    ).repartition(12)
    cat.write_table("orders_part", part, partitioned=True)
    loc = cat.table_location("orders_part")
    local = loc.removeprefix("file://")
    part_dirs_before = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(local, "filename_district=*"))
    )
    assert part_dirs_before == ["filename_district=CT", "filename_district=FLM"]
    want = sorted(tuple(r) for r in spark.read.parquet(loc).collect())
    before = len(glob.glob(os.path.join(local, "*", "*.parquet")))

    n_files = layout.compact_table(cat, "orders_part")

    part_dirs_after = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(local, "filename_district=*"))
    )
    assert part_dirs_after == part_dirs_before
    after = len(glob.glob(os.path.join(local, "*", "*.parquet")))
    assert after == n_files < before
    got = sorted(tuple(r) for r in spark.read.parquet(loc).collect())
    assert got == want  # partition column values intact
    # the registered table still prunes and answers correctly
    cat.recover_partitions("orders_part")
    ct = spark.table("layout_db3.orders_part").filter("filename_district = 'CT'")
    n_ct = ct.count()
    assert n_ct == sum(1 for r in want if r[-1] == "CT")  # partition col is last


def test_compact_table_raises_on_remote_warehouse(spark):
    cat = SparkCatalog(spark, "s3a://some-bucket/warehouse", db_name="x")
    import pytest

    with pytest.raises(ValueError, match="file://"):
        layout.compact_table(cat, "anything")


def test_compact_table_recovers_partitioned_crash(spark, tmp_path):
    """Crash mid-compaction of ONE partition dir: the leftover
    `filename_district=CT.precompact` / `.compacting` dirs must be rolled
    forward into `filename_district=CT` — never enumerated as partitions
    named 'CT.precompact' — and the table must round-trip losslessly."""
    from pyspark.sql import functions as F

    cat = SparkCatalog(spark, str(tmp_path), db_name="layout_db5")
    orders = load_tables(spark, SF, "orders")["orders"]
    part = orders.withColumn(
        "filename_district",
        F.when(F.col("o_orderkey") % 2 == 0, "FLM").otherwise("CT"),
    ).repartition(8)
    loc = cat.table_location("orders_pcrash")
    part.write.partitionBy("filename_district").parquet(loc)
    local = loc.removeprefix("file://")
    want = sorted(tuple(r) for r in spark.read.parquet(loc).collect())
    # manufacture the crash: CT fully staged, renamed to backup, promote
    # rename never happened
    ct = os.path.join(local, "filename_district=CT")
    spark.read.parquet(ct).coalesce(1).write.parquet(ct + ".compacting")
    os.rename(ct, ct + ".precompact")
    assert not os.path.exists(ct)

    layout.compact_table(cat, "orders_pcrash")

    dirs = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(local, "filename_district=*"))
    )
    assert dirs == ["filename_district=CT", "filename_district=FLM"]
    got = sorted(tuple(r) for r in spark.read.parquet(loc).collect())
    assert got == want


def test_compact_table_recovers_from_crash_between_renames(spark, tmp_path):
    """Simulated crash state: staging fully written, live dir already
    renamed to backup, promote rename never happened.  The next
    compact_table call must roll forward losslessly."""
    import shutil

    cat = SparkCatalog(spark, str(tmp_path), db_name="layout_db4")
    orders = load_tables(spark, SF, "orders")["orders"]
    loc = cat.table_location("orders_crash")
    orders.repartition(8).write.mode("overwrite").parquet(loc)
    local = loc.removeprefix("file://")
    want = sorted(tuple(r) for r in spark.read.parquet(loc).collect())
    # manufacture the mid-compaction crash state
    spark.read.parquet(loc).coalesce(1).write.parquet(local + ".compacting")
    os.rename(local, local + ".precompact")
    assert not os.path.exists(local)

    layout.compact_table(cat, "orders_crash")

    assert os.path.exists(local)
    assert not os.path.exists(local + ".compacting")
    assert not os.path.exists(local + ".precompact")
    got = sorted(tuple(r) for r in spark.read.parquet(loc).collect())
    assert got == want


def _file_ranges(local_dir, cols):
    out = []
    for f in sorted(glob.glob(os.path.join(local_dir, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        r = {}
        for c in cols:
            idx = md.schema.names.index(c)
            r[c] = (
                min(md.row_group(i).column(idx).statistics.min
                    for i in range(md.num_row_groups)),
                max(md.row_group(i).column(idx).statistics.max
                    for i in range(md.num_row_groups)),
            )
        out.append(r)
    return out


def test_zordered_files_prune_on_both_dimensions(spark, tmp_path):
    """Z-order clustering on (l_orderkey, l_partkey) must let a box
    predicate on EITHER column skip files via parquet min/max stats —
    including the second column, which a linear range-clustered layout
    cannot prune at all — and round-trip losslessly."""
    cat = SparkCatalog(spark, str(tmp_path), db_name="layout_db")
    li = load_tables(spark, SF, "lineitem")["lineitem"]
    cols = ["l_orderkey", "l_partkey"]
    n_files = 16

    zloc = layout.write_zordered(cat, "lineitem_z", li, cols, n_files)
    zranges = _file_ranges(zloc.removeprefix("file://"), cols)
    assert len(zranges) >= n_files // 2

    lloc = layout.write_range_clustered(cat, "lineitem_lin", li, cols, n_files)
    lranges = _file_ranges(lloc.removeprefix("file://"), cols)

    bounds = {c: (min(r[c][0] for r in zranges), max(r[c][1] for r in zranges))
              for c in cols}

    def files_hit(ranges, col, frac=0.25):
        lo, hi = bounds[col]
        cut_lo = lo + (hi - lo) * 0.4
        cut_hi = cut_lo + (hi - lo) * frac
        return sum(1 for r in ranges if not (r[col][1] < cut_lo or r[col][0] > cut_hi))

    # second dimension: z-order must prune where linear layout reads all
    z_hit = files_hit(zranges, "l_partkey")
    l_hit = files_hit(lranges, "l_partkey")
    assert l_hit == len(lranges), "linear layout unexpectedly pruned dim 2"
    assert z_hit < len(zranges), f"z-order pruned nothing on dim 2 ({z_hit})"
    # first dimension must still prune too
    assert files_hit(zranges, "l_orderkey") < len(zranges)

    got = spark.read.parquet(zloc)
    assert got.count() == li.count()
    assert any(s.startswith("-- write_zordered") for s in cat.executed_sql)


def test_zordered_rejects_single_column(spark, tmp_path):
    cat = SparkCatalog(spark, str(tmp_path), db_name="layout_db")
    li = load_tables(spark, SF, "lineitem")["lineitem"]
    import pytest
    with pytest.raises(ValueError, match="write_range_clustered"):
        layout.write_zordered(cat, "li_bad", li, ["l_orderkey"], 4)


def test_analyze_table_records_catalog_stats(spark, tmp_path):
    """ANALYZE must land row-count table stats and per-column NDV in the
    catalog — the inputs the cost-based optimizer plans joins from."""
    cat = SparkCatalog(spark, str(tmp_path), db_name="layout_db")
    nation = load_tables(spark, SF, "nation")["nation"]
    cat.write_table("nation_stats", nation, partitioned=False)
    layout.analyze_table(cat, "nation_stats", columns=["n_nationkey", "n_regionkey"])

    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(
            "DESCRIBE TABLE EXTENDED layout_db.nation_stats"
        ).collect()
    }
    assert "Statistics" in desc and "rows" in desc["Statistics"]
    assert "25 rows" in desc["Statistics"]

    col = {
        r["info_name"]: r["info_value"]
        for r in spark.sql(
            "DESCRIBE TABLE EXTENDED layout_db.nation_stats n_nationkey"
        ).collect()
    }
    assert col["distinct_count"] == "25"
    assert col["min"] == "0" and col["max"] == "24"
    assert any(s.startswith("ANALYZE TABLE") for s in cat.executed_sql)

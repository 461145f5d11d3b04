"""Golden end-to-end ingest: fixture zip → NcdZipLoader → SparkCatalog →
queryable tables with the reference's layout, types, and redaction flags
(SURVEY.md §5 test strategy, FIXTURES.md §A)."""

import datetime
import os
import zipfile

import pytest

from national_caseload_data_ingest_spark.catalog import SparkCatalog
from national_caseload_data_ingest_spark.sources.data_zip import NcdZipLoader
from tests.conftest import GS_CASE_ROWS, README_TEXT, build_fixture_zip


@pytest.fixture(scope="module")
def loaded(spark, fixture_zip, tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    catalog = SparkCatalog(spark, warehouse, db_name="ncd_test")
    names = NcdZipLoader(spark, catalog, fixture_zip).load()
    return catalog, names, warehouse


def test_all_tables_loaded(loaded):
    _, names, _ = loaded
    assert names == [
        "GS_CASE",
        "GS_COURT_HIST",
        "GS_DISTRICT",
        "GS_STATUS",
        "GS_POSITION",
    ]


def test_normal_table_contents(loaded):
    catalog, _, _ = loaded
    rows = {
        r["case_id"]: r for r in catalog.spark.table("ncd_test.gs_case").collect()
    }
    assert len(rows) == 4

    r1 = rows["CASE000001"]
    assert r1["district"] == "FLM"
    assert r1["total_defendants"] == 3
    assert r1["filed_date"] == datetime.date(2017, 1, 1)
    assert r1["lead_charge_wt"] == 12.5

    r2 = rows["CASE000002"]
    assert r2["district"] is None and r2["redacted_district"] is True
    assert r2["total_defendants"] is None and r2["redacted_total_defendants"] is True
    # invalid date → NULL but NOT redacted
    assert r2["filed_date"] is None and r2["redacted_filed_date"] is False

    r3 = rows["CASE0000Ø3"]  # latin-1 high byte survives
    assert r3["total_defendants"] is None  # '12.5' int() parity
    assert r3["redacted_filed_date"] is True
    assert r3["redacted_lead_charge_wt"] is True

    r4 = rows["CASE000004"]  # CR mid-row became a space
    assert r4["total_defendants"] == 7
    assert r4["filed_date"] == datetime.date(1999, 8, 15)


def test_partitioned_layout_and_pruning(loaded):
    catalog, _, warehouse = loaded
    # Hive layout on disk, like the reference's S3 keys (ncd/athena.py:101-105)
    table_dir = os.path.join(warehouse, "ncd_test", "gs_court_hist")
    subdirs = sorted(
        d for d in os.listdir(table_dir) if d.startswith("filename_district=")
    )
    assert subdirs == ["filename_district=CT", "filename_district=FLM"]

    df = catalog.spark.table("ncd_test.gs_court_hist")
    assert set(r["filename_district"] for r in df.collect()) == {"FLM", "CT"}
    pruned = df.filter(df.filename_district == "FLM")
    assert pruned.count() == 2
    # partition filter must prune, not scan-and-filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(filename_district" in plan


def test_unpartitioned_table_has_no_district_column(loaded):
    catalog, _, _ = loaded
    columns = catalog.spark.table("ncd_test.gs_case").columns
    assert "filename_district" not in columns


def test_global_and_lookup_tables(loaded):
    catalog, _, _ = loaded
    district = {
        r["code"]: r for r in catalog.spark.table("ncd_test.gs_district").collect()
    }
    assert district["CT"]["name"] == "Connecticut"
    assert district[""]["redacted_code"] is True

    pos = {
        r["code"]: r for r in catalog.spark.table("ncd_test.gs_position").collect()
    }
    assert pos["AG"]["description"] == "Attorney General"
    assert pos["AG"]["active_flag"] == "Y"


def test_ddl_recorded(loaded):
    catalog, _, _ = loaded
    ddls = [s for s in catalog.executed_sql if s.startswith("CREATE TABLE")]
    gs_case_ddl = next(s for s in ddls if "gs_case" in s)
    # data columns then shadow columns (ncd/normal_table.py:166-175)
    assert gs_case_ddl.index("case_id STRING") < gs_case_ddl.index(
        "redacted_case_id BOOLEAN"
    )
    assert "total_defendants BIGINT" in gs_case_ddl
    assert "filed_date DATE" in gs_case_ddl
    assert "lead_charge_wt DOUBLE" in gs_case_ddl
    hist_ddl = next(s for s in ddls if "gs_court_hist" in s)
    assert "PARTITIONED BY (filename_district)" in hist_ddl
    assert any(
        s.startswith("MSCK REPAIR TABLE ncd_test.gs_court_hist")
        for s in catalog.executed_sql
    )


def test_fidelity_json_write_roundtrip(spark, tmp_path):
    """fidelity_json mode end-to-end: gzipped JSON-lines files on disk,
    DATE columns serialized as yyyy-MM-dd strings (the
    reference's wire format, ncd/normal_table.py:105-107), and the SQL log
    carries BOTH the executable Spark DDL and the reference-shaped Athena
    fidelity text (A10 + A12 + A26)."""
    import glob
    import gzip
    import json

    from pyspark.sql import functions as F

    cat = SparkCatalog(
        spark, str(tmp_path), db_name="fidelity_db", fidelity_json=True
    )
    df = spark.createDataFrame(
        [(1, "01-JAN-0999"), (2, "15-AUG-1999"), (3, "01-JAN-10000")],
        "case_id long, raw string",
    ).select(
        "case_id", F.to_date("raw", "dd-MMM-yyyy").alias("filed_date")
    )
    cat.write_table("gs_case_fidelity", df)
    local = cat.table_location("gs_case_fidelity").removeprefix("file://")
    files = glob.glob(local + "/*.json.gz")
    assert files, "no gzipped JSON-lines files written"
    rows = {}
    for f in files:
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            for line in fh:
                rec = json.loads(line)
                rows[rec["case_id"]] = rec["filed_date"]
    # pre-1000 CE year zero-padded to width 10 — rjust(10,'0') parity;
    # a five-digit year (the legacy parser reads one) keeps every digit
    assert rows == {1: "0999-01-01", 2: "1999-08-15", 3: "10000-01-01"}
    assert any(
        "USING JSON" in s for s in cat.executed_sql
    ), "Spark-executable DDL missing"
    fid = [s for s in cat.executed_sql if "CREATE EXTERNAL TABLE" in s]
    assert len(fid) == 1
    assert "ROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'" in fid[0]
    assert "filed_date DATE" in fid[0]  # fidelity text keeps the DATE type


def test_lookup_decode_join_broadcasts(loaded):
    """The reference's designed use of codebook tables: decode joins
    against fact tables (reference README.md:46-50).  The KB-scale lookup
    side must broadcast — no shuffle of the fact table for a decode."""
    from national_caseload_data_ingest_spark.plans import join_kinds

    catalog, _, _ = loaded
    hist = catalog.spark.table("ncd_test.gs_court_hist")
    district = catalog.spark.table("ncd_test.gs_district")
    decoded = hist.join(
        district, hist["filename_district"] == district["code"]
    ).select("case_id", "filename_district", "name")
    kinds = join_kinds(decoded)
    assert kinds == ["BroadcastHashJoin"], kinds
    got = {r["filename_district"]: r["name"] for r in decoded.collect()}
    assert got == {"CT": "Connecticut", "FLM": "Middle Florida"}


def test_fidelity_ddl_matches_reference_text(loaded):
    """Golden test: the fidelity emitter reproduces the reference's Athena
    DDL byte-for-byte — the dedented CREATE EXTERNAL TABLE template with
    JsonSerDe ROW FORMAT, STORED AS TEXTFILE, an s3:// location laid out
    as {prefix}/{db}/{table} (ncd/normal_table.py:184-198,
    ncd/athena.py:80-90), trailing semicolon, and the template's
    leading/trailing newlines."""
    from pyspark.sql import types as T

    catalog, _, _ = loaded
    schema = T.StructType(
        [
            T.StructField("case_id", T.StringType()),
            T.StructField("total_defendants", T.LongType()),
            T.StructField("filed_date", T.DateType()),
            T.StructField("lead_charge_wt", T.DoubleType()),
            T.StructField("redacted_case_id", T.BooleanType()),
            T.StructField("redacted_total_defendants", T.BooleanType()),
            T.StructField("redacted_filed_date", T.BooleanType()),
            T.StructField("redacted_lead_charge_wt", T.BooleanType()),
        ]
    )
    ddl = catalog.generate_fidelity_ddl(
        "gs_case",
        schema,
        partitioned=True,
        data_bucket="my-data-bucket",
        s3_prefix="lions",
    )
    expected = (
        "\nCREATE EXTERNAL TABLE IF NOT EXISTS gs_case (\n"
        "    case_id STRING,\n"
        "    total_defendants BIGINT,\n"
        "    filed_date DATE,\n"
        "    lead_charge_wt DOUBLE,\n"
        "    redacted_case_id BOOLEAN,\n"
        "    redacted_total_defendants BOOLEAN,\n"
        "    redacted_filed_date BOOLEAN,\n"
        "    redacted_lead_charge_wt BOOLEAN\n"
        ")\n"
        "PARTITIONED BY (filename_district STRING)\n"
        "ROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'\n"
        "STORED AS TEXTFILE\n"
        f"LOCATION 's3://my-data-bucket/lions/{catalog.db_name}/gs_case';\n"
    )
    assert ddl == expected
    assert ddl in catalog.executed_sql  # A26 golden-DDL affordance

    unpartitioned = catalog.generate_fidelity_ddl(
        "gs_status",
        T.StructType(
            [
                T.StructField("code", T.StringType()),
                T.StructField("redacted_code", T.BooleanType()),
            ]
        ),
    )
    assert "PARTITIONED BY" not in unpartitioned
    assert unpartitioned.endswith(
        ")\nROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'\n"
        "STORED AS TEXTFILE\n"
        f"LOCATION 's3://data-bucket/ncd/{catalog.db_name}/gs_status';\n"
    )


def test_sql_over_loaded_tables(loaded):
    catalog, _, _ = loaded
    # the §7 minimum-slice query: scan→filter→agg→sort over ingested data
    out = catalog.spark.sql(
        """
        SELECT filename_district, COUNT(*) AS n
        FROM ncd_test.gs_court_hist
        WHERE NOT redacted_case_id
        GROUP BY filename_district
        ORDER BY filename_district
        """
    ).collect()
    assert [(r["filename_district"], r["n"]) for r in out] == [("CT", 1), ("FLM", 2)]


def test_zip_without_global_file_is_noop(spark, tmp_path):
    path = build_fixture_zip(str(tmp_path / "noglobal.zip"), include_global=False)
    warehouse = str(tmp_path / "wh2")
    catalog = SparkCatalog(spark, warehouse, db_name="ncd_test2")
    names = NcdZipLoader(spark, catalog, path).load()
    assert "GS_DISTRICT" not in names
    assert "GS_CASE" in names


def test_readme_table_without_a_file_is_not_reported(spark, tmp_path):
    """The README declares GS_COURT_HIST but the zip holds no file for it:
    nothing is written, so ``load`` must not name it."""
    path = str(tmp_path / "nofile.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("README.TXT", README_TEXT.encode("latin-1"))
        zf.writestr("gs_case.txt", "\n".join(GS_CASE_ROWS).encode("latin-1"))
    catalog = SparkCatalog(spark, str(tmp_path / "wh"), db_name="ncd_nofile")
    assert NcdZipLoader(spark, catalog, path).load() == ["GS_CASE"]
    tables = {
        t.name for t in spark.catalog.listTables("ncd_nofile") if not t.isTemporary
    }
    assert tables == {"gs_case"}


def test_missing_readme_loads_no_normal_tables(spark, tmp_path):
    p = str(tmp_path / "noreadme.zip")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr(
            "table_gs_position.txt",
            "Report for GS_POSITION\n\nCode\n----\nAG\n\nEnd of report.",
        )
    # minimal sanity: loader shouldn't crash on a zip with no README
    catalog = SparkCatalog(spark, str(tmp_path / "wh3"), db_name="ncd_test3")
    try:
        NcdZipLoader(spark, catalog, p).load()
    except Exception as e:  # noqa: BLE001
        pytest.fail(f"loader crashed on README-less zip: {e}")


def test_partitioned_reload_preserves_other_districts(spark, tmp_path):
    """Dynamic partition overwrite: re-ingesting one district replaces only
    that district's partition (cumulative-dump semantics)."""
    from pyspark.sql import Row

    cat = SparkCatalog(spark, str(tmp_path), db_name="reload_db")
    try:
        full = spark.createDataFrame(
            [Row(case_id="A1", filename_district="FLM"),
             Row(case_id="B1", filename_district="NYS")]
        )
        cat.write_table("gs_reload", full, partitioned=True)
        update = spark.createDataFrame(
            [Row(case_id="B2", filename_district="NYS")]
        )
        cat.write_table("gs_reload", update, partitioned=True)
        got = {
            (r["case_id"], r["filename_district"])
            for r in spark.table("reload_db.gs_reload").collect()
        }
        assert got == {("A1", "FLM"), ("B2", "NYS")}, got
    finally:
        spark.sql("DROP DATABASE IF EXISTS reload_db CASCADE")


def test_query_executor_csv_contract(loaded):
    """``QueryExecutor.execute_query`` returns the reference's result shape
    (ncd/athena.py:57-79): a CSV text stream with a header row, one line
    per row, and NULL as an empty field.  Unqualified table names resolve
    in the constructor's ``db_name`` unless a call passes its own."""
    from pyspark.errors import AnalysisException

    from national_caseload_data_ingest_spark.query import QueryExecutor

    catalog, _, _ = loaded
    spark = catalog.spark
    sql = (
        "SELECT case_id, district, total_defendants, filed_date, "
        "redacted_district FROM gs_case ORDER BY case_id"
    )
    before = spark.catalog.currentDatabase()
    try:
        text = QueryExecutor(spark, "ncd_test").execute_query(sql).getvalue()
        # A BIGINT column holding a NULL renders its values as Athena
        # does: 3, not pandas' float64 3.0.
        assert text.splitlines() == [
            "case_id,district,total_defendants,filed_date,redacted_district",
            "CASE000001,FLM,3,2017-01-01,False",
            "CASE000002,,,,True",
            "CASE000004,,7,1999-08-15,False",
            "CASE0000Ø3,CT,,,False",
        ]
        other_db = QueryExecutor(spark, "default")
        with pytest.raises(AnalysisException):
            other_db.execute_query(sql)
        assert other_db.execute_query(sql, db_name="ncd_test").getvalue() == text
    finally:
        spark.catalog.setCurrentDatabase(before)

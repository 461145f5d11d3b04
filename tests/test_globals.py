"""Global/lookup extraction semantics (SURVEY.md §2.1 A16-A21)."""

import os

import pytest

from national_caseload_data_ingest_spark.catalog import SparkCatalog
from national_caseload_data_ingest_spark.sources.globals import (
    parse_ruler_fragment,
    read_global_tables,
    read_lookup_table,
    split_global_tables,
)
from tests.conftest import GLOBAL_LIONS_TEXT, LOOKUP_TEXT


def test_split_global_tables_boundaries():
    tables = split_global_tables(GLOBAL_LIONS_TEXT)
    assert set(tables) == {"GS_DISTRICT", "GS_STATUS"}
    assert tables["GS_DISTRICT"].startswith("Code  Name")
    assert "Connecticut" in tables["GS_DISTRICT"]
    assert "Closed" in tables["GS_STATUS"]
    assert "GS_STATUS" not in tables["GS_DISTRICT"]


def test_split_global_tables_empty():
    assert split_global_tables("lowercase prose only\n") == {}


def test_parse_ruler_fragment_redaction():
    columns, rows = parse_ruler_fragment(
        "Code  Name\n----  --------------------\nFLM   Middle Florida\n*     Hidden"
    )
    assert columns == ["code", "name", "redacted_code", "redacted_name"]
    assert rows[0] == ["FLM", "Middle Florida", False, False]
    # '*' → empty string + redacted=True ('' not NULL — global-path semantics,
    # ncd/global_file.py:98-101)
    assert rows[1] == ["", "Hidden", True, False]


def test_read_global_tables_dataframes(spark):
    dfs = read_global_tables(spark, GLOBAL_LIONS_TEXT)
    district = dfs["GS_DISTRICT"]
    got = {r["code"]: r for r in district.collect()}
    assert got["FLM"]["name"] == "Middle Florida"
    assert got[""]["redacted_code"] is True
    assert [f.dataType.simpleString() for f in district.schema.fields] == [
        "string",
        "string",
        "boolean",
        "boolean",
    ]


def test_read_lookup_table_merges_consecutive_blank_lines(spark):
    """A run of blank lines is ONE delimiter region — the reference's
    ``^[\\s\\n]*$`` absorbs the whole run into a single match
    (ncd/lookup_table.py:51-55), so a double blank line before the table
    must not produce an empty body."""
    double_blank = (
        "Codebook report for LIONS table GS_POSITION\n"
        "Generated 01/15/2018\n"
        "\n"
        "\n"
        "Code  Description                 ActiveFlag\n"
        "----  --------------------------  ----------\n"
        "AG    Attorney General            Y\n"
        "\n"
        "End of report.\n"
    )
    name, df = read_lookup_table(spark, double_blank)
    assert name == "GS_POSITION"
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["code"] == "AG"
    assert rows[0]["description"] == "Attorney General"


def test_read_lookup_table_requires_two_blank_regions(spark):
    with pytest.raises(ValueError, match="two blank regions"):
        read_lookup_table(spark, "no blanks here GS_WHATEVER\n")


def test_read_lookup_table(spark):
    name, df = read_lookup_table(spark, LOOKUP_TEXT)
    assert name == "GS_POSITION"
    assert df.columns == [
        "code",
        "description",
        "active_flag",
        "redacted_code",
        "redacted_description",
        "redacted_active_flag",
    ]
    rows = {r["description"]: r for r in df.collect()}
    assert rows["Attorney General"]["code"] == "AG"
    assert rows["Redacted position"]["code"] == ""
    assert rows["Redacted position"]["redacted_code"] is True


def test_codebook_is_one_partition_local_relation(spark):
    """Codebooks are Arrow-built JVM local relations: no pickled Python RDD
    (so no Python worker), and one partition (so one task per write)."""
    df = read_global_tables(spark, GLOBAL_LIONS_TEXT)["GS_DISTRICT"]
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan, plan
    assert df.rdd.getNumPartitions() == 1


def test_codebook_write_leaves_one_data_file(spark, tmp_path):
    cat = SparkCatalog(spark, str(tmp_path), db_name="codebook_files_db")
    df = read_global_tables(spark, GLOBAL_LIONS_TEXT)["GS_DISTRICT"]
    try:
        cat.write_table("gs_district", df)
        files = os.listdir(cat.table_location("gs_district"))
        data_files = [f for f in files if not f.startswith((".", "_"))]
        assert len(data_files) == 1, files
        assert spark.table("codebook_files_db.gs_district").count() == 3
    finally:
        spark.sql("DROP DATABASE IF EXISTS codebook_files_db CASCADE")


def test_codebook_without_data_rows_keeps_schema(spark, tmp_path):
    dfs = read_global_tables(spark, "GS_EMPTY\n\nCode  ActiveFlag\n----  ----------\n")
    df = dfs["GS_EMPTY"]
    want = [
        ("code", "string"),
        ("active_flag", "string"),
        ("redacted_code", "boolean"),
        ("redacted_active_flag", "boolean"),
    ]
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == want
    assert df.count() == 0
    cat = SparkCatalog(spark, str(tmp_path), db_name="codebook_empty_db")
    try:
        cat.write_table("gs_empty", df)
        back = spark.table("codebook_empty_db.gs_empty")
        assert [(f.name, f.dataType.simpleString()) for f in back.schema.fields] == want
        assert back.count() == 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS codebook_empty_db CASCADE")


@pytest.mark.parametrize("fidelity_json", [False, True])
def test_codebook_roundtrip_keeps_redaction_and_names(spark, tmp_path, fidelity_json):
    """Through a real write: ``''`` + ``redacted_* = true`` for a ``*`` cell,
    lowercase UPPER_SNAKE column names, in Parquet and JSON-lines mode."""
    db = f"codebook_rt_{int(fidelity_json)}_db"
    cat = SparkCatalog(spark, str(tmp_path), db_name=db, fidelity_json=fidelity_json)
    try:
        name, df = read_lookup_table(spark, LOOKUP_TEXT)
        cat.write_table(name.lower(), df)
        back = spark.table(f"{db}.gs_position")
        assert back.columns == [
            "code",
            "description",
            "active_flag",
            "redacted_code",
            "redacted_description",
            "redacted_active_flag",
        ]
        rows = {r["description"]: r.asDict() for r in back.collect()}
        assert rows == {
            "Attorney General": {
                "code": "AG",
                "description": "Attorney General",
                "active_flag": "Y",
                "redacted_code": False,
                "redacted_description": False,
                "redacted_active_flag": False,
            },
            "Redacted position": {
                "code": "",
                "description": "Redacted position",
                "active_flag": "N",
                "redacted_code": True,
                "redacted_description": False,
                "redacted_active_flag": False,
            },
        }
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

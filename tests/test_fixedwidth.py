"""Fixed-width projection semantics (SURVEY.md §2.1 A4-A9): redaction,
null-on-cast-failure, Oracle dates, CR handling, NUMBER int() parity."""

import datetime
import zipfile

from pyspark.sql import Row
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.sources.data_zip import stage_members
from national_caseload_data_ingest_spark.sources.fixedwidth import (
    project_fixed_width,
)
from national_caseload_data_ingest_spark.sources.schemas import (
    FieldSpec,
    TableSchema,
)

SCHEMA = TableSchema(
    "T",
    (
        FieldSpec("SID", "VARCHAR2", 1, 4),
        FieldSpec("NUM", "NUMBER", 5, 9),
        FieldSpec("DT", "DATE", 10, 20),
        FieldSpec("FLT", "FLOAT", 21, 28),
    ),
)


def _rows(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    out = project_fixed_width(df, SCHEMA)
    return {r["sid"]: r for r in out.collect()}


def test_typed_projection_and_redaction(spark):
    rows = _rows(
        spark,
        [
            "AAAA" + "    7" + "01-JAN-2017" + "    12.5",
            "BBBB" + "    *" + "*          " + "       *",  # redactions
            "CCCC" + " 12.5" + "31-FEB-2017" + "     1e3",  # int() parity + bad date
            "DDDD" + "  007" + "01-jan-0099" + "        ",  # zeros, tiny year
        ],
    )
    a = rows["AAAA"]
    assert a["num"] == 7
    assert a["dt"] == datetime.date(2017, 1, 1)
    assert a["flt"] == 12.5
    assert (a["redacted_sid"], a["redacted_num"], a["redacted_dt"]) == (
        False,
        False,
        False,
    )

    b = rows["BBBB"]
    assert (b["num"], b["dt"], b["flt"]) == (None, None, None)
    assert (b["redacted_num"], b["redacted_dt"], b["redacted_flt"]) == (
        True,
        True,
        True,
    )

    c = rows["CCCC"]
    # '12.5' nulls for NUMBER (python int() raises; Spark cast would give 12)
    assert c["num"] is None and c["redacted_num"] is False
    # 31-FEB → null, NOT redacted (ncd/normal_table.py:109-115)
    assert c["dt"] is None and c["redacted_dt"] is False
    # float('1e3') succeeds in Python — and in Spark's double cast
    assert c["flt"] == 1000.0

    d = rows["DDDD"]
    assert d["num"] == 7  # '007' → 7
    assert d["dt"] == datetime.date(99, 1, 1)  # pre-1000 CE year parses
    assert d["flt"] is None  # empty → null (float('') raises)


def test_varchar_keeps_empty_string(spark):
    df = spark.createDataFrame(
        [("    " + "    1" + " " * 11 + " " * 8,), (" " * 28,)], ["value"]
    )
    rows = {r["num"]: r for r in project_fixed_width(df, SCHEMA).collect()}
    r = rows[1]
    # str('') never raises → empty string survives, not NULL (SURVEY §1.2)
    assert r["sid"] == "" and r["redacted_sid"] is False
    # A blank NUMBER, DATE or FLOAT cell is NULL (int(''), strptime('') and
    # float('') raise), and no blank cell is redacted.
    assert r["dt"] is None and r["flt"] is None
    blank = rows[None]
    assert (blank["sid"], blank["dt"], blank["flt"]) == ("", None, None)
    for row in (r, blank):
        assert not any(row[f"redacted_{c}"] for c in ("sid", "num", "dt", "flt"))


def test_each_cell_is_computed_once(spark):
    # One slice per field plus the DATE fast path's three part slices
    # (day, month, year).  Spark's subexpression elimination does not
    # share a cell used only inside CASE WHEN branches, so a cell written
    # into each branch is sliced again for every branch that reads it.
    df = spark.createDataFrame([Row(value="x")], ["value"])
    plan = spark._jvm.PythonSQLUtils.explainString(
        project_fixed_width(df, SCHEMA)._jdf.queryExecution(), "codegen"
    )
    dates = sum(f.src_type == "DATE" for f in SCHEMA.fields)
    assert plan.count("substringSQL(") == len(SCHEMA.fields) + 3 * dates


def test_lines_without_cr_are_unchanged(spark):
    # Each line reaches the cells byte for byte: a cell is the plain slice
    # of the line, trimmed, whatever characters it holds.
    whole = TableSchema(
        "W", (FieldSpec("K", "VARCHAR2", 1, 2), FieldSpec("REST", "VARCHAR2", 3, 40))
    )
    lines = [
        "01 tab\there  ",
        "02É ü 漢字 trailing   ",
        "03\u00a0nbsp \x00 nul",
        "05",
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    got = {r["k"]: r["rest"] for r in project_fixed_width(df, whole).collect()}
    want = dict(
        df.select(
            F.trim(F.substring("value", 1, 2)), F.trim(F.substring("value", 3, 38))
        ).collect()
    )
    assert {k: v.encode() for k, v in got.items()} == {
        k: v.encode() for k, v in want.items()
    }


def test_cr_becomes_space_offsets_preserved(spark, tmp_path):
    # A CR inside the NUM field, staged from a zip member: the row parses
    # as if the CR were a space.
    line = "EEEE" + "  \r 3" + "01-JAN-2017" + "     2.5"
    zip_path = str(tmp_path / "cr.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr("t.txt", (line + "\r\n").encode("latin-1"))
    staged = stage_members(zip_path)
    try:
        lines = spark.read.text(staged.members["t.txt"])
        rows = {r["sid"]: r for r in project_fixed_width(lines, SCHEMA).collect()}
    finally:
        staged.cleanup()
    r = rows["EEEE"]
    assert r["num"] == 3
    assert r["dt"] == datetime.date(2017, 1, 1)
    assert r["flt"] == 2.5


def test_column_order_data_then_shadows(spark):
    df = project_fixed_width(
        spark.createDataFrame([Row(value="x")], ["value"]), SCHEMA
    )
    assert df.columns == [
        "sid",
        "num",
        "dt",
        "flt",
        "redacted_sid",
        "redacted_num",
        "redacted_dt",
        "redacted_flt",
    ]

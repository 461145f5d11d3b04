"""Unit tests for the pure-Python schema layer (SURVEY.md §2.1 A2, A17,
A18; reference regexes are the spec)."""

import pytest

from national_caseload_data_ingest_spark.sources.globals import parse_ruler_fragment
from national_caseload_data_ingest_spark.sources.schemas import (
    FieldSpec,
    camel_to_upper_snake,
    extract_normal_schemas,
    infer_ruler_extents,
    slice_by_extents,
)
from tests.conftest import README_TEXT


def test_extract_normal_schemas_two_tables():
    schemas = extract_normal_schemas(README_TEXT)
    assert set(schemas) == {"GS_CASE", "GS_COURT_HIST"}
    case = schemas["GS_CASE"]
    assert [f.name for f in case.fields] == [
        "CASE_ID",
        "DISTRICT",
        "TOTAL_DEFENDANTS",
        "FILED_DATE",
        "LEAD_CHARGE_WT",
    ]
    # type args parsed but discarded (ncd/normal_table.py:118-120)
    assert case.fields[0].src_type == "VARCHAR2"
    assert case.fields[2].src_type == "NUMBER"
    # (start:end) → start/length (ncd/data_zip.py:75-83)
    assert (case.fields[0].start, case.fields[0].length) == (1, 10)
    assert (case.fields[3].start, case.fields[3].length) == (19, 11)


def test_extract_normal_schemas_empty_readme():
    assert extract_normal_schemas("no headings here\njust prose\n") == {}


def test_unknown_type_raises():
    spec = FieldSpec("X", "CLOB", 1, 4)
    with pytest.raises(NotImplementedError):
        spec.spark_type()


def test_spark_schema_shadow_order():
    schemas = extract_normal_schemas(README_TEXT)
    st = schemas["GS_COURT_HIST"].spark_schema()
    assert [f.name for f in st.fields] == [
        "case_id",
        "event_date",
        "event_code",
        "redacted_case_id",
        "redacted_event_date",
        "redacted_event_code",
    ]
    assert [f.dataType.simpleString() for f in st.fields] == [
        "string",
        "date",
        "string",
        "boolean",
        "boolean",
        "boolean",
    ]


def test_ruler_extents_and_slicing():
    divider = "----  --------------------------  ----------"
    extents = infer_ruler_extents(divider)
    assert extents == [(1, 4), (7, 32), (35, 44)]
    row = "AG    Attorney General            Y"
    assert slice_by_extents(row, extents) == ["AG", "Attorney General", "Y"]


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("Code", "CODE"),
        ("ActiveFlag", "ACTIVE_FLAG"),
        ("ABCFlag", "A_B_C_FLAG"),  # underscore before EVERY non-initial upper
        ("redacted_ActiveFlag", "redacted_ACTIVE_FLAG"),
    ],
)
def test_camel_to_upper_snake(raw, expected):
    assert camel_to_upper_snake(raw) == expected


def test_ruler_table_schema_all_string():
    columns, rows = parse_ruler_fragment(
        "Code  Description                 ActiveFlag\n"
        "----  --------------------------  ----------\n"
        "AG    Attorney General            Y\n"
    )
    assert columns[:3] == ["code", "description", "active_flag"]
    # every data cell is the string the ruler cuts
    assert rows == [["AG", "Attorney General", "Y", False, False, False]]

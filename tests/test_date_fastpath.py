"""Differential tests for the DATE fast path of the fixed-width projection.

``_cast_cell`` reads the exact ``DD-MON-YYYY`` shape with ``make_date`` and
sends every other cell to the LEGACY ``to_date(…, 'dd-MMM-yyyy')``.  Both
suites here compare it with the plain legacy parse on every row, using
null-safe equality: an exhaustive day × month × edge-year grid, and a
hypothesis strategy of exact dates and near misses around the fast path's
shape.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.sources.fixedwidth import (
    _FAST_DATE_RE,
    _MONTHS,
    ORACLE_DATE_FORMAT,
    _cast_cell,
)
from national_caseload_data_ingest_spark.sources.schemas import FieldSpec

_DATE_FIELD = FieldSpec("DT", "DATE", 1, 11)
# Below the fast path's 1600 floor: a Julian-only leap year (1500) and the
# 1582 cutover gap, where the legacy parser and make_date part ways.  Then
# years around the floor, Gregorian century rules (1700, 1800, 1900, 2000,
# 2100, 2400), a leap year, a current year and the four-digit ceiling.
_FALLBACK_YEARS = [1500, 1582, 1596, 1597, 1598, 1599]
_EDGE_YEARS = (
    _FALLBACK_YEARS
    + list(range(1600, 1612))
    + [1700, 1800, 1899, 1900, 1901, 1999, 2000, 2001, 2004, 2017]
    + [2100, 2400, 9998, 9999]
)


def _mismatches(spark, values: list[str]) -> list[tuple]:
    """Rows where the fast-path cast and the legacy parse disagree."""
    assert spark.conf.get("spark.sql.legacy.timeParserPolicy") == "LEGACY"
    df = spark.createDataFrame(pa.table({"v": pa.array(values, pa.string())}))
    cell = F.trim(F.col("v"))
    got = _cast_cell(cell, _DATE_FIELD)
    want = F.to_date(cell, ORACLE_DATE_FORMAT)
    rows = df.select("v", got.alias("got"), want.alias("want"))
    diff = rows.filter(~rows.got.eqNullSafe(rows.want))
    # As text: the legacy parser accepts 5-digit years, which Python's
    # ``datetime.date`` cannot hold.
    return [
        tuple(r) for r in diff.selectExpr("v", "string(got)", "string(want)").collect()
    ]


def test_exhaustive_day_month_year_grid(spark):
    values = [
        f"{d:02d}-{m}-{y}"
        for d, m, y in itertools.product(range(40), _MONTHS, _EDGE_YEARS)
    ]
    assert len(values) == 40 * 12 * 32
    df = spark.createDataFrame(pa.table({"v": values}))
    assert _mismatches(spark, values) == []
    fast = df.filter(F.col("v").rlike(_FAST_DATE_RE)).count()
    assert fast == 40 * 12 * (len(_EDGE_YEARS) - len(_FALLBACK_YEARS))


def _case_variants(word: str) -> st.SearchStrategy[str]:
    return st.lists(st.booleans(), min_size=len(word), max_size=len(word)).map(
        lambda ups: "".join(c.upper() if u else c.lower() for c, u in zip(word, ups))
    )


_LONG_MONTHS = ("JANUARY", "FEBRUARY", "MARCH", "APRIL", "JUNE", "JULY",
                "AUGUST", "SEPTEMBER", "OCTOBER", "NOVEMBER", "DECEMBER")
# Each near miss is an exact DD-MON-YYYY date with up to two parts swapped
# for one of these.  Years stay at five digits or fewer: a six-digit year
# is NULL on the fallback by design (``test_six_digit_years_are_null``),
# while the plain legacy parse this suite compares with raises ``long
# overflow`` past year 292277.
_PERTURBATIONS = {
    "day": st.one_of(
        st.integers(0, 9).map(str),
        st.integers(0, 999).map(lambda d: f"{d:03d}"),
        st.just(" 1"),
    ),
    "month": st.one_of(
        st.sampled_from(_MONTHS).flatmap(_case_variants),
        st.sampled_from(_LONG_MONTHS).flatmap(_case_variants),
        st.text(alphabet="ABCDEJLMNOPRSTUVY", min_size=2, max_size=4),
    ),
    "year": st.one_of(
        st.integers(0, 99).map(lambda y: f"{y:02d}"),
        st.integers(0, 99999).map(lambda y: f"{y:05d}"),
        st.integers(0, 999).map(str),
    ),
    "sep1": st.sampled_from(["/", " ", "", "--"]),
    "sep2": st.sampled_from(["/", " ", "", "--"]),
    "pad": st.sampled_from([" ", "  ", "\t"]),
    "tail": st.sampled_from(["x", " 12:00", "-", "."]),
}


@st.composite
def near_miss_dates(draw) -> str:
    parts = {
        "day": f"{draw(st.integers(0, 39)):02d}",
        "month": draw(st.sampled_from(_MONTHS)),
        "year": str(draw(st.one_of(st.integers(1580, 1610), st.integers(1600, 9999)))),
        "sep1": "-",
        "sep2": "-",
        "pad": "",
        "tail": "",
    }
    for part in draw(st.sets(st.sampled_from(sorted(_PERTURBATIONS)), max_size=2)):
        parts[part] = draw(_PERTURBATIONS[part])
    return "{pad}{day}{sep1}{month}{sep2}{year}{tail}{pad}".format(**parts)


# Hypothesis keeps unbounded lists short; a floor of 100 strings puts a few
# thousand cells through the 25 Spark jobs.
@settings(max_examples=25, deadline=None)
@given(st.lists(near_miss_dates(), min_size=100, max_size=250))
def test_near_miss_strings_match_legacy_parser(spark, values):
    assert _mismatches(spark, values) == []


def test_six_digit_years_are_null(spark):
    """A month followed by six or more year digits is NULL, as under the
    reference's ``strptime('%Y')``, where the legacy parser would raise
    ``long overflow`` past year 292277 and fail the write.  Checked with
    ``isNull``: Python cannot collect a year above 9999."""
    long_years = [
        "15-SEP-835260", "15-sep-835260", "15-SEP-0835260",
        "15-September-835260", "5-SEP-835260", "15-SEP-835260x",
        "15-SEP- 835260", "\t15-SEP-835260", "15-SEP-100000",
    ]
    df = spark.createDataFrame(
        pa.table({"v": long_years + ["15-SEP-99999"]})
    ).select("v", _cast_cell(F.trim(F.col("v")), _DATE_FIELD).isNull().alias("null"))
    got = {r["v"]: r["null"] for r in df.collect()}
    assert got == {**dict.fromkeys(long_years, True), "15-SEP-99999": False}

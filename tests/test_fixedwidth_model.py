"""A pure-Python model of the fixed-width cell rules, and a differential
test of the ingest path against it: ``stage_members``, ``spark.read.text``
and ``project_fixed_width`` together.

``convert_line`` converts one raw (latin-1) line under one ``TableSchema``
the way the reference pipeline does (SURVEY.md §2.1 A4-A9): CR becomes a
space, each field is the bytes at its 1-based inclusive extent decoded as
latin-1, the cell is trimmed of spaces, ``*`` is NULL with its
``redacted_*`` flag set, and every other cell is cast with NULL on failure:

- NUMBER: ``int()`` of integer text only (``'12.5'`` is NULL, not 12), and
  NULL past the BIGINT range;
- DATE: ``DD-MON-YYYY`` with any letter case and a one- or two-digit day is
  that date, NULL when the day does not exist (``31-FEB``, ``00-JAN``); a
  year of six or more digits is NULL; a blank cell or one without a digit
  is NULL;
- FLOAT: ``float()`` of decimal text;
- VARCHAR: the cell itself, so a blank cell stays ``''``.

The model covers the cells the strategies below generate.  A DATE cell
outside those shapes raises instead of guessing: the legacy parser's
other behaviour (trailing text, five-digit years, the Julian calendar
before 1600) is pinned against that parser in ``test_date_fastpath.py``.
"""

from __future__ import annotations

import datetime
import os
import re
import tempfile
import zipfile
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from national_caseload_data_ingest_spark.sources.data_zip import stage_members
from national_caseload_data_ingest_spark.sources.fixedwidth import (
    project_fixed_width,
)
from national_caseload_data_ingest_spark.sources.schemas import (
    FieldSpec,
    TableSchema,
)

_MONTHS = ("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
           "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")
_INT = re.compile(r"[+-]?[0-9]+")
_FLOAT = re.compile(r"[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?")
_DATE = re.compile(r"([0-9]{1,2})-([A-Za-z]{3})-([0-9]{1,4})")
_LONG_YEAR = re.compile(r"[0-9]+-[A-Za-z]+-[0-9]{6}")
_BIGINT = range(-(1 << 63), 1 << 63)


def _number(cell: str) -> int | None:
    if not _INT.fullmatch(cell):
        return None
    value = int(cell)
    return value if value in _BIGINT else None


def _date(cell: str) -> datetime.date | None:
    if not any(c.isdigit() for c in cell) or _LONG_YEAR.match(cell):
        return None
    m = _DATE.fullmatch(cell)
    if m is None or m[2].upper() not in _MONTHS:
        raise ValueError(f"DATE cell outside the model: {cell!r}")
    try:
        return datetime.date(int(m[3]), _MONTHS.index(m[2].upper()) + 1, int(m[1]))
    except ValueError:
        return None


def _float(cell: str) -> float | None:
    return float(cell) if _FLOAT.fullmatch(cell) else None


_CASTS = {"VARCHAR": str, "VARCHAR2": str, "NUMBER": _number,
          "DATE": _date, "FLOAT": _float}


def convert_line(raw: bytes, schema: TableSchema) -> tuple:
    """One row: every field's value, then every ``redacted_*`` flag."""
    raw = raw.replace(b"\r", b" ")
    cells = [
        raw[f.start - 1 : f.end].decode("latin-1").strip(" ") for f in schema.fields
    ]
    values = [
        None if cell == "*" else _CASTS[f.src_type](cell)
        for cell, f in zip(cells, schema.fields)
    ]
    return (*values, *(cell == "*" for cell in cells))


# --- the model against the existing examples ---------------------------------

_EXAMPLE_SCHEMA = TableSchema(
    "T",
    (
        FieldSpec("SID", "VARCHAR2", 1, 4),
        FieldSpec("NUM", "NUMBER", 5, 9),
        FieldSpec("DT", "DATE", 10, 20),
        FieldSpec("FLT", "FLOAT", 21, 28),
    ),
)


def test_model_agrees_with_the_projection_examples():
    """The rows ``test_fixedwidth.py`` asserts, converted by the model."""
    def row(line: str) -> tuple:
        return convert_line(line.encode("latin-1"), _EXAMPLE_SCHEMA)

    jan1 = datetime.date(2017, 1, 1)
    assert row("AAAA" + "    7" + "01-JAN-2017" + "    12.5") == (
        "AAAA", 7, jan1, 12.5, False, False, False, False)
    assert row("BBBB" + "    *" + "*          " + "       *") == (
        "BBBB", None, None, None, False, True, True, True)
    assert row("CCCC" + " 12.5" + "31-FEB-2017" + "     1e3") == (
        "CCCC", None, None, 1000.0, False, False, False, False)
    assert row("DDDD" + "  007" + "01-jan-0099" + "        ") == (
        "DDDD", 7, datetime.date(99, 1, 1), None, False, False, False, False)
    assert row("    " + "    1" + " " * 11 + " " * 8) == (
        "", 1, None, None, False, False, False, False)
    assert row(" " * 28) == ("", None, None, None, False, False, False, False)
    assert row("EEEE" + "  \r 3" + "01-JAN-2017" + "     2.5") == (
        "EEEE", 3, jan1, 2.5, False, False, False, False)
    # a latin-1 byte is one character: the fields after it keep their offsets
    assert convert_line(
        b"CASE0000\xd83" + b"    7", TableSchema(
            "C", (FieldSpec("ID", "VARCHAR2", 1, 10), FieldSpec("N", "NUMBER", 11, 15))
        )
    ) == ("CASE0000Ø3", 7, False, False)


def test_model_agrees_with_the_date_examples():
    """``test_date_fastpath.py``: six-digit years are NULL; every exact
    ``DD-MON-YYYY`` from 1600 on is the date when the day exists."""
    for cell in ("15-SEP-835260", "15-sep-835260", "15-SEP-0835260",
                 "15-September-835260", "5-SEP-835260", "15-SEP-100000"):
        assert _date(cell) is None, cell
    assert _date("29-FEB-2000") == datetime.date(2000, 2, 29)
    assert _date("29-feb-1900") is None
    assert _date("00-JAN-2017") is None
    assert _date("5-Sep-1600") == datetime.date(1600, 9, 5)


# --- the projection against the model ------------------------------------------

# latin-1 text: ASCII letters and digits, a tab, NBSP and high bytes that
# UTF-8 would spell in two bytes
_TEXT = "abcXYZ019 *\t\xa0\xc9\xd8\xe9\xfc\xff"


def _day_month_year(years: st.SearchStrategy[int]) -> st.SearchStrategy[str]:
    month = st.sampled_from(_MONTHS).flatmap(
        lambda m: st.sampled_from([m, m.lower(), m.title()])
    )
    day = st.one_of(
        st.integers(0, 39).map(lambda d: f"{d:02d}"), st.integers(1, 9).map(str)
    )
    return st.tuples(day, month, years).map(lambda p: f"{p[0]}-{p[1]}-{p[2]}")


_CELLS = {
    "VARCHAR2": st.text(alphabet=_TEXT, max_size=12),
    "NUMBER": st.one_of(
        st.integers(-(10**20), 10**20).map(str),
        st.integers(0, 999).map(lambda n: f"+{n:05d}"),
        st.text(alphabet="0123456789+-.e ", max_size=8),
    ),
    "DATE": st.one_of(
        _day_month_year(st.integers(1600, 9999)),
        _day_month_year(st.integers(100_000, 999_999)),
        st.sampled_from(["", "N/A", "UNKNOWN"]),
    ),
    "FLOAT": st.one_of(
        st.floats(allow_nan=False, allow_infinity=False).map(repr),
        st.integers(-999, 999).map(str),
        st.text(alphabet="0123456789+-.eE ", max_size=8),
    ),
}
_WIDTHS = {
    "VARCHAR2": st.integers(1, 10),
    "NUMBER": st.integers(1, 21),
    "DATE": st.integers(13, 15),
    "FLOAT": st.integers(1, 24),
}


@st.composite
def schemas(draw) -> TableSchema:
    fields, pos = [], 1
    for i in range(draw(st.integers(1, 5))):
        src_type = draw(st.sampled_from(sorted(_CELLS)))
        width = draw(_WIDTHS[src_type])
        pos += draw(st.integers(0, 2))  # a gap between fields
        fields.append(FieldSpec(f"F{i}", src_type, pos, pos + width - 1))
        pos += width
    return TableSchema("T", tuple(fields))


@st.composite
def lines(draw, schema: TableSchema) -> bytes:
    """One raw line: each field's cell (a redaction marker, blank or typed
    text) padded left or right to its width, random bytes in the gaps and
    after the last field, some spaces turned into CRs, and the line cut
    short anywhere but inside a DATE cell."""
    end = schema.fields[-1].end
    line = list(draw(st.text(alphabet=_TEXT, min_size=end + 3, max_size=end + 3)))
    for f in schema.fields:
        cell = draw(st.one_of(st.just("*"), st.just(""), _CELLS[f.src_type]))
        cell = cell[: f.length]
        cell = draw(st.sampled_from([cell.ljust, cell.rjust]))(f.length)
        line[f.start - 1 : f.end] = cell
    crs = draw(st.sets(st.integers(0, len(line) - 1), max_size=3))
    line = ["\r" if i in crs and c == " " else c for i, c in enumerate(line)]
    cut = draw(st.sampled_from([
        i for i in range(len(line) + 1)
        if not any(f.src_type == "DATE" and f.start - 1 < i < f.end
                   for f in schema.fields)
    ]))
    return "".join(line)[:cut].encode("latin-1")


@st.composite
def batches(draw) -> tuple[TableSchema, list[bytes]]:
    schema = draw(schemas())
    return schema, draw(st.lists(lines(schema), min_size=20, max_size=60))


# One Spark job per batch of lines.
@settings(max_examples=25, deadline=None)
@given(batches())
def test_projection_matches_model(spark, batch):
    """The lines take the ingest path: one zip member with a newline after
    each line, staged by ``stage_members``, read by ``spark.read.text`` and
    projected."""
    schema, raws = batch
    with tempfile.TemporaryDirectory() as tmp:
        zip_path = os.path.join(tmp, "lines.zip")
        with zipfile.ZipFile(zip_path, "w") as zf:
            zf.writestr("t.txt", b"".join(r + b"\n" for r in raws))
        staged = stage_members(zip_path)
        try:
            df = spark.read.text(staged.members["t.txt"])
            got = Counter(tuple(r) for r in project_fixed_width(df, schema).collect())
        finally:
            staged.cleanup()
    want = Counter(convert_line(r, schema) for r in raws)
    assert got == want, (got - want, want - got)

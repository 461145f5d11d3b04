"""Fixed-width text → typed, redaction-flagged DataFrame.

The Spark-first replacement for the reference's per-row Python pipeline
(CR-strip → csvkit fixed2csv → dict cast → JSON, SURVEY.md §2.1 A4-A9):
here the whole thing is a single narrow projection over ``spark.read.text``
— substring slicing, redaction, and casts are all ``Column`` expressions
inside one whole-stage-codegen span.  No UDFs, no shuffle, no Python in the
executor hot path; at 100 TB this scales linearly with input splits.

Semantics reproduced (with reference citations):

- ``\r`` is replaced by a **space, not removed**, so column offsets never
  shift (``/root/reference/ncd/normal_table.py:270-291``).
- A cell equal to ``*`` is a DOJ redaction marker: value → NULL and the
  ``redacted_{col}`` shadow BOOLEAN → true
  (``/root/reference/ncd/normal_table.py:200-222``).
- Casts null on failure (``/root/reference/ncd/normal_table.py:109-115``);
  NUMBER additionally accepts only integer text because the reference's
  ``int()`` raises on ``'12.5'`` while Spark's cast would truncate to 12 —
  an integer-regex guard restores parity (SURVEY.md §7 hard part 6).
- Oracle dates ``01-JAN-2017`` parse via ``dd-MMM-yyyy`` under the LEGACY
  parser (``/root/reference/ncd/normal_table.py:105-107``); unparseable
  dates → NULL.  That parser is a non-lenient ``SimpleDateFormat`` (about
  15 µs a cell), so the exact shape ``DD-MON-YYYY`` with an upper-case
  month and a year from 1600 on takes a fast path instead:
  ``make_date(year, month, day)``, which with ANSI off is NULL for an
  impossible day (``31-FEB``, ``00-JAN``) just as the legacy parser is.
  The year floor keeps the fast path clear of the Julian calendar, whose
  leap years and 1582 cutover gap the legacy parser applies and
  ``make_date`` does not.  Every other cell (lower-case months, 1-digit
  days, long month names, trailing text, years below 1600) falls back to
  the legacy ``to_date``; ``tests/test_date_fastpath.py`` pins the two
  paths to each other.  A year of six or more digits is NULL without
  parsing, as under the reference's ``strptime('%Y')``: the legacy parser
  raises ``long overflow`` on years past 292277.
- VARCHAR keeps empty strings as ``''`` (Python ``str()`` never raises), so
  only redaction produces NULL strings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.sources.schemas import FieldSpec, TableSchema

_INT_RE = r"^[+-]?[0-9]+$"
REDACTION_MARKER = "*"
ORACLE_DATE_FORMAT = "dd-MMM-yyyy"
_MONTHS = ("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
           "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")
# DD-MON-YYYY, upper-case month, year >= 1600: the cells ``make_date``
# reads exactly as the legacy parser does.
_FAST_DATE_RE = rf"^[0-9]{{2}}-({'|'.join(_MONTHS)})-(1[6-9]|[2-9][0-9])[0-9]{{2}}$"
# A month followed by six or more year digits, which the legacy parser
# would read and, past year 292277, fail the job on (``long overflow``).
_LONG_YEAR_RE = r"(?i)^\s*[0-9]+-[a-z]+-\s*[0-9]{6}"


def _oracle_date(cell: Column) -> Column:
    """``to_date(cell, 'dd-MMM-yyyy')`` under the LEGACY parser, with the
    common exact shape computed by ``make_date`` instead and six-digit
    years NULL."""
    month = F.array_position(F.array(*map(F.lit, _MONTHS)), F.substring(cell, 4, 3))
    fast = F.make_date(
        F.substring(cell, 8, 4).cast("int"),
        month.cast("int"),
        F.substring(cell, 1, 2).cast("int"),
    )
    return F.when(cell.rlike(_FAST_DATE_RE), fast).when(
        ~cell.rlike(_LONG_YEAR_RE), F.to_date(cell, ORACLE_DATE_FORMAT)
    )


def _cast_cell(cell: Column, f: FieldSpec) -> Column:
    """Typed value for one already-trimmed field, null-on-failure,
    reference semantics."""
    if f.src_type in ("VARCHAR", "VARCHAR2"):
        return cell
    if f.src_type == "NUMBER":
        return F.when(cell.rlike(_INT_RE), cell.cast("bigint"))
    if f.src_type == "DATE":
        return _oracle_date(cell)
    if f.src_type == "FLOAT":
        return cell.cast("double")
    raise NotImplementedError(f"Unsupported source field type: {f.src_type}")


def project_fixed_width(lines: DataFrame, schema: TableSchema) -> DataFrame:
    """Slice a one-column DataFrame of raw lines into the typed table.

    ``lines`` must have a string column named ``value`` (``spark.read.text``
    contract).  Output columns: all data columns (lower-cased names), then
    all ``redacted_*`` shadows — the reference's DDL order
    (``/root/reference/ncd/normal_table.py:166-175``).
    """
    # Offsets-preserving CR handling (A4).
    value = F.regexp_replace(F.col("value"), "\r", " ")
    cells = {f.name: F.trim(F.substring(value, f.start, f.length)) for f in schema.fields}
    data_cols = []
    shadow_cols = []
    for f in schema.fields:
        raw = cells[f.name]
        is_redacted = raw == REDACTION_MARKER
        data_cols.append(
            F.when(is_redacted, F.lit(None)).otherwise(_cast_cell(raw, f))
            .alias(f.name.lower())
        )
        shadow_cols.append(is_redacted.alias(f"redacted_{f.name.lower()}"))
    return lines.select(*data_cols, *shadow_cols)


def read_fixed_width(
    spark: SparkSession, paths: list[str] | str, schema: TableSchema
) -> DataFrame:
    """``spark.read.text`` over staged (UTF-8) fixed-width files + projection.

    Input staging re-encodes latin-1 → UTF-8 (see ``data_zip.stage_members``);
    latin-1 maps 1 byte ↔ 1 char, so character-based ``substring`` extents
    remain exactly the reference's byte extents.
    """
    return project_fixed_width(spark.read.text(paths), schema)

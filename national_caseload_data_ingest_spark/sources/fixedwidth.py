"""Fixed-width text → typed, redaction-flagged DataFrame.

The Spark-first replacement for the reference's per-row Python pipeline
(CR-strip → csvkit fixed2csv → dict cast → JSON, SURVEY.md §2.1 A4-A9):
here the whole thing is two narrow projections over ``spark.read.text``
inside one whole-stage-codegen span.  The first slices and trims each
field's cell, once per row; the second reads the cells as columns for
redaction, casts and shadows.  Spark's subexpression elimination does not
share an expression used only inside CASE WHEN branches, so a cell written
into every branch would be sliced and trimmed again for each of them; and
``CollapseProject`` keeps the two projections apart because each cell is
read more than once.  No UDFs, no shuffle, no Python in the executor hot
path.

No line reaching the projection holds a CR: staging
(``data_zip.stage_members``) turns each one into a space so that column
offsets hold (``/root/reference/ncd/normal_table.py:270-291``), and
``spark.read.text`` would end a line at any CR left over.

Semantics reproduced (with reference citations):

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from national_caseload_data_ingest_spark.sources.schemas import (
    REDACTION_MARKER,
    FieldSpec,
    TableSchema,
)

_INT_RE = r"^[+-]?[0-9]+$"
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
    spark_type = f.spark_type()
    if isinstance(spark_type, T.LongType):
        return F.when(cell.rlike(_INT_RE), cell.cast("bigint"))
    if isinstance(spark_type, T.DateType):
        return _oracle_date(cell)
    if isinstance(spark_type, T.DoubleType):
        return cell.cast("double")
    return cell


def project_fixed_width(lines: DataFrame, schema: TableSchema) -> DataFrame:
    """Slice a one-column DataFrame of raw lines into the typed table.

    ``lines`` must have a string column named ``value`` (``spark.read.text``
    contract).  Output columns are named and ordered by
    :meth:`TableSchema.spark_schema`: all data columns, then all
    ``redacted_*`` shadows.
    """
    # Each cell once per row, in a projection of its own (module docstring).
    cells = lines.select(
        *(F.trim(F.substring("value", f.start, f.length)).alias(f"_c{i}")
          for i, f in enumerate(schema.fields))
    )
    cols = [F.col(f"_c{i}") for i in range(len(schema.fields))]
    data = [
        F.when(cell == REDACTION_MARKER, F.lit(None)).otherwise(_cast_cell(cell, f))
        for cell, f in zip(cols, schema.fields)
    ]
    shadows = [cell == REDACTION_MARKER for cell in cols]
    names = schema.spark_schema().names
    return cells.select(*(c.alias(n) for c, n in zip(data + shadows, names)))

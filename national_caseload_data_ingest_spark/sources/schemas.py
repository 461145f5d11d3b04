"""NCD schema model: extraction from README prose, hyphen-ruler inference,
and mapping to Spark types.

Reproduces the *behavior* of the reference's schema acquisition (SURVEY.md
§1.3) without porting its code:

- Normal tables: ``README.TXT`` blocks headed ``NAME - description`` with
  field lines ``FIELD_NAME [NOT NULL] TYPE[(args)] (start:end)``
  (``/root/reference/ncd/data_zip.py:58-134``).
- Global/lookup tables: column extents inferred from the hyphen-run divider
  row under the header (``/root/reference/ncd/global_file.py:76-123``), all
  columns typed STRING, camelCase headers renamed to UPPER_SNAKE_CASE
  (``/root/reference/ncd/global_file.py:104-111``).
- Type mapping VARCHAR2→string, NUMBER→long, DATE→date, FLOAT→double with
  fail-fast ``NotImplementedError`` on anything else
  (``/root/reference/ncd/normal_table.py:117-130``, ``:151-164``; length
  arguments are parsed but deliberately discarded, matching the reference).

Everything here is driver-side pure Python — schemas are a few KB of prose;
the data they describe is what scales, and that goes through Spark.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import types as T

# Oracle-ish source type → Spark type.  NUMBER maps to LongType always, even
# for NUMBER(p,s) — the reference truncates decimals through int() and we
# keep that contract (SURVEY.md §2.1 notable details).
SPARK_TYPES: dict[str, T.DataType] = {
    "VARCHAR": T.StringType(),
    "VARCHAR2": T.StringType(),
    "NUMBER": T.LongType(),
    "DATE": T.DateType(),
    "FLOAT": T.DoubleType(),
}

# A cell that is exactly this marks a DOJ redaction, in fixed-width and
# ruler tables alike (``/root/reference/ncd/normal_table.py:200-222``,
# ``/root/reference/ncd/global_file.py:98-101``).
REDACTION_MARKER = "*"


def ddl_name(data_type: T.DataType) -> str:
    """DDL spelling of a Spark type: STRING, BIGINT, DATE, DOUBLE, BOOLEAN
    for the types the ingest writes (Spark and Athena agree on these)."""
    return data_type.simpleString().upper()


@dataclass(frozen=True)
class FieldSpec:
    """One fixed-width field: 1-based inclusive column extent + source type."""

    name: str
    src_type: str  # base type name, parenthesized args already stripped
    start: int  # 1-based, inclusive
    end: int  # 1-based, inclusive

    @property
    def length(self) -> int:
        return self.end - self.start + 1

    def spark_type(self) -> T.DataType:
        try:
            return SPARK_TYPES[self.src_type]
        except KeyError:
            raise NotImplementedError(
                f"Unsupported source field type: {self.src_type}"
            ) from None


@dataclass(frozen=True)
class TableSchema:
    """A named table's ordered field list."""

    name: str
    fields: tuple[FieldSpec, ...]

    def spark_schema(self) -> T.StructType:
        """StructType: all data columns, then all ``redacted_*`` BOOLEANs
        (shadow-column order per ``/root/reference/ncd/normal_table.py:166-175``)."""
        return T.StructType(
            [T.StructField(f.name.lower(), f.spark_type(), True) for f in self.fields]
            + [
                T.StructField(f"redacted_{f.name.lower()}", T.BooleanType(), True)
                for f in self.fields
            ]
        )


# --- README (normal-table) schema extraction --------------------------------

# `FIELD_NAME   NOT NULL   VARCHAR2(8)   (1:8)` — NOT NULL optional; the
# type token includes any attached parenthesized args (split off below), and
# the line may carry trailing text.  Mirrors the capture behavior of
# ``/root/reference/ncd/data_zip.py:68-73``.
_FIELD_LINE = re.compile(
    r"^[ \t]*(?P<name>[A-Z]\S+)\s+(?:NOT NULL)?\s+"
    r"(?P<type>[A-Z]\S+)\s+"
    r"\((?P<start>\d+):(?P<end>\d+)\)",
    re.MULTILINE,
)

# `GS_CASE - Case master records` headings delimit per-table fragments; any
# uppercase-initial token qualifies (``/root/reference/ncd/data_zip.py:109``).
_TABLE_HEADING = re.compile(r"^(?P<name>[A-Z][^ \n]+) - ", re.MULTILINE)


def extract_normal_schemas(readme_text: str) -> dict[str, TableSchema]:
    """Parse every ``NAME - …`` block of a README into a TableSchema.

    Mirrors the slicing strategy of ``/root/reference/ncd/data_zip.py:109-134``:
    locate each heading, take the text up to the next heading, and regex the
    field lines out of that fragment.  Returns ``{}`` for a README with no
    headings (negative fixture A5 in FIXTURES.md).
    """
    headings = list(_TABLE_HEADING.finditer(readme_text))
    out: dict[str, TableSchema] = {}
    for i, m in enumerate(headings):
        frag_end = headings[i + 1].start() if i + 1 < len(headings) else len(readme_text)
        fragment = readme_text[m.start() : frag_end]
        fields = tuple(
            FieldSpec(
                name=fm.group("name"),
                # `VARCHAR2(8)` → base type VARCHAR2; length args are
                # captured-but-discarded, matching the reference.
                src_type=fm.group("type").split("(", 1)[0],
                start=int(fm.group("start")),
                end=int(fm.group("end")),
            )
            for fm in _FIELD_LINE.finditer(fragment)
        )
        if fields:
            # A heading with no parseable field lines is prose, not a table
            # (deliberately stricter than the reference, which would emit an
            # empty-schema table it could never load data for).
            out[m.group("name")] = TableSchema(m.group("name"), fields)
    return out


# --- hyphen-ruler (global/lookup) schema inference --------------------------

_HYPHEN_RUN = re.compile(r"-+")


def infer_ruler_extents(divider_line: str) -> list[tuple[int, int]]:
    """Column extents (1-based inclusive) from a ``----  ------`` divider.

    The spans of the hyphen runs ARE the column extents
    (``/root/reference/ncd/global_file.py:86-87``).
    """
    return [(m.start() + 1, m.end()) for m in _HYPHEN_RUN.finditer(divider_line)]


def slice_by_extents(line: str, extents: list[tuple[int, int]]) -> list[str]:
    """Cut one row into cells by the ruler extents; cells are stripped."""
    return [line[s - 1 : e].strip() for s, e in extents]


def camel_to_upper_snake(name: str) -> str:
    """``ActiveFlag`` → ``ACTIVE_FLAG``; the reference's header normalization
    including the ``REDACTED__X`` → ``redacted_X`` fixup
    (``/root/reference/ncd/global_file.py:104-111``).

    Rule: an underscore lands before *every* non-initial uppercase letter
    (so ``ABCFlag`` → ``A_B_C_FLAG``, exactly like the reference — not the
    softer lower-to-upper boundary rule)."""
    snake = re.sub(r"(?<!^)([A-Z])", r"_\1", name).upper()
    if snake.startswith("REDACTED__"):
        return "redacted_" + snake[len("REDACTED__") :]
    return snake

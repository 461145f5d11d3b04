"""Global (stacked) and lookup table extraction.

The reference's ``global_LIONS.txt`` stacks many small codebook tables:
``NAME`` heading line, blank line, header row, hyphen-ruler divider, data
rows (``/root/reference/ncd/global_file.py:125-167``).  Lookup files
(``table_gs_*.txt``) hold one such table between the first and second blank
lines, named by the first ``GS_``-prefixed token
(``/root/reference/ncd/lookup_table.py:45-64``).

These are KB-scale codebooks, so parsing stays on the driver (same call the
reference makes); the parsed rows become small DataFrames that downstream
queries **broadcast-join** against fact tables — the designed use of lookup
tables per the reference README (decode joins, ``README.md:46-50``).

Each codebook DataFrame is built from a ``pyarrow.Table`` (string data
columns, then boolean shadows), which Spark plans as a JVM
``LocalRelation``: no pickled Python RDD, so no Python worker starts.  It
is coalesced to one partition, so a codebook write is one task and one file.

Semantics reproduced:

- Column extents are exactly the hyphen-run spans of the divider row
  (``/root/reference/ncd/global_file.py:86-92``).
- A ``*`` cell → empty-string value + ``redacted_* = true`` (note: the
  global path keeps ``''``, not NULL — unlike normal tables;
  ``/root/reference/ncd/global_file.py:98-101``).
- Headers are camelCase → UPPER_SNAKE_CASE, shadows prefixed before the
  conversion so ``redacted_ActiveFlag`` → ``redacted_ACTIVE_FLAG``
  (``/root/reference/ncd/global_file.py:104-111``); we additionally
  lowercase final column names (Athena treats identifiers
  case-insensitively, so the reference's effective names are lowercase —
  Spark's are not, and lowercase keeps the two surfaces aligned).
- A zip with no ``global_LIONS.txt`` is a silent no-op
  (``/root/reference/ncd/global_file.py:217-220``).
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from national_caseload_data_ingest_spark.sources.schemas import (
    REDACTION_MARKER,
    camel_to_upper_snake,
    infer_ruler_extents,
    slice_by_extents,
)

GLOBAL_MEMBER_NAME = "global_LIONS.txt"
LOOKUP_MEMBER_PREFIX = "table_gs_"

# A heading is a whole line holding one uppercase-initial token
# (``/root/reference/ncd/global_file.py:137``).
_HEADING = re.compile(r"^([A-Z]\S+)$", re.MULTILINE)
_BLANK_LINE = re.compile(r"^[ \t]*$", re.MULTILINE)
_GS_TOKEN = re.compile(r"(?<=\s)(GS_\S+)")


def parse_ruler_fragment(fragment: str) -> tuple[list[str], list[list[object]]]:
    """One ruler table fragment → (column_names, rows).

    ``fragment`` starts at the header row: header, divider, data rows.
    Output columns: data columns then ``redacted_*`` BOOLEAN shadows, all
    lowercase; redacted cells carry ``''`` + ``True``.
    """
    lines = fragment.strip("\n").split("\n")
    header, divider, *data_lines = lines
    extents = infer_ruler_extents(divider)
    raw_headers = slice_by_extents(header, extents)
    data_names = [camel_to_upper_snake(h).lower() for h in raw_headers]
    shadow_names = [
        camel_to_upper_snake(f"redacted_{h}").lower() for h in raw_headers
    ]
    rows: list[list[object]] = []
    for line in data_lines:
        if not line.strip():
            continue
        cells = slice_by_extents(line, extents)
        values = ["" if c == REDACTION_MARKER else c for c in cells]
        flags = [c == REDACTION_MARKER for c in cells]
        rows.append(values + flags)
    return data_names + shadow_names, rows


def split_global_tables(raw_content: str) -> dict[str, str]:
    """Split the stacked global file into ``{table_name: fragment}``.

    A fragment begins after ``NAME\\n\\n`` and ends at the next heading.
    Returns ``{}`` when no headings exist.
    """
    headings = list(_HEADING.finditer(raw_content))
    out: dict[str, str] = {}
    for i, m in enumerate(headings):
        start = m.end()
        end = headings[i + 1].start() if i + 1 < len(headings) else len(raw_content)
        fragment = raw_content[start:end].strip("\n")
        if fragment:
            out[m.group(1)] = fragment
    return out


def _to_dataframe(
    spark: SparkSession, columns: list[str], rows: list[list[object]]
) -> DataFrame:
    n_data = len(columns) // 2
    arrays = [
        pa.array([row[i] for row in rows], pa.string() if i < n_data else pa.bool_())
        for i in range(len(columns))
    ]
    table = pa.Table.from_arrays(arrays, names=columns)
    return spark.createDataFrame(table).coalesce(1)


def read_global_tables(
    spark: SparkSession, raw_content: str
) -> dict[str, DataFrame]:
    """All stacked tables of a global file as small DataFrames."""
    out = {}
    for name, fragment in split_global_tables(raw_content).items():
        columns, rows = parse_ruler_fragment(fragment)
        out[name] = _to_dataframe(spark, columns, rows)
    return out


def read_lookup_table(
    spark: SparkSession, raw_content: str
) -> tuple[str, DataFrame]:
    """One ``table_gs_*.txt`` file → (table_name, DataFrame).

    The table body sits between the first and second blank *regions*; the
    name is the first whitespace-preceded ``GS_*`` token in the file.

    A run of consecutive blank lines counts as ONE region — the reference's
    ``^[\\s\\n]*$`` pattern greedily absorbs the whole run into a single
    match (``/root/reference/ncd/lookup_table.py:51-55``), so a double
    blank line before the table must not yield an empty body.
    """
    regions: list[list[int]] = []
    for m in _BLANK_LINE.finditer(raw_content):
        if regions and m.start() <= regions[-1][1] + 1:
            regions[-1][1] = m.end()  # adjacent blank line: extend the run
        else:
            regions.append([m.start(), m.end()])
    if len(regions) < 2:
        raise ValueError(
            "lookup file needs two blank regions delimiting the table body"
        )
    body = raw_content[regions[0][1] : regions[1][0]].strip("\n")
    name_match = _GS_TOKEN.search(raw_content)
    if name_match is None:
        raise ValueError("lookup file contains no GS_* table name token")
    columns, rows = parse_ruler_fragment(body)
    return name_match.group(1), _to_dataframe(spark, columns, rows)

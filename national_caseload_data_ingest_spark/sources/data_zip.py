"""NCD zip archive source + per-zip load orchestration.

Spark-first re-expression of the reference's ``DataZip`` pipeline
(``/root/reference/ncd/data_zip.py:40-52``):

1. Stage zip members to a scratch directory, re-encoding latin-1 → UTF-8
   and replacing ``\\r`` with a space (offset-preserving, like the
   reference's chunked CR-strip at ``/root/reference/ncd/
   normal_table.py:270-291``).  Zip members are not splittable, so
   extraction is driver-side; once staged, *all district files of a table
   are read by one* ``spark.read.text`` *call* and processed in parallel —
   the reference loops districts sequentially
   (``/root/reference/ncd/normal_table.py:51-60``).
2. Extract normal-table schemas from ``README.TXT`` (latin-1,
   ``/root/reference/ncd/data_zip.py:104-105``).
3. For each normal table (sorted, A25): discover member files
   ``{table}(_{DISTRICT})?.txt`` (``/root/reference/ncd/
   normal_table.py:233-235``), project fixed-width → typed + redaction
   shadows, and write through the catalog.  A table is partitioned iff
   every file carries a district suffix (``/root/reference/ncd/
   normal_table.py:62``); only then does it get ``filename_district``,
   from the *file name* (via ``input_file_name()``, so a single
   distributed read covers every district).
4. Global tables (UTF-8 stacked file; silent no-op when absent) and lookup
   tables (``table_gs_*`` members, latin-1, sorted) land unpartitioned.

The unit of parallelism is the staged member file: a table's district
files are the input splits of its one read.  Staging is not parallel:
``listing.load_all`` overlaps the downloads, but it loads the zips one after
another, and each zip's members are staged in turn on the driver.  The
largest load measured is a 199 MB, 5.1 M-row dump (ROADMAP item 4, scale
25): 0.21-0.29 CPU-s per input MB.
"""

from __future__ import annotations

import io
import os
import re
import shutil
import tempfile
import zipfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.catalog import (
    PARTITION_COLUMN,
    SparkCatalog,
)
from national_caseload_data_ingest_spark.sources import globals as g
from national_caseload_data_ingest_spark.sources.fixedwidth import (
    project_fixed_width,
)
from national_caseload_data_ingest_spark.sources.schemas import (
    TableSchema,
    extract_normal_schemas,
)

README_MEMBER = "README.TXT"


def district_file_pattern(table_name: str) -> re.Pattern[str]:
    """``{table_lower}(_{DISTRICT})?.txt`` member matcher
    (``/root/reference/ncd/normal_table.py:233-235``)."""
    return re.compile(
        rf"^{re.escape(table_name.lower())}(?:_(?P<district>[A-Z]+))?\.txt$"
    )


# Characters transcoded per read while staging: driver memory stays at a
# few chunks whatever the member size.
STAGE_CHUNK_CHARS = 1 << 20


@dataclass
class StagedZip:
    """Zip members staged to a scratch dir as UTF-8 text, each CR a space."""

    stage_dir: str
    members: dict[str, str] = field(default_factory=dict)  # member -> path

    def cleanup(self) -> None:
        shutil.rmtree(self.stage_dir, ignore_errors=True)


def stage_members(zip_path: str) -> StagedZip:
    """Extract every ``.txt`` member, re-encoded to UTF-8 with ``\\r``→space.

    latin-1 maps each byte to one char, so fixed-width character extents are
    preserved; the CR replacement keeps offsets intact exactly like the
    reference (space, not removal).  This is the one place the CR rule is
    applied: ``project_fixed_width`` slices the staged lines as they are.
    ``global_LIONS.txt`` is already UTF-8 (reference
    ``ncd/global_file.py:223``), decoded strictly so invalid bytes raise.  Members stream through in ``STAGE_CHUNK_CHARS``
    chunks; the incremental decoder carries a multibyte character split
    across a chunk boundary, so the output equals a whole-member transcode.
    """
    staged = StagedZip(stage_dir=tempfile.mkdtemp(prefix="ncd_stage_"))
    try:
        with zipfile.ZipFile(zip_path) as zf:
            for member in zf.namelist():
                if member.endswith("/"):
                    continue
                encoding = "utf-8" if member == g.GLOBAL_MEMBER_NAME else "latin-1"
                out_path = os.path.join(staged.stage_dir, member.replace("/", "__"))
                with io.TextIOWrapper(
                    zf.open(member), encoding=encoding, newline=""
                ) as src, open(out_path, "w", encoding="utf-8") as dst:
                    while chunk := src.read(STAGE_CHUNK_CHARS):
                        dst.write(chunk.replace("\r", " "))
                staged.members[member] = out_path
    except BaseException:
        staged.cleanup()
        raise
    return staged


class NcdZipLoader:
    """Load one NCD zip into the catalog (the reference's ``DataZip.load``)."""

    def __init__(
        self, spark: SparkSession, catalog: SparkCatalog, zip_path: str
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.zip_path = zip_path

    def load(self) -> list[str]:
        """Process normal, global, then lookup tables; returns the names of
        the tables written (a README table with no member file is not)."""
        staged = stage_members(self.zip_path)
        loaded: list[str] = []
        try:
            schemas = self._normal_schemas(staged)
            for name in sorted(schemas):
                if self._load_normal_table(staged, schemas[name]):
                    loaded.append(name)
            loaded += self._load_global_tables(staged)
            loaded += self._load_lookup_tables(staged)
        finally:
            staged.cleanup()
        return loaded

    # -- normal tables -----------------------------------------------------

    def _normal_schemas(self, staged: StagedZip) -> dict[str, TableSchema]:
        readme = staged.members.get(README_MEMBER)
        if readme is None:
            return {}
        with open(readme, encoding="utf-8") as fh:
            return extract_normal_schemas(fh.read())

    def read_normal_table(
        self, staged: StagedZip, schema: TableSchema
    ) -> tuple[DataFrame, bool] | None:
        """One distributed read over every district file of a table.

        Returns ``(df, is_partitioned)``.  A partitioned table (every
        file carries a district suffix) gets ``filename_district``
        extracted from each row's source file name; an unpartitioned one
        gets no such column.
        """
        pattern = district_file_pattern(schema.name)
        files = {
            m.group("district"): path
            for member, path in staged.members.items()
            if (m := pattern.match(member))
        }
        if not files:
            return None
        is_partitioned = None not in files
        lines = self.spark.read.text(sorted(files.values()))
        df = project_fixed_width(lines, schema)
        if is_partitioned:
            df = df.withColumn(
                PARTITION_COLUMN,
                F.regexp_extract(
                    F.input_file_name(), r"_([A-Z]+)\.txt$", 1
                ),
            )
        return df, is_partitioned

    def _load_normal_table(self, staged: StagedZip, schema: TableSchema) -> bool:
        """Write the table; False when the zip holds no file for it."""
        result = self.read_normal_table(staged, schema)
        if result is None:
            return False
        df, is_partitioned = result
        self.catalog.write_table(
            schema.name.lower(), df, partitioned=is_partitioned
        )
        return True

    # -- global + lookup tables --------------------------------------------

    def _load_global_tables(self, staged: StagedZip) -> list[str]:
        path = staged.members.get(g.GLOBAL_MEMBER_NAME)
        if path is None:
            return []  # silent no-op, reference parity
        with open(path, encoding="utf-8") as fh:
            content = fh.read()
        loaded = []
        for name, df in sorted(g.read_global_tables(self.spark, content).items()):
            self.catalog.write_table(name.lower(), df)
            loaded.append(name)
        return loaded

    def _load_lookup_tables(self, staged: StagedZip) -> list[str]:
        loaded = []
        for member in sorted(staged.members):
            if not member.startswith(g.LOOKUP_MEMBER_PREFIX):
                continue
            with open(staged.members[member], encoding="utf-8") as fh:
                content = fh.read()
            name, df = g.read_lookup_table(self.spark, content)
            self.catalog.write_table(name.lower(), df)
            loaded.append(name)
        return loaded


"""Catalog + sink layer: the Spark-native replacement for the reference's
Athena client (``/root/reference/ncd/athena.py``) and its disk-backed test
double (``/root/reference/ncd/athena_mock.py``).

Responsibilities (SURVEY.md §2.1 A10-A15, A19, A26):

- ``create_db`` — ``CREATE DATABASE IF NOT EXISTS``, once per catalog (A14).
- ``write_table`` — partitioned writes under the same Hive layout the
  reference uploads to S3: ``{warehouse}/{db}/{table}/filename_district={D}/``
  (``/root/reference/ncd/athena.py:92-113``).  Default format is Parquet
  (columnar, splittable, stats — the 100 TB-correct choice); a
  ``fidelity_json`` mode writes gzipped JSON-lines matching the reference's
  bytes-on-disk model (non-splittable; kept only for byte-level parity).
- ``generate_ddl`` — CREATE EXTERNAL TABLE text with all data columns then
  all ``redacted_*`` shadows and an optional ``PARTITIONED BY
  (filename_district STRING)`` clause (``/root/reference/ncd/
  normal_table.py:137-198``, ``/root/reference/ncd/global_file.py:169-205``).
- ``recover_partitions`` — ``MSCK REPAIR TABLE`` parity (A13).
- ``executed_sql`` — every statement issued is recorded, which is the
  AthenaMock golden-DDL inspection affordance (A26) with no extra backend.

The warehouse may be any Hadoop-visible filesystem (``file://``, ``s3a://``,
HDFS) — paths flow straight into ``DataFrameWriter``.  Two caveats: only
``file://`` is exercised by this repo's tests (the sandbox has no object
store), and ``compact_table`` is local-only BY DESIGN (POSIX renames; it
raises on any other scheme).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from national_caseload_data_ingest_spark.sources.schemas import ddl_name

PARTITION_COLUMN = "filename_district"


def _column_list(fields: list[T.StructField]) -> str:
    """The ``name TYPE`` lines of a CREATE TABLE column list, in order."""
    return ",\n    ".join(f"{f.name} {ddl_name(f.dataType)}" for f in fields)


class SparkCatalog:
    """Engine-facing catalog: databases, partitioned table writes, SQL."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        db_name: str = "ncd",
        fidelity_json: bool = False,
    ) -> None:
        self.spark = spark
        self.warehouse_dir = warehouse_dir.rstrip("/")
        self.db_name = db_name
        self.fidelity_json = fidelity_json
        self.executed_sql: list[str] = []
        self._db_created = False

    # -- locations ---------------------------------------------------------

    def table_location(self, table_name: str) -> str:
        """Deterministic per-table prefix, mirroring
        ``/root/reference/ncd/athena.py:81-90``."""
        return f"{self.warehouse_dir}/{self.db_name}/{table_name}"

    # -- DDL ---------------------------------------------------------------

    def execute_query(self, sql: str) -> DataFrame:
        """Run SQL synchronously and record it (A15 + A26).

        The reference's submit/poll/fetch machinery collapses to one call:
        Catalyst parses/plans/executes inline and returns a DataFrame.
        """
        self.executed_sql.append(sql)
        return self.spark.sql(sql)

    def create_db(self) -> None:
        """``CREATE DATABASE IF NOT EXISTS``, issued once per catalog: every
        write registers its table, and one statement covers them all."""
        if not self._db_created:
            self.execute_query(f"CREATE DATABASE IF NOT EXISTS {self.db_name}")
            self._db_created = True

    def generate_ddl(
        self,
        table_name: str,
        schema: T.StructType,
        partitioned: bool = False,
    ) -> str:
        """CREATE EXTERNAL TABLE text for a table whose StructType already
        carries data columns first, shadows last (the reference's order)."""
        data_format = "JSON" if self.fidelity_json else "PARQUET"
        # Spark-native `USING` DDL (the `STORED AS … SERDE` clause of the
        # reference's Athena DDL requires a Hive metastore); the partition
        # column joins the column list per USING-table syntax.
        fields = list(schema.fields)
        partition_clause = ""
        if partitioned:
            fields.append(T.StructField(PARTITION_COLUMN, T.StringType()))
            partition_clause = f"\nPARTITIONED BY ({PARTITION_COLUMN})"
        cols = _column_list(fields)
        return (
            f"CREATE TABLE IF NOT EXISTS {self.db_name}.{table_name} (\n"
            f"    {cols}\n"
            f")\nUSING {data_format}{partition_clause}\n"
            f"LOCATION '{self.table_location(table_name)}'"
        )

    def generate_fidelity_ddl(
        self,
        table_name: str,
        schema: T.StructType,
        partitioned: bool = False,
        data_bucket: str = "data-bucket",
        s3_prefix: str = "ncd",
    ) -> str:
        """Byte-fidelity Athena DDL — the exact text the reference emits
        (``/root/reference/ncd/normal_table.py:184-198``,
        ``/root/reference/ncd/global_file.py:192-205``): ``CREATE EXTERNAL
        TABLE`` with a JsonSerDe ``ROW FORMAT`` clause, ``STORED AS
        TEXTFILE``, an ``s3://{bucket}/{prefix}/{db}/{table}`` location
        (prefix layout per ``/root/reference/ncd/athena.py:80-90``), a
        trailing semicolon, and the reference's leading/trailing newlines
        from its dedented template.

        The DATE mapping deliberately stays ``DATE`` even though the JSON
        wire format carries strftime strings — the reference admits this in
        a source comment ("Actually a date in strftime format",
        ``/root/reference/ncd/normal_table.py:160``) but emits plain
        ``DATE`` in the DDL text, and byte fidelity follows the emitted
        text.  This companion to ``fidelity_json`` writes makes the
        golden-DDL affordance (A26) reference-comparable; it is NOT
        executable by Spark without a Hive metastore, so it is emitted and
        recorded, never executed here.
        """
        cols = _column_list(schema.fields)
        partition_clause = (
            "\nPARTITIONED BY (filename_district STRING)" if partitioned else ""
        )
        location = f"s3://{data_bucket}/{s3_prefix}/{self.db_name}/{table_name}"
        ddl = (
            f"\nCREATE EXTERNAL TABLE IF NOT EXISTS {table_name} (\n"
            f"    {cols}\n"
            f"){partition_clause}\n"
            "ROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'\n"
            "STORED AS TEXTFILE\n"
            f"LOCATION '{location}';\n"
        )
        self.executed_sql.append(ddl)
        return ddl

    # -- writes ------------------------------------------------------------

    def write_table(
        self,
        table_name: str,
        df: DataFrame,
        partitioned: bool = False,
        register: bool = True,
    ) -> None:
        """Write + (optionally) register one table.

        Partitioned tables land as ``.../filename_district=XX/`` exactly like
        the reference's S3 layout; ``MSCK REPAIR`` then discovers partitions,
        preserving the reference's two-step contract (A11 + A13).

        Parquet default; ``fidelity_json`` switches to gzipped JSON-lines
        with DATE columns serialized as zero-padded ``yyyy-MM-dd`` strings —
        the reference's wire format (``/root/reference/ncd/
        normal_table.py:105-107``).
        """
        location = self.table_location(table_name)
        out = df
        writer_format = "parquet"
        options = {}
        if self.fidelity_json:
            writer_format = "json"
            options["compression"] = "gzip"
            for f in df.schema.fields:
                if isinstance(f.dataType, T.DateType):
                    out = out.withColumn(
                        f.name, F.lpad(F.date_format(f.name, "yyyy-MM-dd"), 10, "0")
                    )
        writer = out.write.format(writer_format).mode("overwrite").options(**options)
        if partitioned:
            # Dynamic overwrite: only partitions present in `df` are
            # replaced.  NCD dumps are cumulative monthly snapshots
            # (reference README), so a re-ingest that carries a subset of
            # districts must not clobber the untouched ones.
            writer = writer.partitionBy(PARTITION_COLUMN).option(
                "partitionOverwriteMode", "dynamic"
            )
        writer.save(location)

        if register:
            self.create_db()
            # Both DDL emitters place the partition column themselves.
            columns = [
                f.name
                for f in df.schema.fields
                if not (partitioned and f.name == PARTITION_COLUMN)
            ]
            ddl = self.generate_ddl(
                table_name,
                T.StructType([out.schema[c] for c in columns]),
                partitioned=partitioned,
            )
            self.execute_query(f"DROP TABLE IF EXISTS {self.db_name}.{table_name}")
            self.execute_query(ddl)
            if partitioned:
                self.recover_partitions(table_name)
            if self.fidelity_json:
                # Record (not execute) the reference-shaped Athena DDL so a
                # fidelity-mode run's golden SQL log is comparable to the
                # reference's AthenaMock capture byte-for-byte (A12 + A26).
                # Dates were stringified for the JSON wire format above, so
                # the fidelity text is generated from the ORIGINAL schema.
                self.generate_fidelity_ddl(
                    table_name,
                    T.StructType([df.schema[c] for c in columns]),
                    partitioned=partitioned,
                )

    def write_bucketed(
        self,
        table_name: str,
        df: DataFrame,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> str:
        """Write a hash-bucketed (optionally per-bucket-sorted) managed
        table for co-located joins.

        At 100 TB the recurring fact-fact joins (orders⋈lineitem on
        orderkey, postings⋈postings on doc key) dominate shuffle volume.
        Bucketing both sides on the join key with the same bucket count
        turns every such join into a zero-Exchange sort-merge join — the
        shuffle is paid ONCE at write time and amortized over every
        subsequent query (``tests/test_bucketing.py`` asserts the
        no-Exchange plan).  ``sort_cols`` additionally pre-sorts within
        buckets so single-file buckets skip the SMJ sort.

        Bucketed tables must be *managed* (bucket metadata lives in the
        catalog, not the directory layout), so this bypasses
        ``table_location`` — Spark places data under its warehouse dir.
        Returns the fully-qualified table name.
        """
        self.create_db()
        fq = f"{self.db_name}.{table_name}"
        self.executed_sql.append(
            f"-- write_bucketed {fq} ({n_buckets} buckets on "
            f"{', '.join(bucket_cols)})"
        )
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(fq)
        return fq

    def write_range_clustered(
        self,
        table_name: str,
        df: DataFrame,
        cluster_cols: list[str],
        n_files: int,
    ) -> str:
        """Write a table range-partitioned + sorted on ``cluster_cols`` so
        parquet row-group min/max statistics become selective.

        ``repartitionByRange`` gives each output file a disjoint key range
        and ``sortWithinPartitions`` orders rows inside it; a filter on the
        cluster column then skips whole files/row-groups at scan time (the
        poor man's Z-order for 1-D predicates — the highest-leverage layout
        choice for 100 TB time/keyrange-filtered scans).  One range shuffle
        at write time; ``tests/test_layout.py`` asserts the skipping.
        """
        self.create_db()
        location = self.table_location(table_name)
        (
            df.repartitionByRange(n_files, *cluster_cols)
            .sortWithinPartitions(*cluster_cols)
            .write.mode("overwrite")
            .parquet(location)
        )
        self.executed_sql.append(
            f"-- write_range_clustered {table_name} on {', '.join(cluster_cols)}"
        )
        return location

    ZORDER_BITS = 8  # bucket resolution per dimension (256 buckets)

    def write_zordered(
        self,
        table_name: str,
        df: DataFrame,
        zorder_cols: list[str],
        n_files: int,
    ) -> str:
        """Write a table clustered on the Z-order (Morton) curve over two
        or more numeric columns, so parquet min/max statistics stay
        selective for predicates on EVERY clustered column — the
        multi-dimensional generalization of :meth:`write_range_clustered`
        (whose linear sort serves only its leading column: a filter on the
        second column alone prunes nothing).

        Mechanics: each column is bucketized to ``2**ZORDER_BITS`` uniform
        buckets between its min and max (one small aggregate collects the
        bounds — a scalar model, not a data collect; skew-robust
        bucketization would substitute ``approxQuantile`` boundaries, same
        contract), the bucket ids are bit-interleaved into a Morton key by
        pure JVM shift/or expressions, and the rows are range-partitioned +
        sorted on that key.  Locality of the space-filling curve means each
        output file covers a compact hyper-rectangle-ish region, so a box
        predicate intersects few files.  One range shuffle at write time —
        identical write cost to the linear clustering; ``tests/
        test_layout.py`` asserts per-file pruning on both dimensions."""
        if len(zorder_cols) < 2:
            raise ValueError(
                "write_zordered needs >= 2 columns; use write_range_clustered "
                "for 1-D clustering"
            )
        self.create_db()
        location = self.table_location(table_name)

        bounds = df.agg(
            *[
                f(c).cast("double").alias(f"{n}_{c}")
                for c in zorder_cols
                for n, f in (("min", F.min), ("max", F.max))
            ]
        ).first()

        nb = 1 << self.ZORDER_BITS
        buckets = []
        for c in zorder_cols:
            lo, hi = bounds[f"min_{c}"], bounds[f"max_{c}"]
            if lo is None or hi is None or lo == hi:
                buckets.append(F.lit(0))
                continue
            # width_bucket → 1..nb inside [lo, hi]; clamp to 0..nb-1
            b = F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(nb))
            buckets.append(F.least(F.greatest(b - 1, F.lit(0)), F.lit(nb - 1)))

        zval = F.lit(0).cast("bigint")
        for bit in range(self.ZORDER_BITS):
            for j, b in enumerate(buckets):
                bitval = F.shiftright(b.cast("bigint"), bit).bitwiseAND(F.lit(1))
                zval = zval.bitwiseOR(
                    F.shiftleft(bitval, bit * len(buckets) + j)
                )

        (
            df.withColumn("__z", zval)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .parquet(location)
        )
        self.executed_sql.append(
            f"-- write_zordered {table_name} on {', '.join(zorder_cols)}"
        )
        return location

    @staticmethod
    def _recover_compaction(path: str) -> None:
        """Roll a crashed compaction of ``path`` forward or back.

        Invariants of :meth:`_compact_dir`'s rename sequence make every
        crash state recoverable: the ``.precompact`` backup only ever
        exists AFTER the ``.compacting`` staging dir was fully written, so
        (backup ∧ ¬live) ⇒ staging is complete and promotable; a staging
        dir next to a live dir is a pre-rename leftover and simply
        discarded.
        """
        import os  # noqa: PLC0415
        import shutil  # noqa: PLC0415

        backup, staging = path + ".precompact", path + ".compacting"
        if not os.path.exists(path):
            if os.path.exists(staging) and os.path.exists(backup):
                os.rename(staging, path)  # crash between the two renames
            elif os.path.exists(backup):
                os.rename(backup, path)  # defensive: restore the original
        if os.path.exists(path):
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(backup, ignore_errors=True)

    def _compact_dir(self, local: str, target_file_bytes: int) -> int:
        """Rewrite one leaf data directory into ~``target_file_bytes``
        files via stage → backup-rename → promote-rename.  A crash at any
        point is repaired by :meth:`_recover_compaction` on the next call
        (the backup is only taken after staging is fully written, so no
        crash state loses data)."""
        import glob  # noqa: PLC0415
        import os  # noqa: PLC0415
        import shutil  # noqa: PLC0415

        local = local.rstrip("/")
        on_disk = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(local, "**", "*.parquet"), recursive=True)
        )
        n_files = max(1, -(-on_disk // target_file_bytes))
        df = self.spark.read.parquet(local)
        staging = local + ".compacting"
        backup = local + ".precompact"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(backup, ignore_errors=True)
        df.repartition(n_files).write.mode("overwrite").parquet(staging)
        os.rename(local, backup)
        os.rename(staging, local)
        shutil.rmtree(backup, ignore_errors=True)
        return n_files

    def compact_table(
        self,
        table_name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Rewrite a path-backed table into ~``target_file_bytes`` files.

        Long-lived tables accumulate small files (per-micro-batch sinks,
        per-district incremental loads); scans then pay per-file open cost
        and lose row-group locality.  Sizing from the CURRENT on-disk bytes
        (not row counts) keeps the heuristic format-aware.  Returns the new
        total file count.

        Hive-partitioned tables are compacted PER PARTITION DIRECTORY: each
        ``filename_district=X/`` leaf is rewritten in place, so the layout
        a registered ``PARTITIONED BY`` table depends on survives intact
        (reading the table root would absorb the partition column into the
        data and flatten the directory tree — silent corruption).

        Local ``file://`` warehouses only: the swap uses POSIX renames.  A
        distributed object-store compaction (s3a/HDFS) needs a
        commit-protocol rewrite job, which this deliberately is not — it
        raises instead of pretending.
        """
        import glob  # noqa: PLC0415
        import os  # noqa: PLC0415

        location = self.table_location(table_name)
        if "://" in location and not location.startswith("file://"):
            raise ValueError(
                f"compact_table only supports local file:// warehouses, got "
                f"{location!r}: object stores need a distributed rewrite "
                "with a commit protocol, not POSIX renames."
            )
        local = location.removeprefix("file://")
        self._recover_compaction(local)
        # Recover crashed PER-PARTITION compactions before enumerating
        # partitions: a leftover `filename_district=CT.precompact` dir
        # must be rolled back/forward into `filename_district=CT`, never
        # treated as a partition named 'CT.precompact'.
        for leftover in glob.glob(
            os.path.join(local, f"{PARTITION_COLUMN}=*.precompact")
        ) + glob.glob(os.path.join(local, f"{PARTITION_COLUMN}=*.compacting")):
            base = leftover.rsplit(".", 1)[0]
            self._recover_compaction(base)
        part_dirs = sorted(
            d
            for d in glob.glob(os.path.join(local, f"{PARTITION_COLUMN}=*"))
            if os.path.isdir(d)
            and not d.endswith((".precompact", ".compacting"))
        )
        total = 0
        for target in part_dirs or [local]:
            self._recover_compaction(target)
            total += self._compact_dir(target, target_file_bytes)
        self.spark.catalog.clearCache()
        self.executed_sql.append(
            f"-- compact_table {table_name} -> {total} files"
            + (f" across {len(part_dirs)} partitions" if part_dirs else "")
        )
        return total

    def recover_partitions(self, table_name: str) -> None:
        self.execute_query(f"MSCK REPAIR TABLE {self.db_name}.{table_name}")

    def analyze_table(
        self, table_name: str, columns: list[str] | None = None
    ) -> None:
        """``ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]`` — collect
        table row count/size and per-column NDV/min/max/null counts into
        the catalog, so the cost-based optimizer's join reordering and
        broadcast decisions run on measured statistics rather than
        file-size guesses.  At 100 TB this is the difference between a
        dimension correctly broadcast and a fact-sized build side: size
        estimates from compressed parquet footers routinely misjudge the
        decompressed build side, while ANALYZE records true row counts.
        Re-run after large loads or compaction; the scan is one pass and
        parallelizes like any aggregate."""
        fq = f"{self.db_name}.{table_name}"
        self.execute_query(f"ANALYZE TABLE {fq} COMPUTE STATISTICS")
        if columns:
            self.execute_query(
                f"ANALYZE TABLE {fq} COMPUTE STATISTICS FOR COLUMNS "
                + ", ".join(columns)
            )

    # -- reads -------------------------------------------------------------

    def table(self, table_name: str) -> DataFrame:
        return self.spark.table(f"{self.db_name}.{table_name}")


def local_catalog(
    spark: SparkSession, base_dir: str, db_name: str = "ncd", **kw
) -> SparkCatalog:
    """Filesystem-backed catalog for tests — the A26 AthenaMock analog.

    Data lands under ``{base_dir}/{db}/{table}/…`` mirroring the mock's
    ``{prefix}/tables/…`` tree; issued SQL is inspectable via
    ``executed_sql``.
    """
    return SparkCatalog(
        spark, os.path.abspath(base_dir), db_name=db_name, **kw
    )

"""Catalog + sink layer: the Spark-native replacement for the reference's
Athena client (``/root/reference/ncd/athena.py``) and its disk-backed test
double (``/root/reference/ncd/athena_mock.py``).

Responsibilities (SURVEY.md §2.1 A10-A15, A19, A26):

- ``create_db`` — ``CREATE DATABASE IF NOT EXISTS``, once per catalog (A14).
- ``write_table`` — partitioned writes under the same Hive layout the
  reference uploads to S3: ``{warehouse}/{db}/{table}/filename_district={D}/``
  (``/root/reference/ncd/athena.py:92-113``).  Default format is Parquet
  (columnar, splittable, with stats); a ``fidelity_json`` mode writes
  gzipped JSON-lines matching the reference's bytes-on-disk model
  (non-splittable; kept only for byte-level parity).
- ``generate_ddl`` — CREATE EXTERNAL TABLE text with all data columns then
  all ``redacted_*`` shadows and an optional ``PARTITIONED BY
  (filename_district STRING)`` clause (``/root/reference/ncd/
  normal_table.py:137-198``, ``/root/reference/ncd/global_file.py:169-205``).
- ``recover_partitions`` — ``MSCK REPAIR TABLE`` parity (A13).
- ``executed_sql`` — every statement issued is recorded, which is the
  AthenaMock golden-DDL inspection affordance (A26) with no extra backend.

The warehouse may be any Hadoop-visible filesystem (``file://``, ``s3a://``,
HDFS) — paths flow straight into ``DataFrameWriter``; only ``file://`` is
exercised by this repo's tests (the sandbox has no object store).
"""

from __future__ import annotations

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
            f"\nPARTITIONED BY ({PARTITION_COLUMN} STRING)" if partitioned else ""
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
    ) -> None:
        """Write and register one table.

        Partitioned tables land as ``.../filename_district=XX/`` exactly like
        the reference's S3 layout; ``MSCK REPAIR`` then discovers partitions,
        preserving the reference's two-step contract (A11 + A13).

        Parquet default; ``fidelity_json`` switches to gzipped JSON-lines
        with DATE columns serialized as ``yyyy-MM-dd`` strings, the
        reference's wire format (``/root/reference/ncd/
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
                    out = out.withColumn(f.name, F.date_format(f.name, "yyyy-MM-dd"))
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

    def recover_partitions(self, table_name: str) -> None:
        self.execute_query(f"MSCK REPAIR TABLE {self.db_name}.{table_name}")

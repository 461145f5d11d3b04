"""Query execution facade preserving the reference's Athena API shape.

``Athena.execute_query`` submits SQL, polls until done, and returns the
result as a CSV file object (``/root/reference/ncd/athena.py:57-79`` +
``:119-174``).  On Spark the submit/poll/download machinery disappears —
``spark.sql`` is synchronous — but the surface is kept so reference users
can switch without rewriting call sites:

- ``execute_query(sql)`` → result as a CSV text stream (same consumption
  contract as the reference's downloaded result object).
- ``execute_query_df(sql)`` → the DataFrame, for Spark-native callers.
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegralType


class QueryExecutor:
    """Athena-shaped facade over ``spark.sql``."""

    def __init__(self, spark: SparkSession, db_name: str | None = None) -> None:
        self.spark = spark
        self.db_name = db_name

    def _use_db(self, db_name: str | None) -> None:
        db = db_name or self.db_name
        if db:
            self.spark.catalog.setCurrentDatabase(db)

    def execute_query_df(self, sql: str, db_name: str | None = None) -> DataFrame:
        self._use_db(db_name)
        return self.spark.sql(sql)

    def execute_query(self, sql: str, db_name: str | None = None) -> io.StringIO:
        """Synchronous query → CSV text stream (header row included), the
        reference's result-consumption contract."""
        df = self.execute_query_df(sql, db_name)
        buf = io.StringIO()
        pdf = df.toPandas()
        # An integral column holding a NULL reaches pandas as float64;
        # nullable Int64 renders 3 (as Athena does), not 3.0.
        for i, field in enumerate(df.schema.fields):
            if isinstance(field.dataType, IntegralType):
                pdf.isetitem(i, pdf.iloc[:, i].astype("Int64"))
        pdf.to_csv(buf, index=False)
        buf.seek(0)
        return buf

"""PySpark-native analytics engine with the query and data-processing
capabilities of ``associatedpress/national-caseload-data-ingest``.

The reference (see ``/root/reference``, surveyed in ``SURVEY.md``) is a batch
ETL pipeline that parses DOJ National Caseload Data fixed-width dumps and
delegates all querying to AWS Athena.  This package re-expresses both surfaces
Spark-first:

- **Ingest surface** (``session``, ``sources/`` → ``catalog``, ``query``):
  fixed-width parsing, README schema extraction, hyphen-ruler inference,
  redaction shadow columns, Hive-style district partitioning — as narrow,
  declarative DataFrame transformations.
- **Operator catalogue** (``operators/``, ``functions/``, ``streaming/``),
  built on the ingest surface, which imports none of it: the relational and
  LLM-data-pipeline operators (dedup, similarity search, text analysis),
  with their own table loader (``registry``) and layout writers (``layout``).

Nothing here is a port of the reference's code; file:line citations in
docstrings identify *behavior* being reproduced, per SURVEY.md §2.
"""

from national_caseload_data_ingest_spark.session import get_spark

__all__ = ["get_spark"]

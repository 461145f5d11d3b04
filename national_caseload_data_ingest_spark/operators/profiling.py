"""Table profiling: per-column statistics (the ``SUMMARIZE`` /
data-quality audit surface an ingest engine runs before registering a
table — null rates, cardinalities, ranges).

Spark-first shape (r14): ONE aggregate branch PER COLUMN, unioned —
each branch scans exactly its column (parquet pruning makes the union's
total decode equal to one full-width scan) and runs Catalyst's
two-stage single-DISTINCT rewrite, and all branches execute
concurrently inside the single action.  This replaced the previous
everything-in-one-aggregate design, whose N simultaneous DISTINCTs
Catalyst expands to (N+1)× the input rows through one hash aggregate —
measured 51 s vs 1.6 s at sf0.1 (a 12× row expansion through one
un-parallelizable pipeline, the only plan Catalyst has for multi-
distinct).  Per-column branches are also the honest 100 TB shape for
EXACT distincts: each branch's shuffle carries that column's distinct
values only, and a hot column cannot serialize the others.  At 100 TB
swap the exact ``countDistinct`` for ``approx_count_distinct`` (HLL —
that one DOES profile all columns in one pass with constant state);
exact is kept here because it is what the DuckDB oracle can replay
bit-for-bit.

Numeric ranges surface as doubles, string/timestamp ranges as their cast
string form (ISO for timestamps) — identical casts on both engines.

The reference registers tables blind (DDL from the README spec only,
/root/reference/ncd/normal_table.py); profiling is the audit extension a
100 TB ingest wants before MSCK.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import fan_out, query
from national_caseload_data_ingest_spark.session import load_tables

NUMERIC_TYPES = {"bigint", "int", "integer", "smallint", "double", "float"}


def profile_table(df: DataFrame) -> DataFrame:
    """Per-column profile of any DataFrame →
    ``(col_name, n_rows, n_nulls, n_distinct, min_num, max_num,
    min_str, max_str)``.

    One aggregate branch per column (see module docstring for why this
    beats the single multi-DISTINCT aggregate by ~30×); every value is
    an order-insensitive exact aggregate (count / integer sum / exact
    distinct / min / max), so the relation is identical under any
    partitioning or branch order."""
    branches = []
    for name, dtype in df.dtypes:
        numeric = dtype in NUMERIC_TYPES
        branches.append(
            df.select(name).agg(
                F.lit(name).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(name).isNull().cast("long")).alias("n_nulls"),
                F.countDistinct(name).alias("n_distinct"),
                (
                    F.min(name).cast("double")
                    if numeric
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.max(name).cast("double")
                    if numeric
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (
                    F.lit(None).cast("string")
                    if numeric
                    else F.min(name).cast("string")
                ).alias("min_str"),
                (
                    F.lit(None).cast("string")
                    if numeric
                    else F.max(name).cast("string")
                ).alias("max_str"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out


def _profile_oracle(columns: list[tuple[str, bool]]) -> str:
    """UNION ALL of per-column profile rows — GENERATED from the column
    list so the oracle can never desync from the Spark projection."""
    parts = []
    for name, numeric in columns:
        if numeric:
            mn, mx = f"CAST(MIN({name}) AS DOUBLE)", f"CAST(MAX({name}) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = (
                f"CAST(MIN({name}) AS VARCHAR)",
                f"CAST(MAX({name}) AS VARCHAR)",
            )
        parts.append(
            f"""SELECT '{name}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,
               {mn} AS min_num, {mx} AS max_num,
               {ms} AS min_str, {xs} AS max_str
            FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


_LINEITEM_COLS = [
    ("l_orderkey", True),
    ("l_partkey", True),
    ("l_suppkey", True),
    ("l_linenumber", True),
    ("l_quantity", True),
    ("l_extendedprice", True),
    ("l_discount", True),
    ("l_tax", True),
    ("l_returnflag", False),
    ("l_linestatus", False),
    ("l_shipdate", False),
]


@query("profile_lineitem", oracle=_profile_oracle(_LINEITEM_COLS))
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile of ``lineitem`` (the audit an ingest
    runs before registering a table).  See module docstring for the
    single-scan plan shape."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return profile_table(li)


EST_BUCKETS = 64


def join_size_stats(
    left: DataFrame, right: DataFrame, lkey: str, rkey: str, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """Per-bucket join statistics: rows and exact distinct keys for each
    side, bucketed by ``pmod(key, n_buckets)`` — the relation a
    cost-based optimizer keeps per column (``catalog.analyze_table``
    collects the table-grain version; this is the histogram-grain
    twin)."""
    la = left.groupBy(
        F.pmod(F.col(lkey), F.lit(n_buckets)).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("na"),
        F.countDistinct(lkey).alias("da"),
    )
    rb = right.groupBy(
        F.pmod(F.col(rkey), F.lit(n_buckets)).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("nb"),
        F.countDistinct(rkey).alias("db"),
    )
    return la, rb


@query(
    "join_size_estimate_customer_orders",
    oracle=f"""
    WITH la AS (
        SELECT CAST(o_custkey % {EST_BUCKETS} AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS na,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS da
        FROM orders GROUP BY 1
    ),
    rb AS (
        SELECT CAST(c_custkey % {EST_BUCKETS} AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS db
        FROM customer GROUP BY 1
    ),
    truth AS (
        SELECT CAST(o_custkey % {EST_BUCKETS} AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS true_rows
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    )
    SELECT la.bucket, na, da, nb, db,
           CAST(na AS DOUBLE) * nb / GREATEST(da, db) AS est_rows,
           COALESCE(true_rows, 0) AS true_rows
    FROM la JOIN rb USING (bucket)
    LEFT JOIN truth USING (bucket)
    """,
)
def join_size_estimate_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from bucket statistics — the textbook
    CBO estimator |A⋈B| ≈ n_a·n_b / max(d_a, d_b) applied per key
    bucket, reported NEXT TO the true per-bucket join size so the
    estimator's error is measurable, not asserted.

    Why it matters at 100 TB: join ORDER and strategy decisions run on
    estimates like this long before any data moves — the stats relation
    is {EST_BUCKETS} rows per side (one scan each), while the truth
    column here (a real join) exists only for the audit.  Under uniform
    keys within a bucket the estimator is exact; skew inflates it,
    which is the conservative direction for planning.  All-integer
    inputs and one double division keep the output engine-exact."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    la, rb = join_size_stats(
        t["orders"], t["customer"], "o_custkey", "c_custkey", EST_BUCKETS
    )
    truth = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.pmod(F.col("o_custkey"), F.lit(EST_BUCKETS))
            .cast("int")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("true_rows"))
    )
    return (
        la.join(rb, "bucket")
        .join(truth, "bucket", "left")
        .select(
            "bucket",
            "na",
            "da",
            "nb",
            "db",
            (
                F.col("na").cast("double")
                * F.col("nb")
                / F.greatest("da", "db")
            ).alias("est_rows"),
            F.coalesce("true_rows", F.lit(0)).alias("true_rows"),
        )
    )


@query(
    "json_schema_infer",
    oracle="""
    WITH paths AS (
        SELECT '$.k' AS path,
               CASE WHEN event_id % 7 = 0 THEN 'string'
                    ELSE 'integer' END AS jtype
        FROM events
        UNION ALL
        SELECT '$.geo', 'object' FROM events WHERE event_id % 3 = 0
        UNION ALL
        SELECT '$.geo.lat', 'number' FROM events WHERE event_id % 3 = 0
        UNION ALL
        SELECT '$.geo.lon', 'number' FROM events WHERE event_id % 3 = 0
        UNION ALL
        SELECT '$.tags', 'array' FROM events WHERE event_id % 5 = 0
        UNION ALL
        SELECT '$.tags[*]', 'string' FROM events, range(0, 2)
        WHERE event_id % 5 = 0
        UNION ALL
        SELECT '$.note', 'null' FROM events WHERE event_id % 11 = 0
    )
    SELECT path, jtype, CAST(COUNT(*) AS BIGINT) AS n
    FROM paths GROUP BY path, jtype
    """,
)
def json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference over semi-structured JSON — the drift report a
    warehouse runs on every JSON ingestion feed: per JSON PATH, the
    census of observed types.  The fixture synthesizes variant
    documents per event (a key whose type DRIFTS int→string on ≡0 mod
    7, a nested object on ≡0 mod 3, an array on ≡0 mod 5, an explicit
    null on ≡0 mod 11), and the INFERENCE is fully generic — a
    recursive path walk over parsed JSON that never sees the
    construction classes; the oracle replays the expected census from
    the classes alone.  A missed nested path, a type-tag confusion
    (null vs absent, int vs float), or an array-element miscount breaks
    the hash.  One narrow Arrow kernel emitting (path, type) pairs +
    one hash aggregate — the explode-and-count shape that scales as
    any token count does."""
    import pandas as pd  # noqa: PLC0415

    e = load_tables(spark, sf_dir, "events")["events"]

    def kernel(batches):
        import json  # noqa: PLC0415

        def walk(path, v, out):
            if v is None:
                out.append((path, "null"))
            elif isinstance(v, bool):
                out.append((path, "boolean"))
            elif isinstance(v, int):
                out.append((path, "integer"))
            elif isinstance(v, float):
                out.append((path, "number"))
            elif isinstance(v, str):
                out.append((path, "string"))
            elif isinstance(v, list):
                out.append((path, "array"))
                for item in v:
                    walk(path + "[*]", item, out)
            elif isinstance(v, dict):
                out.append((path, "object"))
                for k2, v2 in v.items():
                    walk(path + "." + k2, v2, out)

        for pdf in batches:
            rows = []
            for i in pdf["event_id"]:
                i = int(i)
                doc: dict = {"k": f"v{i}" if i % 7 == 0 else i}
                if i % 3 == 0:
                    doc["geo"] = {"lat": i * 0.5, "lon": -0.25 * i}
                if i % 5 == 0:
                    doc["tags"] = [f"t{i}", "x"]
                if i % 11 == 0:
                    doc["note"] = None
                # render to TEXT and re-parse: the inference consumes
                # the wire form, not the python dict
                parsed = json.loads(json.dumps(doc))
                out: list[tuple[str, str]] = []
                walk("$", parsed, out)
                rows.extend(
                    {"path": p, "jtype": t}
                    for p, t in out
                    if (p, t) != ("$", "object")  # root row is framing
                )
            yield pd.DataFrame(rows, columns=["path", "jtype"])

    pairs = fan_out(e.select("event_id")).mapInPandas(
        kernel, schema="path string, jtype string"
    )
    return pairs.groupBy("path", "jtype").agg(
        F.count(F.lit(1)).alias("n")
    )

"""Data-governance operators: constraint validation, snapshot diffing,
and column-correlation profiling — the audit band an ingest engine runs
around every load.

* **Constraint validation** (dbt-test style): each rule is ONE aggregate
  or anti-join counting violations — uniqueness, not-null, accepted
  range, referential integrity — unioned into a (rule, violations,
  passed) report.  Every rule is a scan-bounded aggregate; the RI check
  is a broadcast-able anti join keyed on the FK.  A load gate reads one
  tiny relation instead of eyeballing logs.
* **Snapshot diff** — classify rows between two table versions as
  added / removed / changed via one full-outer join on the key with a
  row-hash comparison (md5 of the concatenated value columns, computed
  identically in both engines).  The shuffle is keyed by the table key;
  change classification is codegen.  This is the CDC-extraction
  primitive when the upstream can't emit change streams.
* **Correlation matrix** — Pearson correlation + sample covariance for
  every numeric column pair of ``lineitem`` in ONE aggregate pass
  (Catalyst fuses the co-moment accumulators), unpivoted to a
  (col_a, col_b, corr, covar) relation.

The reference loads blind and validates nothing
(/root/reference/ncd/load_all.py); this is the audit extension of the
build brief's DDL/maintenance band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables, query


@query(
    "validate_orders_constraints",
    oracle="""
    SELECT 'orders_pk_unique' AS rule,
           CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS violations
    FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey) g
    WHERE n > 1
    UNION ALL
    SELECT 'orders_key_not_null',
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_price_positive',
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_status_accepted',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def validate_orders_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation report over orders/lineitem: five rules,
    each one aggregate or anti join, unioned to (rule, violations).
    See module docstring."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    o, li = t["orders"], t["lineitem"]
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.lit("orders_pk_unique").alias("rule"),
            F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("violations"),
        )
    )
    nn = o.agg(
        F.lit("orders_key_not_null").alias("rule"),
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("violations"),
    )
    pos = o.agg(
        F.lit("orders_price_positive").alias("rule"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("violations"),
    )
    acc = o.agg(
        F.lit("orders_status_accepted").alias("rule"),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("violations"),
    )
    fk = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(
            F.lit("lineitem_fk_orders").alias("rule"),
            F.count(F.lit(1)).alias("violations"),
        )
    )
    return dup.unionAll(nn).unionAll(pos).unionAll(acc).unionAll(fk)


# Synthetic "previous snapshot" for the diff demo: drop every 7th order
# (additions in the new snapshot) and bump every 5th price (changes).
# The bump is plain IEEE +1.0 — engine-exact — so the oracle
# reconstructs the identical old snapshot.
_DIFF_DROP_MOD = 7
_DIFF_BUMP_MOD = 5


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """Classify rows between two snapshots: one full-outer join on
    ``key`` + md5 row-hash comparison → (key, change) where change ∈
    {added, removed, changed}.  Unchanged rows drop out in-plan."""
    def rh(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(key),
            F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])).alias(
                "rh"
            ),
        )

    o = rh(old).withColumnRenamed("rh", "rh_old")
    n = rh(new).withColumnRenamed("rh", "rh_new")
    return (
        o.join(n, key, "full_outer")
        .withColumn(
            "change",
            F.when(F.col("rh_old").isNull(), "added")
            .when(F.col("rh_new").isNull(), "removed")
            .when(F.col("rh_old") != F.col("rh_new"), "changed"),
        )
        .filter(F.col("change").isNotNull())
        .select(key, "change")
    )


@query(
    "snapshot_diff_orders",
    oracle=f"""
    WITH old AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % {_DIFF_BUMP_MOD} = 0
                    THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % {_DIFF_DROP_MOD} <> 0
    ),
    oh AS (
        SELECT o_orderkey,
               md5(concat_ws(chr(31), CAST(o_totalprice AS VARCHAR),
                             o_orderstatus)) AS rh_old
        FROM old
    ),
    nh AS (
        SELECT o_orderkey,
               md5(concat_ws(chr(31), CAST(o_totalprice AS VARCHAR),
                             o_orderstatus)) AS rh_new
        FROM orders
    )
    SELECT COALESCE(oh.o_orderkey, nh.o_orderkey) AS o_orderkey,
           CASE WHEN oh.o_orderkey IS NULL THEN 'added'
                WHEN nh.o_orderkey IS NULL THEN 'removed'
                WHEN rh_old <> rh_new THEN 'changed' END AS change
    FROM oh FULL OUTER JOIN nh ON oh.o_orderkey = nh.o_orderkey
    WHERE (oh.o_orderkey IS NULL) OR (nh.o_orderkey IS NULL)
          OR (rh_old <> rh_new)
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff of ``orders`` against a deterministically perturbed
    previous version (every {_DIFF_DROP_MOD}th order absent → 'added',
    every {_DIFF_BUMP_MOD}th price bumped → 'changed').  See module
    docstring for the CDC-extraction plan shape."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    old = o.filter(F.col("o_orderkey") % _DIFF_DROP_MOD != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % _DIFF_BUMP_MOD == 0,
            F.col("o_totalprice") + F.lit(1.0),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    return snapshot_diff(
        old,
        o.select("o_orderkey", "o_totalprice", "o_orderstatus"),
        "o_orderkey",
        ["o_totalprice", "o_orderstatus"],
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    parts = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            parts.append(
                f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
                   corr({a}, {b}) AS corr,
                   covar_samp({a}, {b}) AS covar
                FROM lineitem"""
            )
    return "\nUNION ALL\n".join(parts)


@query("lineitem_correlations", oracle=_corr_oracle())
def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance for every numeric column
    pair of ``lineitem``, computed in ONE aggregate pass and unpivoted.
    See module docstring."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    aggs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            aggs += [
                F.corr(a, b).alias(f"corr__{a}__{b}"),
                F.covar_samp(a, b).alias(f"covar__{a}__{b}"),
            ]
    wide = li.agg(*aggs)
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]
    stack = ", ".join(
        f"'{a}', '{b}', corr__{a}__{b}, covar__{a}__{b}" for a, b in pairs
    )
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stack}) AS (col_a, col_b, corr, covar)"
        )
    )


CHECKSUM_BUCKETS = 64

# canonical per-column string forms that BOTH engines render identically:
# ints/strings cast directly, money through DECIMAL(18,2), dates via the
# ISO default cast; NULL → a marker no real value contains
_ORDER_CANON = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
)


def _canon_cols_spark() -> list:
    out = []
    for name, kind in _ORDER_CANON:
        c = F.col(name)
        if kind == "money":
            c = c.cast("decimal(18,2)").cast("string")
        else:
            c = c.cast("string")
        out.append(F.coalesce(c, F.lit("\\N")))
    return out


def _canon_cols_sql() -> list[str]:
    out = []
    for name, kind in _ORDER_CANON:
        e = (
            f"CAST(CAST({name} AS DECIMAL(18,2)) AS VARCHAR)"
            if kind == "money"
            else f"CAST({name} AS VARCHAR)"
        )
        out.append(f"COALESCE({e}, '\\N')")
    return out


def table_checksum(df: DataFrame, canon_cols: list, key, n_buckets: int) -> DataFrame:
    """Partition-grain Merkle-style table digest: rows hash to a 60-bit
    digest (md5 of the canonical row string), buckets are key-ranges
    (``pmod(key, n_buckets)``), and each bucket folds its digests with
    the order-independent ``bit_xor`` plus count/min/max.

    The sync/audit primitive a 100 TB warehouse needs: comparing two
    copies of a table costs one narrow scan per side plus a
    ``n_buckets``-row diff, and a mismatch names WHICH bucket to
    re-transfer or row-diff (``snapshot_diff`` is the row-grain drill-
    down).  XOR is the right fold: commutative/associative (order- and
    partitioning-independent), self-inverse (a bucket xor of two
    identical copies is 0 row-by-row), and closed over int64 — unlike
    SUM, which overflows bigint on ~10⁴ 60-bit digests and diverges
    between engines (Spark wraps, DuckDB promotes to HUGEINT).  Digests
    stay 60-bit so the hex→int conversion is exact in any engine."""
    rowstr = F.concat_ws("|", *canon_cols)
    digest = F.conv(F.substring(F.md5(rowstr.cast("binary")), 1, 15), 16, 10).cast(
        "bigint"
    )
    return (
        df.select(
            F.pmod(key, F.lit(n_buckets)).cast("int").alias("bucket"),
            digest.alias("d"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("d").alias("xor_digest"),
            F.min("d").alias("min_digest"),
            F.max("d").alias("max_digest"),
        )
    )


@query(
    "orders_bucket_checksums",
    oracle=f"""
    WITH canon AS (
        SELECT CAST(o_orderkey % {CHECKSUM_BUCKETS} AS INTEGER) AS bucket,
               CAST(concat('0x',
                    substr(md5({" || '|' || ".join(_canon_cols_sql())}), 1, 15)
               ) AS BIGINT) AS d
        FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(d) AS xor_digest,
           MIN(d) AS min_digest,
           MAX(d) AS max_digest
    FROM canon
    GROUP BY bucket
    """,
)
def orders_bucket_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-grain checksum relation for orders ({CHECKSUM_BUCKETS}
    buckets) — see :func:`table_checksum`.  The oracle recomputes the
    digests independently, so a hash-match proves both the canonical row
    rendering and the fold agree across engines — which is exactly the
    property that makes the checksum usable for cross-system sync."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return table_checksum(
        o, _canon_cols_spark(), F.col("o_orderkey"), CHECKSUM_BUCKETS
    )


@query(
    "k_anonymity_report",
    oracle="""
    WITH qi AS (
        SELECT c_nationkey AS nation,
               c_mktsegment AS segment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
        FROM customer
    ),
    classes AS (
        SELECT nation, segment, bal_band, COUNT(*) AS class_size
        FROM qi GROUP BY nation, segment, bal_band
    )
    SELECT CAST(5 AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violating_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS BIGINT) AS n_exposed_rows,
           CAST(MIN(class_size) AS BIGINT) AS min_class_size,
           CAST(SUM(class_size) AS BIGINT) AS n_rows
    FROM classes
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over quasi-identifiers — the
    re-identification check a dataset passes before release: rows whose
    (nation, segment, balance-band) equivalence class holds fewer than
    k=5 members are individually re-identifiable by an adversary who
    knows those attributes.  Reports the class census, violating
    classes, and EXPOSED ROW count — the number a release gate compares
    against policy.  Banding uses ``floor(x/1000)`` — the identical
    IEEE division + floor in both engines (negative balances land one
    band lower, as floor-toward−∞ requires; a truncating cast would
    silently merge the −1/0 bands).
    One hash aggregate over the quasi-identifier tuple, then a
    six-scalar fold — at 100 TB the class census is the same two-phase
    aggregate as any GROUP BY."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    k = 5
    classes = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return classes.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("class_size") < k, 1).otherwise(0))
        .cast("long").alias("n_violating_classes"),
        F.sum(F.when(F.col("class_size") < k, F.col("class_size"))
              .otherwise(0)).cast("long").alias("n_exposed_rows"),
        F.min("class_size").cast("long").alias("min_class_size"),
        F.sum("class_size").cast("long").alias("n_rows"),
    )


@query(
    "quarantine_orders",
    oracle="""
    WITH flagged AS (
        SELECT o_orderkey,
               CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END AS r_price,
               CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 ELSE 0 END AS r_status,
               CASE WHEN o_orderdate < DATE '1992-01-01'
                         OR o_orderdate > DATE '1998-12-31'
                    THEN 1 ELSE 0 END AS r_date,
               CASE WHEN o_orderkey % 97 = 13 THEN 1 ELSE 0 END
                   AS r_synth
        FROM orders
    )
    SELECT CASE WHEN r_price + r_status + r_date + r_synth > 0
                THEN 'quarantined' ELSE 'accepted' END AS disposition,
           concat_ws(',',
               CASE WHEN r_price = 1 THEN 'nonpositive_price' END,
               CASE WHEN r_status = 1 THEN 'bad_status' END,
               CASE WHEN r_date = 1 THEN 'date_out_of_range' END,
               CASE WHEN r_synth = 1 THEN 'synthetic_rule' END)
               AS reasons,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM flagged
    GROUP BY 1, 2
    """,
)
def quarantine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine — the ingestion-time counterpart of
    ``validate_orders_constraints``: every row is dispositioned
    accepted/quarantined with the FULL ordered reason list (a row can
    trip several rules; the reasons string is the routing key a
    dead-letter sink partitions by).  A synthetic always-firing rule
    (key ≡ 13 mod 97) keeps the quarantined branch non-vacuous at every
    scale even though the generated data satisfies the real rules.  One
    narrow projection + one small-key aggregate; at 100 TB the split is
    a scan-speed filter and the dead-letter write is the same
    partitioned sink as any other."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    rules = [
        ("nonpositive_price", F.col("o_totalprice") <= 0),
        ("bad_status", ~F.col("o_orderstatus").isin("F", "O", "P")),
        ("date_out_of_range",
         (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
         | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date"))),
        ("synthetic_rule", F.col("o_orderkey") % 97 == 13),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    flagged = o.select(
        "o_orderkey",
        F.when(reasons != "", "quarantined").otherwise("accepted")
        .alias("disposition"),
        reasons.alias("reasons"),
    )
    return flagged.groupBy("disposition", "reasons").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "l_diversity_report",
    oracle="""
    WITH qi AS (
        SELECT c_nationkey AS nation, c_mktsegment AS segment,
               CASE WHEN c_nationkey < 5 THEN 0
                    ELSE c_custkey % 4 END AS sensitive
        FROM customer
    ),
    classes AS (
        SELECT nation, segment,
               COUNT(*) AS class_size,
               COUNT(DISTINCT sensitive) AS l_distinct
        FROM qi GROUP BY nation, segment
    )
    SELECT CAST(3 AS BIGINT) AS l,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violating_classes,
           CAST(SUM(CASE WHEN l_distinct < 3 THEN class_size ELSE 0 END)
                AS BIGINT) AS n_exposed_rows,
           CAST(MIN(l_distinct) AS BIGINT) AS min_l,
           CAST(SUM(class_size) AS BIGINT) AS n_rows
    FROM classes
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2006) — k-anonymity's
    stronger sibling: a class can be large yet still leak if every
    member shares the SAME sensitive value (homogeneity attack), so the
    gate counts DISTINCT sensitive values per equivalence class.  QIs =
    (nation, segment); sensitive attribute = the synthetic plan tier
    (custkey mod 4, deterministic both engines).  Same two-phase
    aggregate shape as the k-anonymity report, with the distinct-count
    expansion inside the class rollup."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    el = 3
    classes = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct(
            F.when(F.col("c_nationkey") < 5, F.lit(0))
            .otherwise(F.col("c_custkey") % 4)
        ).alias("l_distinct"),
    )
    return classes.agg(
        F.lit(el).cast("long").alias("l"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("l_distinct") < el, 1).otherwise(0))
        .cast("long").alias("n_violating_classes"),
        F.sum(F.when(F.col("l_distinct") < el, F.col("class_size"))
              .otherwise(0)).cast("long").alias("n_exposed_rows"),
        F.min("l_distinct").cast("long").alias("min_l"),
        F.sum("class_size").cast("long").alias("n_rows"),
    )


# Benford expected first-digit shares, log10(1+1/d) quantized to 9
# decimals — the SAME literals ride both engines' plans.
_BENFORD = {
    1: 0.301029996, 2: 0.176091259, 3: 0.124938737, 4: 0.096910013,
    5: 0.079181246, 6: 0.066946790, 7: 0.057991947, 8: 0.051152522,
    9: 0.045757491,
}


@query(
    "benford_price_screen",
    oracle="""
    WITH digits AS (
        SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                      AS VARCHAR), 1, 1) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
        SELECT CAST(d AS BIGINT) AS digit, COUNT(*) AS n FROM digits
        GROUP BY d
    ),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / tot.total AS observed_share,
           CASE digit WHEN 1 THEN 0.301029996 WHEN 2 THEN 0.176091259
                WHEN 3 THEN 0.124938737 WHEN 4 THEN 0.096910013
                WHEN 5 THEN 0.079181246 WHEN 6 THEN 0.066946790
                WHEN 7 THEN 0.057991947 WHEN 8 THEN 0.051152522
                ELSE 0.045757491 END AS benford_share,
           CAST(n AS DOUBLE) / tot.total
               - CASE digit WHEN 1 THEN 0.301029996
                    WHEN 2 THEN 0.176091259 WHEN 3 THEN 0.124938737
                    WHEN 4 THEN 0.096910013 WHEN 5 THEN 0.079181246
                    WHEN 6 THEN 0.066946790 WHEN 7 THEN 0.057991947
                    WHEN 8 THEN 0.051152522 ELSE 0.045757491 END
               AS deviation
    FROM counts, tot
    """,
)
def benford_price_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen — the classic numeric-forensics audit
    (fabricated or unit-mixed figures drift from the log-uniform
    first-digit law): per leading digit of floor(o_totalprice), the
    observed share beside the Benford expectation and their deviation.
    The synthetic uniform prices DEVIATE heavily — that is the
    measurement, not a bug: a release gate thresholds the deviation
    column.  Digit extraction avoids float→string formatting drift
    (floor → BIGINT → string, identical in both engines) and the
    expectation rides as the same 9-decimal literals in both plans, so
    shares and deviations are bit-reproducible (one IEEE division and
    one subtraction of identical inputs).  One small hash aggregate +
    a broadcast total."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = (
        o.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    expected = F.element_at(
        F.array(*[F.lit(_BENFORD[d]) for d in range(1, 10)]),
        F.col("digit").cast("int"),
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.col("total"))
        .alias("observed_share"),
        expected.alias("benford_share"),
        (F.col("n").cast("double") / F.col("total") - expected)
        .alias("deviation"),
    )

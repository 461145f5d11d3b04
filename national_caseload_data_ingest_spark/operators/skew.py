"""Skew-mitigated joins: explicit key salting.

AQE's skew-join splitting (enabled in :mod:`..session`) handles most skew at
runtime, but it only splits *sort-merge* partitions after the fact.  For
known-pathological keys (the null district, the one mega-order, the empty
document) an explicit salt is the deterministic fix: the skewed side
scatters each key across ``n_salts`` sub-partitions and the other side
replicates ``n_salts``-fold, so no single task ever owns a whole hot key.

Cost model: replication multiplies the small side by ``n_salts`` — use the
smallest salt count that caps the largest key's partition share (e.g. a key
holding 10% of rows with 32 partitions wants n_salts ≥ 4).  The join result
is identical to the unsalted join (asserted by the DuckDB oracle on
``skew_salted_join_agg``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.functions import dec
from national_caseload_data_ingest_spark.operators.registry import load_tables, query

SALT = "__salt"


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    skewed_key: str | Column,
    other_key: str | Column,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``skewed`` to ``other`` on an equi-key, salting the skewed side.

    The skewed side gets a uniform pseudo-random salt in [0, n_salts); the
    other side is exploded into one replica per salt value.  The physical
    shuffle then hashes on (key, salt) — a hot key spreads over ``n_salts``
    tasks instead of one.  Row-level results equal the plain join for any
    join type whose null-extension follows the skewed side ('inner',
    'left', 'left_semi', 'left_anti'); right/full joins would surface each
    unmatched ``other`` row once per replica (``n_salts`` times), so they
    are rejected rather than silently broken.
    """
    # Normalize Spark's join-type aliases (leftouter/semi/leftanti/…) to
    # canonical names so the allowlist and the epilogue branch agree.
    canonical = {
        "inner": "inner",
        "left": "left",
        "leftouter": "left",
        "leftsemi": "left_semi",
        "semi": "left_semi",
        "leftanti": "left_anti",
        "anti": "left_anti",
    }
    how = canonical.get(how.lower().replace("_", ""), how)
    allowed = ("inner", "left", "left_semi", "left_anti")
    if how not in allowed:
        raise ValueError(
            f"salted_join supports how in {allowed}; {how!r} would "
            f"duplicate unmatched rows of the replicated side {n_salts}x. "
            "Salt the other side (swap the arguments) instead."
        )
    sk = F.col(skewed_key) if isinstance(skewed_key, str) else skewed_key
    ok = F.col(other_key) if isinstance(other_key, str) else other_key
    salted = skewed.withColumn(
        SALT, (F.rand(seed=42) * n_salts).cast("int")
    )
    replicated = other.withColumn(
        SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = salted.join(
        replicated, (sk == ok) & (salted[SALT] == replicated[SALT]), how
    )
    if how in ("left_semi", "left_anti"):
        return joined.drop(SALT)
    return joined.drop(salted[SALT]).drop(replicated[SALT])


@query(
    "skew_salted_join_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join routed through :func:`salted_join` (8 salts), proving
    salting preserves exact join semantics — the oracle is the PLAIN join.

    The aggregate never sees the salt column; only the shuffle layout
    changes.
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    joined = salted_join(
        t["lineitem"], t["orders"], "l_orderkey", "o_orderkey", n_salts=8
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(dec("l_extendedprice")).cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Bloom-pruned join — sideways information passing made explicit
# ---------------------------------------------------------------------------

# Survivor slice for the demo query: urgent orders from one quarter —
# ~0.7% of orders at every SF (uniform date/priority distributions), so
# the probe-side prune is the plan's whole story.
_BLOOM_JOIN_LO = "1995-01-01"
_BLOOM_JOIN_HI = "1995-04-01"


def bloom_pruned_join(
    fact: DataFrame,
    fact_key: str,
    build: DataFrame,
    build_key: str,
) -> DataFrame:
    """Inner equi-join where the fact side is pre-screened by a Bloom
    bitmap of the build side's keys BEFORE any exchange — the "sideways
    information passing" / runtime-filter pattern (Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter`` injects the same shape
    when its heuristics fire; building it from relational primitives
    keeps it deterministic, engine-portable, and unconditional).

    Scale regimes (the decontaminate_overlap/bloom split, applied to the
    relational surface):

    * build side broadcastable → AQE's broadcast join already skips the
      fact shuffle; the screen is still a cheap scan-speed prune of the
      probe input.
    * build side TOO BIG to broadcast (a 10⁹-row survivor set at SF≈10⁵)
      → the join must shuffle BOTH sides, and the fixed-size bitmap
      (m/8 bytes regardless of build cardinality) is the only way to
      keep ~99% of the fact table out of that exchange.  False positives
      leak through the screen at the Bloom FPP and are removed by the
      exact join; false negatives are impossible, so the result equals
      the plain join bit-for-bit (the oracle).
    """
    from national_caseload_data_ingest_spark.operators.curation import (  # noqa: PLC0415
        bloom_bitmap,
        bloom_might_contain,
    )

    keys = build.select(F.col(build_key).alias("gram"))
    bitmap = bloom_bitmap(keys)
    screened = fact.filter(bloom_might_contain(F.col(fact_key), bitmap))
    return screened.join(build, screened[fact_key] == build[build_key])


@query(
    "bloom_pruned_join_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '{_BLOOM_JOIN_LO} 00:00:00'
      AND o_orderdate <  TIMESTAMP '{_BLOOM_JOIN_HI} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def bloom_pruned_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag / line status for lineitems of urgent
    Q1-1995 orders,
    routed through :func:`bloom_pruned_join` — the oracle is the PLAIN
    join, proving the Bloom screen changes the plan (fact rows pruned at
    scan speed before the exchange), never the answer."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    surv = t["orders"].filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit(_BLOOM_JOIN_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_BLOOM_JOIN_HI).cast("timestamp"))
    )
    joined = bloom_pruned_join(
        t["lineitem"], "l_orderkey", surv.select("o_orderkey"), "o_orderkey"
    )
    return joined.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
        )
        .cast("double")
        .alias("revenue"),
    )

"""Incremental aggregate maintenance: merge a persisted aggregate state
with a delta batch instead of rescanning the base table — the
materialized-view-maintenance shape that makes daily 100 TB loads cheap.

The algebra: every measure kept in the state is a COMMUTATIVE MONOID
(count, decimal sum, min, max), so ``merge(state, agg(delta))`` is
``groupBy(key).agg(sum(n), sum(sum), min(min), max(max))`` over the
union of the two partial relations, and derived measures (avg) are
recomputed from the merged components.  The money sum is carried as
``decimal(18,2)`` (the repo's exact-money convention, relational.py) so
the two-level summation is EXACTLY equal to a full rescan — which is
precisely what the oracle does: DuckDB recomputes the aggregate over
the whole table in one pass, and the hash must match the merged path
bit-for-bit.  A float sum could not promise that (two-level vs
one-level grouping reorders the additions); the decimal type is what
makes incremental maintenance auditable.

At 100 TB: the state relation is key-sized, the delta scan is
partition-pruned to the new partition (here the ``o_orderdate`` split
predicate — pushdown-visible in the scan), and the merge shuffle moves
only per-key partials.

The reference recomputes everything from scratch per load
(/root/reference/ncd/load_all.py drops and reloads); incremental
maintenance is the scale extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables, query

# Loads before the cutoff are "already aggregated" state; the rest is
# the incoming delta batch.
CUTOFF = "2000-01-01"


def partial_agg(orders: DataFrame) -> DataFrame:
    """Per-priority monoid state: (key, n, total, min_date, max_date)."""
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


def merge_states(*states: DataFrame) -> DataFrame:
    """Merge any number of partial states and derive the final measures."""
    out = states[0]
    for s in states[1:]:
        out = out.unionAll(s)
    return out.groupBy("o_orderpriority").agg(
        F.sum("n").alias("n"),
        F.sum("total").alias("total"),
        F.min("min_date").alias("min_date"),
        F.max("max_date").alias("max_date"),
    ).select(
        "o_orderpriority",
        "n",
        # exact decimal internally; the OUTPUT casts to double (one
        # deterministic conversion) so both engines print identically
        F.col("total").cast("double").alias("total"),
        (F.col("total").cast("double") / F.col("n")).alias("avg_price"),
        "min_date",
        "max_date",
    )


@query(
    "incremental_priority_stats",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_price,
           MIN(o_orderdate) AS min_date,
           MAX(o_orderdate) AS max_date
    FROM orders
    GROUP BY o_orderpriority
    -- the oracle is a FULL single-pass recompute ({CUTOFF} split unseen):
    -- the merged incremental path must equal it bit-for-bit
    """,
)
def incremental_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain per-priority order statistics incrementally: aggregate
    the pre-{CUTOFF} partition into a state, aggregate the post-cutoff
    delta separately, and MERGE the partials — never rescanning the
    base.  The oracle recomputes from scratch; exact-decimal sums make
    the two paths bit-identical.  See module docstring."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    cutoff = F.lit(CUTOFF).cast("timestamp")
    state = partial_agg(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial_agg(o.filter(F.col("o_orderdate") >= cutoff))
    return merge_states(state, delta)


def join_view_delta(
    base_a: DataFrame,
    delta_a: DataFrame,
    base_b: DataFrame,
    delta_b: DataFrame,
    on,
) -> DataFrame:
    """The classic join-IVM delta rule: with A ← A ∪ dA and B ← B ∪ dB,

        Δ(A ⋈ B) = (dA ⋈ B) ∪ (A ⋈ dB) ∪ (dA ⋈ dB)

    (insert-only case).  Each term joins a DELTA against a stored side,
    so per-load cost scales with the delta, never the view — the reason
    a 100 TB materialized join is maintainable at all.  Deltas are the
    small side by construction; Spark broadcasts them (AQE confirms at
    runtime), so the base sides are scanned once each with no shuffle
    of the stored relations."""
    return (
        delta_a.join(base_b, on)
        .unionByName(base_a.join(delta_b, on))
        .unionByName(delta_a.join(delta_b, on))
    )


@query(
    "incremental_join_view",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               AS o_totalprice,
           c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained JOIN view, audited against a full
    recompute: both inputs are split into base ∪ delta (orders on
    ``o_orderkey % 10 = 0``, customer on ``c_custkey % 7 = 0`` — both
    sides change), the stored view is base⋈base, and the updated view
    is ``stored ∪ Δ`` via :func:`join_view_delta`.  The oracle is the
    one-shot join of the FULL tables, so the driver hash-match proves
    the delta rule reconstructs the view exactly — row for row, not
    just in aggregate.  Complements ``incremental_priority_stats``
    (monoid aggregates) with the join-shaped view IVM needs at
    warehouse scale."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    o_delta = o.filter(F.col("o_orderkey") % 10 == 0)
    o_base = o.filter(F.col("o_orderkey") % 10 != 0)
    c_delta = c.filter(F.col("c_custkey") % 7 == 0)
    c_base = c.filter(F.col("c_custkey") % 7 != 0)
    on = F.col("o_custkey") == F.col("c_custkey")
    cols = [
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double")
        .alias("o_totalprice"),
        F.col("c_mktsegment"),
    ]
    stored = o_base.join(c_base, on).select(*cols)
    delta = join_view_delta(o_base, o_delta, c_base, c_delta, on).select(*cols)
    return stored.unionByName(delta)

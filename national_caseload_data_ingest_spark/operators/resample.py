"""Deterministic Poisson-bootstrap confidence intervals — distributed
uncertainty quantification with a cross-engine-exact oracle.

The classic bootstrap resamples n rows with replacement B times — a
non-starter at 100 TB (B full shuffles of the fact table, plus RNG state
that no second engine can replay).  The **Poisson bootstrap** (Hanley &
MacGibbon 2006; the production form in large-scale A/B systems, e.g.
Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
Google 2012) replaces the multinomial resample with an independent
per-row replicate multiplicity ``m ~ Poisson(1)``, which turns B
resamples into B extra AGGREGATE COLUMNS of one scan:

* **One pass, zero extra shuffles.**  Each row evaluates its B
  multiplicities inline (whole-stage codegen'd CASE ladders) and feeds
  B weighted-sum/count aggregate pairs; map-side combine reduces
  everything to ``groups × 1`` rows before the only (group-keyed)
  exchange.  The fact table is never replicated, never re-shuffled.
* **Deterministic and engine-portable.**  The multiplicity is a pure
  function of ``(row key, replicate index)``: two rounds of a
  Lehmer/Park-Miller LCG (multiplier 48271, modulus 2³¹−1 — exact
  64-bit integer arithmetic, no overflow for any realistic key), one
  IEEE division to a uniform double, then an inverse-CDF ladder on the
  exact Poisson(1) cumulative probabilities.  Both engines compute
  bit-identical multiplicities, so the bootstrap DISTRIBUTION — not
  just its summary — hash-matches the DuckDB oracle.
* **Replicate means use a single division of exact decimal sums** cast
  to double (the repo-wide cross-engine float rule), and the interval
  bounds are ORDER STATISTICS of the B means (2nd and 31st of B=32 —
  a central ~93.75% interval), not interpolated quantiles: selection is
  exact, interpolation arithmetic is not.

Registered with a full DuckDB oracle; ``tests/test_resample.py`` adds a
python recompute of the LCG/ladder and the statistical sanity floor
(the true mean inside the interval, interval width shrinking with n).

The reference (/root/reference/ncd/) has no statistics surface; this
extends the build brief's analytics band.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables, query

B_REPLICAS = 32
LCG_MULT = 48271  # Park-Miller MINSTD
LCG_MOD = 2147483647  # 2^31 - 1
# Poisson(1) inverse-CDF ladder: cumulative P(X <= k) for k = 0..5, exact
# double literals (sums of e^-1/k!); u >= the last threshold → 6.  The
# same literal text appears in the oracle so both engines compare the
# same doubles.
POISSON_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
)
# order statistics (1-based among B=32 sorted replicate means) → ~93.75%
# central interval
LO_RANK = 2
HI_RANK = 31


def poisson_multiplicity(key: Column, b: int) -> Column:
    """Deterministic Poisson(1) multiplicity for (key, replicate b) —
    exact integer LCG rounds, one IEEE division, inverse-CDF ladder.

    The ladder is the FLAT indicator sum Σ_k [u ≥ c_k] rather than a
    nested CASE: identical value for every u (boundaries included —
    u == c_k contributes exactly the k+1 lower indicators either way),
    but the expression tree embeds the LCG subtree once per comparison
    instead of once per nested branch — with B = 32 replicates the
    nested form cost ~4 s of driver-side analysis per query build."""
    x = (key * LCG_MULT) % LCG_MOD
    return _ladder_from_first_round(x, b)


def _ladder_from_first_round(x: Column, b: int) -> Column:
    """Multiplicity from the precomputed first LCG round (shared across
    all B replicates by ``bootstrap_mean_ci`` — the per-key round does
    not depend on b, so it is computed once, not B times)."""
    y = (x * (b + 1)) % LCG_MOD
    z = (y * LCG_MULT) % LCG_MOD
    u = z.cast("double") / F.lit(float(LCG_MOD))
    m: Column = F.lit(0)
    for c in POISSON_CDF:
        m = m + (u >= F.expr(c)).cast("int")
    return m


def bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
    b_replicas: int = B_REPLICAS,
) -> DataFrame:
    """Per-group point mean + Poisson-bootstrap interval of the mean of
    ``value_col`` — one scan, 2B+2 aggregate columns, one group-keyed
    exchange, then order statistics over the groups × B tiny relation."""
    # NO fan_out here, deliberately (r14): ``value_col`` is a DOUBLE, so
    # the 2B+2 SUM forest is order-sensitive float arithmetic — widening
    # the scan past its file-split width changes the partial-aggregate
    # merge order and breaks the bit-exact parity with the single-pass
    # python recompute (tests) and the sequential-sum oracle.  It would
    # also betray the module's design invariant ("one pass, ZERO extra
    # shuffles"): at 100 TB a round-robin exchange of the 3-column
    # projection shuffles the whole fact table to feed an aggregate that
    # otherwise moves only groups × 1 rows after map-side combine.
    pre = df.select(
        group_col,
        value_col,
        ((F.col(key_col) * LCG_MULT) % LCG_MOD).alias("__lcg_x"),
    )
    # The whole B×(ladder + 2 sums) forest + stack + rank pipeline is
    # ONE parameterized ``spark.sql`` statement — a single JVM-side
    # parse.  History of this build (r14): Column operators cost one
    # py4j round-trip per NODE (~4 s of driver time at B = 32); one
    # ``F.expr`` per aggregate still cost ~1.1-1.9 s of parse round
    # trips plus ~1-1.7 s assembling the 66-column ``agg`` call —
    # roughly HALF the query's wall time spent on the driver before any
    # data moved.  The SQL text below is the same expression text those
    # operators produced (same ladder strings, same casts, same window
    # order), so the physical plan and every emitted value are
    # unchanged — pinned by the python-recompute parity tests and the
    # DuckDB oracle at three SFs.
    # the multiplicity ladder is projected ONCE per replicate under
    # short names (m0..mB) and the aggregates reference those: the
    # repeated-u text form cost ~1 s of ANTLR parse alone (~80 KB of
    # SQL), and per-row each ladder is now provably evaluated once
    # instead of relying on aggregate-level subexpression elimination
    mults = []
    for b in range(b_replicas):
        u = (
            f"(CAST(__lcg_x * {b + 1} % {LCG_MOD}"
            f" * {LCG_MULT} % {LCG_MOD} AS DOUBLE) / {LCG_MOD}.0)"
        )
        m = " + ".join(
            f"(CASE WHEN {u} >= {c} THEN 1 ELSE 0 END)"
            for c in POISSON_CDF
        )
        mults.append(f"{m} AS m{b}")
    ladders = [
        f"SUM(m{b} * {value_col}) AS s{b}, SUM(m{b}) AS c{b}"
        for b in range(b_replicas)
    ]
    pairs = ", ".join(
        f"{b}, CAST(s{b} AS DOUBLE) / CAST(c{b} AS DOUBLE)"
        for b in range(b_replicas)
    )
    return pre.sparkSession.sql(
        f"""
        WITH mult AS (
            SELECT {group_col}, {value_col}, {', '.join(mults)}
            FROM {{pre}}
        ),
        wide AS (
            SELECT {group_col},
                   SUM({value_col}) AS s_all, COUNT(1) AS c_all,
                   {', '.join(ladders)}
            FROM mult
            GROUP BY {group_col}
        ),
        means AS (
            SELECT {group_col},
                   CAST(s_all AS DOUBLE) / CAST(c_all AS DOUBLE)
                       AS mean_value,
                   stack({b_replicas}, {pairs}) AS (b, mean_b)
            FROM wide
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY {group_col} ORDER BY mean_b, b) AS rn
            FROM means
        )
        SELECT {group_col}, mean_value,
               MAX(CASE WHEN rn = {LO_RANK} THEN mean_b END) AS boot_lo,
               MAX(CASE WHEN rn = {HI_RANK} THEN mean_b END) AS boot_hi
        FROM ranked
        GROUP BY {group_col}, mean_value
        """,
        pre=pre,
    )


def _bootstrap_oracle() -> str:
    """Replicate-explode formulation of the identical math (the oracle
    favors clarity; the Spark side favors the zero-amplification
    column form — same exact integers, decimals, and divisions)."""
    u = (
        f"(CAST(((o_orderkey * {LCG_MULT}) % {LCG_MOD}) * (b + 1)"
        f" % {LCG_MOD} * {LCG_MULT} % {LCG_MOD} AS DOUBLE) / {LCG_MOD}.0)"
    )
    # flat indicator sum — same value as a nested inverse-CDF CASE for
    # every u including the boundaries, mirroring the Spark side
    ladder = " + ".join(
        f"(CASE WHEN {u} >= {c} THEN 1 ELSE 0 END)" for c in POISSON_CDF
    )
    return f"""
    WITH reps AS (SELECT unnest(range({B_REPLICAS})) AS b),
    m AS (
        SELECT o_orderpriority, b,
               ({ladder}) AS mult,
               o_totalprice
        FROM orders CROSS JOIN reps
    ),
    agg AS (
        SELECT o_orderpriority, b,
               CAST(SUM(mult * o_totalprice) AS DOUBLE)
                 / CAST(SUM(mult) AS DOUBLE) AS mean_b
        FROM m GROUP BY o_orderpriority, b
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderpriority ORDER BY mean_b, b) AS rn
        FROM agg
    ),
    base AS (
        SELECT o_orderpriority,
               CAST(SUM(o_totalprice) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS mean_value
        FROM orders GROUP BY o_orderpriority
    )
    SELECT base.o_orderpriority, base.mean_value,
           MAX(CASE WHEN rn = {LO_RANK} THEN mean_b END) AS boot_lo,
           MAX(CASE WHEN rn = {HI_RANK} THEN mean_b END) AS boot_hi
    FROM base JOIN ranked USING (o_orderpriority)
    GROUP BY base.o_orderpriority, base.mean_value
    """


@query("bootstrap_order_value_ci", oracle=_bootstrap_oracle())
def bootstrap_order_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority mean order value with a 32-replicate deterministic
    Poisson-bootstrap interval — the uncertainty readout a mix/ablation
    dashboard wants next to every mean.  See module docstring for the
    one-scan, zero-amplification plan shape."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return bootstrap_mean_ci(
        o, "o_orderpriority", "o_orderkey", "o_totalprice"
    )

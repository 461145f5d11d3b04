"""Mergeable sketches as relations: Count-Min (frequencies), DataSketches
HLL (distincts), and an equi-width histogram (distribution/quantiles) —
each a pure DataFrame aggregate whose output is a tiny mergeable relation,
never a driver-side blob.

Spark ships HLL (``approx_count_distinct``) and KLL-style quantiles
(``approx_percentile``) but no frequency sketch; Count-Min (Cormode &
Muthukrishnan 2005) is the standard bounded-memory answer to "how often
does key X occur?" over streams too wide for exact per-key state.

Spark-first shape — the sketch IS a tiny relation, not a UDAF blob:

* each token contributes one increment per hash row: ``explode`` →
  ``d`` codegen'd bucket columns (``xxhash64`` with per-row salt,
  ``% width``) → stack to (row, bucket) pairs → ONE ``groupBy`` count.
  The result is a (depth × width)-row relation — d·w counters, fixed
  size regardless of corpus — and it is MERGEABLE by construction:
  sketches of two corpora union+sum to the sketch of the union (the
  monoid property the incremental-aggregation operator relies on,
  incremental.py).
* point estimates are a broadcast join of the probe set's d bucket keys
  against the counter relation + a ``min`` aggregate — no scan of the
  corpus at query time.
* guarantees: estimate ≥ true count always (counters only over-count),
  and ≤ true + εN with probability 1−δ for ε = e/width, δ = e^−depth.

Registered rows-only (the bucket layout is xxhash64-seeded — no other
engine reproduces it); pinned by tests that rebuild the sketch from the
same hash columns in numpy, assert the ≥-true invariant on every probe,
the ε-bound, and binary mergeability (`tests/test_sketch.py`).

The reference (/root/reference/ncd/) has no sketch surface; this is the
"novel sketch" band of the build brief's custom-operator list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import fan_out, query
from national_caseload_data_ingest_spark.session import load_tables

CMS_WIDTH = 1024
CMS_DEPTH = 4

# probe terms: a few frequent engine words + guaranteed-rare strings
CMS_PROBES = (
    "the", "spark", "table", "join", "data",
    "zz_absent_token_1", "zz_absent_token_2",
)


def _bucket(col, row: int, width: int):
    """Codegen bucket id for hash row ``row``: xxhash64 with a literal
    per-row salt, folded into [0, width)."""
    return F.pmod(F.xxhash64(F.lit(f"r{row}:"), col), F.lit(width)).cast("int")


def cms_build(
    tokens: DataFrame,
    col: str = "tok",
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Token stream → Count-Min counter relation (row, bucket, c).

    One pass: d bucket columns per token, stacked in-plan, one groupBy.
    The output has ≤ depth·width rows whatever the corpus size."""
    cols = ", ".join(
        f"{r}, __b{r}" for r in range(depth)
    )
    with_buckets = tokens.select(
        *[_bucket(F.col(col), r, width).alias(f"__b{r}") for r in range(depth)]
    )
    stacked = with_buckets.select(
        F.expr(f"stack({depth}, {cols}) AS (row, bucket)")
    )
    return stacked.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union+sum counter relations — sketch(A ∪ B) == merge(sk(A), sk(B))
    exactly (the monoid property)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionAll(s)
    return out.groupBy("row", "bucket").agg(F.sum("c").alias("c"))


def cms_estimate(
    sketch: DataFrame,
    probes: list[str],
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Point estimates for ``probes``: build their (row, bucket) keys as
    a small literal relation, broadcast-join the counters, take the
    row-wise min.  Absent buckets count 0 (a probe can miss every
    counter only if nothing hashed there)."""
    spark = sketch.sparkSession
    probe_df = spark.createDataFrame([(p,) for p in probes], "tok string")
    keys = probe_df.select(
        "tok",
        *[_bucket(F.col("tok"), r, width).alias(f"__b{r}") for r in range(depth)],
    )
    cols = ", ".join(f"{r}, __b{r}" for r in range(depth))
    keyed = keys.select(
        "tok", F.expr(f"stack({depth}, {cols}) AS (row, bucket)")
    )
    return (
        keyed.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )


@query("cms_token_counts", oracle=None)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min estimates vs exact counts for the probe terms over the
    documents token stream: (tok, est, exact, overestimate).  The CMS
    invariant est ≥ exact must hold on every row (the driver's rows-only
    check is backed by invariant/bound/merge tests).  Exact counts here
    are only for the report — the sketch never needs them."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok")
    )
    sketch = cms_build(toks)
    est = cms_estimate(sketch, list(CMS_PROBES))
    exact = (
        toks.filter(F.col("tok").isin(*CMS_PROBES))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return (
        est.join(exact, "tok", "left")
        .select(
            "tok",
            "est",
            F.coalesce("exact", F.lit(0)).alias("exact"),
            (F.col("est") - F.coalesce("exact", F.lit(0))).alias(
                "overestimate"
            ),
        )
    )


HLL_LGK = 12  # DataSketches lgConfigK: 4096 registers, ~1.6% rel. std err


def hll_month_sketches(orders: DataFrame, lgk: int = HLL_LGK) -> DataFrame:
    """Per-month HLL sketch of distinct customers: the persisted
    incremental state (one binary sketch row per month, O(2^lgk) bytes
    each regardless of order volume)."""
    return (
        orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(F.hll_sketch_agg("o_custkey", F.lit(lgk)).alias("sketch"))
    )


def hll_merge_estimate(sketches: DataFrame) -> DataFrame:
    """Fold the per-month sketches into one global distinct estimate —
    the incremental-maintenance read path: a new month appends ONE
    sketch row and the global answer re-merges the tiny sketch
    relation, never rescanning history."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("estimate")
    )


@query("hll_incremental_distinct", oracle=None)
def hll_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count maintenance over orders (Apache
    DataSketches HllSketch, built into Spark as ``hll_sketch_agg`` /
    ``hll_union_agg``): per-month sketches of distinct customers, plus
    an 'ALL' row whose estimate comes from MERGING the monthly sketches
    rather than rescanning the table.

    This is the sketch the incremental-aggregation operator
    (incremental.py) cannot express with plain monoid counters:
    COUNT(DISTINCT) does not decompose, but HLL sketches do — union of
    sketches IS the sketch of the union, so a 100 TB fact table keeps
    one tiny sketch row per partition-grain and answers global distinct
    queries from the sketch relation alone.  Registered rows-only (the
    sketch registers are hash-seeded; no other engine reproduces the
    estimates bit-for-bit); pinned by tests asserting the merged
    estimate tracks the direct whole-table estimate within 1% (not
    exactly equal — the DataSketches union gadget carries HLL_8
    registers, a different internal representation than a directly
    built sketch) and lands within HLL error bounds of the true
    distinct count (`tests/test_round6_ops.py`)."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    sk = hll_month_sketches(o)
    monthly = sk.select(
        "month",
        F.hll_sketch_estimate("sketch").cast("bigint").alias("est_distinct"),
    )
    merged = hll_merge_estimate(sk).select(
        F.lit("ALL").alias("month"),
        F.col("estimate").cast("bigint").alias("est_distinct"),
    )
    return monthly.unionByName(merged).orderBy("month")


HIST_WIDTH = 1000  # price-unit bucket width for the lineitem histogram
HIST_QS = (0.5, 0.9, 0.99)


def histogram_sketch(df: DataFrame, col: str, width: int) -> DataFrame:
    """Equi-width histogram as a relation: ``(bucket, n)`` with
    ``bucket = floor(col / width)``.  The third mergeable sketch in this
    module (CMS: frequencies, HLL: distincts, histogram: distribution):
    histograms of two corpora union+sum to the histogram of the union,
    and unlike CMS/HLL every number here is integer-exact arithmetic —
    an independent engine reproduces it bit-for-bit, so the quantile
    estimates built on top stay ORACLE-checkable."""
    return (
        df.groupBy(
            F.floor(F.col(col) / F.lit(width)).cast("bigint").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantiles(
    hist: DataFrame, width: int, qs: tuple[float, ...]
) -> DataFrame:
    """Quantile estimates from the histogram relation: for each q, the
    first bucket whose cumulative count reaches ``ceil(q·N)``, reported
    as the bucket's inclusive upper edge — an estimate within one bucket
    width of the exact quantile, from state of size O(range/width)
    regardless of row count.

    The cumulative window runs over the HISTOGRAM relation (thousands of
    rows at most), not the data, so the single-partition window is a
    driver-sized sort, and the quantile probe is a broadcast of the
    one-row total followed by one filter+min per q."""
    from pyspark.sql import Window  # noqa: PLC0415

    cum = hist.withColumn(
        "cum",
        F.sum("n").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    total = hist.agg(F.sum("n").alias("total"))
    qdf = cum.sparkSession.createDataFrame([(q,) for q in qs], "q double")
    return (
        qdf.crossJoin(F.broadcast(total))
        .join(
            cum,
            F.col("cum") >= F.ceil(F.col("q") * F.col("total")),
        )
        .groupBy("q")
        .agg(
            ((F.min("bucket") + 1) * width).alias("upper_edge"),
            F.any_value("total").alias("n_rows"),
        )
    )


@query(
    "histogram_price_quantiles",
    oracle=f"""
    WITH hist AS (
        SELECT CAST(floor(l_extendedprice / {HIST_WIDTH}) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT bucket, n,
               SUM(n) OVER (ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM hist
    ),
    total AS (SELECT SUM(n) AS total FROM hist),
    qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
    SELECT q,
           CAST((MIN(bucket) + 1) * {HIST_WIDTH} AS BIGINT) AS upper_edge,
           CAST(ANY_VALUE(total) AS BIGINT) AS n_rows
    FROM qs, total
    JOIN cum ON cum.cum >= ceil(q * total)
    GROUP BY q
    """,
)
def histogram_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles of ``l_extendedprice``: one exact
    integer-arithmetic scan builds the bucket relation, then p50/p90/p99
    come from the sketch alone — the scale path for percentiles over
    data too big to sort (``median_quantity_by_flag``'s caveat), with a
    PROVABLE ±{HIST_WIDTH} error bar instead of approx_percentile's
    opaque one, and exact-reproducible output (oracle hash-match, unlike
    any sampled sketch)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    hist = histogram_sketch(li, "l_extendedprice", HIST_WIDTH)
    return histogram_quantiles(hist, HIST_WIDTH, HIST_QS)


# ---------------------------------------------------------------------------
# exact heavy hitters via a Misra-Gries candidate pass
# ---------------------------------------------------------------------------

MG_K = 30  # Misra-Gries counters per partition; threshold phi = 1/K


def misra_gries_candidates(tokens: DataFrame, k: int = MG_K) -> DataFrame:
    """Per-partition Misra–Gries summaries (Misra & Gries 1982), merged
    by a token-keyed sum → ``(tok, w)`` candidate relation.

    Guarantee used downstream: any token with GLOBAL count > N/k must
    exceed n_j/k in at least one partition j (else its total would be
    ≤ Σ n_j/k = N/k), and MG with k counters retains every such local
    heavy hitter — so the union of per-partition summaries is a provable
    SUPERSET of the global > N/k set.  The relation is bounded by
    k × #partitions rows whatever the data distribution, which is what
    makes the second pass broadcast-joinable at any scale."""
    import pandas as pd  # noqa: PLC0415

    def kernel(batches):
        # WEIGHTED Misra–Gries over per-batch (token, count) pairs:
        # value_counts() collapses each Arrow batch C-side, so the
        # Python loop runs once per DISTINCT token per batch, not once
        # per token occurrence.  The merge step generalizes the classic
        # decrement: inserting (x, w) into a full table subtracts the
        # table minimum m from every entry and drops the non-positive
        # ones (≥1 eviction per step).  Analysis is unchanged: each
        # step removes m·(k+1) ≤ inserted mass, so total undercount per
        # token ≤ n_j/(k+1) < n_j/k — every local count > n_j/k keeps a
        # positive counter, preserving the superset guarantee below.
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, w in pdf["tok"].value_counts().items():
                if tok in counters:
                    counters[tok] += int(w)
                    continue
                counters[tok] = int(w)
                if len(counters) > k:
                    m = min(counters.values())
                    counters = {
                        t: c - m for t, c in counters.items() if c > m
                    }
        yield pd.DataFrame(
            {
                "tok": list(counters.keys()),
                "w": pd.Series(list(counters.values()), dtype="int64"),
            }
        )

    return (
        fan_out(tokens).mapInPandas(kernel, schema="tok string, w bigint")
        .groupBy("tok")
        .agg(F.sum("w").alias("w"))
    )


@query(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH t AS (
        SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    n AS (SELECT COUNT(*) AS n FROM t)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM t CROSS JOIN n
    GROUP BY tok, n
    HAVING {MG_K} * COUNT(*) > n
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent tokens (count > N/{MG_K}) via the classic two-pass
    scheme: pass 1 runs Misra–Gries per partition (bounded memory, no
    shuffle of the raw stream) and merges the k×partitions candidate
    rows; pass 2 semi-joins the stream against the tiny candidate set
    and counts exactly, keeping tokens above the threshold.

    Why not one groupBy: at 100 TB a full token groupBy shuffles the
    entire stream; here the only stream-sized shuffle carries just the
    CANDIDATE-matched subset (and the candidate join broadcasts by
    construction — the relation is provably ≤ k × #partitions rows).
    The MG superset guarantee (see ``misra_gries_candidates``) makes the
    two-pass result EXACTLY the > N/{MG_K} set, so the oracle is plain
    SQL with an integer threshold compare (no float boundary).  The
    threshold ties to the corpus vocabulary: ~half the words clear it at
    the test scales, so both HAVING branches are exercised."""
    # Fan out before the token explode (r15): the exact pass (explode →
    # broadcast-join → count) ran on the single-row-group scan's ONE
    # partition — measured 1.65-1.74 → 1.16-1.30 s at sf0.1.  The MG
    # candidate SET is partitioning-dependent by design, but it is a
    # superset of the true heavy hitters under any partitioning and
    # pass 2's exact integer counts + threshold make the emitted
    # relation partitioning-independent (oracle hash-pinned).
    d = fan_out(load_tables(spark, sf_dir, "documents")["documents"])
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    cands = misra_gries_candidates(toks, MG_K)
    n_row = toks.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        toks.join(F.broadcast(cands.select("tok")), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        exact.crossJoin(F.broadcast(n_row))
        .where(F.lit(MG_K) * F.col("c") > F.col("n"))
        .select("tok", "c")
    )


# ---------------------------------------------------------------------------
# MRL quantile summary — the rank sketch completing the family
# (CMS = frequencies, HLL = distincts, histogram = fixed buckets,
#  MRL = distribution-free quantiles with a computed error certificate)
# ---------------------------------------------------------------------------

MRL_S = 512  # samples kept per partition
MRL_QS = (0.01, 0.25, 0.5, 0.75, 0.99)


def _mrl_kernel(col: str, s: int):
    """Per-partition systematic rank sample: sort the partition, keep
    every k-th element (k = ceil(n_p / s)) at sorted positions k−1,
    2k−1, …, each carrying weight k.  For any threshold v the sample
    weight below v differs from the true below-v count by < k, so the
    union of all partitions' samples answers any rank query within
    Σ_p (k_p − 1) — an ERROR CERTIFICATE computed from the data, not
    assumed.  Emits (pid, value, weight); ≤ s rows per partition."""

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415
        from pyspark import TaskContext  # noqa: PLC0415

        vals = []
        for pdf in batches:
            if len(pdf):
                vals.append(pdf[col].to_numpy(dtype=np.float64))
        if not vals:
            return
        v = np.sort(np.concatenate(vals))
        n = len(v)
        k = -(-n // s)  # ceil
        picks = v[k - 1 :: k]
        pid = TaskContext.get().partitionId()
        yield pd.DataFrame(
            {
                "pid": np.full(len(picks), pid, dtype=np.int64),
                "value": picks,
                "weight": np.full(len(picks), k, dtype=np.int64),
            }
        )

    return gen


def mrl_sketch(df: DataFrame, col: str, s: int = MRL_S) -> DataFrame:
    """(pid, value, weight) sample relation — ≤ s rows per partition,
    mergeable by plain UNION (two corpora's samples are a valid sample
    of the union, with certificates adding)."""
    return fan_out(
        df.select(F.col(col).cast("double").alias(col))
    ).mapInPandas(
        _mrl_kernel(col, s), schema="pid bigint, value double, weight bigint"
    )


def mrl_quantiles(
    sketch: DataFrame, qs: tuple[float, ...] = MRL_QS
) -> DataFrame:
    """Quantile estimates + the rank-error certificate from a sample
    relation: global cumulative weight over the BOUNDED sample relation
    (≤ partitions × s rows — the metadata-sized-relation exception to
    the no-global-window rule, analytic.py), pick the first value whose
    cumulative weight reaches ⌈q·N⌉, attach rank_err = Σ(k_p − 1) + k_max
    (certificate + selection granularity)."""
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    per_pid = sketch.groupBy("pid").agg(F.first("weight").alias("k"))
    cert = per_pid.agg(
        (F.sum(F.col("k") - F.lit(1)) + F.max("k")).alias("rank_err"),
    )
    n_row = sketch.agg(F.sum("weight").alias("n_w"))
    w = W.orderBy("value", "pid").rowsBetween(W.unboundedPreceding, 0)
    cum = sketch.withColumn("cw", F.sum("weight").over(w))
    spec = F.array(*[F.lit(q) for q in qs])
    targets = (
        n_row.crossJoin(cert)
        .select(
            F.explode(spec).alias("q"), "n_w", "rank_err"
        )
        .withColumn(
            "target", F.ceil(F.col("q") * F.col("n_w")).cast("bigint")
        )
    )
    est = (
        cum.join(
            F.broadcast(targets), F.col("cw") >= F.col("target"), "inner"
        )
        .groupBy("q", "n_w", "rank_err")
        .agg(F.min("value").alias("estimate"))
    )
    return est.select(
        "q",
        "estimate",
        F.col("rank_err").cast("bigint").alias("rank_err"),
        F.col("n_w").cast("bigint").alias("n_sampled"),
    )


@query("mrl_price_quantiles", oracle=None)  # partitioning-dependent sample;
# certificate + exact-rank pytest is the gate (tests/test_sketch.py)
def mrl_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free quantiles of l_extendedprice from the MRL
    systematic-sample relation, with a per-run rank-error CERTIFICATE:
    every estimate's true rank is provably within ``rank_err`` of
    ⌈q·N⌉, and the pytest checks that claim against exact ranks.  Unlike
    the equi-width histogram above, no value-range assumption; unlike
    ``approx_percentile``, the sample relation is inspectable, mergeable
    by UNION, and its error is certified per run rather than quoted."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return mrl_quantiles(mrl_sketch(li, "l_extendedprice"))

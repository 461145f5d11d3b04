"""Graph-analytics operators over the near-duplicate graph: PageRank
centrality for duplicate-cluster canonicalization.

A near-dup graph's connected components say *which* documents are copies
of each other; PageRank says which copy is the most *central* — the hub a
scraper re-published everywhere — which is the canonical-survivor choice
several dedup pipelines prefer over "min doc id" (the hub is typically
the original, the leaves the mirrors).  This module implements damped
PageRank (Page et al., 1999) as pure DataFrame iteration:

* **One shuffle join + one aggregate per iteration**, both keyed by doc
  id: contributions flow ``edges ⋈ ranks`` on the source, then a
  ``groupBy(dst).sum`` folds them.  The rank relation stays node-sized.
* **Lineage is truncated per round** with ``localCheckpoint`` (same
  convention as ``connected_components``, curation.py — use reliable
  ``checkpoint`` on a real cluster) so ten iterations don't build a
  ten-join Catalyst plan.
* **The node-count scalar joins as a broadcast one-row aggregate** and is
  carried as a column through the loop — no driver collect, no
  re-broadcast per iteration.
* **Skew**: a viral document is a high-degree hub; its contribution
  aggregate is a hot ``dst`` key that AQE's skew-join handling splits.
  Since the graph is symmetrized, every node has degree ≥ 1 — there are
  no dangling sinks, so no dangling-mass redistribution term is needed.

The oracle unrolls the identical fixed-iteration recurrence as chained
DuckDB CTEs over the same posting-join pair relation the
``neardup_clusters`` oracle uses, with identically-parenthesized double
arithmetic, so ranks hash-match at the harness's 1e-6 print precision.

The reference (/root/reference/ncd/) has no graph surface; this extends
the near-dup clustering band of the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.curation import (
    _CLUSTER_PAIRS_SQL,
    CLUSTER_THRESHOLD,
)
from national_caseload_data_ingest_spark.operators.dedup import neardup_pairs
from national_caseload_data_ingest_spark.operators.registry import load_tables, query

PAGERANK_ITERS = 10


def pagerank(edges: DataFrame, n_iter: int = PAGERANK_ITERS) -> DataFrame:
    """Damped PageRank on an undirected edge relation ``(doc_a, doc_b)``
    (one row per unordered pair) → ``(doc_id, deg, pr)``.

    PR_0(u) = 1/N;  PR_{t+1}(u) = 0.15/N + 0.85·Σ_{v∈Γ(u)} PR_t(v)/deg(v)
    over nodes appearing in at least one edge (N = |nodes|).
    """
    # Materialize the edge relation ONCE, before symmetrizing: the union
    # below references ``edges`` twice, so without a barrier the upstream
    # lineage (here: the exact near-dup verification kernel) runs once
    # PER BRANCH, and the loop re-scans the symmetrized relation every
    # iteration (measured at ~10× the whole query's wall time at sf0.1
    # without any barrier).  r14: the checkpoint moved from the union
    # result to the edge input — the pre-barrier plan still computed the
    # pair kernel twice (2 MapInPandas subtrees in the before-plan); now
    # it runs once and both union branches read the materialized rows.
    # localCheckpoint caches into executor block storage; use reliable
    # checkpoint on a real cluster (kcore below, same convention).
    edges = edges.localCheckpoint(eager=True)
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            edges.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint(eager=False)
    )
    # (node, deg, n) is STATIC across iterations — materialize it once
    # and join each round's contributions back to it (r14): the previous
    # loop joined contrib to ``ranks.drop("pr")`` (same three columns,
    # same values), which made every iteration reference the previous
    # ranks relation TWICE and forced a per-iteration localCheckpoint to
    # stop exponential recompute.  With the static side joined instead,
    # ranks_{t} feeds only contrib_{t+1} — one consumer — so the whole
    # fixed-iteration recurrence executes as ONE lazy chain in the final
    # action: 10 materialization rounds (and their job-scheduling
    # barriers) gone, per-iteration join/agg shuffles unchanged.
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n_row = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # (node, deg, n, pr) — n rides along so the loop never re-joins it
    deg_n = deg.crossJoin(F.broadcast(n_row)).localCheckpoint(eager=False)
    ranks = deg_n.withColumn("pr", F.lit(1.0) / F.col("n"))
    for _ in range(n_iter):
        contrib = (
            sym.join(ranks, sym.src == ranks.node)
            .groupBy(F.col("dst").alias("cnode"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("contrib"))
        )
        ranks = (
            deg_n.join(contrib, F.col("node") == F.col("cnode"))
            .withColumn(
                "pr",
                # damping 0.85: keep the 0.85 / 0.15 literals in sync with
                # the oracle SQL below
                (F.lit(0.15) / F.col("n"))
                + (F.lit(0.85) * F.col("contrib")),
            )
            .select("node", "deg", "n", "pr")
        )
    return ranks.select(F.col("node").alias("doc_id"), "deg", "pr")


def _pagerank_oracle(n_iter: int) -> str:
    """Chained-CTE unrolling of the fixed-iteration recurrence —
    GENERATED from ``n_iter`` so the oracle can never desync from the
    Spark loop when PAGERANK_ITERS changes."""
    its = []
    for t in range(n_iter):
        prev = f"r{t}"
        its.append(
            f"""r{t + 1} AS (
        SELECT d.node, d.deg,
               ((0.15 / (SELECT n FROM nn))
                + (0.85 * s.contrib)) AS pr
        FROM deg d JOIN (
            SELECT e.dst AS node, SUM(r.pr / r.deg) AS contrib
            FROM edges e JOIN {prev} r ON e.src = r.node
            GROUP BY e.dst
        ) s ON d.node = s.node
    )"""
        )
    chain = ",\n    ".join(its)
    return f"""
    WITH {_CLUSTER_PAIRS_SQL},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
    {chain}
    SELECT node AS doc_id, CAST(deg AS BIGINT) AS deg, pr
    FROM r{n_iter}
    """


@query("neardup_pagerank", oracle=_pagerank_oracle(PAGERANK_ITERS))
def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of every document in the bigram-Jaccard
    near-dup graph (exact pair mode at ``CLUSTER_THRESHOLD``, the same
    edge relation ``neardup_clusters`` clusters over) — ranks the
    canonical representative of each duplicate cluster.  See module
    docstring for the per-iteration plan shape."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = neardup_pairs(d, CLUSTER_THRESHOLD, mode="exact")
    return pagerank(pairs.select("doc_a", "doc_b"))


@query(
    "neardup_triangle_count",
    oracle=f"""
    WITH {_CLUSTER_PAIRS_SQL},
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    )
    SELECT node AS doc_id, triangles FROM per_node
    """,
)
def neardup_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the near-dup graph — the local
    clustering signal that separates tight duplicate cliques from
    loose chains (a clique's members are interchangeable survivors; a
    chain's are not).

    Canonical-orientation triangle enumeration (each triangle found
    exactly once via ``a<b`` edges joined x→y→z with the closing x→z
    edge): two shuffle joins keyed by doc id, then one aggregate.  The
    classic MapReduce-era optimization for skewed graphs — orienting
    edges from lower to higher DEGREE instead of id — drops in by
    re-keying the edge relation; id-orientation is kept here because the
    oracle must enumerate the identical relation.

    The edge relation is plain-``persist()``ed (the dedup-family
    convention, dedup.py:507): it feeds all three join aliases, and
    without the cache each alias re-runs the whole lang-blocked pair
    kernel — 3× the dominant cost and a 10-exchange plan instead of
    ≤ 4."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = (
        neardup_pairs(d, CLUSTER_THRESHOLD, mode="exact")
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .persist()
    )
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return nodes.groupBy(F.col("node").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("triangles")
    )


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 4  # fixpoint measured at 2 rounds on both test scales;
#                   extra rounds are idempotent (peeling is monotone), so
#                   a fixed unroll stays hash-equal to run-to-convergence
KCORE_PLAN_ROUNDS = 8  # most peel rounds one Catalyst plan carries


def kcore(edges: DataFrame, k: int = KCORE_K,
          rounds: int = KCORE_ROUNDS) -> DataFrame:
    """The k-CORE of an undirected edge relation: the maximal subgraph
    where every node keeps degree ≥ k, by iterative peeling — each round
    restricts edges to surviving endpoints and drops nodes whose
    within-survivor degree falls below k.  Returns ``(doc_id,
    core_degree)`` for core members with their final within-core degree.

    Scale shape (r15): the peel is EDGE-filtering — each round keeps the
    edges whose two endpoints both have within-round degree ≥ k, with
    the degrees computed as two window counts over the one edge
    relation.  This is pointwise equivalent to the survivor-set
    formulation (inductively, the surviving edge set after round t IS
    the edge set induced by the survivor-set recurrence's S_t: an edge
    survives iff both endpoints kept degree ≥ k, and a node's degree in
    the induced subgraph is its count of surviving rows), but the round
    relation has exactly ONE consumer, so the whole fixed-round
    recurrence runs as one lazy chain — no per-round checkpoint
    barriers, no per-round semi-join pair (the r14 shape paid one
    groupBy + two joins + a checkpoint per round because ``survivors``
    was referenced twice).  Two exchanges per round (partition by dst,
    then by src); the final degree aggregate reuses the last round's
    src partitioning.  Peeling converges in at most max-degeneracy
    rounds — single digits on real near-dup graphs — and extra unrolled
    rounds after the fixpoint are no-ops, so the fixed ``rounds`` bound
    is exact, not approximate.

    Plan depth: each round adds two windows to the plan, and Catalyst's
    analysis and codegen cost grows with it.  Up to
    ``KCORE_PLAN_ROUNDS`` rounds (the default ``KCORE_ROUNDS`` among
    them) run as the one chain above; a larger ``rounds`` cuts the
    lineage with a lazy ``localCheckpoint`` every ``KCORE_PLAN_ROUNDS``
    rounds, so no plan carries more than that many rounds."""
    from pyspark.sql import Window  # noqa: PLC0415

    # EAGER checkpoint: the edge relation's lineage (a near-dup pair
    # computation) must run ONCE ahead of the multi-round chain.
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=True)
    w_dst = Window.partitionBy("dst")
    w_src = Window.partitionBy("src")
    cur = sym
    for t in range(1, rounds + 1):
        # dst window first, src window last: the round ends partitioned
        # by src, so the next round's src window / the final groupBy
        # reuse that exchange.
        cur = (
            cur.withColumn("dd", F.count(F.lit(1)).over(w_dst))
            .withColumn("ds", F.count(F.lit(1)).over(w_src))
            .filter((F.col("ds") >= k) & (F.col("dd") >= k))
            .select("src", "dst")
        )
        if t % KCORE_PLAN_ROUNDS == 0 and t < rounds:
            cur = cur.localCheckpoint(eager=False)
    # Degrees over the FINAL surviving edge set == degrees within the
    # final survivor-induced subgraph (the r14 post-loop re-measure).
    return cur.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Chained-CTE unrolling of the peel — generated from (k, rounds) so
    the oracle can never desync from the Spark loop."""
    ctes = ["s0 AS (SELECT DISTINCT src AS node FROM edges)"]
    for t in range(1, rounds + 1):
        ctes.append(
            f"""d{t} AS (
        SELECT e.src AS node, COUNT(*) AS c
        FROM edges e
        JOIN s{t - 1} a ON e.src = a.node
        JOIN s{t - 1} b ON e.dst = b.node
        GROUP BY e.src
    ), s{t} AS (SELECT node FROM d{t} WHERE c >= {k})"""
        )
    chain = ",\n    ".join(ctes)
    # final degrees against the FINAL survivor set (the last in-loop
    # degree is relative to the previous round's set — same fix as the
    # Spark side)
    return f"""
    WITH {_CLUSTER_PAIRS_SQL},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    {chain},
    dfin AS (
        SELECT e.src AS node, COUNT(*) AS c
        FROM edges e
        JOIN s{rounds} a ON e.src = a.node
        JOIN s{rounds} b ON e.dst = b.node
        GROUP BY e.src
    )
    SELECT node AS doc_id, CAST(c AS BIGINT) AS core_degree FROM dfin
    """


@query("neardup_kcore", oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS))
def neardup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the bigram-Jaccard near-dup graph: documents in
    the maximal subgraph where everyone has ≥ {KCORE_K} near-duplicate
    neighbors — the dense-duplication nuclei that pairwise thresholds
    and even connected components blur (a long chain is one component
    but carries NO core).  Non-vacuous at every shipped scale (3 core
    members at sf0.001, 6 at sf0.01, with most nodes peeled), so the
    hash-match exercises both the keep and the peel paths."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = neardup_pairs(d, CLUSTER_THRESHOLD, mode="exact")
    return kcore(pairs.select("doc_a", "doc_b"))


# ---------------------------------------------------------------------------
# label propagation communities
# ---------------------------------------------------------------------------

LPA_ROUNDS = 4  # fixed synchronous rounds (deterministic, oracle-unrollable)


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    DETERMINISTIC tie-break: each round every node adopts the label most
    frequent among its neighbors, ties resolved to the smallest label.
    Unlike min-label propagation (== connected components), mode-based
    LPA splits a component into densely-linked communities.

    Per round: one edge⋈label shuffle join, one (node, label) count
    aggregate, one per-node window pick (partitioned by node — never
    global), then ``localCheckpoint`` to truncate lineage (the pagerank
    convention above).  All shuffles are keyed by node id; a hub node is
    one hot key that AQE skew-splits.  Synchronous + deterministic is
    what keeps the relation oracle-checkable; asynchronous LPA converges
    faster but is schedule-dependent."""
    from pyspark.sql import Window  # noqa: PLC0415

    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            edges.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        # one-time barrier: the loop re-scans sym every round (pagerank
        # convention above — without it the upstream pair kernel reruns
        # per round)
        .localCheckpoint(eager=False)
    )
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    pick = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(rounds):
        neigh = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # no per-round checkpoint (r14): labels_t has exactly ONE
        # consumer (next round's neigh join), so lineage grows linearly
        # and the whole fixed-round recurrence executes as one lazy
        # chain — the per-round materialization barriers bought nothing
        # (contrast kcore, whose survivor set is referenced twice per
        # round and keeps its checkpoint).
        labels = (
            neigh.withColumn("rk", F.row_number().over(pick))
            .where(F.col("rk") == 1)
            .select("node", "label")
        )
    return labels


def _lpa_oracle(rounds: int) -> str:
    """Chained-CTE unrolling of the synchronous LPA recurrence —
    generated from ``rounds`` so the oracle can never desync from the
    Spark loop when LPA_ROUNDS changes."""
    its = []
    for t in range(rounds):
        prev = f"l{t}"
        its.append(
            f"""l{t + 1} AS (
        SELECT node, label FROM (
            SELECT e.src AS node, r.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.src
                       ORDER BY COUNT(*) DESC, r.label ASC) AS rk
            FROM edges e JOIN {prev} r ON e.dst = r.node
            GROUP BY e.src, r.label
        ) WHERE rk = 1
    )"""
        )
    chain = ",\n    ".join(its)
    return f"""
    WITH {_CLUSTER_PAIRS_SQL},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {chain}
    SELECT f.node AS doc_id, f.label,
           CAST(s.sz AS BIGINT) AS community_size
    FROM l{rounds} f JOIN (
        SELECT label, COUNT(*) AS sz FROM l{rounds} GROUP BY label
    ) s ON f.label = s.label
    """


@query("neardup_labelprop", oracle=_lpa_oracle(LPA_ROUNDS))
def neardup_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities of the near-duplicate graph under {LPA_ROUNDS}
    synchronous label-propagation rounds, with each node's final label
    and its community's size — the cluster-granularity alternative to
    ``neardup_clusters`` (connected components): CC merges everything
    reachable, LPA keeps densely-linked groups apart inside a sparse
    component.  Oracle = the identical recurrence unrolled as chained
    CTEs (the pagerank/k-core convention)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = neardup_pairs(d, CLUSTER_THRESHOLD, mode="exact")
    labels = label_propagation(pairs.select("doc_a", "doc_b"), LPA_ROUNDS)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        "label",
        F.col("sz").cast("bigint").alias("community_size"),
    )


# ---------------------------------------------------------------------------
# link prediction — common-neighbor / neighborhood-Jaccard scores
# ---------------------------------------------------------------------------

# Upper bound on the wedge-join output Σ C(deg, 2) (candidate rows emitted
# before the groupBy).  Chosen like DIRECT_JOIN_BUDGET in dedup.py: the
# volume a 32-thread local run folds in seconds and a cluster folds per
# task without spill; one template-farm hub of degree 10⁶ alone would emit
# 5·10¹¹ rows, which no AQE skew split can bound — the guard catches it
# from one O(|V|) stats aggregation before any wedge row is produced.
WEDGE_VOLUME_BUDGET = 200_000_000


def link_prediction_scores(
    pairs: DataFrame,
    wedge_budget: int = WEDGE_VOLUME_BUDGET,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor / neighborhood-Jaccard scores for every
    NON-adjacent pair of an undirected graph ``(doc_a, doc_b)``.

    Precondition: ``pairs`` must be a DISTINCT canonical edge list
    (one row per undirected edge, ``doc_a < doc_b``).  Duplicate rows
    or both orientations would double degrees, inflate ``n_common``,
    and skew ``nbr_jaccard`` — the function does not deduplicate
    (that would shuffle every caller to protect against malformed
    input; the registered query's pair relation is canonical by
    construction).

    The wedge join (edges ⋈ edges on the middle node) emits exactly
    Σ_v C(deg(v), 2) candidate rows.  House rule (SCALING.md: "never
    silent O(n²)"): that volume is measured FIRST with one stats
    aggregation over the degree relation — the exact pattern of the
    PPJoin planner's Σ C(df, 2) probe (dedup.py) — and

    * volume ≤ ``wedge_budget`` → run the exact wedge join;
    * volume >  ``wedge_budget`` and ``max_degree`` is None → raise
      with routing guidance (fail fast, never silently quadratic);
    * ``max_degree`` set → cap each node's OUTGOING neighbor list to
      its ``max_degree`` smallest neighbor ids (deterministic top-k via
      one row_number window) before wedging.  The cap bounds each
      middle node's e2 fan-out at ``max_degree`` but NOT its e1 fan-in
      (a hub can survive in many other nodes' capped lists), so the
      capped volume is RE-MEASURED exactly — Σ_mid in(mid)·out(mid)
      over the capped lists — and the function still raises if that
      exceeds ``wedge_budget`` (lower ``max_degree`` or raise the
      budget).  Scores computed on the capped graph are a lower bound
      on n_common for hub-adjacent pairs; the emitted relation carries
      true (uncapped) degrees so nbr_jaccard stays interpretable.
    """
    sym = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .localCheckpoint(eager=False)  # reused 5× below — one materialization
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # one bounded stats row: the wedge output volume, known BEFORE the join
    vol = (
        deg.agg(
            F.sum(
                F.col("deg").cast("bigint") * (F.col("deg") - F.lit(1)) / 2
            ).alias("vol")
        ).collect()[0]["vol"]
        or 0
    )
    wedge_src = sym
    if vol > wedge_budget:
        if max_degree is None:
            raise ValueError(
                "link_prediction_scores: wedge-join volume sum(C(deg,2)) = "
                f"{int(vol):,} exceeds wedge_budget={wedge_budget:,} — the "
                "graph has hub nodes whose wedge enumeration would be "
                "quadratic in degree.  Route around it: pass max_degree=k "
                "to score on a deterministic k-nearest-neighbor-capped "
                "graph, raise wedge_budget if the cluster can fold the "
                "volume, or pre-filter the edge relation (e.g. drop "
                "degree > d hubs, which are template boilerplate in a "
                "near-dup graph, not content)."
            )
        from pyspark.sql import Window

        w = Window.partitionBy("u").orderBy("v")
        wedge_src = (
            sym.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_degree)
            .drop("__rn")
            .localCheckpoint(eager=False)
        )
        # re-measure on the CAPPED lists: the cap bounds out-degree at
        # max_degree but not in-degree (hubs survive in other nodes'
        # lists), so the wedge volume is Σ_mid in(mid)·out(mid) — one
        # more bounded stats row before any wedge row exists
        capped_vol = (
            wedge_src.select(F.col("v").alias("mid"))
            .groupBy("mid")
            .agg(F.count(F.lit(1)).alias("ind"))
            .join(
                wedge_src.select(F.col("u").alias("mid"))
                .groupBy("mid")
                .agg(F.count(F.lit(1)).alias("outd")),
                "mid",
            )
            .agg(
                F.sum(F.col("ind").cast("bigint") * F.col("outd")).alias("v")
            )
            .collect()[0]["v"]
            or 0
        )
        if capped_vol > wedge_budget:
            raise ValueError(
                "link_prediction_scores: even with max_degree="
                f"{max_degree}, the capped wedge volume Σ in(mid)·out(mid) "
                f"= {int(capped_vol):,} exceeds wedge_budget="
                f"{wedge_budget:,} (hub nodes survive in many capped "
                "lists).  Lower max_degree, raise wedge_budget, or "
                "pre-filter high-degree hubs out of the edge relation."
            )
    e1 = wedge_src.select(F.col("u").alias("a"), F.col("v").alias("mid"))
    e2 = wedge_src.select(F.col("u").alias("mid2"), F.col("v").alias("b"))
    cand = (
        e1.join(e2, (F.col("mid") == F.col("mid2")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    adj = sym.select(F.col("u").alias("a"), F.col("v").alias("b"))
    nonadj = cand.join(adj, ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        nonadj.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            "n_common",
            "deg_a",
            "deg_b",
            (
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            ).alias("nbr_jaccard"),
        )
    )


@query(
    "neardup_link_prediction",
    oracle=f"""
    WITH {_CLUSTER_PAIRS_SQL},
    e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM e GROUP BY u),
    cand AS (
        SELECT e1.u AS a, e2.v AS b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM e e1 JOIN e e2 ON e1.v = e2.u AND e1.u < e2.v
        GROUP BY e1.u, e2.v
    ),
    nonadj AS (
        SELECT c.a, c.b, c.n_common
        FROM cand c
        LEFT JOIN e ON e.u = c.a AND e.v = c.b
        WHERE e.u IS NULL
    )
    SELECT n.a AS doc_a, n.b AS doc_b, n.n_common,
           da.deg AS deg_a, db.deg AS deg_b,
           CAST(n.n_common AS DOUBLE)
             / (da.deg + db.deg - n.n_common) AS nbr_jaccard
    FROM nonadj n
    JOIN deg da ON da.node = n.a
    JOIN deg db ON db.node = n.b
    """,
)
def neardup_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the near-dup graph: every NON-adjacent pair
    with ≥ 1 common neighbor, scored by common-neighbor count and
    neighborhood Jaccard (Liben-Nowell & Kleinberg 2003) — the "these
    two documents are probably near-dups the threshold missed" triage
    relation a curation loop reviews before lowering its threshold.

    Exactness: counts and degrees are integers; the Jaccard is ONE
    division of exact integers (the repo-wide float rule), so the
    relation hash-matches the oracle.  Shapes: the wedge join's
    Σ C(deg, 2) output volume is MEASURED by one stats aggregation
    before any wedge row is produced, and the kernel fails fast with
    routing guidance over :data:`WEDGE_VOLUME_BUDGET` (see
    :func:`link_prediction_scores`) — the adjacency anti-join + two
    degree joins are all node-keyed.  No float accumulation anywhere."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = neardup_pairs(d, CLUSTER_THRESHOLD, mode="exact").select(
        "doc_a", "doc_b"
    )
    return link_prediction_scores(pairs)

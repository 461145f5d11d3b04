"""Ground-truth tests for the PageRank operator (`operators/graph.py`)
against an independent dense power-iteration reference."""

from __future__ import annotations

import numpy as np
import pytest

from national_caseload_data_ingest_spark.operators.graph import pagerank

# Undirected near-dup-shaped graph: a 4-star (hub 0), a triangle, a
# 2-chain, plus a path tying the star to the triangle.
EDGES = [
    (0, 1),
    (0, 2),
    (0, 3),
    (0, 4),
    (5, 6),
    (6, 7),
    (5, 7),
    (4, 5),
    (8, 9),
]


def _reference_pagerank(edges, n_iter, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[idx[a], idx[b]] = 1.0
        adj[idx[b], idx[a]] = 1.0
    deg = adj.sum(axis=1)
    pr = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        pr = (1.0 - d) / n + d * (adj.T @ (pr / deg))
    return {u: pr[idx[u]] for u in nodes}, {u: int(deg[idx[u]]) for u in nodes}


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "doc_a long, doc_b long")


def test_pagerank_matches_power_iteration(spark, edges_df):
    got = {r["doc_id"]: r for r in pagerank(edges_df, n_iter=10).collect()}
    want_pr, want_deg = _reference_pagerank(EDGES, n_iter=10)
    assert set(got) == set(want_pr)
    for u in want_pr:
        assert got[u]["deg"] == want_deg[u]
        assert got[u]["pr"] == pytest.approx(want_pr[u], rel=1e-12)


def test_pagerank_mass_conserved(spark, edges_df):
    """With no dangling nodes the total rank mass stays exactly 1 at
    every iteration count (up to fp summation)."""
    for n_iter in (1, 5):
        rows = pagerank(edges_df, n_iter=n_iter).collect()
        assert sum(r["pr"] for r in rows) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_hub_outranks_leaves(spark, edges_df):
    """The star hub must dominate its leaves — the property that makes
    PageRank the canonical-survivor choice for duplicate clusters."""
    got = {r["doc_id"]: r["pr"] for r in pagerank(edges_df).collect()}
    assert got[0] > got[1] == pytest.approx(got[2], rel=1e-12)
    # bridge node 4 sees two hubs, outranks plain leaves
    assert got[4] > got[1]


def test_pagerank_no_udfs_in_plan(spark, edges_df):
    plan = (
        pagerank(edges_df, n_iter=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_kcore_hand_built_graph(spark):
    """Triangle + tail: the triangle is the 2-core; the tail peels in
    two rounds (node 4 first, then 3 loses its second neighbor — the
    cascade the iteration exists for)."""
    from national_caseload_data_ingest_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_kcore_extra_rounds_idempotent(spark):
    """Fixed unroll == run-to-convergence: more rounds than the
    fixpoint change nothing (the hash-equality argument)."""
    from national_caseload_data_ingest_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)],
        "doc_a long, doc_b long",
    )
    r3 = sorted(map(tuple, kcore(edges, k=2, rounds=3).collect()))
    r8 = sorted(map(tuple, kcore(edges, k=2, rounds=8).collect()))
    assert r3 == r8 == [(0, 2), (1, 2), (2, 2)]


def _plan_windows(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(line.lstrip(" +-:").startswith("Window ") for line in plan.splitlines())


def test_kcore_plan_depth_is_bounded(spark):
    """Up to KCORE_PLAN_ROUNDS rounds are one plan of two windows a round;
    past it, a checkpoint every KCORE_PLAN_ROUNDS rounds keeps the plan
    that deep, with the fixpoint result unchanged."""
    from national_caseload_data_ingest_spark.operators.graph import (
        KCORE_PLAN_ROUNDS,
        KCORE_ROUNDS,
        kcore,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)],
        "doc_a long, doc_b long",
    )
    assert KCORE_ROUNDS <= KCORE_PLAN_ROUNDS
    assert _plan_windows(kcore(edges, k=2)) == 2 * KCORE_ROUNDS
    full = kcore(edges, k=2, rounds=KCORE_PLAN_ROUNDS)
    assert _plan_windows(full) == 2 * KCORE_PLAN_ROUNDS
    deep = kcore(edges, k=2, rounds=2 * KCORE_PLAN_ROUNDS + 3)
    assert _plan_windows(deep) == 2 * 3
    assert sorted(map(tuple, deep.collect())) == [(0, 2), (1, 2), (2, 2)]


def test_kcore_empty_core(spark):
    from national_caseload_data_ingest_spark.operators.graph import kcore

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )
    assert kcore(chain, k=2).count() == 0


def test_link_prediction_matches_networkx_style_recompute(spark):
    """Driver recompute from the raw edge set: candidates = non-adjacent
    pairs with >= 1 common neighbor; counts, degrees, and the
    single-division Jaccard must match exactly."""
    from itertools import combinations

    import __spark_entry__ as ent
    from national_caseload_data_ingest_spark.operators.curation import (
        CLUSTER_THRESHOLD,
    )
    from national_caseload_data_ingest_spark.operators.dedup import (
        neardup_pairs,
    )
    from national_caseload_data_ingest_spark.session import load_tables

    sf = "/root/testdata/sf0.01"
    d = load_tables(spark, sf, "documents")["documents"]
    edges = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_pairs(d, CLUSTER_THRESHOLD, mode="exact")
        .select("doc_a", "doc_b")
        .collect()
    }
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    for a, b in combinations(sorted(nbrs), 2):
        if b in nbrs[a]:
            continue
        common = len(nbrs[a] & nbrs[b])
        if common:
            want[(a, b)] = (
                common,
                len(nbrs[a]),
                len(nbrs[b]),
                common / (len(nbrs[a]) + len(nbrs[b]) - common),
            )
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["n_common"],
            r["deg_a"],
            r["deg_b"],
            r["nbr_jaccard"],
        )
        for r in ent.queries()["neardup_link_prediction"](spark, sf).collect()
    }
    assert got == want
    assert got  # non-vacuous at sf0.01

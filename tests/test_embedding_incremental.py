"""Tests for distributed PCA (`operators/embedding.py`) and incremental
aggregate maintenance (`operators/incremental.py`)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.embedding import (
    PCA_K,
    pca_components,
    project,
)
from national_caseload_data_ingest_spark.operators.incremental import (
    merge_states,
    partial_agg,
)
from national_caseload_data_ingest_spark.operators.registry import load_tables

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_tables(spark, SF001, "embeddings")["embeddings"]


def test_pca_matches_numpy(spark, emb):
    comps, mean, ev = pca_components(emb)
    rows = emb.select("vec_id", "embedding").collect()
    X = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    mu = X.mean(axis=0)
    cov = (X - mu).T @ (X - mu) / len(X)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:PCA_K]
    ref = vecs[:, order].T
    for i in range(PCA_K):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    np.testing.assert_allclose(mean, mu, rtol=1e-10)
    np.testing.assert_allclose(ev, vals[order], rtol=1e-8)
    np.testing.assert_allclose(comps, ref, rtol=1e-6, atol=1e-10)
    # projections too
    got = {
        r["vec_id"]: [r[f"pc{i + 1}"] for i in range(PCA_K)]
        for r in project(emb, comps, mean).collect()
    }
    want = (X - mu) @ ref.T
    for k, r in enumerate(rows):
        np.testing.assert_allclose(
            got[r["vec_id"]], want[k], rtol=1e-8, atol=1e-10
        )


def test_pca_components_orthonormal_and_ordered(spark, emb):
    comps, _, ev = pca_components(emb)
    np.testing.assert_allclose(
        comps @ comps.T, np.eye(PCA_K), atol=1e-10
    )
    assert all(ev[i] >= ev[i + 1] for i in range(PCA_K - 1))
    assert ev[0] > 0


def test_pca_variance_concentrates(spark, emb):
    """Projected variance along pc_i must equal the eigenvalue — the
    moment sketch really computed the covariance."""
    comps, mean, ev = pca_components(emb)
    pcs = project(emb, comps, mean).collect()
    p1 = np.array([r["pc1"] for r in pcs])
    assert np.var(p1) == pytest.approx(ev[0], rel=1e-8)


def test_incremental_merge_equals_full(spark):
    """Monoid merge over an arbitrary 3-way split must equal the single
    full aggregate exactly (decimal sums)."""
    o = load_tables(spark, SF001, "orders")["orders"]
    full = {r["o_orderpriority"]: r for r in merge_states(partial_agg(o)).collect()}
    s1 = partial_agg(o.filter(F.col("o_orderkey") % 3 == 0))
    s2 = partial_agg(o.filter(F.col("o_orderkey") % 3 == 1))
    s3 = partial_agg(o.filter(F.col("o_orderkey") % 3 == 2))
    merged = {
        r["o_orderpriority"]: r for r in merge_states(s1, s2, s3).collect()
    }
    assert set(full) == set(merged)
    for k in full:
        assert merged[k]["n"] == full[k]["n"]
        assert merged[k]["total"] == full[k]["total"]  # exact decimal merge
        assert merged[k]["min_date"] == full[k]["min_date"]
        assert merged[k]["max_date"] == full[k]["max_date"]
        assert merged[k]["avg_price"] == full[k]["avg_price"]

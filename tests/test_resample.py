"""Ground truth for the deterministic Poisson bootstrap (resample.py):
a python recompute of the LCG → uniform → inverse-CDF ladder must equal
the in-plan multiplicities exactly, the replicate machinery must be a
real resample (multiplicities vary over rows and replicates, average ≈
1), and the interval must behave like a confidence interval (brackets
the point mean, non-degenerate, width shrinking with sample size)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables
from national_caseload_data_ingest_spark.operators.resample import (
    B_REPLICAS,
    LCG_MOD,
    LCG_MULT,
    POISSON_CDF,
    bootstrap_mean_ci,
    bootstrap_order_value_ci,
    poisson_multiplicity,
)

SF = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


def _py_mult(key: int, b: int) -> int:
    x = (key * LCG_MULT) % LCG_MOD
    y = (x * (b + 1)) % LCG_MOD
    z = (y * LCG_MULT) % LCG_MOD
    u = z / float(LCG_MOD)
    for k, c in enumerate(POISSON_CDF):
        if u < float(c):
            return k
    return 6


def test_multiplicity_matches_python_recompute(spark):
    """In-plan ladder == python recompute for every (key, replicate)."""
    o = (
        load_tables(spark, SF, "orders")["orders"]
        .select("o_orderkey")
        .limit(200)
    )
    cols = [
        poisson_multiplicity(F.col("o_orderkey"), b).alias(f"m{b}")
        for b in range(B_REPLICAS)
    ]
    for r in o.select("o_orderkey", *cols).collect():
        for b in range(B_REPLICAS):
            assert r[f"m{b}"] == _py_mult(int(r["o_orderkey"]), b), (
                r["o_orderkey"],
                b,
            )


def test_multiplicities_behave_like_poisson(spark):
    """Non-vacuity of the resample: multiplicities take several distinct
    values, and their mean is ≈ 1 (each replicate is an ~n-row resample,
    the Poisson-bootstrap contract)."""
    o = load_tables(spark, SF_MID, "orders")["orders"]
    n = o.count()
    agg = o.select(
        *[
            poisson_multiplicity(F.col("o_orderkey"), b).alias(f"m{b}")
            for b in range(4)
        ]
    ).agg(
        *[F.sum(f"m{b}").alias(f"s{b}") for b in range(4)],
        *[F.countDistinct(f"m{b}").alias(f"d{b}") for b in range(4)],
    )
    r = agg.collect()[0]
    for b in range(4):
        assert r[f"d{b}"] >= 3  # 0, 1, 2+ all occur
        assert abs(r[f"s{b}"] / n - 1.0) < 0.05  # E[m] = 1


def test_interval_brackets_mean_and_shrinks(spark):
    """Every group's interval is ordered (lo < hi), brackets the point
    mean, and the 10× larger sample yields a narrower mean interval."""
    widths = {}
    for sf in (SF, SF_MID):
        rows = bootstrap_order_value_ci(spark, sf).collect()
        assert len(rows) == 5
        total_w = 0.0
        for r in rows:
            assert r["boot_lo"] < r["boot_hi"]
            assert r["boot_lo"] < r["mean_value"] < r["boot_hi"]
            total_w += r["boot_hi"] - r["boot_lo"]
        widths[sf] = total_w / len(rows)
    # √10 ≈ 3.2× narrower in expectation; require any real shrink
    assert widths[SF_MID] < widths[SF] / 1.5, widths


def test_group_means_match_exact_recompute(spark):
    """The per-replicate means the order statistics select from equal an
    exact driver recompute (decimal sums, one double division)."""
    o = load_tables(spark, SF, "orders")["orders"]
    rows = o.select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    got = {
        r["o_orderpriority"]: r
        for r in bootstrap_mean_ci(
            o, "o_orderpriority", "o_orderkey", "o_totalprice"
        ).collect()
    }
    by_grp: dict[str, list] = {}
    for r in rows:
        by_grp.setdefault(r["o_orderpriority"], []).append(r)
    for grp, grp_rows in by_grp.items():
        means = []
        for b in range(B_REPLICAS):
            s = sum(
                _py_mult(int(r["o_orderkey"]), b) * r["o_totalprice"]
                for r in grp_rows
            )
            c = sum(_py_mult(int(r["o_orderkey"]), b) for r in grp_rows)
            means.append(float(s) / float(c))
        means.sort()
        assert got[grp]["boot_lo"] == pytest.approx(means[1], abs=0.0)
        assert got[grp]["boot_hi"] == pytest.approx(means[30], abs=0.0)
        exact_mean = float(sum(r["o_totalprice"] for r in grp_rows)) / len(
            grp_rows
        )
        assert math.isclose(
            got[grp]["mean_value"], exact_mean, rel_tol=0, abs_tol=0
        )

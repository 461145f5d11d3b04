"""Tests for the Count-Min Sketch (`operators/sketch.py`): numpy
reference parity on the same hash columns, the ≥-true invariant, the
ε-bound, and exact binary mergeability."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.sketch import (
    CMS_DEPTH,
    CMS_WIDTH,
    cms_build,
    cms_estimate,
    cms_merge,
    cms_token_counts,
)

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon"]


def _token_df(spark, counts: dict[str, int]):
    rows = [(w,) for w, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "tok string")


def test_sketch_matches_numpy_reference(spark):
    counts = {"alpha": 50, "beta": 20, "gamma": 7, "delta": 1}
    toks = _token_df(spark, counts)
    sk = {(r["row"], r["bucket"]): r["c"] for r in cms_build(toks).collect()}
    # rebuild from the SAME hash columns
    from national_caseload_data_ingest_spark.operators.sketch import _bucket

    hashed = toks.select(
        "tok", *[_bucket(F.col("tok"), r, CMS_WIDTH).alias(f"b{r}") for r in range(CMS_DEPTH)]
    ).collect()
    ref = np.zeros((CMS_DEPTH, CMS_WIDTH), dtype=np.int64)
    for row in hashed:
        for r in range(CMS_DEPTH):
            ref[r, row[f"b{r}"]] += 1
    for (r, b), c in sk.items():
        assert ref[r, b] == c
    assert ref.sum() == sum(sk.values()) == sum(counts.values()) * CMS_DEPTH


def test_estimates_upper_bound_and_exactness_when_sparse(spark):
    counts = {w: (i + 1) * 10 for i, w in enumerate(WORDS)}
    toks = _token_df(spark, counts)
    sketch = cms_build(toks)
    est = {
        r["tok"]: r["est"]
        for r in cms_estimate(sketch, WORDS + ["missing"]).collect()
    }
    n_total = sum(counts.values())
    eps = np.e / CMS_WIDTH
    for w, true in counts.items():
        assert est[w] >= true  # CMS never undercounts
        assert est[w] <= true + eps * n_total + 1
    # 5 distinct words in a 1024-wide sketch: collisions are essentially
    # impossible → exact
    assert all(est[w] == counts[w] for w in WORDS)
    assert est["missing"] == 0


def test_merge_equals_union_sketch(spark):
    a = _token_df(spark, {"alpha": 5, "beta": 3})
    b = _token_df(spark, {"beta": 4, "gamma": 9})
    merged = {
        (r["row"], r["bucket"]): r["c"]
        for r in cms_merge(cms_build(a), cms_build(b)).collect()
    }
    union = {
        (r["row"], r["bucket"]): r["c"]
        for r in cms_build(a.unionAll(b)).collect()
    }
    assert merged == union


def test_sketch_relation_is_bounded(spark):
    toks = _token_df(spark, {f"w{i}": 3 for i in range(2000)})
    assert cms_build(toks).count() <= CMS_DEPTH * CMS_WIDTH


def test_cms_query_invariant_on_real_corpus(spark):
    rows = cms_token_counts(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 7
    for r in rows:
        assert r["overestimate"] >= 0  # est ≥ exact, always
        assert r["est"] == r["exact"] + r["overestimate"]
    by_tok = {r["tok"]: r for r in rows}
    assert by_tok["zz_absent_token_1"]["exact"] == 0


# ----------------------------------------------------------- MRL quantiles


def test_mrl_certificate_holds_against_exact_ranks(spark):
    """Every estimate's true rank must be within the emitted rank_err of
    its target ⌈q·n_sampled⌉ — the certificate is a proof obligation,
    checked against exact ranks of the full column."""
    import bisect

    from national_caseload_data_ingest_spark.operators.sketch import (
        mrl_price_quantiles,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    sf = "/root/testdata/sf0.01"
    vals = sorted(
        r["l_extendedprice"]
        for r in load_tables(spark, sf, "lineitem")["lineitem"]
        .select("l_extendedprice")
        .collect()
    )
    out = mrl_price_quantiles(spark, sf).collect()
    assert len(out) == 5
    for r in out:
        target = -(-r["q"] * r["n_sampled"] // 1)  # ceil
        lo = bisect.bisect_left(vals, r["estimate"])
        hi = bisect.bisect_right(vals, r["estimate"])
        # some rank of the estimate's tie-range must sit within the
        # certificate of the target
        nearest = min(abs(lo - target), abs(hi - target))
        if lo <= target <= hi:
            nearest = 0
        assert nearest <= r["rank_err"], (r["q"], nearest, r["rank_err"])
        # and the certificate itself is small: ≤ ~(#partitions × 1) + k
        assert r["rank_err"] < len(vals) * 0.05


def test_mrl_sketch_bounded_and_mergeable(spark):
    """≤ s rows per partition, and the UNION of two disjoint halves'
    sketches answers rank queries within the SUMMED certificate."""
    import bisect

    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.sketch import (
        MRL_S,
        mrl_quantiles,
        mrl_sketch,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    sf = "/root/testdata/sf0.01"
    li = load_tables(spark, sf, "lineitem")["lineitem"]
    lo_half = li.filter(F.col("l_orderkey") % 2 == 0)
    hi_half = li.filter(F.col("l_orderkey") % 2 == 1)
    # pid collision between the two sketches would corrupt the per-pid
    # certificate — shift one side's pid space
    sk_a = mrl_sketch(lo_half, "l_extendedprice")
    sk_b = mrl_sketch(hi_half, "l_extendedprice").withColumn(
        "pid", F.col("pid") + F.lit(10_000)
    )
    n_parts = sk_a.select("pid").distinct().count() + sk_b.select(
        "pid"
    ).distinct().count()
    merged = sk_a.unionAll(sk_b)
    assert merged.count() <= n_parts * MRL_S
    vals = sorted(
        r["l_extendedprice"]
        for r in li.select("l_extendedprice").collect()
    )
    for r in mrl_quantiles(merged).collect():
        target = -(-r["q"] * r["n_sampled"] // 1)
        lo = bisect.bisect_left(vals, r["estimate"])
        hi = bisect.bisect_right(vals, r["estimate"])
        nearest = 0 if lo <= target <= hi else min(
            abs(lo - target), abs(hi - target)
        )
        assert nearest <= r["rank_err"], (r["q"], nearest, r["rank_err"])


def test_mrl_quantiles_deterministic_and_ordered(spark):
    """Same input, same partitioning → identical output; estimates are
    monotone in q."""
    from national_caseload_data_ingest_spark.operators.sketch import (
        mrl_price_quantiles,
    )

    sf = "/root/testdata/sf0.001"
    a = sorted(tuple(r) for r in mrl_price_quantiles(spark, sf).collect())
    b = sorted(tuple(r) for r in mrl_price_quantiles(spark, sf).collect())
    assert a == b
    ests = [r[1] for r in sorted(a)]
    assert ests == sorted(ests)

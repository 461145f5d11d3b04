"""Tests for the table profiler (`operators/profiling.py`) and blocked
record linkage (`operators/linkage.py`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.linkage import link_records
from national_caseload_data_ingest_spark.operators.profiling import (
    profile_table,
)


def test_profile_table_values(spark):
    df = spark.createDataFrame(
        [
            (1, 2.5, "a"),
            (2, None, "b"),
            (2, 7.5, None),
            (None, 1.0, "a"),
        ],
        "k long, v double, s string",
    )
    got = {r["col_name"]: r for r in profile_table(df).collect()}
    assert set(got) == {"k", "v", "s"}
    for r in got.values():
        assert r["n_rows"] == 4
    assert got["k"]["n_nulls"] == 1
    assert got["k"]["n_distinct"] == 2
    assert got["k"]["min_num"] == 1.0 and got["k"]["max_num"] == 2.0
    assert got["k"]["min_str"] is None
    assert got["v"]["n_nulls"] == 1
    assert got["v"]["min_num"] == 1.0 and got["v"]["max_num"] == 7.5
    assert got["s"]["n_nulls"] == 1
    assert got["s"]["n_distinct"] == 2
    assert got["s"]["min_str"] == "a" and got["s"]["max_str"] == "b"
    assert got["s"]["min_num"] is None


def test_profile_plan_shape(spark):
    """r14 shape: one aggregate branch PER COLUMN (the multi-DISTINCT
    single aggregate expanded every row (N_cols+1)× through one
    un-parallelizable hash aggregate — measured 51 s vs 1.6 s at sf0.1).
    Pin the properties that matter: one source branch per column, and
    NO Expand node anywhere (the multi-distinct expansion is the cost
    this design removes)."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("m"),
        F.col("id").cast("string").alias("s"),
    )
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 100") == 3  # one pruned branch per column
    assert "Expand" not in plan


def test_linkage_matches_reference(spark):
    recs = spark.createDataFrame(
        [
            (1, "smith", "X"),
            (2, "smyth", "X"),   # dist 1 → link
            (3, "smithe", "X"),  # dist 1 to smith, 2 to smyth → links
            (4, "jones", "X"),   # far from all
            (5, "smith", "Y"),   # same name, different block → no link
        ],
        "id long, name string, blk string",
    )
    got = {
        (r["key_a"], r["key_b"]): r["dist"]
        for r in link_records(
            recs, "id", "name", ["blk"], max_dist=2
        ).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 2}


def test_linkage_block_guard_trips(spark):
    recs = spark.createDataFrame(
        [(i, f"n{i}", "B") for i in range(10)], "id long, name string, blk string"
    )
    df = link_records(recs, "id", "name", ["blk"], max_dist=2, max_block=5)
    with pytest.raises(Exception) as ei:
        df.collect()
    assert "linkage block holds" in str(ei.value)


def test_linkage_blocks_via_equi_join(spark):
    """The candidate generator must be an equi join on the blocking key —
    never a cartesian product."""
    recs = spark.createDataFrame(
        [(i, f"n{i}", f"b{i % 3}") for i in range(30)],
        "id long, name string, blk string",
    )
    plan = (
        link_records(recs, "id", "name", ["blk"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------- sorted-neighborhood


def _recs(spark, names):
    return spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, nm string"
    )


def test_snb_matches_global_window_reference(spark):
    """SNB pairing equals the single-global-window reference on a corpus
    spanning many range-partition boundaries (40 rows, 32 partitions)."""
    from pyspark.sql import Window

    from national_caseload_data_ingest_spark.operators.linkage import (
        link_records_snb,
    )

    names = [f"rec{i:03d}x" for i in range(40)]
    df = _recs(spark, names)
    got = {
        (r["key_a"], r["key_b"], r["rank_gap"])
        for r in link_records_snb(
            df, key_col="id", name_col="nm", window=4, max_dist=2
        ).collect()
    }
    w = Window.orderBy("nm", "id")
    ranked = df.select("id", "nm", F.row_number().over(w).alias("r")).collect()
    by_rank = {r["r"]: r for r in sorted(ranked, key=lambda r: r["r"])}
    want = set()
    for r, row in by_rank.items():
        for gap in (1, 2, 3):
            other = by_rank.get(r + gap)
            if other is None:
                continue
            d = _lev(row["nm"], other["nm"])
            if d <= 2:
                want.add((row["id"], other["id"], gap))
    assert got == want and len(want) > 0


def _lev(a, b):
    import numpy as np

    m, n = len(a), len(b)
    d = np.arange(n + 1)
    for i in range(1, m + 1):
        prev, d[0] = d[0], i
        for j in range(1, n + 1):
            prev, d[j] = d[j], min(
                d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
            )
    return int(d[n])


def test_snb_is_skew_immune(spark):
    """200 IDENTICAL names — the worst case that trips the blocked
    path's guard — produce exactly n·(w−1) − (1+2+…+(w−2)+(w−1)) pairs:
    linear, never quadratic."""
    from national_caseload_data_ingest_spark.operators.linkage import (
        link_records_snb,
    )

    n, w = 200, 4
    df = _recs(spark, ["samename"] * n)
    out = link_records_snb(df, key_col="id", name_col="nm", window=w)
    assert out.count() == (n - 1) + (n - 2) + (n - 3)


def test_snb_misses_first_char_typo_as_documented(spark):
    """The documented trade: a first-character typo sorts far away and
    is not paired (multi-pass SNB over other sort keys is the fix)."""
    from national_caseload_data_ingest_spark.operators.linkage import (
        link_records_snb,
    )

    names = ["aaaa0", "aaaa1", "aaaa2", "aaaa3", "zaaa0"] + [
        f"mmm{i}" for i in range(10)
    ]
    out = link_records_snb(
        _recs(spark, names), key_col="id", name_col="nm", window=3
    ).collect()
    # zaaa0 is 1 edit from aaaa0 but never paired with it
    assert not any({r["key_a"], r["key_b"]} == {0, 4} for r in out)


def test_frequent_part_pairs_matches_python_reference(spark):
    from collections import Counter
    from itertools import combinations

    from national_caseload_data_ingest_spark.operators.analytic import (
        BASKET_TOP_K,
        frequent_part_pairs,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    sf = "/root/testdata/sf0.001"
    got = [
        (r["part_a"], r["part_b"], r["n_orders"])
        for r in frequent_part_pairs(spark, sf).collect()
    ]
    li = load_tables(spark, sf, "lineitem")["lineitem"]
    baskets: dict[int, set] = {}
    for r in li.select("l_orderkey", "l_partkey").collect():
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    counts = Counter()
    for parts in baskets.values():
        for a, b in combinations(sorted(parts), 2):
            counts[(a, b)] += 1
    want = sorted(
        ((a, b, c) for (a, b), c in counts.items()),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:BASKET_TOP_K]
    assert got == want and len(got) == BASKET_TOP_K


def test_snb_multipass_catches_first_char_typo(spark):
    """The reversed-name second pass finds the pair the single name-sort
    pass documents as missed."""
    from national_caseload_data_ingest_spark.operators.linkage import (
        link_records_snb,
        link_records_snb_multipass,
    )

    names = ["aaaa0", "aaaa1", "aaaa2", "aaaa3", "zaaa0"] + [
        f"mmm{i}" for i in range(10)
    ]
    df = _recs(spark, names)
    single = link_records_snb(df, key_col="id", name_col="nm", window=3).collect()
    assert not any({r["key_a"], r["key_b"]} == {0, 4} for r in single)
    multi = link_records_snb_multipass(
        df,
        key_col="id",
        name_col="nm",
        sort_exprs=[F.col("nm"), F.reverse(F.col("nm"))],
        window=3,
    ).collect()
    assert any({r["key_a"], r["key_b"]} == {0, 4} for r in multi)
    # union de-duplicates: no unordered pair appears twice
    pairs = [(r["key_a"], r["key_b"]) for r in multi]
    assert len(pairs) == len(set(pairs))
    assert all(a < b for a, b in pairs)


def test_leakage_split_lsh_mode_matches_exact_on_test_corpus(spark):
    """The split composes with either pair generator: LSH-mode cluster
    assignments yield the identical fold map as exact mode on the
    curation test corpus (same guarantee the corpus build pins)."""
    from national_caseload_data_ingest_spark.operators.curation import (
        leakage_safe_split,
        neardup_cluster_assignments,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    sf = "/root/testdata/sf0.001"
    d = load_tables(spark, sf, "documents")["documents"]
    folds = {}
    for mode in ("exact", "lsh"):
        clusters = neardup_cluster_assignments(spark, sf, neardup=mode, threshold=0.3)
        folds[mode] = {
            r["doc_id"]: (r["group_id"], r["split"])
            for r in leakage_safe_split(d, clusters).collect()
        }
    assert folds["exact"] == folds["lsh"] and len(folds["exact"]) == 500

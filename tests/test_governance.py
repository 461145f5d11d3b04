"""Tests for the governance operators (`operators/governance.py`):
constraint rules must trip on crafted violations, snapshot diff must
classify correctly, correlations must match numpy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.governance import (
    snapshot_diff,
)


def test_snapshot_diff_classifies(spark):
    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "A"), (3, 30.0, "B")],
        "k long, v double, s string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 25.0, "A"), (4, 40.0, "C")],
        "k long, v double, s string",
    )
    got = {
        r["k"]: r["change"]
        for r in snapshot_diff(old, new, "k", ["v", "s"]).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "added"}
    # unchanged row 1 must not appear at all


def test_snapshot_diff_null_safe_values(spark):
    """NULL column values hash deterministically (concat_ws skips
    nulls); a NULL→value transition is a change."""
    old = spark.createDataFrame([(1, None, "A")], "k long, v double, s string")
    new = spark.createDataFrame([(1, 5.0, "A")], "k long, v double, s string")
    got = snapshot_diff(old, new, "k", ["v", "s"]).collect()
    assert [(r["k"], r["change"]) for r in got] == [(1, "changed")]


def test_constraint_rules_trip_on_violations(spark, tmp_path):
    import os

    from national_caseload_data_ingest_spark.operators.governance import (
        validate_orders_constraints,
    )

    orders = spark.createDataFrame(
        [
            (1, 1, "O", 10.0, "2020-01-01", "1-URGENT"),
            (1, 2, "O", 20.0, "2020-01-01", "1-URGENT"),  # dup pk
            (2, 3, "Z", -5.0, "2020-01-01", "1-URGENT"),  # bad status+price
            (None, 4, "F", 30.0, "2020-01-01", "1-URGENT"),  # null key
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    lineitem = spark.createDataFrame(
        [(1, 1), (99, 1)],  # 99 is an orphan
        "l_orderkey long, l_linenumber long",
    )
    td = str(tmp_path)
    orders.write.parquet(os.path.join(td, "orders.parquet"))
    lineitem.write.parquet(os.path.join(td, "lineitem.parquet"))
    got = {
        r["rule"]: r["violations"]
        for r in validate_orders_constraints(spark, td).collect()
    }
    assert got == {
        "orders_pk_unique": 1,
        "orders_key_not_null": 1,
        "orders_price_positive": 1,
        "orders_status_accepted": 1,
        "lineitem_fk_orders": 1,
    }


def test_correlations_match_numpy(spark):
    from national_caseload_data_ingest_spark.operators.governance import (
        lineitem_correlations,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    sf = "/root/testdata/sf0.001"
    got = {
        (r["col_a"], r["col_b"]): (r["corr"], r["covar"])
        for r in lineitem_correlations(spark, sf).collect()
    }
    li = load_tables(spark, sf, "lineitem")["lineitem"]
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    data = {c: np.array([r[c] for r in li.select(*cols).collect()]) for c in cols}
    # rebuild column arrays consistently
    rows = li.select(*cols).collect()
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            x = np.array([r[a] for r in rows])
            y = np.array([r[b] for r in rows])
            corr = np.corrcoef(x, y)[0, 1]
            covar = np.cov(x, y, ddof=1)[0, 1]
            assert got[(a, b)][0] == pytest.approx(corr, rel=1e-9)
            assert got[(a, b)][1] == pytest.approx(covar, rel=1e-9)


def test_table_checksum_detects_single_row_change(spark):
    """Flipping ONE value changes exactly the one bucket that row hashes
    to — the property that makes bucket checksums a sync primitive."""
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.governance import (
        table_checksum,
    )

    rows = [(i, f"name{i}", float(i) * 1.5) for i in range(500)]
    schema = "id long, nm string, val double"
    a = spark.createDataFrame(rows, schema)
    changed = list(rows)
    changed[123] = (123, "name123", 999.0)
    b = spark.createDataFrame(changed, schema)
    canon = lambda: [  # noqa: E731
        F.col("id").cast("string"),
        F.col("nm"),
        F.col("val").cast("decimal(18,2)").cast("string"),
    ]
    ca = {r["bucket"]: r for r in table_checksum(a, canon(), F.col("id"), 16).collect()}
    cb = {r["bucket"]: r for r in table_checksum(b, canon(), F.col("id"), 16).collect()}
    diff = [
        k for k in ca
        if (ca[k]["xor_digest"], ca[k]["n_rows"]) != (cb[k]["xor_digest"], cb[k]["n_rows"])
    ]
    assert diff == [123 % 16]
    # identical copies agree on every bucket
    cc = {r["bucket"]: r for r in table_checksum(a, canon(), F.col("id"), 16).collect()}
    assert all(tuple(ca[k]) == tuple(cc[k]) for k in ca)


def test_table_checksum_is_partitioning_independent(spark):
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.governance import (
        table_checksum,
    )

    rows = [(i, f"n{i}") for i in range(300)]
    a = spark.createDataFrame(rows, "id long, nm string")
    canon = [F.col("id").cast("string"), F.col("nm")]
    one = sorted(map(tuple, table_checksum(a.coalesce(1), canon, F.col("id"), 8).collect()))
    many = sorted(map(tuple, table_checksum(a.repartition(13), canon, F.col("id"), 8).collect()))
    assert one == many

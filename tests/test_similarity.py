"""The embedding ANN plans' shared pieces: the float top-k screen's tie
contract (pure numpy) and the empty-query guard every top-k plan shares."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from national_caseload_data_ingest_spark.operators.similarity import (
    N_QUERIES,
    _topk_closed,
)


def test_topk_closed_keeps_ties_and_small_batches():
    """More than ``kk`` rows tied at the cut all survive (per query), and
    a batch of at most ``kk`` rows that holds the query keeps every other
    row: the masked self-pair makes the cut -inf, never NaN."""
    ids = np.arange(10, dtype=np.int64)
    qids = np.array([100, 101], dtype=np.int64)
    sims = np.empty((10, 2))
    sims[:, 0] = [0.9, 0.8, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.1, 0.1]
    sims[:, 1] = [0.1, 0.2, 0.3, 0.4, 0.7, 0.7, 0.7, 0.7, 0.7, 0.9]
    got = _topk_closed(sims, ids, qids, 3)
    assert list(got.columns) == ["query_id", "neighbor_id"]
    kept = {
        q: set(got.loc[got["query_id"] == q, "neighbor_id"]) for q in qids
    }
    assert kept[100] == set(range(8))  # 2 above the cut + all 6 tied at it
    assert kept[101] == {4, 5, 6, 7, 8, 9}  # 1 above + all 5 tied

    ids = np.array([7, 100, 8], dtype=np.int64)
    sims = np.array([[0.2], [1.0], [-0.4]])
    got = _topk_closed(sims, ids, qids[:1], 5)
    assert {7, 8} <= set(got["neighbor_id"])


def test_topk_plans_return_empty_relation_on_empty_query_set(spark, tmp_path):
    """A corpus with no ``vec_id < N_QUERIES`` has no queries: every
    top-k plan returns zero rows with its usual columns instead of
    raising, the integer-scored plans included."""
    import __spark_entry__ as ent

    rng = np.random.default_rng(7)
    n, dim = 40, 64
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n) + 10 * N_QUERIES, pa.int64()),
                "embedding": pa.array(
                    list(rng.standard_normal((n, dim)).astype(np.float32)),
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(np.arange(n) % 3, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    catalog = ent.queries()
    want = {
        "cosine_topk_bruteforce": "cos_sim",
        "ann_pq_topk": "cos_sim",
        "ann_int8_topk": "qdot",
        "ann_binary_topk": "hamming",
    }
    for name, score in want.items():
        df = catalog[name](spark, str(tmp_path))
        assert df.columns == ["query_id", "neighbor_id", score, "rk"], name
        assert df.collect() == [], name

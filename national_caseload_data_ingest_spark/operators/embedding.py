"""Embedding dimensionality reduction: distributed PCA over the
``embeddings`` table via moment aggregation.

The embedding-pipeline companion to the ANN/near-dup operators
(similarity.py): project high-dimensional vectors onto their principal
components for visualization, cheap pre-filtering, or compact storage.

Spark-first shape — the textbook moment-sketch PCA:

* **One Arrow pass computes the sufficient statistics.**  Each
  partition's ``mapInPandas`` kernel emits (n, Σx, ΣxxT) — a single row
  of d + d² doubles — so the driver receives ``numPartitions`` bounded
  partials, NEVER the vectors themselves.  That is the whole shuffle
  story: covariance of a 100 TB corpus costs one narrow scan plus a
  driver fold of tiny partials (d=64 → 33 KB per partition).
* **The eigendecomposition is driver-side numpy** on the d×d covariance
  — the tiny-bounded-model convention (k-means seeds, similarity.py);
  d², not corpus-sized.
* **Projection is a second narrow pass** with the component matrix
  shipped as a closure constant (k×d doubles) — embarrassingly
  parallel, no shuffle.

Sign convention: each component is flipped so its largest-magnitude
coordinate is positive — eigenvectors are sign-ambiguous and this pins
a deterministic output.  Registered rows-only (eigendecomposition has
no SQL twin); pinned by a numpy-PCA parity test and orthonormality /
variance-ordering property tests (`tests/test_embedding.py`).

The reference (/root/reference/ncd/) has no vector surface; this
extends the build brief's similarity-search band.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from national_caseload_data_ingest_spark.operators.registry import (
    fan_out,
    load_tables,
    query,
)

PCA_K = 4


def _moment_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition sufficient statistics: one row (n, sum, gram)."""
    import numpy as np  # noqa: PLC0415

    n = 0
    s = None
    g = None
    for pdf in batches:
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        n += m.shape[0]
        s = m.sum(axis=0) if s is None else s + m.sum(axis=0)
        gg = m.T @ m
        g = gg if g is None else g + gg
    if n == 0:
        return
    yield pd.DataFrame(
        {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
    )


def pca_components(
    embeddings: DataFrame, k: int = PCA_K
) -> tuple["object", "object", "object"]:
    """Fit PCA from the distributed moment sketch → (components [k×d],
    mean [d], explained_variance [k]), all small numpy arrays."""
    import numpy as np  # noqa: PLC0415

    parts = embeddings.select("embedding").mapInPandas(
        _moment_kernel, schema="n long, s array<double>, g array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    d = len(parts[0]["s"])
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in parts:
        s += np.array(r["s"])
        g += np.array(r["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # k × d
    # sign convention: largest-|coordinate| positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, mean, vals[order]


def project(embeddings: DataFrame, comps, mean) -> DataFrame:
    """Project every vector onto the fitted components — one narrow
    Arrow pass, component matrix shipped as a closure constant."""
    import numpy as np  # noqa: PLC0415

    k = comps.shape[0]
    comps_l = comps.tolist()
    mean_l = mean.tolist()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = np.array(comps_l)
        mu = np.array(mean_l)
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            proj = (m - mu) @ c.T
            out = {"vec_id": pdf["vec_id"].astype("int64"),
                   "label": pdf["label"].astype("int32")}
            for i in range(k):
                out[f"pc{i + 1}"] = proj[:, i]
            yield pd.DataFrame(out)

    schema = "vec_id bigint, label int, " + ", ".join(
        f"pc{i + 1} double" for i in range(k)
    )
    return fan_out(
        embeddings.select("vec_id", "label", "embedding")
    ).mapInPandas(kernel, schema=schema)


@query("embedding_pca_projection", oracle=None)
def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-project every embedding onto the top {PCA_K} principal
    components fitted from a one-pass distributed moment sketch.
    Rows-only at the driver (no SQL eigendecomposition); pinned by
    numpy-PCA parity tests.  See module docstring for the two-narrow-
    passes plan shape."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    comps, mean, _ = pca_components(e)
    return project(e, comps, mean)

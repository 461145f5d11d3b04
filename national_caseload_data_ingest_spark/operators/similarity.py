"""Similarity search over the ``embeddings`` table: brute-force cosine
top-k (the correctness baseline), a hyperplane-LSH bucketed variant, and an
IVF (inverted-file) variant (the two scale paths).

Scale design — the scoring hot path is a **two-phase screen/rescore**:

1. **Screen (numpy, Arrow batches).** All corpus-side scoring runs as a
   ``mapInPandas`` kernel doing one BLAS matmul per Arrow batch against the
   broadcast query matrix — a narrow stage, no shuffle, ~10²-10³× faster
   per element than interpreted ``F.aggregate`` folds (see
   ``operators.dedup`` note on higher-order lambdas).  Each batch keeps
   only the top ``k + SCREEN_PAD`` candidates per query.
2. **Rescore (exact fold).** The tiny survivor set is re-scored with the
   sequential-fold double cosine from ``operators.dedup`` — bitwise-equal
   to DuckDB's ``list_dot_product``, so the emitted values hash-match the
   SQL oracle exactly and all three paths (brute/LSH/IVF) report identical
   values for identical pairs.

The screen can never evict a true top-k hit: a vector outside one batch's
numpy top-``k+PAD`` is numpy-beaten by ≥ k+PAD vectors in that batch, and
float64 screen-vs-exact disagreement is confined to the last ulp, so at
least k of them also exact-beat it.  Exact-score TIE clusters are the one
case padding alone can't cover (>PAD identically-scored vectors, e.g. many
duplicate embeddings in a dedup corpus, where the exact rerank tiebreaks
on ``neighbor_id``) — so both screens additionally keep EVERY row within
one ulp of the cut score, making the survivor set closed under score ties.

Brute-force is O(queries × corpus) — the pattern for "score everything
against a small probe/model set".  LSH buckets the corpus by signature and
probes only the query's bucket (+1-bit neighbors); IVF assigns the corpus
to k-means cells (a pure narrow map — the centroid model is tiny and lives
on the driver) and probes the ``N_PROBE`` nearest cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from national_caseload_data_ingest_spark.operators.dedup import cosine
from national_caseload_data_ingest_spark.operators.registry import load_tables, query

N_QUERIES = 5  # vec_id < 5 are the demo query vectors
TOP_K = 10
# Extra survivors kept per (query, batch) by the numpy screen so last-ulp
# screen/exact disagreements and small tie clusters can never change the
# final exact top-k (see module docstring).
SCREEN_PAD = 16
# 8 planes → 256 buckets: sized to the test corpus (≤ 5k vectors) so buckets
# hold ~10-20 candidates.  Scale rule: planes ≈ log2(corpus / wanted bucket
# occupancy); at 10^9 vectors use ~26 planes.
LSH_PLANES = 8
# Fixed literal seed for the hyperplane matrix: deterministic across runs,
# engines, and the query/corpus sides (both hash with the same planes).
LSH_SEED = 0xD1CE


def _collect_queries(e: DataFrame, n_queries: int, dtype: str = "float64"):
    """Collect the (tiny) query-vector set to the driver as ``(qids, q)``,
    sorted by ``vec_id``: the same justified driver-side-model pattern as
    IVF centroids, k × dim numbers inlined into the batch kernels as a
    closure.  ``q`` is empty (shape ``(0,)``) when no ``vec_id`` is below
    ``n_queries``; every plan guards on ``len(qids) == 0``."""
    import numpy as np  # noqa: PLC0415

    rows = (
        e.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    qids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    q = np.array([list(r["embedding"]) for r in rows], dtype=dtype)
    return qids, q


def _no_pairs(e: DataFrame) -> DataFrame:
    """The empty (query_id, neighbor_id) candidate relation — what every
    plan screens when the query set is empty."""
    return e.limit(0).select(
        F.col("vec_id").alias("query_id"), F.col("vec_id").alias("neighbor_id")
    )


def _hash_seeds(e: DataFrame, k: int):
    """(k, dim) float64 matrix of the k vectors with the smallest
    ``xxhash64(vec_id)``: the deterministic, seed-free k-means
    initialisation shared by IVF and PQ training."""
    import numpy as np  # noqa: PLC0415

    rows = (
        e.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"))
        .limit(k)
        .collect()
    )
    return np.array([list(r["embedding"]) for r in rows], dtype=np.float64)


def _normalized(m):
    import numpy as np  # noqa: PLC0415

    norms = np.sqrt(np.einsum("ij,ij->i", m, m))
    norms[norms == 0.0] = 1.0
    return m / norms[:, None]


def _vec_matrix(series, dtype: str = "float64"):
    """Arrow list column → (n, dim) matrix.  The quantizers pass
    ``float32`` to consume the raw values exactly as SQL reads them."""
    import numpy as np  # noqa: PLC0415

    return np.array([np.asarray(v, dtype=dtype) for v in series])


def _sq_dists(v, c):
    """(n, k) squared Euclidean distances between the rows of ``v`` and
    ``c`` as one matmul: ‖v‖² − 2v·c + ‖c‖²."""
    import numpy as np  # noqa: PLC0415

    return (
        np.einsum("ij,ij->i", v, v)[:, None]
        - 2.0 * (v @ c.T)
        + np.einsum("ij,ij->i", c, c)[None, :]
    )


def _topk_closed(sims, ids, qids, kk: int):
    """One batch of the float top-k screen: ``sims`` is the (b, nq)
    higher-is-better score of corpus rows ``ids`` against queries
    ``qids``.  Masks self-pairs, keeps each query's top ``kk`` plus every
    row within one ulp of its cut score (the survivor set is closed under
    score ties, so a >PAD tie cluster never loses its tiebreak winner),
    and returns the (query_id, neighbor_id) frame."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    sims[ids[:, None] == qids[None, :]] = -np.inf
    kk_eff = min(kk, len(ids))
    top = np.argpartition(-sims, kk_eff - 1, axis=0)[:kk_eff]  # (kk, nq)
    # kth is -inf when the batch has <= kk rows and contains the query
    # itself (its masked self-pair lands inside the top); the cut must stay
    # -inf there (keep everything), not become NaN via -inf - spacing(inf)
    # and drop the whole batch.
    kth = sims[top, np.arange(sims.shape[1])].min(axis=0)  # (nq,)
    cut = np.where(np.isfinite(kth), kth - np.spacing(np.abs(kth)), -np.inf)
    rows, cols = np.nonzero(sims >= cut[None, :])
    return pd.DataFrame({"query_id": qids[cols], "neighbor_id": ids[rows]})


def _screen_topk_kernel(qids, qn, kk: int):
    """mapInPandas generator: per Arrow batch, cosine-score every corpus
    vector against ALL queries (one BLAS matmul) and keep the closed
    top-kk per query.  Emits only (query_id, neighbor_id) — scores are
    assigned by the exact rescore."""

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sims = _normalized(_vec_matrix(pdf["embedding"])) @ qn.T  # (b, nq)
            yield _topk_closed(sims, pdf["vec_id"].to_numpy(), qids, kk)

    return gen


def _exact_rerank(e: DataFrame, candidates: DataFrame, k: int) -> DataFrame:
    """Exact-fold cosine over a (small) candidate-pair set + per-query
    top-k window.  The fold is bitwise-equal to DuckDB list_dot_product,
    so values hash-match the oracle and agree across brute/LSH/IVF."""
    qv = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = (
        qv.join(
            F.broadcast(
                candidates.filter(
                    F.col("query_id") != F.col("neighbor_id")
                ).distinct()
            ),
            "query_id",
        )
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def brute_topk(e: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Exact top-k by cosine: numpy batch screen over the full corpus (one
    narrow mapInPandas stage), exact-fold rescore of the survivors."""
    qids, q = _collect_queries(e, n_queries)
    if len(qids) == 0:
        return _exact_rerank(e, _no_pairs(e), k)
    screen = e.select("vec_id", "embedding").mapInPandas(
        _screen_topk_kernel(qids, _normalized(q), k + SCREEN_PAD),
        schema="query_id bigint, neighbor_id bigint",
    )
    return _exact_rerank(e, screen, k)


@query(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(c.v, c.v))) AS cos_sim
        FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) t WHERE rk <= {TOP_K}
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k nearest neighbors by cosine for a small query set.

    The corpus streams once through a numpy matmul screen (narrow, no
    shuffle); survivors get the bitwise-exact fold rescore, so the result
    hash-matches the DuckDB oracle while the corpus-scan cost is BLAS, not
    interpreted expression trees."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return brute_topk(e)


# ---------------------------------------------------------------------------
# Hyperplane LSH
# ---------------------------------------------------------------------------


def _plane_matrix(dim: int, planes: int = LSH_PLANES):
    import numpy as np  # noqa: PLC0415

    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal((planes, dim))


def _signatures(v, w):
    """Hyperplane-LSH bucket id per row of ``v``: bit p is set when the
    row lies on the positive side of plane ``w[p]`` (one matmul)."""
    import numpy as np  # noqa: PLC0415

    pows = (1 << np.arange(w.shape[0])).astype(np.int64)
    return ((v @ w.T) > 0).astype(np.int64) @ pows


def _signature_kernel(w):
    """mapInPandas generator: hyperplane signature per corpus vector, one
    matmul per Arrow batch against the (planes × dim) matrix."""

    def gen(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            sig = _signatures(_vec_matrix(pdf["embedding"]), w)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(), "sig": sig})

    return gen


def lsh_topk(e: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """ANN top-k: hyperplane-LSH bucket probe + exact rescore.

    Corpus signatures are one narrow numpy stage; the query side's probe
    signatures (bucket + all 1-bit flips — multi-probe trades a 9× probe
    fan-out for recall) are computed on the driver from the collected query
    matrix and broadcast into the bucket join.  Candidates are bounded by
    bucket occupancy, so the exact-fold rescore is on a small set.

    Recall characteristics: proportional to corpus structure.  On truly
    random vectors (this synthetic corpus) recall ≈ scanned fraction — the
    theoretical behavior; tests assert planted-duplicate recovery and a
    measured-recall floor instead of recall-on-noise."""
    qids, q = _collect_queries(e, n_queries)
    if len(qids) == 0:
        return _exact_rerank(e, _no_pairs(e), k)
    w = _plane_matrix(q.shape[1])
    sigs = e.select("vec_id", "embedding").mapInPandas(
        _signature_kernel(w), schema="vec_id bigint, sig bigint"
    )
    probes = [
        (int(qid), int(s) ^ flip)
        for qid, s in zip(qids, _signatures(q, w))
        for flip in [0, *[1 << p for p in range(LSH_PLANES)]]
    ]
    spark = e.sparkSession
    probe_df = spark.createDataFrame(probes, "query_id bigint, probe_sig bigint")
    candidates = (
        sigs.join(F.broadcast(probe_df), sigs["sig"] == probe_df["probe_sig"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _exact_rerank(e, candidates, k)


@query("ann_lsh_topk")  # approximate — planted-neighbor recall checked in tests
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via hyperplane LSH (see :func:`lsh_topk`)."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return lsh_topk(e)


@query(
    "vector_norms",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT label,
           COUNT(*) AS n_vectors,
           MIN(sqrt(list_dot_product(v, v))) AS min_norm,
           MAX(sqrt(list_dot_product(v, v))) AS max_norm
    FROM e
    GROUP BY label
    """,
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm profile (array aggregation exercised as a
    first-class scalar pipeline: fold → sqrt → min/max)."""
    from national_caseload_data_ingest_spark.operators.dedup import dot

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    norm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    return (
        e.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path beside hyperplane LSH.
# ---------------------------------------------------------------------------

N_CENTROIDS = 16  # scale rule: ~sqrt(corpus); at 10^9 vectors use ~32k
N_PROBE = 2
LLOYD_ITERS = 2


def _assign_kernel(cents, n_assign: int):
    """mapInPandas generator: each vector → its ``n_assign`` nearest
    centroid cells (a 1→n narrow explosion, one squared-distance matmul
    per Arrow batch).  Stable sort, so ties resolve to the lowest cluster
    id and the first cell is the argmin."""

    def gen(batches):
        import numpy as np  # noqa: PLC0415

        c = np.asarray(cents, dtype=np.float64)  # (k, dim)
        na = min(n_assign, len(c))
        for pdf in batches:
            if not len(pdf):
                continue
            d = _sq_dists(_vec_matrix(pdf["embedding"]), c)
            near = np.argsort(d, axis=1, kind="stable")[:, :na]  # (b, na)
            out = pdf.loc[pdf.index.repeat(na), ["vec_id", "embedding"]].copy()
            out["cluster"] = near.ravel().astype(np.int32)
            yield out

    return gen


def ivf_assign(
    e: DataFrame, cents: list[list[float]], n_assign: int = 1
) -> DataFrame:
    """(vec_id, embedding, cluster) — each vector's ``n_assign`` nearest
    centroid ids (one row each) as a pure NARROW stage (no join, no
    shuffle): the centroid model is a driver closure shipped with the
    kernel, and assignment is one BLAS matmul per Arrow batch — the
    property that makes IVF viable at 100 TB."""
    return e.select("vec_id", "embedding").mapInPandas(
        _assign_kernel([list(c) for c in cents], n_assign),
        schema="vec_id bigint, embedding array<float>, cluster int",
    )


def _cluster_mean_kernel(pdf):
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    m = _vec_matrix(pdf["embedding"])
    return pd.DataFrame(
        {
            "cluster": [int(pdf["cluster"].iloc[0])],
            "centroid": [np.mean(m, axis=0).tolist()],
        }
    )


def ivf_train(
    e: DataFrame, k: int = N_CENTROIDS, iters: int = LLOYD_ITERS
) -> list[list[float]]:
    """K-means centroids via Lloyd iterations, returned as plain lists.

    The model is tiny (k × dim doubles) so it lives on the driver and ships
    as a kernel closure — corpus assignment is then a NARROW map (no join,
    no shuffle).  Initial centroids are the k vectors with the smallest
    ``xxhash64(vec_id)`` — deterministic, seed-free.  Each Lloyd iteration
    costs one cluster-keyed shuffle into a per-cluster mean kernel."""
    cents = _hash_seeds(e, k).tolist()
    for _ in range(iters):
        new = (
            ivf_assign(e, cents)
            .groupBy("cluster")
            .applyInPandas(
                _cluster_mean_kernel, schema="cluster int, centroid array<double>"
            )
            .collect()
        )
        # empty clusters keep their previous centroid
        for r in new:
            cents[r["cluster"]] = list(r["centroid"])
    return cents


def _pair_screen_kernel(qids, qn, kk: int):
    """mapInPandas generator over candidate PAIRS (query_id, neighbor_id,
    cv): numpy cosine per row against the row's own query, then per-query
    top-kk within the batch."""

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        qpos = {int(q): i for i, q in enumerate(qids)}
        for pdf in batches:
            if not len(pdf):
                continue
            cn = _normalized(_vec_matrix(pdf["cv"]))
            qidx = pdf["query_id"].map(qpos).to_numpy()
            sims = np.einsum("ij,ij->i", cn, qn[qidx])
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "s": sims,
                }
            )
            top = (
                out.sort_values("s", ascending=False)
                .groupby("query_id", sort=False)
                .head(kk)
            )
            # keep all rows tied (to one ulp) with each query's cut score —
            # same tie-closure guarantee as the corpus screen
            kth = top.groupby("query_id")["s"].min().rename("kth")
            out = out.merge(kth, on="query_id")
            out = out[out["s"] >= out["kth"] - np.spacing(np.abs(out["kth"]))]
            yield out[["query_id", "neighbor_id"]]

    return gen


def ivf_topk(
    e: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF ANN: assign corpus to centroid cells (narrow numpy map), probe
    each query's ``n_probe`` nearest cells, numpy-screen the probed
    candidates, exact-fold rescore the survivors.

    Scanned fraction ≈ n_probe / n_centroids.  The cell join broadcasts the
    (tiny) probe side, so the corpus is never shuffled — and because the
    probed fraction can still be huge at scale, scoring it happens in the
    batch screen, not the interpreted fold."""
    import numpy as np  # noqa: PLC0415

    qids, q = _collect_queries(e, n_queries)
    if len(qids) == 0:
        return _exact_rerank(e, _no_pairs(e), k)
    cents = ivf_train(e, k=n_centroids)
    d = _sq_dists(q, np.asarray(cents, dtype=np.float64))
    probe_rows = [
        (int(qid), int(cl))
        for qid, row in zip(qids, np.argsort(d, axis=1, kind="stable"))
        for cl in row[:n_probe]
    ]
    spark = e.sparkSession
    probes = spark.createDataFrame(probe_rows, "query_id bigint, cluster int")
    candidates = (
        ivf_assign(e, cents)
        .select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "cluster")
        .join(F.broadcast(probes), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cv")
    )
    screened = candidates.mapInPandas(
        _pair_screen_kernel(qids, _normalized(q), k + SCREEN_PAD),
        schema="query_id bigint, neighbor_id bigint",
    )
    return _exact_rerank(e, screened, k)


def ivf_neardup(
    e: DataFrame,
    threshold: float,
    n_centroids: int = N_CENTROIDS,
    n_assign: int = 2,
) -> DataFrame:
    """Embedding near-dup pairs via IVF-cell blocking — the scale path the
    label-blocked oracle (`embedding_cosine_neardup`) stands in for.

    Every vector is assigned to its ``n_assign`` nearest k-means cells (a
    narrow numpy map — no shuffle).  Multi-assignment is what makes IVF
    blocking usable for near-dup, not just top-k: a pair near a cell
    boundary still shares a cell when both sides claim their 2 nearest.
    The bounded all-pairs screen then runs per CELL instead of per label,
    so block size is controlled by the centroid count (~corpus/k per
    cell; scale rule k ≈ sqrt(corpus)), not by data skew in a label
    column.  Pairs found in two shared cells are
    deduped before the exact rescore, and every emitted pair carries the
    bitwise-exact fold cosine, so precision is 1.0 by construction;
    recall misses only pairs whose members share no assigned cell
    (boundary pairs beyond the multi-assignment — measured and floored in
    ``tests/test_llm_ops.py``; exact duplicates always share their argmin
    cell, recall 1.0 on true clones)."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        _cosine_block_kernel,
        MAX_BLOCK_DOCS,
        exact_cosine_rescore,
    )

    cents = ivf_train(e, k=n_centroids)
    screen = (
        ivf_assign(e, cents, n_assign)
        .groupBy("cluster")
        .applyInPandas(
            _cosine_block_kernel(threshold, MAX_BLOCK_DOCS),
            schema="vec_a bigint, vec_b bigint",
        )
        .distinct()  # a pair sharing 2 cells surfaces twice
    )
    return exact_cosine_rescore(e, screen, threshold)


@query("embedding_neardup_ivf")  # model-seeded — recall/precision in tests
def embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell-blocked embedding near-dup (see :func:`ivf_neardup`).
    Oracle-less by nature (the k-means model is engine-specific);
    ``tests/test_llm_ops.py`` pins precision against the exact global
    pair set and a measured recall floor."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_neardup(e, threshold=0.4)


@query("ann_ivf_topk")  # approximate — planted-neighbor recall checked in tests
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbors (see :func:`ivf_topk`).

    Complements ``ann_lsh_topk``: IVF adapts to the data distribution
    (clustered corpora get much better recall-per-scan than data-oblivious
    hyperplanes) at the cost of a small training pass."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_topk(e)


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al., arXiv:2303.09540).
# ---------------------------------------------------------------------------


def semdedup(
    e: DataFrame,
    eps: float,
    n_centroids: int = N_CENTROIDS,
    n_assign: int = 2,
) -> DataFrame:
    """SemDeDup semantic dedup over an embedding corpus →
    ``(vec_id, keep, group_id)``: cluster the corpus with k-means, find
    within-cell cosine pairs ≥ ``eps``, connect them into semantic-duplicate
    groups, and keep exactly ONE representative per group.

    Differences from the paper, chosen for engine-independence and scale:

    * the representative is the group's MINIMUM ``vec_id`` (deterministic
      across runs/engines) rather than the member least similar to the
      centroid (which depends on the k-means model);
    * pair generation is the IVF multi-assignment blocking of
      :func:`ivf_neardup` (2 nearest cells per vector), so boundary pairs
      the paper's hard clustering splits across cells are still caught;
    * groups are TRANSITIVE closures (connected components via alternating
      large-star/small-star — O(log n) rounds), so chains A≈B≈C collapse
      to one group even when A≉C, mirroring the text-side
      ``neardup_clusters`` semantics.

    Plan shape at 100 TB: k-means model is a tiny driver-side object
    (k × dim); assignment is one narrow numpy map; the per-cell screen is
    bounded by the centroid count (k ≈ sqrt(corpus)); components shuffle
    only (id, id) edges.  Nothing collects the corpus."""
    from national_caseload_data_ingest_spark.operators.curation import (
        connected_components,
    )

    pairs = ivf_neardup(e, threshold=eps, n_centroids=n_centroids, n_assign=n_assign)
    comp = connected_components(
        pairs.select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    removed = comp.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id").alias("grp")
    )
    return (
        e.select("vec_id")
        .join(removed, "vec_id", "left")
        .select(
            "vec_id",
            F.col("grp").isNull().alias("keep"),
            F.coalesce("grp", F.col("vec_id")).alias("group_id"),
        )
    )


@query("semdedup_survivors")  # model-seeded — precision/one-per-group in tests
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decisions for the whole embeddings corpus (see
    :func:`semdedup`).  Oracle-less by nature (k-means-seeded blocking);
    ``tests/test_llm_ops.py`` pins: every dropped vector is a true
    ≥ eps cosine neighbor of its group (precision 1.0 — pairs are
    exact-rescored), each group keeps exactly its minimum member, and
    planted exact clones always collapse to one survivor."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return semdedup(e, eps=0.4)


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension evaluation
# ---------------------------------------------------------------------------

MRL_PREFIX_DIM = 16  # evaluated truncation (of d=64) — 4× cheaper vectors


@query(
    "matryoshka_prefix_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    full_rank AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   list_dot_product(q.v, c.v)
                     / (sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(c.v, c.v))) DESC,
                   c.vec_id) AS rk
        FROM e q JOIN e c
          ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    pfx AS (SELECT vec_id, v[1:{MRL_PREFIX_DIM}] AS v FROM e),
    prefix_rank AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   list_dot_product(q.v, c.v)
                     / (sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(c.v, c.v))) DESC,
                   c.vec_id) AS rk
        FROM pfx q JOIN pfx c
          ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT f.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(p.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM full_rank f
    LEFT JOIN prefix_rank p
      ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
         AND p.rk <= {TOP_K}
    WHERE f.rk <= {TOP_K}
    GROUP BY f.query_id
    """,
)
def matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati et al. 2022): how
    much of the TRUE cosine top-k does a 16-of-64-dim PREFIX ranking retain, per query?  This is the measurement that
    decides whether a 4× cheaper prefix index (coarse stage of an
    adaptive retrieval cascade) is safe for a corpus.

    Both rankings run the shared screen+exact-rerank path (the corpus
    streams through the numpy matmul screen once per ranking; survivors
    are re-scored by the sequential fold that is bitwise-equal to
    DuckDB's list_dot_product), so ranks — and therefore the integer
    overlap counts — hash-match the SQL oracle exactly.  One broadcast
    join of two k-row-per-query relations; no corpus shuffle."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    full = brute_topk(e)
    pfx = e.select(
        "vec_id", F.slice("embedding", 1, MRL_PREFIX_DIM).alias("embedding")
    )
    prefix = brute_topk(pfx)
    return (
        full.alias("f")
        .join(
            F.broadcast(prefix.alias("p")),
            (F.col("f.query_id") == F.col("p.query_id"))
            & (F.col("f.neighbor_id") == F.col("p.neighbor_id")),
            "left",
        )
        .groupBy(F.col("f.query_id").alias("query_id"))
        .agg(
            F.count(F.col("p.neighbor_id")).alias("n_overlap"),
            (F.count(F.col("p.neighbor_id")).cast("double") / F.lit(TOP_K)).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Scalar quantization: int8 (4x memory) and binary-sign (32x) embeddings
# ---------------------------------------------------------------------------
#
# The production memory-bound ANN path: at 100 TB of float32 embeddings,
# scan bandwidth — not arithmetic — bounds throughput, and per-vector
# scalar quantization cuts it 4x (int8) to 32x (1-bit sign + Hamming)
# while keeping scoring a narrow matmul kernel.  Both quantizers here are
# INTEGER-EXACT cross-engine: the int8 map is floor(v*127/max|v| + 0.5)
# (every step a single IEEE-64 op in the same order in numpy, Spark SQL,
# and DuckDB), the sign map is v > 0.0, and all emitted scores are
# integer dot products / Hamming distances — so unlike LSH/IVF/PQ these
# ANN variants carry FULL value oracles, not just recall floors.

INT8_LEVELS = 127


def _int8_quantize_np(mat32, mx64: float):
    """(n, d) float32 → int64 quantized codes under a GLOBAL calibration
    scale, matching the SQL oracle bit for bit:
    q = floor(float64(v) * 127.0 / mx + 0.5).

    The scale is global (corpus max |component|), not per-vector: a
    per-vector scale multiplies each corpus vector's contribution to the
    integer dot by 127/mx_y, a y-dependent factor that DISTORTS MIPS
    ranking (measured: recall@10 vs float dot fell to ~0.68; global
    scale recovers 0.90 at both test SFs — the residue is genuine
    quantization noise).  Production systems calibrate the scale on a
    sample; here it is the exact corpus max so both engines derive the
    identical constant.  mx == 0 (all-zero corpus) maps to zero codes."""
    import numpy as np  # noqa: PLC0415

    x32 = np.asarray(mat32, dtype=np.float32)
    if mx64 == 0.0:
        return np.zeros(x32.shape, dtype=np.int64)
    return np.floor(
        x32.astype(np.float64) * np.float64(INT8_LEVELS)
        / np.float64(mx64)
        + 0.5
    ).astype(np.int64)


def _global_abs_max(e: DataFrame) -> float:
    """Corpus max |component| as float64 — the quantizer's calibration
    constant.  float32 max is order-independent, so Spark's agg and
    DuckDB's MAX(list_max(...)) produce the identical value; one bounded
    stats-row collect (house pattern)."""
    row = e.agg(
        F.max(
            F.array_max(F.transform("embedding", lambda v: F.abs(v)))
        ).alias("mx")
    ).collect()[0]
    return float(row["mx"] or 0.0)


_Q8_SQL = f"""
    g AS (
        SELECT MAX(list_max(list_transform(embedding, a -> abs(a)))) AS mx
        FROM embeddings
    ),
    q8 AS (
        SELECT vec_id,
               list_transform(embedding, v ->
                   CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor(CAST(v AS DOUBLE) * {INT8_LEVELS}.0
                                        / CAST(mx AS DOUBLE) + 0.5)
                                  AS BIGINT) END) AS qv
        FROM embeddings CROSS JOIN g
    )
"""


@query(
    "embedding_int8_quantize",
    oracle=f"""
    WITH {_Q8_SQL}
    SELECT vec_id,
           CAST(len(qv) AS INTEGER) AS n_dims,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
               AS q_norm2
    FROM q8
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-scale int8 quantization with integer-exact stats.

    One stats aggregation derives the calibration scale (corpus max
    |component|), then one narrow ``mapInPandas`` pass quantizes each
    Arrow batch with the shared numpy kernel and emits integer summaries
    (min/max/sum/sum of squares of the codes) whose values hash-match
    the SQL oracle — the oracle performs the IDENTICAL
    floor(v*127/max + 0.5) map as list lambdas, so this certifies the
    quantizer itself, not a proxy.  At scale the emitted relation is the
    quantized sidecar table ANN reads instead of the float32 embeddings
    (4x less scan bandwidth); an all-zero corpus maps to zero codes on
    both sides."""
    import numpy as np  # noqa: PLC0415

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    mx = _global_abs_max(e)

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            q = _int8_quantize_np(_vec_matrix(pdf["embedding"], "float32"), mx)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "n_dims": np.full(len(q), q.shape[1], dtype=np.int32),
                    "q_min": q.min(axis=1),
                    "q_max": q.max(axis=1),
                    "q_sum": q.sum(axis=1),
                    "q_norm2": (q * q).sum(axis=1),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        kernel,
        schema=(
            "vec_id bigint, n_dims int, q_min bigint, q_max bigint, "
            "q_sum bigint, q_norm2 bigint"
        ),
    )


def _int_topk_kernel(qids, kk: int, score_fn):
    """Shared integer-scored screen: per Arrow batch keep, for every
    query, ALL rows scoring >= the batch's kk-th best (integer ties are
    closed by construction, so the global window can never miss a
    winner).  ``score_fn(batch_f32) -> (b, nq) int64 scores`` —
    HIGHER is better."""

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            scores = score_fn(_vec_matrix(pdf["embedding"], "float32"))
            scores[ids[:, None] == qids[None, :]] = np.iinfo(np.int64).min
            kk_eff = min(kk, len(ids))
            top = np.argpartition(-scores, kk_eff - 1, axis=0)[:kk_eff]
            cut = scores[top, np.arange(scores.shape[1])].min(axis=0)
            rows, cols = np.nonzero(scores >= cut[None, :])
            yield pd.DataFrame(
                {
                    "query_id": qids[cols],
                    "neighbor_id": ids[rows],
                    "score": scores[rows, cols],
                }
            )

    return gen


def _int_topk(
    e: DataFrame, score_fn_builder, k: int, negate: bool, out_col: str
) -> DataFrame:
    """Integer-scored exact top-k: screen kernel + one global window.

    The kernel always screens on a HIGHER-is-better internal score;
    ``negate=True`` means the published metric is its negation (Hamming
    distance: internal score = -hamming, published ascending)."""
    qids, qmat = _collect_queries(e, N_QUERIES, "float32")
    if len(qids) == 0:
        screened = _no_pairs(e).withColumn("score", F.lit(None).cast("bigint"))
    else:
        screened = e.select("vec_id", "embedding").mapInPandas(
            _int_topk_kernel(qids, k, score_fn_builder(qmat)),
            schema="query_id bigint, neighbor_id bigint, score bigint",
        ).filter(
            # a masked self-pair (score = int64 min) survives the batch cut
            # when its batch holds <= k rows; on a corpus with < k real
            # candidates it could otherwise leak into the final window
            F.col("query_id") != F.col("neighbor_id")
        )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    out = (-F.col("score")) if negate else F.col("score")
    return (
        screened.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            out.cast("bigint").alias(out_col),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@query(
    "ann_int8_topk",
    oracle=f"""
    WITH {_Q8_SQL},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                                            i -> q.qv[i] * c.qv[i]))
                    AS BIGINT) AS qdot
        FROM q8 q JOIN q8 c
          ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, qdot, CAST(rk AS INTEGER) AS rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY qdot DESC, neighbor_id) AS rk
        FROM scored
    ) t WHERE rk <= {TOP_K}
    """,
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by integer dot product of global-scale int8 codes (MIPS
    over the 4x-compressed embeddings) — with a FULL value oracle,
    unlike LSH/IVF/PQ's recall floors.

    Both sides quantize with the shared floor(v*127/MX+0.5) map (MX =
    corpus max |component|, one stats aggregation — see
    ``_int8_quantize_np`` for why the scale must be global) and score
    with the integer dot product of codes; the Spark side is one narrow
    int64-matmul kernel that keeps per-batch survivors closed under
    integer ties, plus one window over the tiny survivor set.  Integer
    scores make the cross-engine comparison exact and the per-batch
    tie-cut provably lossless.  Rank quality vs the float-dot baseline
    is pinned by a recall-floor pytest (0.90 measured at both SFs)."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    mx = _global_abs_max(e)

    def builder(qmat32):
        q8 = _int8_quantize_np(qmat32, mx)  # (nq, d) int64

        def score(batch32):
            return _int8_quantize_np(batch32, mx) @ q8.T  # (b, nq) int64

        return score

    return _int_topk(e, builder, TOP_K, negate=False, out_col="qdot")


@query(
    "ann_binary_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(len(list_filter(range(1, len(q.embedding) + 1),
                        i -> (q.embedding[i] > 0.0)
                             <> (c.embedding[i] > 0.0)))
                    AS BIGINT) AS hamming
        FROM e q JOIN e c
          ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, hamming, CAST(rk AS INTEGER) AS rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY hamming, neighbor_id) AS rk
        FROM scored
    ) t WHERE rk <= {TOP_K}
    """,
)
def ann_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by Hamming distance over 1-bit sign codes (v > 0) — the
    32x-compressed extreme of the scalar-quantization family, again with
    a full value oracle.

    The kernel scores via one +/-1 integer matmul (hamming =
    (d - dot) / 2, so the screen's higher-is-better score is -hamming);
    at corpus scale the codes pack 64 dims per machine word and the
    XOR+popcount scan is memory-bound at 1/32 the float bandwidth."""
    import numpy as np  # noqa: PLC0415

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]

    def builder(qmat32):
        qpm = (np.asarray(qmat32) > 0.0).astype(np.int64) * 2 - 1
        d = qpm.shape[1]

        def score(batch32):
            spm = (batch32 > 0.0).astype(np.int64) * 2 - 1
            return -((d - spm @ qpm.T) // 2)  # -hamming: higher = closer

        return score

    return _int_topk(e, builder, TOP_K, negate=True, out_col="hamming")


# ---------------------------------------------------------------------------
# integer-exact k-means over the int8 codes — clustering with a FULL
# value oracle (the family's LSH/IVF/SemDeDup members are rows-only
# because float k-means models are engine-specific; integer codes make
# Lloyd's iterations cross-engine exact)
# ---------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 3
_EMB_D = 64


def _kmeans_oracle_sql() -> str:
    """Unrolled-CTE twin of the distributed Lloyd's loop: c0 = codes of
    vec_id 0..K-1; each iteration assigns by integer squared distance
    (ties to the smallest centroid id) and recomputes centroids as the
    FLOOR of the per-dimension mean — written as
    ``(sm - ((sm % n + n) % n)) // n`` so the numerator is exactly
    divisible and DuckDB's truncating ``//`` equals Python's floor.
    Empty clusters keep their previous centroid."""
    k, iters, d = KMEANS_K, KMEANS_ITERS, _EMB_D
    parts = [
        f"c0 AS (SELECT CAST(vec_id AS INTEGER) AS j, qv AS cv "
        f"FROM q8 WHERE vec_id < {k})"
    ]
    prev = "c0"
    for t in range(1, iters + 2):
        parts.append(f"""
    d{t} AS (
        SELECT q.vec_id, c.j,
               CAST(list_sum(list_transform(range(1, {d + 1}), i ->
                    (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                    AS BIGINT) AS dist2
        FROM q8 q CROSS JOIN {prev} c
    ),
    a{t} AS (
        SELECT vec_id, j AS cluster, dist2 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY dist2, j) AS rk
            FROM d{t}
        ) WHERE rk = 1
    )""")
        if t <= iters:
            parts.append(f"""
    s{t} AS (
        SELECT a.cluster AS j, t.i,
               CAST(SUM(q.qv[t.i]) AS BIGINT) AS sm,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM a{t} a JOIN q8 q USING (vec_id), range(1, {d + 1}) t(i)
        GROUP BY a.cluster, t.i
    ),
    c{t} AS (
        SELECT p.j, COALESCE(u.cv, p.cv) AS cv
        FROM {prev} p LEFT JOIN (
            SELECT j, list((sm - (((sm % n) + n) % n)) // n ORDER BY i)
                       AS cv
            FROM s{t} GROUP BY j
        ) u USING (j)
    )""")
            prev = f"c{t}"
    final = iters + 1
    return (
        ",\n".join(parts)
        + f"""
    SELECT vec_id, cluster, dist2 FROM a{final}"""
    )


@query(
    "kmeans_int8_assign",
    oracle=f"""
    WITH {_Q8_SQL},
    {_kmeans_oracle_sql()}
    """,
)
def kmeans_int8_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the GLOBAL-scale int8 codes,
    with a FULL value oracle — the clustering member of the
    quantization family (k = {KMEANS_K}, {KMEANS_ITERS} iterations,
    init = codes of vec_id 0..k-1): per iteration one narrow Arrow pass
    computes per-batch partial (cluster, count, sum-vector) aggregates,
    a map-side-combined groupBy folds them, and the driver holds only
    the k x d integer centroid model (bounded, house pattern);
    assignment is integer squared distance with ties to the smallest
    centroid id, and the centroid update is the exact floor of the
    per-dimension mean, so every iteration is reproducible bit-for-bit
    in any engine — the property float k-means (engine-specific sums)
    can never give, and why IVF/SemDeDup remain rows-only while THIS
    relation hash-matches.  At 100 TB: k·d ints broadcast per
    iteration, one corpus scan each, shuffles carry k×d partial rows
    per task.  Downstream: cluster-balanced sampling, SemDeDup-style
    per-cluster dedup, IVF cell assignment."""
    import numpy as np  # noqa: PLC0415

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    mx = _global_abs_max(e)
    _, init = _collect_queries(e, KMEANS_K, "float32")
    cents = _int8_quantize_np(init, mx)

    def assign(pdf, C):
        """(codes, integer squared distances to every centroid, nearest
        centroid) for one Arrow batch; ties go to the smallest j."""
        q = _int8_quantize_np(_vec_matrix(pdf["embedding"], "float32"), mx)
        d2 = ((q[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return q, d2, d2.argmin(1)

    def partials_kernel(C):
        def gen(batches):
            import pandas as pd  # noqa: PLC0415

            for pdf in batches:
                if not len(pdf):
                    continue
                q, _, nearest = assign(pdf, C)
                cl, cnt, sums = [], [], []
                for j in range(KMEANS_K):
                    mask = nearest == j
                    if not mask.any():
                        continue
                    cl.append(j)
                    cnt.append(int(mask.sum()))
                    sums.append(q[mask].sum(0).tolist())
                yield pd.DataFrame(
                    {"cluster": pd.Series(cl, dtype="int32"),
                     "cnt": pd.Series(cnt, dtype="int64"),
                     "sums": sums}
                )

        return gen

    for _ in range(KMEANS_ITERS):
        partial = e.select("embedding").mapInPandas(
            partials_kernel(cents),
            schema="cluster int, cnt bigint, sums array<bigint>",
        )
        rows = (
            partial.select(
                "cluster", "cnt", F.posexplode("sums").alias("pos", "s")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("n"))
            .collect()
        )  # bounded: K x d rows — the centroid model, house pattern
        new = cents.copy()
        counts = {}
        sums = np.zeros((KMEANS_K, _EMB_D), dtype=np.int64)
        for r in rows:
            # cnt was repeated per pos within a batch row; per (cluster,
            # pos) the n column sums cnt over batches — identical for
            # every pos of a cluster
            sums[r["cluster"], r["pos"]] = r["s"]
            counts[r["cluster"]] = r["n"]
        for j in range(KMEANS_K):
            n = counts.get(j, 0)
            if n > 0:
                new[j] = sums[j] // n  # numpy int64 floor division
        cents = new

    def final_kernel(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            _, d2, nearest = assign(pdf, cents)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cluster": pd.Series(nearest, dtype="int32"),
                    "dist2": pd.Series(
                        d2[np.arange(len(nearest)), nearest], dtype="int64"
                    ),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        final_kernel, schema="vec_id bigint, cluster int, dist2 bigint"
    )

"""Distributed linear-classifier training over the ``documents`` table:
a hashing-trick logistic regression (fastText-style bag-of-hashed-tokens)
trained by standardized full-batch gradient descent expressed as
DataFrame aggregates.

Model-based quality filtering is a standard band of an LLM data pipeline
(e.g. the reference-corpus classifier of GPT-style curation): featurize
every document cheaply, train a small linear model against weak labels,
score the whole corpus.  Here the weak labels come from the repo's own
``quality_score`` heuristic (length + stopword gates, text.py) and the
classifier distills them into a hashed-BoW model — the classic
heuristic→model distillation setup, and a genuinely learnable target
(held-out accuracy ≈ 0.89 at sf0.01, pytest-enforced floor 0.8 against
a 0.74 majority class).

The Spark-first shape:

* **Featurization is pure codegen** — tokenize with ``split``, hash with
  ``xxhash64 % D`` (hashing trick: no vocabulary, no fit step), bucket
  counts from one groupBy.  The feature relation stays SPARSE:
  ``(doc_id, idx, val)`` — never a dense vector column, never a UDF.
* **Standardization never densifies.**  Centered-scaled GD on a sparse
  matrix is algebraically identical to sparse GD with folded constants:
  margins use wᵢ' = wᵢ/σᵢ plus the scalar c = b − Σwᵢμᵢ/σᵢ, and the
  gradient is gᵢ = (Sᵢ − μᵢ·R)/(σᵢ·n) where Sᵢ = Σ resid·xᵢ comes from
  the sparse groupBy and R (= Σ resid) falls out of the same aggregate
  via a bias-feature row.  The μ/σ stats are ONE aggregate collected as
  D+1 doubles.  (Scale-only normalization — the naive sparse-safe choice
  — measurably underfits this task: 0.75 vs 0.89 held-out.)
* **One epoch = one pass, one tiny shuffle** (r15): the label rides on
  the checkpointed sparse rows, the folded weights are a literal array
  projection (no per-epoch broadcast relation), the per-doc margin is a
  window sum over the doc_id partitioning the checkpoint established
  (exchange-free), and the per-feature gradient sums fold in the same
  pipeline through one D+1-key ``groupBy(idx)``.  The only driver state
  is the (D+1)-vector of weights per epoch (the tiny-bounded-model
  convention of the IVF k-means seeds, similarity.py).  Nothing
  document-sized reaches the driver; epoch cost is ONE scan of the
  sparse relation at any corpus size (r14's shape scanned it twice —
  margins aggregate, then the residual joined back).
* The trained scorer is a single broadcast join + aggregate — scoring
  the full corpus is one pass.

Registered rows-only (unrolling float GD epochs into SQL is not
meaningful oracle coverage); the learning algorithm is pinned by a
pytest against an independent numpy GD on the identical feature matrix,
plus the held-out accuracy floor.

The reference (/root/reference/ncd/) has no ML surface; this extends the
build brief's quality-scoring band.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables, query

HASH_DIM = 64  # hashed token buckets; weight idx HASH_DIM is the bias
# A constant, not an option: each epoch inlines HASH_DIM+1 weight literals,
# which Catalyst codegens fine at 65 but risks blowing up at thousands.
EPOCHS = 10
LEARNING_RATE = 2.0
TRAIN_MOD = 8  # doc_id % 10 < 8 trains, the rest is scored


def featurize(docs: DataFrame) -> DataFrame:
    """``documents`` → sparse ``(doc_id, idx, val)`` hashed-BoW counts,
    plus a constant bias feature at ``idx = HASH_DIM`` (which doubles as the
    Σresid accumulator during training — see module docstring).  All
    codegen: split, explode, xxhash64, one aggregate."""
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    counts = toks.groupBy(
        "doc_id", F.pmod(F.xxhash64("tok"), F.lit(HASH_DIM)).cast("int").alias("idx")
    ).agg(F.count(F.lit(1)).cast("double").alias("val"))
    bias = docs.select(
        "doc_id", F.lit(HASH_DIM).alias("idx"), F.lit(1.0).alias("val")
    )
    return counts.unionAll(bias)


def _margins(features: DataFrame, weights: DataFrame) -> DataFrame:
    """(doc_id, margin = Σ val·w) via broadcast weight join; exchange-free
    when ``features`` is already partitioned by doc_id."""
    return (
        features.join(F.broadcast(weights), "idx")
        .groupBy("doc_id")
        .agg(F.sum(F.col("val") * F.col("w")).alias("margin"))
    )


def train_logreg(
    features: DataFrame,
    labels: DataFrame,
    epochs: int = EPOCHS,
    lr: float = LEARNING_RATE,
) -> list[float]:
    """Standardized full-batch logistic GD over the sparse feature
    relation.  ``labels``: (doc_id, y∈{0,1}).  Returns the final
    (HASH_DIM+1) weight vector folded back to RAW-count space (via
    :func:`score_weights`), ready for :func:`score_logreg`."""
    from pyspark.sql import Window  # noqa: PLC0415

    # Pre-partition the epoch-invariant relation ONCE, with the label
    # attached to every sparse row (8 bytes/row), and truncate lineage
    # (use reliable ``checkpoint`` on a real cluster).  r15: carrying y
    # on the feature rows removes the per-epoch residual join entirely —
    # each epoch is ONE pass over this relation (see the loop below);
    # r14's shape scanned it twice per epoch (margins aggregate, then
    # the residual joined back for the gradient).
    feats = (
        features.join(labels.select("doc_id", "y"), "doc_id")
        .repartition("doc_id")
        .localCheckpoint()
    )
    # One stats aggregate → D+1 doubles on the driver (bias row gives n).
    stats = {
        r["idx"]: (r["s1"], r["s2"])
        for r in feats.groupBy("idx")
        .agg(
            F.sum("val").alias("s1"),
            F.sum(F.col("val") * F.col("val")).alias("s2"),
        )
        .collect()
    }
    n = stats[HASH_DIM][0]  # bias val ≡ 1.0 → s1 = doc count
    mu = [0.0] * HASH_DIM
    sd = [1.0] * HASH_DIM
    for i in range(HASH_DIM):
        s1, s2 = stats.get(i, (0.0, 0.0))
        mu[i] = s1 / n
        var = s2 / n - mu[i] * mu[i]
        sd[i] = math.sqrt(var) if var > 0 else 1.0

    w = [0.0] * (HASH_DIM + 1)  # standardized-space weights; w[HASH_DIM] = bias
    w_doc = Window.partitionBy("doc_id")
    for _ in range(epochs):
        # fold standardization into a LITERAL weight array + one scalar
        # (r15): the per-epoch 65-row createDataFrame + broadcast join
        # was a driver round-trip and an extra plan branch; a constant
        # array projection is pure codegen.  The per-doc margin is a
        # window sum over the doc_id partitioning the checkpoint already
        # established (no exchange), so margin, residual and the
        # per-feature gradient sums run in ONE pass over the sparse
        # relation — jobs/epoch: one aggregate chain, one tiny
        # 65-key exchange, no joins.
        warr = F.array(*[F.lit(float(x)) for x in score_weights(w, mu, sd)])
        margin = F.sum(
            F.col("val") * F.element_at(warr, F.col("idx") + 1)
        ).over(w_doc)
        res = (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - F.col("y")
        ).alias("res")
        s_rows = (
            feats.select("idx", "val", res)
            .groupBy("idx")
            .agg(F.sum(F.col("res") * F.col("val")).alias("s"))
            .collect()
        )
        s_map = {r["idx"]: r["s"] for r in s_rows}
        big_r = s_map.get(HASH_DIM, 0.0)  # Σ resid, via the bias-feature row
        grad = [
            (s_map.get(i, 0.0) - mu[i] * big_r) / (sd[i] * n)
            for i in range(HASH_DIM)
        ] + [big_r / n]
        w = [wi - lr * gi for wi, gi in zip(w, grad)]
    return score_weights(w, mu, sd)


def score_weights(
    w: list[float], mu: list[float], sd: list[float]
) -> list[float]:
    """Fold standardized-space weights back to raw-count space so scoring
    is a plain sparse dot product: wᵢ' = wᵢ/σᵢ, b' = b − Σwᵢμᵢ/σᵢ."""
    dim = len(mu)
    return [w[i] / sd[i] for i in range(dim)] + [
        w[dim] - sum(w[i] * mu[i] / sd[i] for i in range(dim))
    ]


def score_logreg(features: DataFrame, weights: list[float]) -> DataFrame:
    """(doc_id, prob) for every doc in ``features`` (raw sparse counts +
    bias row) — one broadcast join + one aggregate."""
    spark = features.sparkSession
    wdf = spark.createDataFrame(
        [(i, wi) for i, wi in enumerate(weights)], "idx int, w double"
    )
    return _margins(features, wdf).select(
        "doc_id",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias("prob"),
    )


def quality_labels(docs: DataFrame) -> DataFrame:
    """Weak labels from the ``quality_score`` heuristic (text.py):
    y = 1 ⇔ band 'ok' (≥100 chars AND contains the stopword 'the')."""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    has_the = F.length(padded) - F.length(
        F.regexp_replace(padded, " the ", "")
    ) > 0
    return docs.select(
        "doc_id",
        ((F.length("text") >= 100) & has_the).cast("double").alias("y"),
    )


@query("quality_classifier_scores", oracle=None)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the quality heuristic into a hashed-BoW logistic model:
    train on the ``doc_id % 10 < 8`` split, score the held-out docs →
    (doc_id, label, prob, pred, correct).  Rows-only at the driver;
    pinned by numpy-GD parity and a held-out accuracy floor
    (`tests/test_classifier.py`)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    labels = quality_labels(d)
    feats = featurize(d)
    train_labels = labels.filter(F.col("doc_id") % 10 < TRAIN_MOD)
    w = train_logreg(
        feats.join(train_labels.select("doc_id"), "doc_id"), train_labels
    )
    held = feats.join(
        labels.filter(F.col("doc_id") % 10 >= TRAIN_MOD).select("doc_id"),
        "doc_id",
    )
    return (
        score_logreg(held, w)
        .join(labels, "doc_id")
        .select(
            "doc_id",
            F.col("y").cast("int").alias("label"),
            "prob",
            (F.col("prob") >= 0.5).cast("int").alias("pred"),
            ((F.col("prob") >= 0.5) == (F.col("y") == 1.0))
            .cast("int")
            .alias("correct"),
        )
    )

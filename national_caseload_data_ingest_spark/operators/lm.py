"""Statistical language-model operators over the ``documents`` table:
distributed bigram-LM training and held-out perplexity scoring.

LM-perplexity filtering is the CCNet / Gopher-style quality gate of a
training-data pipeline: train a small LM on a trusted split, score every
candidate document, and drop (or down-weight) the high-perplexity tail.
This module re-expresses that pass Spark-first:

* **The model is a DataFrame, not a broadcast.**  Bigram and context
  counts stay distributed and attach to the held-out stream via shuffle
  joins keyed on the n-gram — at web scale the bigram relation (typos,
  URLs, code) easily exceeds driver memory, so a broadcast vocabulary is
  exactly the scale-killer we avoid (same reasoning as the TF-IDF df
  join, ``text.py``).  AQE promotes the join to broadcast at runtime when
  the trained model really is small, and handles hot-bigram skew
  otherwise.
* **Everything is codegen.**  Tokenization is ``split``; bigram
  construction is ``transform``+``slice`` over the token array (no UDF);
  the only Python in the pass is plan construction.
* **Scalars are one-row broadcasts.**  Vocabulary size V joins in as a
  broadcast single-row aggregate — never a driver ``collect``.

The train/held-out split is ``doc_id % 10`` (deterministic, engine-
independent) so the DuckDB oracle reproduces the exact model.  Smoothing
is add-k with k=0.5: P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V); an
unseen context degrades to the uniform 1/V.  Both engines evaluate the
identically-parenthesized double expression, so scores hash-match at the
harness's 1e-6 print precision.

The reference (/root/reference/ncd/) has no LM surface; this implements
the build brief's text-analysis/quality-scoring extension band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables, query

# Add-k smoothing constant.  Keep the literal in sync with the oracle SQL.
LM_K = 0.5

# doc_id % 10 < LM_TRAIN_MOD → training split; the rest are scored.
LM_TRAIN_MOD = 8


def _tokens(d: DataFrame) -> DataFrame:
    """``doc_id``, token array ``t`` (lowercased, whitespace-split)."""
    return d.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"),
    )


def _bigrams(toks: DataFrame) -> DataFrame:
    """Explode each token array into (doc_id, w1, w2) adjacent pairs.

    ``transform`` over ``slice(t, 1, size-1)`` pairs token i with token
    i+1 entirely inside whole-stage codegen — no UDF, no posexplode
    self-join.  Docs with fewer than two tokens contribute no rows.
    """
    pairs = F.expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
        " (w, i) -> named_struct('w1', w, 'w2', element_at(t, i + 2)))"
    )
    return toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )


def train_bigram_lm(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the bigram model on the ``doc_id % 10 < LM_TRAIN_MOD`` split.

    Returns ``(bigram_counts, ctx_counts, vocab_size)``:

    * ``bigram_counts`` — (w1, w2, c): one groupBy shuffle on the pair.
    * ``ctx_counts`` — (w1, c1): c(w1·), derived from bigram_counts by a
      second (much smaller) aggregate, not a rescan.
    * ``vocab_size`` — single-row (v): distinct training unigrams.

    All three stay DataFrames; nothing is collected.
    """
    train = _tokens(docs.filter(F.col("doc_id") % 10 < LM_TRAIN_MOD))
    big = _bigrams(train)
    bigram_counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx_counts = bigram_counts.groupBy("w1").agg(F.sum("c").alias("c1"))
    vocab_size = (
        train.select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    return bigram_counts, ctx_counts, vocab_size


def score_perplexity(
    docs: DataFrame,
    bigram_counts: DataFrame,
    ctx_counts: DataFrame,
    vocab_size: DataFrame,
) -> DataFrame:
    """Score the held-out split: per-doc bigram count, OOV-bigram
    fraction, mean negative log-likelihood, and perplexity.

    Plan: explode held-out bigrams → left join the model on (w1, w2) and
    on w1 (shuffle joins; AQE broadcasts a small model at runtime) →
    codegen'd smoothed log-probability → one groupBy(doc_id) aggregate.
    """
    held = _bigrams(_tokens(docs.filter(F.col("doc_id") % 10 >= LM_TRAIN_MOD)))
    scored = (
        held.join(bigram_counts, ["w1", "w2"], "left")
        .join(ctx_counts, ["w1"], "left")
        .crossJoin(F.broadcast(vocab_size))
        .withColumn(
            "logp",
            F.expr(
                f"ln((coalesce(c, 0) + {LM_K}) /"
                f" (coalesce(c1, 0) + ({LM_K} * v)))"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg(F.when(F.col("c").isNull(), 1).otherwise(0)).alias("oov_frac"),
        (-F.avg("logp")).alias("avg_nll"),
        F.exp(-F.avg("logp")).alias("ppl"),
    )


_LM_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
),
train_big AS (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1])) AS bg
    FROM toks WHERE doc_id % 10 < {LM_TRAIN_MOD}
),
bigram_counts AS (
    SELECT split_part(bg, ' ', 1) AS w1,
           split_part(bg, ' ', 2) AS w2,
           COUNT(*) AS c
    FROM train_big GROUP BY 1, 2
),
ctx_counts AS (
    SELECT w1, SUM(c) AS c1 FROM bigram_counts GROUP BY w1
),
vocab AS (
    SELECT COUNT(DISTINCT tok) AS v FROM (
        SELECT unnest(t) AS tok FROM toks
        WHERE doc_id % 10 < {LM_TRAIN_MOD}
    )
),
held AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1])) AS bg
    FROM toks WHERE doc_id % 10 >= {LM_TRAIN_MOD}
),
scored AS (
    SELECT h.doc_id,
           b.c,
           ln((coalesce(b.c, 0) + {LM_K}) /
              (coalesce(x.c1, 0) + ({LM_K} * v.v))) AS logp
    FROM held h
    LEFT JOIN bigram_counts b
      ON split_part(h.bg, ' ', 1) = b.w1
     AND split_part(h.bg, ' ', 2) = b.w2
    LEFT JOIN ctx_counts x ON split_part(h.bg, ' ', 1) = x.w1
    CROSS JOIN vocab v
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       AVG(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS oov_frac,
       -AVG(logp) AS avg_nll,
       exp(-AVG(logp)) AS ppl
FROM scored
GROUP BY doc_id
"""


@query("lm_perplexity", oracle=_LM_ORACLE)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality scores for the held-out 20% of the
    corpus (train on ``doc_id % 10 < 8``, score the rest) — the
    CCNet/Gopher LM-filter pass.  See module docstring for the
    scale-first plan shape."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    bigram_counts, ctx_counts, vocab_size = train_bigram_lm(d)
    return score_perplexity(d, bigram_counts, ctx_counts, vocab_size)


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney (the production n-gram smoother; Kneser & Ney
# 1995, Chen & Goodman 1998 — public)
# ---------------------------------------------------------------------------

KN_D = 0.75  # absolute discount; keep in sync with the oracle SQL
KN_FLOOR_K = 0.5  # add-k on the continuation distribution (zero-prob floor)


def train_kneser_ney(docs: DataFrame):
    """KN bigram statistics from the training split: returns
    ``(bigram_counts, ctx_stats, cont_counts, totals)`` where

    * ``ctx_stats``  — (w1, c1, n1p_fw): context total and the number of
      DISTINCT continuations (the discount mass fan-out),
    * ``cont_counts`` — (w2, n1p_bw): in how many distinct contexts w2
      appears (the novel-continuation numerator — KN's insight: 'Francisco'
      is frequent but only ever follows 'San'),
    * ``totals`` — one row (n1p_all, v): distinct bigram types and vocab.

    Everything derives from ONE bigram aggregation; the three side
    relations are small re-aggregations of it, not corpus rescans."""
    train = _bigrams(
        _tokens(docs.filter(F.col("doc_id") % 10 < LM_TRAIN_MOD))
    )
    bigram_counts = train.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    ctx_stats = bigram_counts.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n1p_fw")
    )
    cont_counts = bigram_counts.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n1p_bw")
    )
    vocab = (
        _tokens(docs.filter(F.col("doc_id") % 10 < LM_TRAIN_MOD))
        .select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    totals = bigram_counts.agg(F.count(F.lit(1)).alias("n1p_all")).crossJoin(
        F.broadcast(vocab)
    )
    return bigram_counts, ctx_stats, cont_counts, totals


# CAST(.. AS DOUBLE) on every fractional literal: Spark parses bare
# decimal literals as DECIMAL and its decimal division ROUNDS at a
# finite scale (measured 1.1e-5 per-row drift vs DuckDB's double
# arithmetic); the cast makes both engines evaluate the identical IEEE
# double expression.
_D = f"CAST({KN_D} AS DOUBLE)"
_K = f"CAST({KN_FLOOR_K} AS DOUBLE)"
_KN_PCONT = (
    f"(coalesce(n1p_bw, 0) + {_K}) / (n1p_all + {_K} * v)"
)
_KN_LOGP = (
    "ln(CASE WHEN c1 IS NULL OR c1 = 0 THEN " + _KN_PCONT + " ELSE "
    f"(greatest(coalesce(c, 0) - {_D}, CAST(0 AS DOUBLE)) / c1)"
    f" + (({_D} * n1p_fw / c1) * ({_KN_PCONT}))"
    " END)"
)


@query(
    "lm_kneser_ney_perplexity",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ),
    train_big AS (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS bg
        FROM toks WHERE doc_id % 10 < {LM_TRAIN_MOD}
    ),
    bigram_counts AS (
        SELECT split_part(bg, ' ', 1) AS w1,
               split_part(bg, ' ', 2) AS w2,
               COUNT(*) AS c
        FROM train_big GROUP BY 1, 2
    ),
    ctx AS (SELECT w1, SUM(c) AS c1, COUNT(*) AS n1p_fw
            FROM bigram_counts GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS n1p_bw FROM bigram_counts GROUP BY w2),
    tot AS (
        SELECT (SELECT COUNT(*) FROM bigram_counts) AS n1p_all,
               (SELECT COUNT(DISTINCT tok) FROM
                  (SELECT unnest(t) AS tok FROM toks
                   WHERE doc_id % 10 < {LM_TRAIN_MOD})) AS v
    ),
    held AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS bg
        FROM toks WHERE doc_id % 10 >= {LM_TRAIN_MOD}
    ),
    scored AS (
        SELECT h.doc_id, b.c,
               {_KN_LOGP} AS logp
        FROM held h
        LEFT JOIN bigram_counts b
          ON split_part(h.bg, ' ', 1) = b.w1
         AND split_part(h.bg, ' ', 2) = b.w2
        LEFT JOIN ctx x ON split_part(h.bg, ' ', 1) = x.w1
        LEFT JOIN cont n ON split_part(h.bg, ' ', 2) = n.w2
        CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           AVG(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS unseen_frac,
           -(CAST(SUM(CAST(round(logp, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / COUNT(*)) AS avg_nll,
           exp(-(CAST(SUM(CAST(round(logp, 9) AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*))) AS ppl
    FROM scored
    GROUP BY doc_id
    """,
)
def lm_kneser_ney_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity under INTERPOLATED KNESER-NEY — the smoother
    production n-gram LMs actually use (absolute discount D={KN_D}
    redistributed over the context's distinct-continuation fan-out,
    backing off to the continuation distribution 'how many contexts does
    w2 complete' rather than raw unigram frequency).  The continuation
    distribution itself carries an add-k floor so unseen words keep
    positive mass — the standard open-vocabulary guard, and what keeps
    every log finite for the cross-engine hash.

    Plan shape (same scale contract as ``lm_perplexity``): the model
    stays DISTRIBUTED — bigram, context, and continuation relations
    attach to the held-out stream via three shuffle joins (AQE
    broadcasts them when genuinely small); the only driver-sized value
    is the one-row (n1p_all, v) totals broadcast.  Everything after the
    joins is codegen'd arithmetic; identical parenthesization on both
    engines makes the doubles hash-match."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    bigram_counts, ctx_stats, cont_counts, totals = train_kneser_ney(d)
    held = _bigrams(
        _tokens(d.filter(F.col("doc_id") % 10 >= LM_TRAIN_MOD))
    )
    scored = (
        held.join(bigram_counts, ["w1", "w2"], "left")
        .join(ctx_stats, ["w1"], "left")
        .join(cont_counts, ["w2"], "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("logp", F.expr(_KN_LOGP))
    )
    # Quantize each logp to 9 decimals and SUM as exact decimal: float
    # addition is order-dependent and the engines aggregate in different
    # orders, so a raw AVG drifts past the 1e-6 hash precision once
    # exp() amplifies it; the decimal sum is order-independent and both
    # engines divide/exp the identical exact total (measured: raw AVG
    # diverged at 2.4e-5 in ppl on sf0.001).
    logp_dec = F.round(F.col("logp"), 9).cast("decimal(28,9)")
    cnt = F.count(F.lit(1))
    nll = -(F.sum(logp_dec).cast("double") / cnt)
    return scored.groupBy("doc_id").agg(
        cnt.alias("n_bigrams"),
        F.avg(F.when(F.col("c").isNull(), 1).otherwise(0)).alias(
            "unseen_frac"
        ),
        nll.alias("avg_nll"),
        F.exp(nll).alias("ppl"),
    )

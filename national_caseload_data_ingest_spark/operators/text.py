"""Text-analysis operators for LLM-data pipelines over the ``documents``
table: token counting, quality scoring, language ID, fingerprinting.

These are the §7-extension operators from BASELINE.json's north star.  All
four are pure ``pyspark.sql.functions`` column expressions — JVM-side,
whole-stage-codegen, zero UDFs — so they run at parquet-scan speed and
scale to 100 TB as embarrassingly-parallel narrow maps (the only shuffle in
this module is the final small aggregate of ``token_count_by_source``).

Every query has a DuckDB oracle built from the *same* integer arithmetic
(counts, lengths) so results hash-match exactly; ratios divide integers in
double precision, which is deterministic because both engines perform the
identical single division.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import fan_out, query
from national_caseload_data_ingest_spark.session import load_tables

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic.
# Counting ' word ' occurrences is an O(n) scan both engines express as
# (len(s) - len(replace(s, w, ''))) / len(w) — pure integer math.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "los"],
    "de": ["der", "die", "und"],
    "fr": ["le", "les", "des"],
    "zh": ["de", "shi", "bu"],
}


def _occurrences(col: Column, word: str) -> Column:
    """Number of occurrences of `` word `` (space-delimited) in the column."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.regexp_replace(padded, needle, "")))
        / len(needle)
    ).cast("int")


def _occurrences_sql(expr: str, word: str) -> str:
    needle = f" {word} "
    padded = f"(' ' || {expr} || ' ')"
    return (
        f"CAST((LENGTH({padded}) - LENGTH(REPLACE({padded}, '{needle}', '')))"
        f" / {len(needle)} AS INTEGER)"
    )


@query(
    "token_count_by_source",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS total_tokens,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
               / COUNT(*) AS avg_tokens,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + per-source corpus statistics.

    The shuffle key (source) has tiny cardinality, so partial aggregation
    reduces each partition to a handful of rows before the exchange.
    """
    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        d.select("source", n_tokens.alias("nt"), F.length("text").alias("nc"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            (F.sum("nt").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.sum("nc").alias("total_chars"),
        )
    )


@query(
    "quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(LENGTH(text) AS INTEGER) AS n_chars,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
               AS n_tokens,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g'))
                AS INTEGER) AS n_punct,
           {_occurrences_sql('text', 'the')} AS n_the,
           CASE WHEN LENGTH(text) < 100 THEN 'short'
                WHEN {_occurrences_sql('text', 'the')} = 0 THEN 'no_stopwords'
                ELSE 'ok' END AS quality_band
    FROM documents
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: length, punctuation count, stopword hits,
    banded verdict — the filter stage of a pretraining-data pipeline."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_chars = F.length("text")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_punct = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), "[.,;:!?]", ""))
    )
    n_the = _occurrences(F.col("text"), "the")
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.cast("int").alias("n_punct"),
        n_the.alias("n_the"),
        F.when(n_chars < 100, "short")
        .when(n_the == 0, "no_stopwords")
        .otherwise("ok")
        .alias("quality_band"),
    )


def _lang_scores(col: Column) -> dict[str, Column]:
    out = {}
    for lang, words in LANG_MARKERS.items():
        score = None
        for w in words:
            occ = _occurrences(col, w)
            score = occ if score is None else score + occ
        out[lang] = score
    return out


def _lang_scores_sql(expr: str) -> dict[str, str]:
    return {
        lang: " + ".join(_occurrences_sql(expr, w) for w in words)
        for lang, words in LANG_MARKERS.items()
    }


@query(
    "lang_id_heuristic",
    oracle=(
        lambda s: f"""
    SELECT doc_id, lang,
           CASE
             WHEN {s['en']} >= {s['es']} AND {s['en']} >= {s['de']}
                  AND {s['en']} >= {s['fr']} AND {s['en']} >= {s['zh']} THEN 'en'
             WHEN {s['es']} >= {s['de']} AND {s['es']} >= {s['fr']}
                  AND {s['es']} >= {s['zh']} THEN 'es'
             WHEN {s['de']} >= {s['fr']} AND {s['de']} >= {s['zh']} THEN 'de'
             WHEN {s['fr']} >= {s['zh']} THEN 'fr'
             ELSE 'zh'
           END AS predicted_lang
    FROM documents
    """
    )(_lang_scores_sql("text")),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (n-gram heuristic family).

    Argmax over per-language marker-word counts with a fixed tie-break
    order (en > es > de > fr > zh) so both engines pick identical labels.
    """
    d = load_tables(spark, sf_dir, "documents")["documents"]
    s = _lang_scores(F.col("text"))
    predicted = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"])
            & (s["en"] >= s["zh"]),
            "en",
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return d.select("doc_id", "lang", predicted.alias("predicted_lang"))


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(REGEXP_REPLACE(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (md5 of whitespace-collapsed lowercase
    text) — the join key for cheap cross-corpus exact dedup at scale: 16
    bytes instead of the full document shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        F.md5(normalized.cast("binary")).alias("fingerprint"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


# BPE-ish pre-tokenizer: maximal runs of letters, digits, or single other
# non-space characters — the class-based core of GPT-style pre-tokenization,
# restricted to constructs with identical leftmost-maximal semantics in
# Java regex (Spark) and RE2 (DuckDB), so counts hash-match cross-engine.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


@query(
    "bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS DOUBLE)
             / len(string_split_regex(trim(text), '\\s+'))
             AS tokens_per_word
    FROM documents
    """,
)
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style (BPE-ish regex) token counts next to whitespace
    counts — the token-budget accounting pass of a training-data pipeline.
    Pure codegen'd regexp counting; no UDFs, no shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))
    )
    n_ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return d.select(
        "doc_id",
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        n_ws.cast("bigint").alias("n_ws_tokens"),
        (n_bpe.cast("double") / n_ws).alias("tokens_per_word"),
    )


VOCAB_TOP_K = 50
HIST_BUCKET = 10


@query(
    "token_frequency_topk",
    oracle=f"""
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_frequency
    FROM (SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
          FROM documents)
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT {VOCAB_TOP_K}
    """,
)
def token_frequency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: the top-VOCAB_TOP_K tokens by
    total occurrences, with document frequency alongside — the
    vocab-building / stopword-discovery pass of a corpus pipeline.

    explode → partial-aggregating groupBy (map-side combine keeps the
    shuffle at one row per distinct token per task, not per occurrence)
    → ``TakeOrderedAndProject`` (per-partition heaps, never a global
    sort).  Tie-break on the token keeps the cut deterministic."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_frequency"),
        )
        .orderBy(F.col("n_occurrences").desc(), "tok")
        .limit(VOCAB_TOP_K)
    )


@query(
    "token_length_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(len(string_split_regex(trim(text), '\\s+'))
                      / {HIST_BUCKET}) * {HIST_BUCKET} AS BIGINT) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
             AS total_tokens
    FROM documents
    GROUP BY 1
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution in fixed-width token buckets — the
    profile that drives quality-filter thresholds and shard budgets.
    One partial-aggregating shuffle over ~corpus/bucket_width groups."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    nt = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bucket = (F.floor(nt / HIST_BUCKET) * HIST_BUCKET).cast("bigint")
    return (
        d.select(bucket.alias("bucket_lo"), nt.alias("nt"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
        )
    )


@query(
    "rare_token_fraction",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    totals AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS n_vocab
        FROM vocab
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.c * tt.n_vocab < tt.n_total THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rare,
           CAST(SUM(CASE WHEN v.c * tt.n_vocab < tt.n_total THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS rare_fraction,
           CAST(SUM(v.c) AS BIGINT) AS freq_mass,
           CAST(SUM(v.c) AS DOUBLE) / COUNT(*) AS mean_token_freq
    FROM toks t JOIN vocab v USING (tok) CROSS JOIN totals tt
    GROUP BY t.doc_id
    """,
)
def rare_token_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality scoring (the integer-exact core of a
    CCNet-style unigram-LM filter): score every document by how much of it
    is made of rare tokens, where *rare* means corpus frequency below the
    corpus mean.

    Two passes over the exploded token stream: (1) aggregate the unigram
    model (one shuffle on token, heavy map-side combine — the shuffle
    carries one row per distinct token per task); (2) join occurrences back
    to the model on token and aggregate per document.  The model side is
    vocabulary-sized, so AQE promotes it to a broadcast join when it fits
    (it does here; at web scale the standard play is top-V vocabulary
    broadcast with out-of-vocabulary treated as rare — same contract, and
    the join below stays a plain shuffle join if the model outgrows the
    broadcast threshold).

    Everything that crosses engines is integer arithmetic: the rare rule
    compares ``c * n_vocab < n_total`` (cross-multiplied mean — no
    division), and the two ratio columns are each a single double division
    of two exact BIGINTs, so results hash-match DuckDB bit-for-bit.
    """
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.agg(
        F.sum("c").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
    )
    is_rare = (F.col("c") * F.col("n_vocab") < F.col("n_total")).cast("int")
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(is_rare).cast("bigint").alias("n_rare"),
            (F.sum(is_rare).cast("double") / F.count(F.lit(1))).alias(
                "rare_fraction"
            ),
            F.sum("c").cast("bigint").alias("freq_mass"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias(
                "mean_token_freq"
            ),
        )
    )


@query(
    "lexical_diversity_by_source",
    oracle="""
    WITH tc AS (
        SELECT source, tok, COUNT(*) AS c
        FROM (SELECT source,
                     unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS tok
              FROM documents)
        GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax_tokens,
           CAST(COUNT(*) AS DOUBLE) / SUM(c) AS type_token_ratio
    FROM tc
    GROUP BY source
    """,
)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per source: type-token ratio and hapax
    count — the cheap screen for template/boilerplate sources (near-zero
    diversity) and for synthetic-looking uniform text (zero hapaxes).

    Two partial-aggregating shuffles, both tiny on the reduce side: the
    first keys on (source, token) — bounded by sources x vocabulary — and
    the second folds that to one row per source.  No token row ever
    crosses the wire un-combined, so the plan is insensitive to corpus
    row count: exactly the shape that survives 100 TB."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    tc = (
        d.select(
            "source",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "tok"
            ),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_tokens"),
        F.sum((F.col("c") == 1).cast("int")).cast("bigint").alias("hapax_tokens"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("type_token_ratio"),
    )


@query(
    "repetition_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, lang,
               CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 1 END
                 AS total_grams,
               CASE WHEN len(toks) >= 2
                    THEN len(list_distinct(list_transform(
                         range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])))
                    ELSE 1 END AS distinct_grams
        FROM t
    )
    SELECT doc_id, lang,
           CAST(total_grams AS BIGINT) AS total_grams,
           CAST(distinct_grams AS BIGINT) AS distinct_grams,
           1.0 - CAST(distinct_grams AS DOUBLE) / total_grams
             AS repetition
    FROM g
    """,
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: 1 − distinct/total word bigrams — the
    Gopher-style duplicate-n-gram quality signal (boilerplate and
    degenerate generations score high; filtering is then a plain
    threshold on the column).  Pure narrow column expressions — the
    higher-order lambda runs once per doc over a bounded token array, not
    in a pair loop, so it stays cheap despite being interpreted."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - 1)
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1))
    )
    total = F.when(n >= 2, n - 1).otherwise(F.lit(1))
    distinct = F.when(n >= 2, F.size(F.array_distinct(grams))).otherwise(F.lit(1))
    return d.select(
        "doc_id",
        "lang",
        total.cast("bigint").alias("total_grams"),
        distinct.cast("bigint").alias("distinct_grams"),
        (F.lit(1.0) - distinct.cast("double") / total).alias("repetition"),
    )


# --------------------------------------------------------------------------
# Relevance scoring: TF-IDF and BM25.
#
# Both use RATIONAL idf surrogates (single divisions of exact integers)
# instead of ln(): Spark computes ln via java.lang.Math, DuckDB via libm,
# and the two can differ in the last ulp — enough to flip a ranking tie and
# break the cross-engine value hash.  N/df is a strictly monotone transform
# of ln(N/df) at fixed tf, so the *selection* demonstrated here (which
# terms/docs score highest) orders identically; swap ln back in on a real
# deployment where bit-parity with a second engine is not a gate.
# --------------------------------------------------------------------------

TFIDF_TOP_K = 3


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, tok
    ),
    idf AS (
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY tok
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf, idf.df,
               CAST(tf.tf * n.n_docs AS DOUBLE) / idf.df AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / idf.df DESC,
                            tf.tok
               ) AS rk
        FROM tf JOIN idf USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tf, df, tfidf
    FROM scored WHERE rk <= {TFIDF_TOP_K}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} most characteristic terms per document by TF-IDF — the
    keyword-extraction / topic-fingerprint pass of a corpus pipeline.

    Plan shape: explode → two partial-aggregating shuffles (per-doc tf on
    ``(doc_id, tok)``; corpus df on ``tok``) → join of the df relation onto
    tf → per-doc window.  The df join carries NO broadcast hint: a
    vocabulary is usually MBs, but at web scale the distinct-token relation
    (URLs, typos, code) can reach 10⁸⁺ rows and a forced broadcast would
    OOM the driver — AQE promotes the small side to broadcast at runtime
    when it actually is small, and both sides already share the ``tok``
    shuffle key when it isn't.  The window partitions on doc_id, whose
    groups are bounded by document length.  The corpus size scalar joins in
    as a broadcast one-row aggregate, not a driver ``collect``.  Ties break
    on the token for a deterministic cut.
    """
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_rel = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_rel, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "tok", "tf", "df", "tfidf")
    )


BM25_TERMS = ("spark", "table", "join")
BM25_TOP_K = 25


def _bm25_term_sql(word: str, k1: str = "1.2") -> str:
    """One BM25 term's score with the exact operator tree the Spark
    expression uses (parenthesized so both parsers build the same IEEE
    evaluation order)."""
    tf = f"tf_{word}"
    return (
        f"(((CAST(n_docs AS DOUBLE) - {tf}_df + 0.5) / ({tf}_df + 0.5)) * "
        f"(({tf} * 2.2) / ({tf} + ({k1} * (0.25 + ((0.75 * dl) / avgdl))))))"
    )


@query(
    "bm25_rank_docs",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
                   AS dl,
               {_occurrences_sql('text', 'spark')} AS tf_spark,
               {_occurrences_sql('text', 'table')} AS tf_table,
               {_occurrences_sql('text', 'join')} AS tf_join
        FROM documents
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               CAST(SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tf_spark_df,
               CAST(SUM(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tf_table_df,
               CAST(SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tf_join_df
        FROM base
    )
    SELECT doc_id, dl, tf_spark, tf_table, tf_join,
           (({_bm25_term_sql('spark')} + {_bm25_term_sql('table')})
             + {_bm25_term_sql('join')}) AS bm25
    FROM base CROSS JOIN stats
    WHERE (tf_spark + tf_table) + tf_join > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def bm25_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for the fixed query ``spark table join`` —
    the retrieval scorer behind quality-weighted corpus sampling and
    RAG-style training-data selection (k1=1.2, b=0.75; rational idf
    surrogate, see module note above).

    Plan shape: one narrow pass computes per-doc term frequencies and
    length (integer O(n) scans, no explode); the corpus stats (N, avgdl,
    per-term df) reduce to ONE broadcast row via a single partial
    aggregate; scoring is then a pure codegen'd expression and the top-k
    is ``TakeOrderedAndProject`` (per-partition heaps — no global sort).
    Adding terms adds columns, not passes.  Scales as a single scan +
    one-row exchange at any corpus size."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    base = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("dl"),
        *[
            _occurrences(F.col("text"), wrd).alias(f"tf_{wrd}")
            for wrd in BM25_TERMS
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{wrd}") > 0, 1).otherwise(0)).alias(
                f"tf_{wrd}_df"
            )
            for wrd in BM25_TERMS
        ],
    )

    def term_score(wrd: str) -> Column:
        tf = F.col(f"tf_{wrd}")
        df_t = F.col(f"tf_{wrd}_df")
        idf = (F.col("n_docs").cast("double") - df_t + F.lit(0.5)) / (
            df_t + F.lit(0.5)
        )
        denom = tf + (
            F.lit(1.2)
            * (F.lit(0.25) + ((F.lit(0.75) * F.col("dl")) / F.col("avgdl")))
        )
        return idf * ((tf * F.lit(2.2)) / denom)

    s, t, j = (term_score(wrd) for wrd in BM25_TERMS)
    return (
        base.crossJoin(F.broadcast(stats))
        .withColumn("bm25", (s + t) + j)
        .filter(
            (F.col("tf_spark") + F.col("tf_table")) + F.col("tf_join") > 0
        )
        .select("doc_id", "dl", "tf_spark", "tf_table", "tf_join", "bm25")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP_K)
    )


@query(
    "pii_scrub",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com now' ELSE '' END ||
               CASE WHEN doc_id % 11 = 0
                    THEN ' call 555-0142 today' ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9.]+[a-z0-9]'))
                AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}'))
                AS INTEGER) AS n_phones,
           CAST(LENGTH(regexp_replace(regexp_replace(text,
                    '[a-z0-9]+@[a-z0-9.]+[a-z0-9]', '<EMAIL>', 'g'),
                    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS INTEGER)
               AS scrubbed_len,
           md5(regexp_replace(regexp_replace(text,
                   '[a-z0-9]+@[a-z0-9.]+[a-z0-9]', '<EMAIL>', 'g'),
                   '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace email addresses and phone-shaped numbers
    with typed placeholders, reporting match counts and a digest of the
    scrubbed text — the privacy-filter stage of a training-data pipeline.

    The synthetic corpus contains no PII (word-salad text, zero digits),
    so the query first *injects* deterministic fixtures — every 7th doc
    gains an email, every 11th a phone number — making the check
    non-vacuous: the oracle performs the identical injection and the scrub
    must find exactly those plants and nothing else.  Patterns stay in the
    RE2-compatible subset (character classes + bounded repeats, no
    lookaround) so Java regex and DuckDB RE2 agree; on real corpora the
    pattern set widens (SSNs, IP addresses, street addresses) with the
    same plan shape.

    Pure narrow column expressions — regexp_count/replace are codegen'd
    JVM calls, no UDF, no shuffle; at 100 TB this runs at scan speed."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    email_re = "[a-z0-9]+@[a-z0-9.]+[a-z0-9]"
    phone_re = "[0-9]{3}-[0-9]{4}"
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-0142 today")).otherwise(
            F.lit("")
        ),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(email_re)).cast("int").alias("n_emails"),
        F.regexp_count(aug, F.lit(phone_re)).cast("int").alias("n_phones"),
        F.length(scrubbed).cast("int").alias("scrubbed_len"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"),
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@query(
    "sliding_window_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\\s+') AS toks,
               len(string_split_regex(trim(text), '\\s+')) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(s.start / {CHUNK_STRIDE} AS INTEGER) AS chunk_no,
           CAST(least({CHUNK_TOKENS}, n - s.start) AS INTEGER) AS n_tokens,
           array_to_string(
               list_slice(toks, s.start + 1,
                          least(s.start + {CHUNK_TOKENS}, n)), ' ')
               AS chunk_text
    FROM t, unnest(range(0, greatest(n, 1), {CHUNK_STRIDE})) AS s(start)
    WHERE least({CHUNK_TOKENS}, n - s.start) > 0
    """,
)
def sliding_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the context-window splitting
    primitive of RAG indexing and long-document pretraining: each doc
    yields chunks of CHUNK_TOKENS tokens every CHUNK_STRIDE tokens
    (64/48 → 16-token overlap), the last chunk ragged.

    Plan shape: one narrow pass — split → sequence of starts → explode →
    array slice → concat.  No shuffle, no UDF; output volume is a bounded
    ~W/S × the input text, so at 100 TB this runs at scan speed and
    parallelism follows the input partitioning.  The oracle re-derives
    every chunk with list_slice over the same tokenization, so boundary
    arithmetic (ragged tails, the empty-doc guard, the start grid) is
    hash-pinned.
    """
    # Fan the doc relation past the scan's file-split width before the
    # chunk explode (r15): a single-row-group corpus scans as ONE
    # partition and this pure-codegen explode pipeline — like the
    # Python kernels the r14 fan-out batch covered — ran serialized on
    # one core.  Chunk rows are exact strings/ints, so partitioning
    # cannot change the relation (order-insensitive oracle hash).
    d = fan_out(load_tables(spark, sf_dir, "documents")["documents"])
    toks = F.split(F.trim(F.col("text")), r"\s+")
    e = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    ).select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n") - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, CHUNK_TOKENS)
    return (
        e.select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_no"),
            F.size(chunk).cast("int").alias("n_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
        .filter(F.col("n_tokens") > 0)
    )


@query(
    "duplicate_passage_report",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\\s+') AS toks,
               len(string_split_regex(trim(text), '\\s+')) AS n
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(toks, s.start + 1,
                              least(s.start + {CHUNK_TOKENS}, n)), ' '))
                   AS chunk_md5
        FROM t, unnest(range(0, greatest(n, 1), {CHUNK_STRIDE})) AS s(start)
        WHERE least({CHUNK_TOKENS}, n - s.start) > 0
    )
    SELECT chunk_md5,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM chunks
    GROUP BY chunk_md5
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def duplicate_passage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup: which sliding-window chunks recur across
    DISTINCT documents — the boilerplate/shared-passage detector that
    whole-document hashing misses (the oracle-checked complement of the
    rows-only CDC chunk engine: grid chunking is SQL-expressible, so this
    one hash-matches end-to-end).

    Plan shape: the narrow chunking pass of :func:`sliding_window_chunks`
    → md5 per chunk → one groupBy on the 32-char digest.  The shuffle
    moves 16-byte hashes, never passage text — the same scale invariant as
    document-level ``dedup_exact``."""
    chunks = sliding_window_chunks(spark, sf_dir)
    return (
        chunks.select(
            "doc_id", F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5")
        )
        .groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
    )


WINNOW_K = 5  # k-gram length (tokens)
WINNOW_W = 4  # winnowing window (consecutive k-gram hashes)


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\\s+') AS toks,
               len(string_split_regex(trim(text), '\\s+')) AS n
        FROM documents
    ),
    grams AS (
        SELECT doc_id, p.pos,
               md5(array_to_string(
                   list_slice(toks, p.pos + 1, p.pos + {WINNOW_K}), ' '))
                   AS gh
        FROM t, unnest(range(0, greatest(n - {WINNOW_K} + 1, 0)))
                 AS p(pos)
        WHERE n >= {WINNOW_K}
    ),
    wins AS (
        SELECT doc_id, pos,
               MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW
                                      AND {WINNOW_W - 1} FOLLOWING)
                   AS fingerprint,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
        FROM grams
    )
    SELECT DISTINCT doc_id, fingerprint
    FROM wins
    WHERE pos <= n_grams - {WINNOW_W}
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token {k}-gram, slide a
    window of {w} consecutive hashes, keep each window's minimum; the
    DISTINCT selected hashes are the fingerprint set.  Guarantees any
    shared run of k+w-1 tokens between two documents shares a fingerprint
    — position-robust local dedup/plagiarism evidence with ~1/w the volume
    of full shingling.

    Hashes are md5 STRINGS compared lexicographically, which both engines
    order identically (pure ASCII hex) — the cross-engine-deterministic
    stand-in for the paper's integer hash.  Plan shape: narrow gram pass →
    one doc_id-partitioned window (single shuffle on doc_id, bounded by
    document length) → distinct on (doc_id, fingerprint).
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    # Fan out before the k-gram explode (r15): the gram pass (slice +
    # concat + md5 per token position) is the query's dominant cost and
    # ran on the single-row-group scan's ONE partition — measured
    # 3.46-3.48 → 1.60-1.88 s at sf0.1.  Fingerprints are md5 strings
    # and the window re-shuffles by doc_id anyway, so partitioning
    # cannot change the relation.
    d = fan_out(load_tables(spark, sf_dir, "documents")["documents"])
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n")).filter(
        F.col("n") >= WINNOW_K
    )
    grams = base.select(
        "doc_id",
        "n",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - WINNOW_K),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("toks"), i + 1, WINNOW_K)
                ),
            )
        ).alias("pos", "gram"),
    ).select("doc_id", "n", "pos", F.md5(F.col("gram").cast("binary")).alias("gh"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    wins = grams.select(
        "doc_id",
        "pos",
        (F.col("n") - WINNOW_K + 1).alias("n_grams"),
        F.min("gh").over(w).alias("fingerprint"),
    )
    return (
        wins.filter(F.col("pos") <= F.col("n_grams") - WINNOW_W)
        .select("doc_id", "fingerprint")
        .distinct()
    )


# ---------------------------------------------------------------------------
# HTML boilerplate stripping / text extraction
# ---------------------------------------------------------------------------
# Web-crawl corpora arrive as HTML; stripping markup and unescaping entities
# is the first stage of every pretraining text pipeline.  The extractor is a
# fixed chain of regexp_replace/replace column expressions — JVM-side,
# whole-stage-codegen, scan-speed — and the E2E query synthesizes a page
# around each document (escape → wrap in boilerplate incl. <script>/<style>
# blocks) then proves the extractor recovers the exact original text, the
# same synthesize→decode pattern as the PNG/WAV/GIF codec queries.

# Boilerplate fragments shared by the Spark builder, the Spark extractor
# expectation, and the DuckDB oracle (single source of truth).
_HTML_NAV = '<nav><a href="/home">Home</a> &amp; <a href="/about">About</a></nav>'
_HTML_SCRIPT = '<script type="text/javascript">if (1 < 2) { SCRIPTLEAK(); }</script>'
_HTML_STYLE = "<style>p { color: STYLELEAK; }</style>"
_HTML_FOOTER = "<footer>&quot;fine print&quot; &amp; legal</footer>"
# what the nav/footer boilerplate yields after tag-strip + unescape
_HTML_PREFIX_TEXT = "Home & About"
_HTML_SUFFIX_TEXT = '"fine print" & legal'

# (pattern, replacement) chains.  ORDER MATTERS and is identical in both
# engines: escaping rewrites '&' FIRST (so later entities aren't
# double-escaped); unescaping rewrites '&amp;' LAST (so '&amp;lt;' from a
# literal '&lt;' in the source round-trips to '&lt;', not '<').
_HTML_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;")]
_HTML_UNESCAPES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_escape(col: Column) -> Column:
    for frm, to in _HTML_ESCAPES:
        col = F.replace(col, F.lit(frm), F.lit(to))
    return col


def synth_html_page(text: Column, title: Column) -> Column:
    """Deterministic HTML page wrapping ``text``: escaped title + body,
    nav/script/style/footer boilerplate — enough structure that a naive
    tag-strip without script/style handling or entity decoding fails."""
    return F.concat(
        F.lit("<html><head><title>"),
        html_escape(title),
        F.lit("</title>" + _HTML_STYLE + "</head><body>"),
        F.lit(_HTML_NAV + _HTML_SCRIPT + "<h1>"),
        html_escape(title),
        F.lit('</h1><p class="main">'),
        html_escape(text),
        F.lit("</p>" + _HTML_FOOTER + "</body></html>"),
    )


def html_extract_text(col: Column) -> Column:
    """Markup → plain text: drop <script>/<style> SUBTREES (their content
    is code, not prose — a tag-only strip would leak it), strip remaining
    tags, decode the minimal entity set, collapse whitespace.  Pure
    codegen'd expressions; no UDF, no parser state."""
    col = F.regexp_replace(col, r"(?s)<script[^>]*>.*?</script>", " ")
    col = F.regexp_replace(col, r"(?s)<style[^>]*>.*?</style>", " ")
    col = F.regexp_replace(col, r"<[^>]*>", " ")
    for frm, to in _HTML_UNESCAPES:
        col = F.replace(col, F.lit(frm), F.lit(to))
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def _duck_chain(expr: str, pairs) -> str:
    for frm, to in pairs:
        f = frm.replace("'", "''")
        t = to.replace("'", "''")
        expr = f"replace({expr}, '{f}', '{t}')"
    return expr


def _duck_escape(expr: str) -> str:
    return _duck_chain(expr, _HTML_ESCAPES)


def _duck_unescape(expr: str) -> str:
    return _duck_chain(expr, _HTML_UNESCAPES)


def _duck_synth_page() -> str:
    parts = [
        "'<html><head><title>'",
        _duck_escape("title"),
        "'" + ("</title>" + _HTML_STYLE + "</head><body>").replace("'", "''") + "'",
        "'" + (_HTML_NAV + _HTML_SCRIPT + "<h1>").replace("'", "''") + "'",
        _duck_escape("title"),
        "'</h1><p class=\"main\">'",
        _duck_escape("body"),
        "'" + ("</p>" + _HTML_FOOTER + "</body></html>").replace("'", "''") + "'",
    ]
    return " || ".join(parts)


def _duck_extract(expr: str) -> str:
    expr = f"regexp_replace({expr}, '(?s)<script[^>]*>.*?</script>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '(?s)<style[^>]*>.*?</style>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '<[^>]*>', ' ', 'g')"
    expr = _duck_unescape(expr)
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


@query(
    "html_extract_text",
    oracle=f"""
    WITH src AS (
        SELECT doc_id,
               'Document ' || CAST(doc_id AS VARCHAR) || ' <' || lang || '>'
                   AS title,
               text AS body
        FROM documents
    ),
    page AS (
        SELECT doc_id, title, body, {_duck_synth_page()} AS html FROM src
    ),
    ext AS (
        SELECT doc_id, title, body, html,
               {_duck_extract('html')} AS extracted
        FROM page
    )
    SELECT doc_id,
           CAST(length(html) AS BIGINT) AS html_len,
           CAST(length(extracted) AS BIGINT) AS extracted_len,
           md5(extracted) AS extracted_md5,
           extracted = trim(regexp_replace(
               title || ' {_HTML_PREFIX_TEXT.replace("'", "''")} '
               || title || ' '
               || body || ' {_HTML_SUFFIX_TEXT.replace("'", "''")}',
               '\\s+', ' ', 'g')) AS recovered_ok,
           NOT contains(extracted, 'SCRIPTLEAK')
               AND NOT contains(extracted, 'STYLELEAK') AS boilerplate_gone
    FROM ext
    """,
)
def html_extract_text_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→extract HTML E2E over every document: build a page with
    escaped text plus nav/script/style/footer boilerplate, run the
    extractor, and emit per-document digests plus two self-audits —
    ``recovered_ok`` (the extraction equals the expected plain text:
    title twice, original body, nav/footer prose, all whitespace-
    collapsed) and ``boilerplate_gone`` (no script/style content leaked).
    The DuckDB oracle rebuilds the identical page and extraction chain, so
    the driver hash-match pins every replace/regex in both engines.

    Plan: one narrow scan — synth, extract, and digest are a single
    codegen'd projection; no shuffle, no UDF.  At 100 TB this runs at
    parquet-scan speed with full column pruning (only doc_id/lang/text
    read)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    title = F.concat(
        F.lit("Document "),
        F.col("doc_id").cast("string"),
        F.lit(" <"),
        F.col("lang"),
        F.lit(">"),
    )
    page = synth_html_page(F.col("text"), title)
    extracted = html_extract_text(page)
    expected = F.trim(
        F.regexp_replace(
            F.concat(
                title,
                F.lit(" " + _HTML_PREFIX_TEXT + " "),
                title,
                F.lit(" "),
                F.col("text"),
                F.lit(" " + _HTML_SUFFIX_TEXT),
            ),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length(page).cast("bigint").alias("html_len"),
        F.length(extracted).cast("bigint").alias("extracted_len"),
        F.md5(extracted.cast("binary")).alias("extracted_md5"),
        (extracted == expected).alias("recovered_ok"),
        (
            ~F.contains(extracted, F.lit("SCRIPTLEAK"))
            & ~F.contains(extracted, F.lit("STYLELEAK"))
        ).alias("boilerplate_gone"),
    )


# ---------------------------------------------------------------------------
# per-source distribution drift: KL divergence + entropy
# ---------------------------------------------------------------------------


@query(
    "source_token_drift",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(trim(text), ' ')) AS tok
        FROM documents
    ),
    per_src AS (
        SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
    ),
    src_tot AS (
        SELECT source, SUM(c) AS ns FROM per_src GROUP BY source
    ),
    corpus AS (
        SELECT tok, SUM(c) AS cq FROM per_src GROUP BY tok
    ),
    corpus_tot AS (SELECT SUM(cq) AS nq FROM corpus),
    terms AS (
        SELECT p.source,
               -- p_s(t) * ln(p_s(t)/q(t)) and -p_s(t) * ln(p_s(t)),
               -- each quantized to 9 decimals BEFORE the sum (lm.py
               -- convention) so engine-order float addition cannot
               -- drift the per-source totals
               CAST(round(
                   (CAST(p.c AS DOUBLE) / s.ns)
                   * ln((CAST(p.c AS DOUBLE) / s.ns)
                        / (CAST(q.cq AS DOUBLE) / t.nq)), 9)
                   AS DECIMAL(28,9)) AS kl_term,
               CAST(round(
                   -(CAST(p.c AS DOUBLE) / s.ns)
                   * ln(CAST(p.c AS DOUBLE) / s.ns), 9)
                   AS DECIMAL(28,9)) AS ent_term
        FROM per_src p
        JOIN src_tot s ON p.source = s.source
        JOIN corpus q ON p.tok = q.tok
        CROSS JOIN corpus_tot t
    )
    SELECT source,
           CAST(SUM(kl_term) AS DOUBLE) AS kl_from_corpus,
           CAST(SUM(ent_term) AS DOUBLE) AS entropy
    FROM terms GROUP BY source
    """,
)
def source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(P_source || P_corpus) over the
    token distributions, plus each source's Shannon entropy — the
    screen that catches a contaminated / off-domain / template source
    before it pollutes a training mix (drifted sources show high KL;
    template sources show collapsed entropy).

    KL is finite by construction: every source token exists in the
    corpus distribution (Q is the mixture of all sources), so q(t) > 0
    wherever p(t) > 0 — no smoothing needed.

    Shapes: one (source, token) aggregation — bounded by sources x
    vocabulary, partial-combined map-side — then source-keyed and
    token-keyed rollups of that SMALL relation; the corpus total joins
    as a broadcast one-row aggregate.  No token row crosses the wire
    un-combined (the lexical_diversity contract above).  Each log term
    is quantized to 9 decimals and summed as exact DECIMAL(28,9) — the
    lm.py convention — so both engines aggregate in any order and still
    emit the identical doubles."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    per_src = (
        d.select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    src_tot = per_src.groupBy("source").agg(F.sum("c").alias("ns"))
    corpus = per_src.groupBy("tok").agg(F.sum("c").alias("cq"))
    corpus_tot = corpus.agg(F.sum("cq").alias("nq"))
    p = F.col("c").cast("double") / F.col("ns")
    q = F.col("cq").cast("double") / F.col("nq")
    kl_term = F.round(p * F.log(p / q), 9).cast("decimal(28,9)")
    ent_term = F.round(-p * F.log(p), 9).cast("decimal(28,9)")
    return (
        per_src.join(src_tot, "source")
        .join(corpus, "tok")
        .crossJoin(F.broadcast(corpus_tot))
        .select("source", kl_term.alias("kl_term"), ent_term.alias("ent_term"))
        .groupBy("source")
        .agg(
            F.sum("kl_term").cast("double").alias("kl_from_corpus"),
            F.sum("ent_term").cast("double").alias("entropy"),
        )
    )


# ---------------------------------------------------------------------------
# conjunctive boolean retrieval
# ---------------------------------------------------------------------------

# AND-query terms: chosen for selectivity structure at the test scales —
# "dup" hits ~5% of docs, the others ~75%, so the conjunction keeps a
# nonempty minority and every predicate actually prunes.
SEARCH_TERMS = ("dup", "fast", "key")


@query(
    "conjunctive_term_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    hits AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM tok
        WHERE tok IN {SEARCH_TERMS!r}
        GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_occurrences
    FROM hits
    GROUP BY doc_id
    HAVING COUNT(*) = {len(SEARCH_TERMS)}
    """,
)
def conjunctive_term_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND retrieval: documents containing EVERY query term, with
    the total occurrence count of the terms (the selection stage a
    keyword-filtered corpus slice or a boolean pre-filter before BM25
    ranking runs).

    Spark-first shape: no materialized inverted index — the term set
    pushes into the scan as an ``IN`` filter on the exploded tokens
    (whole-stage codegen; everything not matching a query term dies
    before any exchange), then ONE doc-keyed partial-combined aggregate
    counts distinct matched terms and keeps docs matching all of them.
    This beats the textbook df-ascending posting-list semi-join chain on
    Spark whenever the index would be built from the same scan (one pass
    either way, and the chain's K−1 joins become a single aggregate); a
    PREBUILT posting index would instead start from its (term, doc)
    relation — same aggregate, no scan.  Integer-exact throughout."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok").isin(*SEARCH_TERMS))
    return (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("c").cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_terms") == len(SEARCH_TERMS))
        .select("doc_id", "n_occurrences")
    )


# Phrase query for the positional path: adjacent-token match, present in
# ~9% of docs at the test scales with both 1- and 2-occurrence documents.
PHRASE_TERMS = ("table", "hash")


@query(
    "phrase_search_positions",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, unnest(range(1, len(toks))) AS i, toks
        FROM t
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM pos
    WHERE toks[i] = '{PHRASE_TERMS[0]}' AND toks[i + 1] = '{PHRASE_TERMS[1]}'
    GROUP BY doc_id
    """,
)
def phrase_search_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval via POSITIONAL postings — the capability
    boolean AND (``conjunctive_term_search`` above) cannot express:
    "table hash" must match only ADJACENT occurrences, so the index
    needs token positions, not just memberships.

    Spark-first: ``posexplode`` emits (doc_id, pos, tok); each phrase
    term's posting stream is filtered AT THE SCAN (only the two query
    terms survive into the join), and adjacency is one equi-join keyed
    (doc_id, pos + 1) = (doc_id, pos) — the standard positional-index
    intersect, shuffling only the two terms' postings, never the corpus.
    K-term phrases chain K−1 of these joins, rarest term first.
    Integer-exact counts hash-match the array-indexing oracle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    posts = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("pos", "tok"),
    )
    p0 = posts.filter(F.col("tok") == PHRASE_TERMS[0]).select(
        "doc_id", (F.col("pos") + 1).alias("next_pos")
    )
    p1 = posts.filter(F.col("tok") == PHRASE_TERMS[1]).select(
        "doc_id", F.col("pos").alias("next_pos")
    )
    return (
        p0.join(p1, ["doc_id", "next_pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


# ---------------------------------------------------------------------------
# compression-ratio quality signal (zlib)
# ---------------------------------------------------------------------------

ZLIB_LEVEL = 6  # zlib default — fixed so the signal is run-reproducible
REPETITIVE_RATIO = 0.35  # below this the text is mostly self-similar


@query("compression_ratio_quality")  # no SQL engine exposes zlib — parity
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    "boilerplate/repetition" quality signal (used alongside the Gopher
    battery in public web-corpus pipelines: text that compresses far
    below natural-language entropy is template spam, repeated
    navigation, or degenerate generation).

    ``compression_ratio = deflate_len / raw_utf8_len`` at the fixed
    ``ZLIB_LEVEL``; ``repetitive`` flags documents under
    ``REPETITIVE_RATIO``.  One narrow Arrow ``mapInPandas`` pass —
    CPU-bound per byte with zero shuffle, so at 100 TB it scales exactly
    like the decode kernels (linear, partition-parallel, no skew beyond
    document length).  Oracle-less: SQL engines expose no deflate;
    ``tests/test_round10_ops.py`` pins exact byte counts against direct
    ``zlib`` on every fixture doc."""
    d = load_tables(spark, sf_dir, "documents")["documents"]

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415
        import zlib  # noqa: PLC0415

        for pdf in batches:
            raw = [str(t).encode("utf-8") for t in pdf["text"]]
            zlens = [len(zlib.compress(b, ZLIB_LEVEL)) for b in raw]
            rlens = [len(b) for b in raw]
            ratio = [
                (z / r) if r else 1.0 for z, r in zip(zlens, rlens)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "raw_len": pd.Series(rlens, dtype="int64"),
                    "zlib_len": pd.Series(zlens, dtype="int64"),
                    "compression_ratio": pd.Series(ratio, dtype="float64"),
                    "repetitive": pd.Series(
                        [x < REPETITIVE_RATIO for x in ratio], dtype="bool"
                    ),
                }
            )

    return fan_out(d.select("doc_id", "text")).mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, raw_len bigint, zlib_len bigint, "
            "compression_ratio double, repetitive boolean"
        ),
    )


@query(
    "readability_scores",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> length(x) >= 7)) AS BIGINT) AS lw,
               CAST(len(regexp_extract_all(text, '[aeiou]+'))
                    AS BIGINT) AS v,
               4 + doc_id % 5 AS sent_len
        FROM documents
    ),
    base AS (
        SELECT doc_id, w, lw, v,
               CAST((w + sent_len - 1) // sent_len AS BIGINT) AS s
        FROM toks
    )
    SELECT doc_id, w AS n_words, s AS n_sentences,
           v AS n_vowel_groups, lw AS n_long_words,
           CAST(w AS DOUBLE) / s AS words_per_sentence,
           CAST(v AS DOUBLE) / w AS vowel_groups_per_word,
           CASE WHEN 206835 * s * w - 1015 * w * w - 84600 * v * s
                     >= 85000 * s * w THEN 'easy'
                WHEN 206835 * s * w - 1015 * w * w - 84600 * v * s
                     >= 78000 * s * w THEN 'medium'
                ELSE 'hard' END AS flesch_band,
           CASE WHEN w * w + 100 * lw * s < 7 * s * w THEN 'easy'
                WHEN w * w + 100 * lw * s < 11 * s * w THEN 'medium'
                ELSE 'hard' END AS lix_band
    FROM base
    """,
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability banding — the classic text-quality signals (Flesch
    reading ease, LIX) used to stratify pretraining corpora by
    difficulty.  Measured parts: word count (ASCII-space split),
    vowel-group count (the standard syllable proxy: maximal ``[aeiou]+``
    runs via ``regexp_count``), and long-word count (≥7 chars, the LIX
    numerator).  The corpus carries no sentence punctuation, so sentence
    count is the deterministic every-L-words segmentation (L = 4 +
    doc_id % 5), computed as an integer ceiling in both engines.
    Band cutoffs (Flesch 85/78, LIX 7/11) sit at this corpus's score
    terciles so every band is non-vacuous at every scale — the
    canonical 60/30 Flesch cutoffs would label the whole short-word
    corpus easy.

    Every BAND decision is an integer comparison: Flesch ≥ t ⇔
    206835·s·w − 1015·w² − 84600·v·s ≥ 1000·t·s·w (the formula
    cross-multiplied by s·w and scaled by 1000), LIX ≥ t ⇔
    w² + 100·lw·s ≥ t·s·w — the gopher_quality_filter convention: no
    float ever participates in a threshold, and the reported ratios are
    single IEEE divisions of the same integers.  Narrow projection,
    zero shuffle, zero UDFs (split/filter/regexp_count are all
    codegen'd)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = F.split(F.col("text"), " ")
    w = F.size(words).cast("long")
    lw = F.size(F.filter(words, lambda x: F.length(x) >= 7)).cast("long")
    v = F.regexp_count(F.col("text"), F.lit("[aeiou]+")).cast("long")
    sent_len = (F.lit(4) + F.col("doc_id") % 5).cast("long")
    # ceil(w / L) with an EXACT division: the numerator is made
    # divisible by L first (Spark's `/` is double division; dividing a
    # divisible int by its divisor is exact), then +1
    s = (((w - 1 - ((w - 1) % sent_len)) / sent_len).cast("long")
         + F.lit(1))
    flesch_lhs = (
        F.lit(206835) * s * w - F.lit(1015) * w * w - F.lit(84600) * v * s
    )
    lix_lhs = w * w + F.lit(100) * lw * s
    return d.select(
        "doc_id",
        w.alias("n_words"),
        s.alias("n_sentences"),
        v.alias("n_vowel_groups"),
        lw.alias("n_long_words"),
        (w.cast("double") / s).alias("words_per_sentence"),
        (v.cast("double") / w).alias("vowel_groups_per_word"),
        F.when(flesch_lhs >= F.lit(85000) * s * w, "easy")
        .when(flesch_lhs >= F.lit(78000) * s * w, "medium")
        .otherwise("hard").alias("flesch_band"),
        F.when(lix_lhs < F.lit(7) * s * w, "easy")
        .when(lix_lhs < F.lit(11) * s * w, "medium")
        .otherwise("hard").alias("lix_band"),
    )


_RAKE_STOPWORDS = ("the", "a")


@query(
    "rake_keyword_scores",
    oracle="""
    WITH lsts AS (
        SELECT doc_id, string_split(text, ' ') AS lst FROM documents
    ),
    toks AS (
        SELECT doc_id, lst[i] AS w, i AS pos
        FROM lsts, range(1, 4096) t(i)
        WHERE i <= len(lst)
    ),
    marked AS (
        SELECT doc_id, w, pos,
               CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END AS stop
        FROM toks
    ),
    phrased AS (
        SELECT doc_id, w, stop,
               SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS phrase_id
        FROM marked
    ),
    members AS (
        SELECT doc_id, phrase_id, w,
               COUNT(*) OVER (PARTITION BY doc_id, phrase_id)
                   AS phrase_len
        FROM phrased WHERE stop = 0
    )
    SELECT w AS word,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(phrase_len) AS BIGINT) AS degree,
           CAST(SUM(phrase_len) AS DOUBLE) / COUNT(*) AS score
    FROM members
    GROUP BY w
    ORDER BY score DESC, word ASC
    LIMIT 25
    """,
)
def rake_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al. 2010) — the unsupervised
    keyword extractor curation pipelines use for topic tagging:
    candidate phrases are maximal stopword-free token runs; each word
    scores degree/frequency, where degree sums the lengths of the
    phrases it appears in (words living in long phrases beat equally
    frequent words living alone).  The stopword set is the corpus's
    article tokens.  Both engines build the identical phrase structure
    (per-doc running stopword count = phrase id — the c4_line_filter
    reconstruction convention), so freq/degree are integer-exact and
    the score is one IEEE division; top-25 by (score, word) is
    deterministic.  One explode + two window-free aggregates after a
    per-doc window; the shuffle keys are (doc, phrase) then word —
    both standard token-count shapes."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    from pyspark.sql import Window  # noqa: PLC0415

    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).withColumn(
        "stop", F.col("w").isin(*_RAKE_STOPWORDS).cast("int")
    )
    win = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, 0)
    phrased = toks.withColumn("phrase_id", F.sum("stop").over(win)) \
        .filter(F.col("stop") == 0)
    members = phrased.withColumn(
        "phrase_len",
        F.count(F.lit(1)).over(
            Window.partitionBy("doc_id", "phrase_id")),
    )
    return (
        members.groupBy(F.col("w").alias("word"))
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("phrase_len").alias("degree"),
            (F.sum("phrase_len").cast("double") / F.count(F.lit(1)))
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("word"))
        .limit(25)
    )

"""Corpus-cleaning operators: C4-style line filtering, corpus-wide
line-level deduplication, Aho–Corasick multi-keyword tagging, and greedy
sequence packing — the text-cleaning band of a pretraining-data pipeline
(C4 / Raffel et al. 2020; Gopher rules; the packing stage every trainer
runs before batching).

The synthetic ``documents`` corpus is single-space word salad with no
newlines or punctuation, so (pii_scrub convention, text.py) the line
structure is *constructed deterministically* from (doc_id, word index)
inside BOTH engines: the words are chunked into fixed-width lines and a
seeded subset of lines is decorated (terminal period, an appended
``javascript`` token, a truncated too-short line) so every C4 rule fires
non-vacuously.  The construction is pure column algebra on each side —
the thing under test is the FILTER/DEDUP/PACKING relation, which both
engines must reproduce bit-for-bit.

Scale notes are per-operator; none of these shapes materializes an
all-pairs relation or a driver-side loop over data.

The reference (/root/reference/ncd/) has no text-cleaning surface; this
extends the build brief's LLM-pipeline band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import fan_out, query
from national_caseload_data_ingest_spark.session import load_tables

# ---------------------------------------------------------------------------
# shared deterministic line construction (documented above)
# ---------------------------------------------------------------------------

C4_LINE_WORDS = 6  # words per constructed line (C4 filter)
DEDUP_LINE_WORDS = 3  # shorter lines -> real cross-doc collisions (dedup)


def _lines_expr(words_per_line: int, decorate: bool):
    """Spark column: array of constructed lines for one document row.

    Line ``i`` is words ``[i*w, i*w + w)`` joined by a space; with
    ``decorate`` (the C4 query), three seeded rules fire:

    * ``(doc_id*31 + i) % 11 == 0`` — truncate to the first 2 words
      (the too-short line C4's >=3-words rule rejects);
    * ``(doc_id + i) % 7 == 0`` — append the token ``javascript``
      (C4 drops any line containing it);
    * ``(doc_id + i) % 3 != 0`` — append a terminal ``.`` (C4 keeps
      only lines ending in terminal punctuation, so the ``== 0`` third
      stays bare and is rejected).
    """
    ws = F.split(F.trim(F.col("text")), " ")
    n_lines = F.ceil(F.size(ws) / F.lit(float(words_per_line))).cast("int")
    idx = F.sequence(F.lit(0), n_lines - 1)

    def build(i):
        base = F.array_join(
            F.slice(ws, i * words_per_line + 1, words_per_line), " "
        )
        if not decorate:
            return base
        short = F.array_join(F.slice(ws, i * words_per_line + 1, 2), " ")
        line = F.when((F.col("doc_id") * 31 + i) % 11 == 0, short).otherwise(
            base
        )
        line = F.when(
            (F.col("doc_id") + i) % 7 == 0, F.concat(line, F.lit(" javascript"))
        ).otherwise(line)
        return F.when(
            (F.col("doc_id") + i) % 3 != 0, F.concat(line, F.lit("."))
        ).otherwise(line)

    return F.transform(idx, build)


def _lines_sql(words_per_line: int, decorate: bool) -> str:
    """DuckDB twin of :func:`_lines_expr`: a ``(doc_id, i, line)``
    relation named ``lines`` (callers prepend ``WITH``)."""
    w = words_per_line
    base = f"array_to_string(ws[i*{w}+1 : i*{w}+{w}], ' ')"
    if decorate:
        short = f"array_to_string(ws[i*{w}+1 : i*{w}+2], ' ')"
        line = f"""
            CASE WHEN (doc_id + i) % 3 != 0 THEN
                CASE WHEN (doc_id + i) % 7 = 0
                     THEN (CASE WHEN (doc_id*31 + i) % 11 = 0 THEN {short}
                                ELSE {base} END) || ' javascript'
                     ELSE (CASE WHEN (doc_id*31 + i) % 11 = 0 THEN {short}
                                ELSE {base} END) END || '.'
            ELSE
                CASE WHEN (doc_id + i) % 7 = 0
                     THEN (CASE WHEN (doc_id*31 + i) % 11 = 0 THEN {short}
                                ELSE {base} END) || ' javascript'
                     ELSE (CASE WHEN (doc_id*31 + i) % 11 = 0 THEN {short}
                                ELSE {base} END) END
            END"""
    else:
        line = base
    return f"""
    wsplit AS (
        SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
    ),
    lines AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS i, {line} AS line
        FROM wsplit,
             unnest(range(0, CAST(ceil(len(ws) / {float(w)}) AS BIGINT)))
                 AS t(i)
    )"""


# ---------------------------------------------------------------------------
# C4-style line filter
# ---------------------------------------------------------------------------

C4_MIN_WORDS = 3  # C4 keeps lines with at least this many words
C4_MIN_KEPT_LINES = 3  # C4 drops pages with fewer surviving lines


@query(
    "c4_line_filter",
    oracle=f"""
    WITH {_lines_sql(C4_LINE_WORDS, decorate=True)},
    judged AS (
        SELECT doc_id, line,
               (line LIKE '%.'
                AND length(line) - length(replace(line, ' ', '')) + 1
                    >= {C4_MIN_WORDS}
                AND line NOT LIKE '%javascript%') AS keep
        FROM lines
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN length(line) ELSE 0 END) AS BIGINT)
               AS kept_chars,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
                    >= {C4_MIN_KEPT_LINES} AS INTEGER) AS doc_kept
    FROM judged
    GROUP BY doc_id
    """,
)
def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cleaning (Raffel et al. 2020 §2.2), line rules over the
    constructed line structure: keep a line only if it ends in terminal
    punctuation, has >= {C4_MIN_WORDS} words, and does not contain
    ``javascript``; keep a document only if >= {C4_MIN_KEPT_LINES} lines
    survive.

    Shape: one narrow projection builds the line array per document,
    ``posexplode`` + a codegen filter judges each line, one
    ``groupBy(doc_id)`` re-aggregates.  No UDF anywhere; the explode is
    within-row (array of ~n_words/6 lines), so the single shuffle is the
    doc-keyed aggregation — at 100 TB this partitions by doc_id with no
    skew (every document contributes the same O(words) rows)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    lines = d.select(
        "doc_id", F.posexplode(_lines_expr(C4_LINE_WORDS, True)).alias("i", "line")
    )
    n_words = (
        F.length("line") - F.length(F.regexp_replace("line", " ", "")) + 1
    )
    keep = (
        F.col("line").endswith(".")
        & (n_words >= C4_MIN_WORDS)
        & ~F.col("line").contains("javascript")
    )
    return lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_lines"),
        F.sum(keep.cast("int")).cast("int").alias("n_kept"),
        F.sum(F.when(keep, F.length("line")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        (F.sum(keep.cast("int")) >= C4_MIN_KEPT_LINES)
        .cast("int")
        .alias("doc_kept"),
    )


# ---------------------------------------------------------------------------
# corpus-wide line-level dedup
# ---------------------------------------------------------------------------


@query(
    "line_dedup_survivors",
    oracle=f"""
    WITH {_lines_sql(DEDUP_LINE_WORDS, decorate=False)},
    keyed AS (
        SELECT doc_id, i, line, doc_id * 1000000 + i AS occ_key
        FROM lines
    ),
    firsts AS (
        SELECT line, MIN(occ_key) AS first_key, COUNT(*) AS copies
        FROM keyed GROUP BY line
    )
    SELECT k.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_lines,
           CAST(SUM(CASE WHEN k.occ_key = f.first_key THEN 1 ELSE 0 END)
                AS INTEGER) AS n_surviving,
           CAST(SUM(CASE WHEN f.copies > 1 THEN 1 ELSE 0 END) AS INTEGER)
               AS n_duplicated
    FROM keyed k JOIN firsts f ON k.line = f.line
    GROUP BY k.doc_id
    """,
)
def line_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact line deduplication (the line-level half of C4's
    span dedup): across ALL documents, every distinct line keeps exactly
    one survivor occurrence — the smallest ``(doc_id, line_index)`` —
    and the per-document report counts its total / surviving /
    duplicated-somewhere lines.

    Shape: explode to the line relation once, one ``groupBy(line)`` to
    pick the global survivor key and copy count, one line-keyed join
    back, one doc-keyed re-aggregation — two shuffles on the line hash,
    one on doc_id.  At 100 TB the line-keyed shuffle is the canonical
    exact-dedup shape (same as ``dedup_exact``); boilerplate lines that
    repeat millions of times skew the line key, and the groupBy side is
    a pure aggregation (partial combine absorbs the skew map-side).
    Uses the undecorated {DEDUP_LINE_WORDS}-word construction: ~19% of
    lines have a cross-document twin at sf0.01, so the relation is
    non-vacuous."""
    # Fan out before the line explode (r15): the line relation is built
    # on the single-row-group scan's ONE partition and feeds two
    # branches (survivor groupBy + the join probe) — both serialized on
    # one core without it.  Every aggregate here is integer, so
    # partitioning cannot change the relation.
    keyed = fan_out(
        load_tables(spark, sf_dir, "documents")["documents"]
    ).select(
        "doc_id",
        F.posexplode(_lines_expr(DEDUP_LINE_WORDS, False)).alias("i", "line"),
    ).withColumn("occ_key", F.col("doc_id") * 1000000 + F.col("i"))
    firsts = keyed.groupBy("line").agg(
        F.min("occ_key").alias("first_key"),
        F.count(F.lit(1)).alias("copies"),
    )
    return (
        keyed.join(firsts, "line")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.sum((F.col("occ_key") == F.col("first_key")).cast("int"))
            .cast("int")
            .alias("n_surviving"),
            F.sum((F.col("copies") > 1).cast("int"))
            .cast("int")
            .alias("n_duplicated"),
        )
    )


# ---------------------------------------------------------------------------
# Aho–Corasick multi-keyword tagging
# ---------------------------------------------------------------------------

# Deliberately overlapping/nested patterns: 'windo' is a prefix of
# 'window', 'able' is inside 'table', 'alue' inside 'value' — these only
# count correctly if the automaton follows dict-suffix links, which is
# exactly what the oracle's per-pattern substring counts verify.
KEYWORDS = (
    "scan",
    "spark",
    "join",
    "filter",
    "row",
    "window",
    "windo",
    "table",
    "able",
    "value",
    "alue",
    "key",
)


def _build_aho_corasick(patterns):
    """Build an Aho–Corasick automaton as flat dicts (goto, fail,
    output-counts) — stdlib only.  Matching a text of length n costs
    O(n + matches) regardless of pattern count; the automaton for a
    realistic blocklist (thousands of phrases) is a few MB, shipped once
    per executor inside the task closure."""
    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for pi, p in enumerate(patterns):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(pi)
    # BFS failure links; merge output sets along them (dict-suffix links)
    from collections import deque

    fail = [0] * len(goto)
    dq = deque()
    for ch, s in goto[0].items():
        dq.append(s)
    while dq:
        r = dq.popleft()
        for ch, s in goto[r].items():
            dq.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != s else 0
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def _oracle_keyword_terms() -> tuple[str, str]:
    hits = " + ".join(
        f"(length(text) - length(replace(text, '{p}', ''))) // {len(p)}"
        for p in KEYWORDS
    )
    distinct = " + ".join(
        f"CASE WHEN text LIKE '%{p}%' THEN 1 ELSE 0 END" for p in KEYWORDS
    )
    return hits, distinct


_HITS_SQL, _DISTINCT_SQL = _oracle_keyword_terms()


@query(
    "keyword_tag_docs",
    oracle=f"""
    SELECT doc_id,
           CAST({_HITS_SQL} AS BIGINT) AS total_hits,
           CAST({_DISTINCT_SQL} AS INTEGER) AS distinct_patterns
    FROM documents
    """,
)
def keyword_tag_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern keyword tagging via one Aho–Corasick pass — the
    blocklist / topic-tagging stage of a corpus pipeline, where scanning
    each document once against thousands of patterns beats per-pattern
    ``contains`` by the pattern count.

    Counts every occurrence of every pattern (overlaps and nested
    patterns included — see KEYWORDS) plus the distinct-pattern tally.
    The oracle restates the same totals as per-pattern substring counts,
    so a broken failure/output link in the automaton hash-mismatches.

    Shape: ``mapInPandas`` (Arrow-batched); the automaton is built once
    per task from the closure-shipped pattern list.  Per-doc cost is
    O(n_chars + matches), embarrassingly parallel, no shuffle at all."""
    import pandas as pd  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]
    patterns = KEYWORDS

    def kernel(batches):
        goto, fail, out = _build_aho_corasick(patterns)
        for pdf in batches:
            totals, distincts = [], []
            for text in pdf["text"]:
                s = 0
                total = 0
                seen: set[int] = set()
                for ch in text:
                    while s and ch not in goto[s]:
                        s = fail[s]
                    s = goto[s].get(ch, 0)
                    hits = out[s]
                    if hits:
                        total += len(hits)
                        seen.update(hits)
                totals.append(total)
                distincts.append(len(seen))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "total_hits": pd.Series(totals, dtype="int64"),
                    "distinct_patterns": pd.Series(distincts, dtype="int32"),
                }
            )

    return fan_out(d.select("doc_id", "text")).mapInPandas(
        kernel, schema="doc_id bigint, total_hits bigint, distinct_patterns int"
    )


# ---------------------------------------------------------------------------
# greedy sequence packing
# ---------------------------------------------------------------------------

PACK_CAPACITY = 120  # tokens per packed sequence (context-window budget)


@query(
    "sequence_pack_docs",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, source,
               len(string_split(trim(text), ' ')) AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                   AS rk
        FROM documents
    ),
    pack AS (
        SELECT doc_id, source, n_tokens, rk,
               0 AS bin_id, n_tokens AS bin_fill
        FROM toks WHERE rk = 1
        UNION ALL
        SELECT t.doc_id, t.source, t.n_tokens, t.rk,
               CASE WHEN p.bin_fill + t.n_tokens <= {PACK_CAPACITY}
                    THEN p.bin_id ELSE p.bin_id + 1 END,
               CASE WHEN p.bin_fill + t.n_tokens <= {PACK_CAPACITY}
                    THEN p.bin_fill + t.n_tokens ELSE t.n_tokens END
        FROM pack p JOIN toks t
          ON t.source = p.source AND t.rk = p.rk + 1
    )
    SELECT doc_id, source,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(bin_id AS INTEGER) AS bin_id,
           CAST(bin_fill AS INTEGER) AS bin_fill
    FROM pack
    """,
)
def sequence_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing: within each source, documents in
    doc_id order fill a {PACK_CAPACITY}-token context window; a document
    that would overflow the current window opens the next one (an
    oversized document gets a window to itself).  This is the packing
    stage that turns a cleaned corpus into fixed-budget training
    sequences; next-fit (vs first-fit-decreasing) is the streaming-
    friendly variant whose state is a single (bin, fill) pair.

    The packing recurrence is inherently sequential per source, so the
    Spark shape is ``applyInPandas`` per source group — state never
    leaves the executor, one shuffle on the source key.  At 100 TB a
    single source can exceed one task: the documented remedy is
    hierarchical packing (pre-shard each source by doc_id range, pack
    shards independently, renumber bins by shard offset — same recurrence,
    one extra constant column), not a bigger task.  The oracle replays
    the identical state machine as a recursive CTE (the ADPCM-decoder
    convention, audio.py)."""
    import pandas as pd  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fills = [], []
        bin_id, fill = 0, 0
        first = True
        for t in pdf["n_tokens"]:
            t = int(t)
            if first:
                bin_id, fill, first = 0, t, False
            elif fill + t <= PACK_CAPACITY:
                fill += t
            else:
                bin_id += 1
                fill = t
            bins.append(bin_id)
            fills.append(fill)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "source": pdf["source"],
                "n_tokens": pdf["n_tokens"].astype("int32"),
                "bin_id": pd.Series(bins, dtype="int32"),
                "bin_fill": pd.Series(fills, dtype="int32"),
            }
        )

    return toks.groupBy("source").applyInPandas(
        pack,
        schema=(
            "doc_id bigint, source string, n_tokens int, "
            "bin_id int, bin_fill int"
        ),
    )


# ---------------------------------------------------------------------------
# Unicode NFC normalization
# ---------------------------------------------------------------------------

# Deterministic injection (the pii_scrub convention, text.py): the
# synthetic corpus is pure ASCII, so every 3rd document gains a DECOMPOSED
# suffix (e + U+0301 combining acute), every 3rd+1 the PRECOMPOSED
# equivalent (U+00E9), and the rest stay ASCII — NFC must collapse the
# first class, fix nothing in the second, and leave the third alone.
NFC_DECOMPOSED_SUFFIX = " cafe\u0301"  # e + COMBINING ACUTE ACCENT
NFC_PRECOMPOSED_SUFFIX = " caf\u00e9"  # LATIN SMALL LETTER E WITH ACUTE


@query(
    "nfc_normalize_docs",
    oracle="""
    WITH decorated AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                        THEN text || ' caf' || 'e' || chr(769)
                    WHEN doc_id % 3 = 1
                        THEN text || ' caf' || chr(233)
                    ELSE text END AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS len_raw,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
           CAST(nfc_normalize(raw) != raw AS INTEGER) AS changed,
           substr(nfc_normalize(raw), length(nfc_normalize(raw)), 1)
               AS last_char
    FROM decorated
    """,
)
def nfc_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization step a
    multilingual corpus needs before ANY exact dedup or tokenization
    (decomposed ``e`` + COMBINING ACUTE and precomposed ``é`` are equal
    text but different byte strings; unnormalized they defeat hash
    dedup and split token statistics).

    Per document: character lengths before/after, whether NFC changed
    the string, and the final character (é for both injected classes —
    composed from two codepoints in one, already composed in the other).
    Python's ``unicodedata.normalize('NFC', ...)`` and DuckDB's
    ``nfc_normalize`` implement the same Unicode algorithm, so the
    relation hash-matches.  Narrow ``mapInPandas`` pass, no shuffle;
    at 100 TB this pipelines with the scan."""
    import pandas as pd  # noqa: PLC0415
    import unicodedata  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]
    decorated = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(NFC_DECOMPOSED_SUFFIX)),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.col("text"), F.lit(NFC_PRECOMPOSED_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("raw"),
    )

    def kernel(batches):
        for pdf in batches:
            nfc = [unicodedata.normalize("NFC", t) for t in pdf["raw"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "len_raw": pd.Series(
                        [len(t) for t in pdf["raw"]], dtype="int64"
                    ),
                    "len_nfc": pd.Series([len(t) for t in nfc], dtype="int64"),
                    "changed": pd.Series(
                        [int(a != b) for a, b in zip(nfc, pdf["raw"])],
                        dtype="int32",
                    ),
                    "last_char": pd.Series([t[-1] for t in nfc]),
                }
            )

    return fan_out(decorated).mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, len_raw bigint, len_nfc bigint, "
            "changed int, last_char string"
        ),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 90
GOPHER_MIN_MEAN_LEN = 4  # integer cross-multiplied: letters >= 4 * n_words
GOPHER_MAX_MEAN_LEN = 10
GOPHER_TOP_BIGRAM_PCT = 18  # top-bigram chars <= 18% of document chars
GOPHER_DUP_BIGRAM_PCT = 15  # duplicated-bigram chars <= 15% of document chars


@query(
    "gopher_quality_filter",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source,
               length(trim(text)) AS nc,
               len(string_split(trim(text), ' ')) AS nw,
               string_split(trim(text), ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT b.doc_id, b.ws[t.i] || ' ' || b.ws[t.i + 1] AS g
        FROM base b, unnest(range(1, b.nw)) AS t(i)
        WHERE b.nw >= 2
    ),
    gc AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(length(g) AS BIGINT) AS glen
        FROM grams GROUP BY 1, 2
    ),
    rep AS (
        SELECT doc_id,
               CAST(MAX(cnt * glen) AS BIGINT) AS top_chars,
               CAST(SUM(CASE WHEN cnt > 1 THEN (cnt - 1) * glen
                             ELSE 0 END) AS BIGINT) AS dup_chars
        FROM gc GROUP BY 1
    )
    SELECT b.doc_id, b.source,
           CAST(b.nw AS INTEGER) AS n_words,
           CAST(b.nc - (b.nw - 1) AS DOUBLE) / b.nw AS mean_word_len,
           CAST(COALESCE(r.top_chars, 0) AS DOUBLE) / b.nc AS top_bigram_frac,
           CAST(COALESCE(r.dup_chars, 0) AS DOUBLE) / b.nc AS dup_bigram_frac,
           CAST(b.nw BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AS INTEGER) AS r_wordcount,
           CAST(b.nc - (b.nw - 1) >= {GOPHER_MIN_MEAN_LEN} * b.nw
                AND b.nc - (b.nw - 1) <= {GOPHER_MAX_MEAN_LEN} * b.nw
                AS INTEGER) AS r_mean_len,
           CAST(list_contains(b.ws, 'a') AND list_contains(b.ws, 'the')
                AS INTEGER) AS r_stopwords,
           CAST(100 * COALESCE(r.top_chars, 0) <= {GOPHER_TOP_BIGRAM_PCT} * b.nc
                AS INTEGER) AS r_top_bigram,
           CAST(100 * COALESCE(r.dup_chars, 0) <= {GOPHER_DUP_BIGRAM_PCT} * b.nc
                AS INTEGER) AS r_dup_bigram,
           CAST(b.nw BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND b.nc - (b.nw - 1) >= {GOPHER_MIN_MEAN_LEN} * b.nw
                AND b.nc - (b.nw - 1) <= {GOPHER_MAX_MEAN_LEN} * b.nw
                AND list_contains(b.ws, 'a') AND list_contains(b.ws, 'the')
                AND 100 * COALESCE(r.top_chars, 0)
                    <= {GOPHER_TOP_BIGRAM_PCT} * b.nc
                AND 100 * COALESCE(r.dup_chars, 0)
                    <= {GOPHER_DUP_BIGRAM_PCT} * b.nc
                AS INTEGER) AS kept
    FROM base b LEFT JOIN rep r USING (doc_id)
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, MassiveText
    filtering, Table A1), adapted to the synthetic corpus: word-count
    bounds, mean-word-length bounds, a function-word requirement, and the
    two repetition rules (characters inside the most frequent word bigram
    and inside duplicated bigrams, as fractions of document characters).
    Emits one row per document with each rule's verdict plus the combined
    ``kept`` flag, so the filter is a plain threshold scan downstream and
    per-rule rejection rates are one aggregation away.

    Adaptations (documented, not hidden): the stop-word set is {{'a',
    'the'}} (the only function words the 31-word synthetic vocabulary
    contains) with BOTH required, standing in for Gopher's >=2-of-8 rule;
    thresholds are tuned so every rule fires non-vacuously at the test
    scales (word count 10-99, mean word length 3.7-5.3, top-bigram
    fraction up to 0.33 measured at sf0.01).

    Exactness: every rule compares cross-multiplied exact integers (no
    float threshold can land on a boundary); the emitted fractions are
    single IEEE divisions of those same integers, so both engines agree
    bit-for-bit.

    Shape: one narrow projection computes the per-doc scalars; the bigram
    explode is within-row; the repetition stats are a (doc_id, gram)
    count-aggregate followed by a doc-keyed re-aggregate and a doc-keyed
    left join back to the scalars — both shuffles key on doc_id (+gram),
    skew-free because every document contributes O(words) rows with a
    hard per-doc bound.  At 100 TB nothing here is all-pairs, driver-side,
    or broadcast; long-document corpora keep the same plan because the
    explode never amplifies a row beyond its own word count."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = F.split(F.trim(F.col("text")), " ")
    docs = d.select(
        "doc_id",
        "source",
        F.length(F.trim(F.col("text"))).alias("nc"),
        F.size(toks).alias("nw"),
        (F.array_contains(toks, "a") & F.array_contains(toks, "the"))
        .cast("int")
        .alias("has_stops"),
        toks.alias("ws"),
    )
    grams = (
        docs.filter(F.col("nw") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("nw") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("ws"), i),
                        F.element_at(F.col("ws"), i + 1),
                    ),
                )
            ).alias("g"),
        )
    )
    gc = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    glen = F.length("g").cast("bigint")
    rep = gc.groupBy("doc_id").agg(
        F.max(F.col("cnt") * glen).alias("top_chars"),
        F.sum(
            F.when(F.col("cnt") > 1, (F.col("cnt") - 1) * glen).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("dup_chars"),
    )
    letters = F.col("nc") - (F.col("nw") - 1)
    top_chars = F.coalesce(F.col("top_chars"), F.lit(0).cast("bigint"))
    dup_chars = F.coalesce(F.col("dup_chars"), F.lit(0).cast("bigint"))
    r_wordcount = (F.col("nw") >= GOPHER_MIN_WORDS) & (
        F.col("nw") <= GOPHER_MAX_WORDS
    )
    r_mean_len = (letters >= GOPHER_MIN_MEAN_LEN * F.col("nw")) & (
        letters <= GOPHER_MAX_MEAN_LEN * F.col("nw")
    )
    r_stopwords = F.col("has_stops") == 1
    r_top_bigram = 100 * top_chars <= GOPHER_TOP_BIGRAM_PCT * F.col("nc")
    r_dup_bigram = 100 * dup_chars <= GOPHER_DUP_BIGRAM_PCT * F.col("nc")
    return (
        docs.join(rep, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.col("nw").cast("int").alias("n_words"),
            (letters.cast("double") / F.col("nw")).alias("mean_word_len"),
            (top_chars.cast("double") / F.col("nc")).alias("top_bigram_frac"),
            (dup_chars.cast("double") / F.col("nc")).alias("dup_bigram_frac"),
            r_wordcount.cast("int").alias("r_wordcount"),
            r_mean_len.cast("int").alias("r_mean_len"),
            r_stopwords.cast("int").alias("r_stopwords"),
            r_top_bigram.cast("int").alias("r_top_bigram"),
            r_dup_bigram.cast("int").alias("r_dup_bigram"),
            (
                r_wordcount
                & r_mean_len
                & r_stopwords
                & r_top_bigram
                & r_dup_bigram
            )
            .cast("int")
            .alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# mojibake repair + invisible-character scrub (round 11) — the two
# encoding-hygiene passes web-corpus pipelines (C4/RefinedWeb's ftfy
# stage) run before any tokenization or hashing
# ---------------------------------------------------------------------------

# ' cafÃ© naÃ¯ve' — the UTF-8 bytes of ' café naïve' misdecoded as
# Latin-1 (the classic double-encoding): é (U+00E9) -> C3 A9 -> 'Ã©'
_MOJIBAKE_SUFFIX = " cafÃ© naÃ¯ve"
_CLEAN_SUFFIX = " café naïve"


def mojibake_repair(text: str) -> tuple[str, bool]:
    """ftfy-style single-pass repair of UTF-8-misdecoded-as-Latin-1
    text: if the string survives a latin-1 re-encode AND that byte
    string is valid UTF-8 AND decoding changes it, the original
    encoding is recovered.  Clean accented text fails the UTF-8 check
    (é alone is an invalid UTF-8 lead sequence) and pure ASCII decodes
    to itself, so neither is touched — the rule only fires on true
    double-encodings."""
    try:
        fixed = text.encode("latin-1").decode("utf-8")
    except (UnicodeEncodeError, UnicodeDecodeError):
        return text, False
    return (fixed, True) if fixed != text else (text, False)


@query(
    "mojibake_repair_docs",
    oracle=f"""
    WITH decorated AS (
        SELECT doc_id, text,
               CASE WHEN doc_id % 3 = 0
                        THEN text || ' caf' || chr(195) || chr(169)
                             || ' na' || chr(195) || chr(175) || 've'
                    WHEN doc_id % 3 = 1
                        THEN text || ' caf' || chr(233)
                             || ' na' || chr(239) || 've'
                    ELSE text END AS raw,
               CASE WHEN doc_id % 3 = 0
                        THEN text || ' caf' || chr(233)
                             || ' na' || chr(239) || 've'
                    WHEN doc_id % 3 = 1
                        THEN text || ' caf' || chr(233)
                             || ' na' || chr(239) || 've'
                    ELSE text END AS fixed
        FROM documents
    )
    SELECT doc_id,
           CAST(doc_id % 3 = 0 AS INTEGER) AS repaired,
           CAST(length(raw) AS BIGINT) AS len_raw,
           CAST(length(fixed) AS BIGINT) AS len_fixed,
           md5(fixed) AS fixed_md5
    FROM decorated
    """,
)
def mojibake_repair_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake (UTF-8-as-Latin-1 double-encoding) repair over a
    three-class rotation: docs ≡ 0 mod 3 carry a planted double-encoded
    suffix (must be repaired), ≡ 1 carry the CLEAN accented suffix
    (must NOT be touched — the false-positive trap), ≡ 2 are plain
    ASCII (identity).  The oracle rebuilds both the broken and repaired
    strings closed-form with chr(), so the md5 of the repaired text
    pins byte-exact recovery and the `repaired` flag pins the detector
    on both sides of the boundary.  Narrow ``mapInPandas`` pass, zero
    shuffle — pipelines with the scan at any scale."""
    import pandas as pd  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]
    decorated = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(_MOJIBAKE_SUFFIX)),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.col("text"), F.lit(_CLEAN_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("raw"),
    )

    def kernel(batches):
        for pdf in batches:
            ids, rep, lr, lf, md = [], [], [], [], []
            import hashlib  # noqa: PLC0415

            for doc_id, raw in zip(pdf["doc_id"], pdf["raw"]):
                fixed, repaired = mojibake_repair(str(raw))
                ids.append(int(doc_id))
                rep.append(int(repaired))
                lr.append(len(raw))
                lf.append(len(fixed))
                md.append(hashlib.md5(fixed.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "repaired": pd.Series(rep, dtype="int32"),
                    "len_raw": pd.Series(lr, dtype="int64"),
                    "len_fixed": pd.Series(lf, dtype="int64"),
                    "fixed_md5": pd.Series(md, dtype="object"),
                }
            )

    return fan_out(decorated).mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, repaired int, len_raw bigint, "
            "len_fixed bigint, fixed_md5 string"
        ),
    )


# The zero-width / format characters quality pipelines strip before
# hashing or tokenizing (each a real-world dedup splitter): ZERO WIDTH
# SPACE, ZWNJ, ZWJ, WORD JOINER, BOM-as-ZWNBSP, SOFT HYPHEN.
INVISIBLE_CHARS = "\u200b\u200c\u200d\u2060\ufeff\u00ad"
_INVIS_TABLE = {ord(c): None for c in INVISIBLE_CHARS}


@query(
    "invisible_scrub_docs",
    oracle="""
    WITH decorated AS (
        SELECT doc_id,
               text || CASE doc_id % 4
                   WHEN 0 THEN chr(8203) || 'ab' || chr(65279)
                   WHEN 1 THEN 'x' || chr(8204) || chr(173) || 'y'
                   WHEN 2 THEN chr(8205) || chr(8288)
                   ELSE '' END AS raw
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, raw,
               replace(replace(replace(replace(replace(replace(raw,
                   chr(8203), ''), chr(8204), ''), chr(8205), ''),
                   chr(8288), ''), chr(65279), ''), chr(173), '')
               AS clean
        FROM decorated
    )
    SELECT doc_id,
           CAST(length(raw) - length(clean) AS BIGINT) AS n_invisible,
           CAST(length(clean) AS BIGINT) AS len_clean,
           md5(clean) AS clean_md5
    FROM scrubbed
    """,
)
def invisible_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invisible-character scrub over a four-class rotation planting
    ZWSP+BOM, ZWNJ+SOFT HYPHEN, ZWJ+WORD JOINER, or nothing — per doc:
    how many format characters were removed, the clean length, and the
    md5 of the scrubbed text (byte-exact cross-engine via a closed-form
    replace chain).  These six codepoints render invisibly but split
    exact-dedup hashes and token statistics, so corpus pipelines strip
    them before anything downstream.  Narrow pass, zero shuffle."""
    import pandas as pd  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]
    decorated = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("\u200bab\ufeff"))
            .when(F.col("doc_id") % 4 == 1, F.lit("x\u200c\u00ady"))
            .when(F.col("doc_id") % 4 == 2, F.lit("\u200d\u2060"))
            .otherwise(F.lit("")),
        ).alias("raw"),
    )

    def kernel(batches):
        import hashlib  # noqa: PLC0415

        for pdf in batches:
            ids, ninv, lc, md = [], [], [], []
            for doc_id, raw in zip(pdf["doc_id"], pdf["raw"]):
                raw = str(raw)
                clean = raw.translate(_INVIS_TABLE)
                ids.append(int(doc_id))
                ninv.append(len(raw) - len(clean))
                lc.append(len(clean))
                md.append(hashlib.md5(clean.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_invisible": pd.Series(ninv, dtype="int64"),
                    "len_clean": pd.Series(lc, dtype="int64"),
                    "clean_md5": pd.Series(md, dtype="object"),
                }
            )

    return fan_out(decorated).mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, n_invisible bigint, len_clean bigint, "
            "clean_md5 string"
        ),
    )


# -- Unicode script profile ---------------------------------------------------

_CYR = [chr(0x0410 + k) for k in range(32)]   # А..Я
_CJK = [chr(0x4E00 + k) for k in range(100)]
_ARAB = [chr(0x0627 + k) for k in range(10)]


@query(
    "unicode_script_profile",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_latin,
               CAST(2 * (doc_id % 7) AS BIGINT) AS n_cyr,
               CAST(doc_id % 4 AS BIGINT) AS n_cjk,
               CAST(CASE WHEN doc_id % 11 = 0 THEN 3 ELSE 0 END
                    AS BIGINT) AS n_arab
        FROM documents
    )
    SELECT doc_id, n_latin, n_cyr, n_cjk, n_arab,
           CAST(n_latin + n_cyr + n_cjk + n_arab + (doc_id % 3)
                AS BIGINT) AS n_total,
           CASE WHEN n_cyr >= 10 THEN 'cyrillic-mixed'
                WHEN n_cjk >= 3 THEN 'cjk-mixed'
                ELSE 'latin' END AS routing
    FROM base
    """,
)
def unicode_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-mix profiling — the multilingual-routing signal (CCNet
    splits its pipeline per language; the cheap first cut is the
    SCRIPT census): count Latin / Cyrillic / CJK / Arabic characters
    per document and derive a routing class.  Non-Latin content is
    injected deterministically (literal-array lookup — Spark's ``chr``
    is ASCII-only, so code points ride as literals; digits ≡ doc_id mod
    3 are appended too, counted by no script class), and the COUNTS
    come from Java-regex character-class ranges over the combined
    text — while the oracle derives them from the injection classes
    arithmetically, so a mis-ranged regex or a codepoint-vs-byte
    confusion breaks the hash.  Narrow projection, zero shuffle, zero
    UDFs."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    did = F.col("doc_id")

    def pick(lits: list[str], idx) -> "F.Column":
        return F.element_at(
            F.array(*[F.lit(c) for c in lits]), (idx + 1).cast("int"))

    cyr_char = pick(_CYR, did % 32)
    cjk_char = pick(_CJK, did % 100)
    combined = F.concat(
        F.col("text"),
        F.repeat(cyr_char, (2 * (did % 7)).cast("int")),
        F.repeat(cjk_char, (did % 4).cast("int")),
        F.when(did % 11 == 0, F.repeat(pick(_ARAB, did % 10), 3))
        .otherwise(F.lit("")),
        F.repeat(F.lit("7"), (did % 3).cast("int")),
    )
    return d.select(
        "doc_id",
        F.regexp_count(combined, F.lit(r"[a-zA-Z ]")).cast("long")
        .alias("n_latin"),
        F.regexp_count(combined, F.lit("[Ѐ-ӿ]")).cast("long")
        .alias("n_cyr"),
        F.regexp_count(combined, F.lit("[一-鿿]")).cast("long")
        .alias("n_cjk"),
        F.regexp_count(combined, F.lit("[؀-ۿ]")).cast("long")
        .alias("n_arab"),
        F.length(combined).cast("long").alias("n_total"),
        F.when(
            F.regexp_count(combined, F.lit("[Ѐ-ӿ]")) >= 10,
            "cyrillic-mixed",
        ).when(
            F.regexp_count(combined, F.lit("[一-鿿]")) >= 3,
            "cjk-mixed",
        ).otherwise("latin").alias("routing"),
    )

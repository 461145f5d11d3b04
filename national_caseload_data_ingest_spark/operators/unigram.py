"""Unigram-LM (SentencePiece-style) tokenizer training by distributed
hard EM over the ``documents`` table — the second tokenizer family of
the pipeline beside BPE (Kudo, "Subword Regularization", ACL 2018;
Kudo & Richardson, "SentencePiece", EMNLP 2018).

Where BPE's merge loop is inherently sequential (each merge depends on
the last, so it runs on the driver over the bounded word-frequency
dict — bpe.py), unigram-LM training is the opposite: each EM round is a
data-parallel pass, so THIS trainer keeps the heavy step distributed:

1. **Corpus pass (once):** the shared ``word_frequencies`` relation —
   one narrow scan + one word-keyed shuffle.  Heaps' law makes it
   corpus-size-independent; at 100 TB it is the only stage that touches
   the text.
2. **Seeding (one distributed pass):** every substring of length ≤
   ``PIECE_MAX`` of every distinct word, counted with the word's
   frequency — an Arrow kernel emits per-batch partial counts, a
   piece-keyed groupBy folds them, and the top ``SEED_MAX`` pieces by
   (count desc, piece asc) PLUS the full single-character inventory
   (coverage guarantee) become the initial vocabulary.
3. **EM rounds (fixed count):** the E-step is a NARROW Arrow kernel
   over the word-frequency relation — Viterbi-segment each word under
   the current piece log-probabilities (the model is a ≤ vocab-sized
   closure, the tiny-driver-model convention shared with IVF/PQ) and
   emit freq-weighted piece counts combined per batch.  The M-step is
   one piece-keyed groupBy of INTEGER counts, collected (vocab-bounded
   rows) and pruned to the ``VOCAB_TARGET`` + single-chars.  Because
   every count is an exact integer, the trained model is a pure
   function of the corpus — independent of partitioning, batch
   boundaries, and shuffle order — which the parity and invariance
   tests pin.
4. **Encode (narrow):** Viterbi with the final model per word, memoized
   per batch; per-document token counts, no shuffle.

Viterbi determinism: scores are sums of float64 logs in a fixed DP
order; exact-score ties prefer the LONGER final piece (smaller split
point scanned last wins ≥, i.e. ties resolve toward fewer, longer
pieces) — documented so the pure-python reference in
``tests/test_unigram.py`` can reproduce segmentations bit-for-bit.

Registered rows-only (an EM fixpoint has no SQL twin); ground truth is
the pure-python reimplementation parity test plus coverage /
compression / partition-invariance properties.

The reference (/root/reference/ncd/) has no tokenizer surface; this
extends the build brief's text-analysis band.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.bpe import (
    word_frequencies,
)
from national_caseload_data_ingest_spark.operators.registry import fan_out, query
from national_caseload_data_ingest_spark.session import load_tables

PIECE_MAX = 6  # longest candidate piece (chars)
SEED_MAX = 8192  # initial vocabulary size (plus single chars)
VOCAB_TARGET = 2048  # pruned vocabulary size (plus single chars)
EM_ROUNDS = 3


def viterbi_pieces(word: str, logp: dict[str, float]) -> list[str]:
    """Best segmentation of ``word`` into vocabulary pieces under the
    unigram model (max sum of piece log-probs).  Exact-score ties prefer
    the longer final piece.  Every single char is in the vocabulary by
    construction, so a path always exists."""
    n = len(word)
    best = [-math.inf] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        # j scans longest-piece-first so an equal score later (shorter
        # piece) does NOT replace it (strict >)
        for j in range(max(0, i - PIECE_MAX), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None or best[j] == -math.inf:
                continue
            s = best[j] + lp
            if s > best[i]:
                best[i] = s
                back[i] = j
    out = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def _seed_kernel(batches):
    """Per-batch freq-weighted counts of every substring of length ≤
    PIECE_MAX of every word — partial combine before the shuffle."""
    import pandas as pd  # noqa: PLC0415

    for pdf in batches:
        if not len(pdf):
            continue
        counts: dict[str, int] = {}
        for word, freq in zip(pdf["word"], pdf["freq"]):
            f = int(freq)
            n = len(word)
            for i in range(n):
                for l in range(1, min(PIECE_MAX, n - i) + 1):
                    p = word[i : i + l]
                    counts[p] = counts.get(p, 0) + f
        yield pd.DataFrame(
            {"piece": list(counts.keys()), "cnt": list(counts.values())}
        )


def _estep_kernel(logp: dict[str, float]):
    """E-step: Viterbi-segment every word under the closure model and emit
    freq-weighted integer piece counts, combined per batch."""

    def gen(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            counts: dict[str, int] = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                f = int(freq)
                for p in viterbi_pieces(word, logp):
                    counts[p] = counts.get(p, 0) + f
            yield pd.DataFrame(
                {"piece": list(counts.keys()), "cnt": list(counts.values())}
            )

    return gen


def _model_from_counts(counts: dict[str, int]) -> dict[str, float]:
    """Integer counts → log-probabilities (one division + one log per
    piece — deterministic)."""
    total = sum(counts.values())
    return {p: math.log(c / total) for p, c in counts.items() if c > 0}


def _prune(
    counts: dict[str, int], chars: set[str], target: int
) -> dict[str, int]:
    """Keep the ``target`` highest-count multi-char pieces (ties to the
    lexicographically smaller piece) plus EVERY single char seen in the
    corpus (coverage: Viterbi must always find a path)."""
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:target]
    kept = {p: c for p, c in multi}
    for ch in chars:
        # a char never chosen by any Viterbi path this round keeps count 1
        # so it stays representable (SentencePiece's required-char rule)
        kept[ch] = max(counts.get(ch, 0), 1)
    return kept


def unigram_train(
    docs: DataFrame,
    seed_max: int = SEED_MAX,
    vocab_target: int = VOCAB_TARGET,
    rounds: int = EM_ROUNDS,
) -> dict[str, float]:
    """Train the unigram tokenizer; returns the final piece → log-prob
    model (≤ vocab_target multi-char pieces + the char inventory)."""
    # Materialize the word-frequency relation ONCE (r14, guide §3.3):
    # it feeds the seed pass and every EM round, and without a barrier
    # each of those actions re-ran the corpus explode+shuffle (5-6
    # executions per training run).  Heaps' law bounds the relation, so
    # the checkpoint is vocabulary-sized at any corpus scale; use
    # reliable checkpoint on a real cluster.  Same for the seed counts,
    # which two driver collects (char inventory, top-K) consumed.
    wf = word_frequencies(docs).localCheckpoint(eager=True)
    seed_counts = (
        wf.mapInPandas(_seed_kernel, schema="piece string, cnt long")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    char_rows = seed_counts.filter(F.length("piece") == 1).collect()
    chars = {r["piece"] for r in char_rows}
    top = (
        seed_counts.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(seed_max)
        .collect()
    )
    counts = {r["piece"]: int(r["cnt"]) for r in top}
    for r in char_rows:  # full char inventory at its true seed weight
        counts[r["piece"]] = int(r["cnt"])

    for _ in range(rounds):
        model = _model_from_counts(counts)
        estep = (
            wf.mapInPandas(
                _estep_kernel(model), schema="piece string, cnt long"
            )
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        counts = _prune(
            {r["piece"]: int(r["cnt"]) for r in estep}, chars, vocab_target
        )
    return _model_from_counts(counts)


def _encode_kernel(logp: dict[str, float]):
    """Per-document token statistics under the final model — narrow, with
    a per-batch word memo (documents repeat words heavily)."""

    def gen(batches):
        import pandas as pd  # noqa: PLC0415

        memo: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            out_id, out_tok, out_chr = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in text.strip().lower().split() if w]
                n_tok = 0
                n_chr = 0
                for w in words:
                    n = memo.get(w)
                    if n is None:
                        n = len(viterbi_pieces(w, logp))
                        memo[w] = n
                    n_tok += n
                    n_chr += len(w)
                out_id.append(doc_id)
                out_tok.append(n_tok)
                out_chr.append(n_chr)
            yield pd.DataFrame(
                {
                    "doc_id": out_id,
                    "n_tokens": out_tok,
                    "n_chars": out_chr,
                }
            )

    return gen


def unigram_encode(docs: DataFrame, logp: dict[str, float]) -> DataFrame:
    """(doc_id, n_tokens, n_chars) under the trained model — one narrow
    Arrow pass, model as a closure constant."""
    return fan_out(docs.select("doc_id", "text")).mapInPandas(
        _encode_kernel(logp),
        schema="doc_id bigint, n_tokens bigint, n_chars bigint",
    )


@query("unigram_tokenize_docs")  # EM fixpoint — pure-python parity in tests
def unigram_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the unigram-LM tokenizer on the corpus (distributed hard EM,
    see module docstring) and tokenize every document with it — per-doc
    token and character counts.  Integer-exact end to end: the result is
    independent of partitioning and shuffle order."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    model = unigram_train(d)
    return unigram_encode(d, model)


# Frozen unigram model for the oracle-exact encode query — the same
# split-the-pipeline pattern as ``bpe.BPE_FROZEN_MERGES`` /
# ``wordpiece.WORDPIECE_VOCAB``: EM training stays rows-only, the ENCODE
# stage under a fixed model is fully driver-hashable.  Scores are
# INTEGERS (exact in float64 sums, so Python's float Viterbi and the
# oracle's integer argmax agree bit-for-bit), every [a-z] char is present
# (coverage — a path always exists), every piece is ≤ PIECE_MAX, and the
# values are chosen so no corpus word has two argmax segmentations
# (asserted exhaustively in ``tests/test_unigram.py``).
_FROZEN_MULTI = (
    "sc", "an", "scan", "ta", "able", "wind", "dow", "ord", "der", "sor",
    "ort", "cus", "tom", "omer", "val", "ue", "alue", "que", "ery", "gro",
    "oup", "ve", "ctor", "str", "eam", "ream", "fil", "ter", "lter", "ba",
    "tch", "atch", "sma", "all", "da", "ata", "co", "lumn", "jo", "oin",
    "me", "rge", "erge", "ha", "sh", "ash", "sl", "ow", "low", "li", "ne",
    "ine", "ke", "ey", "ag", "gg", "pa", "art", "row", "big", "the",
    "spar", "rk", "mall",
)
UNIGRAM_FROZEN_SCORES: dict[str, int] = {
    ch: 11 + 3 * i for i, ch in enumerate("abcdefghijklmnopqrstuvwxyz")
}
UNIGRAM_FROZEN_SCORES.update(
    {p: len(p) * 97 + 17 * i + 5 for i, p in enumerate(_FROZEN_MULTI)}
)

_SCORE_SQL_ROWS = ", ".join(
    f"('{p}', {s})" for p, s in UNIGRAM_FROZEN_SCORES.items()
)

# The oracle enumerates EVERY vocabulary-valid segmentation of each
# distinct word as a recursive CTE (words are short and the multi-char
# inventory is bounded, so the path count per word is tiny) and picks the
# max-score path; integer scores + the no-ties property make the argmax
# unique, so no tie-break rule needs replaying cross-engine.
_UNI_FROZEN_ORACLE = rf"""
WITH RECURSIVE v AS (SELECT * FROM (VALUES {_SCORE_SQL_ROWS}) t(piece, score)),
words AS (
    SELECT doc_id, unnest(arr) AS w, unnest(range(1, len(arr) + 1)) AS i
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS arr
          FROM documents)
),
dw AS (SELECT DISTINCT w FROM words WHERE w != ''),
paths(w, pos, score, n, toks) AS (
    SELECT w, 1, 0, 0, CAST('' AS VARCHAR) FROM dw
    UNION ALL
    SELECT p.w, p.pos + len(v.piece), p.score + v.score, p.n + 1,
           CASE WHEN p.toks = '' THEN v.piece
                ELSE p.toks || '|' || v.piece END
    FROM paths p JOIN v ON substr(p.w, p.pos, len(v.piece)) = v.piece
    WHERE p.pos <= len(p.w)
),
best AS (
    SELECT w, n, toks FROM paths
    WHERE pos = len(w) + 1
    QUALIFY row_number() OVER (PARTITION BY w ORDER BY score DESC) = 1
),
agg AS (
    SELECT wo.doc_id,
           COUNT(*) AS n_words,
           SUM(b.n) AS n_tokens,
           SUM(len(wo.w)) AS n_chars,
           string_agg(b.toks, '|' ORDER BY wo.i) AS all_toks
    FROM words wo JOIN best b ON wo.w = b.w
    GROUP BY wo.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_chars, 0) AS BIGINT) AS n_chars,
       array_to_string(
           (string_split(COALESCE(a.all_toks, ''), '|'))[1:8],
           '|') AS first_pieces
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def _frozen_encode_kernel(logp: dict[str, float]):
    """Per-document Viterbi statistics INCLUDING the token strings —
    narrow Arrow pass, per-batch word memo (Zipfian corpus)."""

    def gen(batches):
        import pandas as pd  # noqa: PLC0415

        memo: dict[str, list[str]] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            out_id, out_nw, out_tok, out_chr, out_first = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in text.strip().lower().split() if w]
                toks: list[str] = []
                n_chr = 0
                for w in words:
                    pieces = memo.get(w)
                    if pieces is None:
                        pieces = memo[w] = viterbi_pieces(w, logp)
                    toks.extend(pieces)
                    n_chr += len(w)
                out_id.append(doc_id)
                out_nw.append(len(words))
                out_tok.append(len(toks))
                out_chr.append(n_chr)
                out_first.append("|".join(toks[:8]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "n_words": pd.Series(out_nw, dtype="int64"),
                    "n_tokens": pd.Series(out_tok, dtype="int64"),
                    "n_chars": pd.Series(out_chr, dtype="int64"),
                    "first_pieces": pd.Series(out_first, dtype="object"),
                }
            )

    return gen


@query("unigram_frozen_encode", oracle=_UNI_FROZEN_ORACLE)
def unigram_frozen_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE stage under the frozen ``UNIGRAM_FROZEN_SCORES`` — the
    driver-hashable twin of ``unigram_tokenize_docs``'s second half
    (VERDICT r12 ask #5).  The oracle hash-checks the ACTUAL PIECE
    STRINGS (first-8 prefix per doc): integer scores make the Viterbi
    argmax exact in both engines, and the frozen model is tie-free on
    the corpus vocabulary (asserted in tests).  One narrow Arrow pass,
    zero shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    logp = {p: float(s) for p, s in UNIGRAM_FROZEN_SCORES.items()}
    return fan_out(d.select("doc_id", "text")).mapInPandas(
        _frozen_encode_kernel(logp),
        schema=(
            "doc_id bigint, n_words bigint, n_tokens bigint, "
            "n_chars bigint, first_pieces string"
        ),
    )

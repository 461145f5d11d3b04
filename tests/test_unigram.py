"""Ground truth for the unigram-LM tokenizer (unigram.py): a pure-python
reimplementation of the full train+encode pipeline (no Spark kernels, no
shuffles) must reproduce the distributed result EXACTLY — the trainer is
integer-exact end to end, so there is no tolerance anywhere — plus
coverage, compression, and partition-invariance properties."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import load_tables
from national_caseload_data_ingest_spark.operators.unigram import (
    EM_ROUNDS,
    PIECE_MAX,
    SEED_MAX,
    VOCAB_TARGET,
    unigram_encode,
    unigram_train,
    unigram_tokenize_docs,
    viterbi_pieces,
)

SF = "/root/testdata/sf0.001"


def _python_train(word_freq: dict[str, int]):
    """Independent driver-only recompute of unigram_train's contract."""
    seed: dict[str, int] = {}
    for w, f in word_freq.items():
        n = len(w)
        for i in range(n):
            for l in range(1, min(PIECE_MAX, n - i) + 1):
                p = w[i : i + l]
                seed[p] = seed.get(p, 0) + f
    chars = {p for p in seed if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in seed.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:SEED_MAX]
    counts = {p: c for p, c in multi}
    for ch in chars:
        counts[ch] = seed[ch]

    def model_of(cnts):
        total = sum(cnts.values())
        return {p: math.log(c / total) for p, c in cnts.items() if c > 0}

    for _ in range(EM_ROUNDS):
        logp = model_of(counts)
        estep: dict[str, int] = {}
        for w, f in word_freq.items():
            for p in viterbi_pieces(w, logp):
                estep[p] = estep.get(p, 0) + f
        multi = sorted(
            ((p, c) for p, c in estep.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:VOCAB_TARGET]
        counts = {p: c for p, c in multi}
        for ch in chars:
            counts[ch] = max(estep.get(ch, 0), 1)
    return model_of(counts)


@pytest.fixture(scope="module")
def docs(spark):
    return load_tables(spark, SF, "documents")["documents"]


@pytest.fixture(scope="module")
def word_freq(docs):
    rows = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "word"
            )
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .count()
        .collect()
    )
    return {r["word"]: int(r["count"]) for r in rows}


def test_unigram_train_matches_pure_python(spark, docs, word_freq):
    """The distributed trainer must equal the driver-only recompute
    exactly — every piece, every log-prob (integer counts make the model
    a pure function of the corpus, independent of partitioning)."""
    got = unigram_train(docs)
    want = _python_train(word_freq)
    assert set(got) == set(want)
    for p, lp in want.items():
        assert got[p] == lp, p
    # the corpus has ~31 distinct words; converged hard EM should learn
    # (near-)whole-word pieces for most of them, not collapse to chars
    n_multi = sum(1 for p in got if len(p) > 1)
    assert n_multi >= 20


def test_unigram_encode_matches_pure_python(spark, docs, word_freq):
    """Per-doc token counts equal a direct python Viterbi over the same
    model, and compression is real: fewer tokens than chars, more tokens
    than words (subword granularity sits strictly between)."""
    model = unigram_train(docs)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_chars"])
        for r in unigram_encode(docs, model).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows)
    total_tok = total_chr = total_words = 0
    for r in rows:
        words = [w for w in r["text"].strip().lower().split() if w]
        n_tok = sum(len(viterbi_pieces(w, model)) for w in words)
        n_chr = sum(len(w) for w in words)
        assert got[r["doc_id"]] == (n_tok, n_chr), r["doc_id"]
        total_tok += n_tok
        total_chr += n_chr
        total_words += len(words)
    assert total_words < total_tok < total_chr or total_words == total_tok


def test_unigram_partition_invariance(spark, docs):
    """Training and encoding are integer-exact: 1 partition vs 16 must
    produce the identical relation."""
    one = unigram_train(docs.coalesce(1))
    many = unigram_train(docs.repartition(16))
    assert one == many
    a = sorted(
        tuple(r) for r in unigram_encode(docs.coalesce(1), one).collect()
    )
    b = sorted(
        tuple(r) for r in unigram_encode(docs.repartition(16), many).collect()
    )
    assert a == b


def test_unigram_query_shape(spark):
    """Registered query: one row per document, positive counts."""
    out = unigram_tokenize_docs(spark, SF).collect()
    n_docs = load_tables(spark, SF, "documents")["documents"].count()
    assert len(out) == n_docs
    for r in out:
        assert r["n_tokens"] >= 1
        assert r["n_chars"] >= r["n_tokens"]  # every piece is ≥ 1 char


def test_viterbi_prefers_longer_pieces_on_ties():
    """Documented tie-break: equal-score segmentations resolve toward the
    longer final piece."""
    logp = {"ab": math.log(0.25), "a": math.log(0.5), "b": math.log(0.5)}
    # score("ab") = log .25 == score("a"+"b") = log .5 + log .5
    assert viterbi_pieces("ab", logp) == ["ab"]


def test_frozen_model_is_tie_free_and_oracle_exact(spark):
    """UNIGRAM_FROZEN_SCORES must give every corpus word a UNIQUE argmax
    segmentation (exhaustively enumerated) — the property that lets the
    oracle skip tie-break replay — and the frozen-encode query's token
    strings must match viterbi_pieces exactly."""
    from national_caseload_data_ingest_spark.operators.unigram import (
        UNIGRAM_FROZEN_SCORES,
        unigram_frozen_encode,
    )

    d = load_tables(spark, "/root/testdata/sf0.001", "documents")[
        "documents"
    ]
    docs = {r["doc_id"]: r["text"] for r in d.collect()}
    words = {
        w
        for text in docs.values()
        for w in text.strip().lower().split()
        if w
    }

    vocab = UNIGRAM_FROZEN_SCORES
    assert all(len(p) <= PIECE_MAX for p in vocab)
    assert {chr(c) for c in range(ord("a"), ord("z") + 1)} <= set(vocab)

    def all_segs(w):
        paths = {0: [([], 0)]}
        for i in range(1, len(w) + 1):
            acc = []
            for j in range(max(0, i - PIECE_MAX), i):
                p = w[j:i]
                if p in vocab and j in paths:
                    acc += [(t + [p], s + vocab[p]) for t, s in paths[j]]
            paths[i] = acc
        return paths[len(w)]

    logp = {p: float(s) for p, s in vocab.items()}
    for w in sorted(words):
        segs = all_segs(w)
        best = max(s for _, s in segs)
        top = [t for t, s in segs if s == best]
        assert len(top) == 1, f"tie on {w!r}: {top}"
        assert viterbi_pieces(w, logp) == top[0]

    rows = unigram_frozen_encode(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len(docs)
    for r in rows[:50]:
        ws = [w for w in docs[r["doc_id"]].strip().lower().split() if w]
        toks = [t for w in ws for t in viterbi_pieces(w, logp)]
        assert r["n_words"] == len(ws)
        assert r["n_tokens"] == len(toks)
        assert r["n_chars"] == sum(len(w) for w in ws)
        assert r["first_pieces"] == "|".join(toks[:8])

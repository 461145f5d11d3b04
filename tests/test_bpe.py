"""Distributed BPE training/encoding: merge-list parity against an
independent in-test reference implementation, the classic Sennrich
toy-corpus behavior, decode round-trip, determinism, and the driver-model
budget guard."""

import pytest
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.bpe import (
    EOW,
    _bpe_apply,
    bpe_encode,
    bpe_train,
    word_frequencies,
)
from national_caseload_data_ingest_spark.operators.registry import load_tables

SF = "/root/testdata/sf0.001"


def _reference_bpe(word_freqs: dict[str, int], n_merges: int):
    """Independent reference BPE (Sennrich et al. alg. 1), written without
    looking at the engine implementation's internals: same determinism
    rule (max freq, lexicographic tiebreak)."""
    vocab = {}
    for w, f in word_freqs.items():
        vocab[tuple(list(w) + [EOW])] = vocab.get(tuple(list(w) + [EOW]), 0) + f
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for sym, f in vocab.items():
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        if pairs[best] < 2:
            break
        merges.append(best)
        nv = {}
        for sym, f in vocab.items():
            sym = list(sym)
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(sym[i] + sym[i + 1])
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + f
        vocab = nv
    return merges


def test_bpe_sennrich_toy_corpus(spark):
    """The canonical example: {'low':5,'lower':2,'newest':6,'widest':3}.
    'e s' then 'es t' then 'est </w>' lead the merges (freq 9), and 'low'
    becomes a single token eventually."""
    corpus = []
    i = 0
    for w, f in [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]:
        for _ in range(f):
            corpus.append((i, w))
            i += 1
    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    merges = bpe_train(docs, n_merges=10)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    ranks_words = {w: "".join(_bpe_apply(w, {p: k for k, p in enumerate(merges)}))
                   for w in ["low", "newest"]}
    assert ranks_words["newest"].endswith(EOW)


def test_bpe_merges_match_reference_on_corpus(spark):
    """Engine merges == independent reference implementation on the real
    sf0.001 word frequencies, merge for merge."""
    d = load_tables(spark, SF, "documents")["documents"]
    wf = {r["word"]: r["freq"] for r in word_frequencies(d).collect()}
    got = bpe_train(d, n_merges=60)
    want = _reference_bpe(wf, 60)
    assert got == want


def test_bpe_encode_roundtrip_and_stats(spark):
    """Concatenating a word's BPE tokens (EOW -> space) reconstructs the
    normalized text exactly; token counts are bounded by character counts;
    merges actually fire on the corpus."""
    d = load_tables(spark, SF, "documents")["documents"]
    merges = bpe_train(d, n_merges=60)
    ranks = {p: k for k, p in enumerate(merges)}
    out = {r["doc_id"]: r for r in bpe_encode(d, merges).collect()}
    src = {r["doc_id"]: r["text"] for r in d.select("doc_id", "text").collect()}
    assert set(out) == set(src)
    merged_any = False
    for doc_id, text in src.items():
        words = [w for w in text.lower().strip().split() if w]
        toks = []
        for w in words:
            toks.extend(_bpe_apply(w, ranks))
        rec = "".join(toks).replace(EOW, " ").rstrip()
        assert rec == " ".join(words)
        r = out[doc_id]
        assert r["n_words"] == len(words)
        assert r["n_tokens"] == len(toks)
        assert r["n_tokens"] <= sum(len(w) + 1 for w in words)
        if r["n_merged_tokens"] > 0:
            merged_any = True
    assert merged_any, "no merge ever applied on the corpus"


def test_bpe_train_deterministic(spark):
    d = load_tables(spark, SF, "documents")["documents"]
    assert bpe_train(d, n_merges=30) == bpe_train(d, n_merges=30)


def test_bpe_vocab_budget_routes_to_topk(spark):
    """The driver-model budget is a ROUTING decision: over-budget
    corpora train on the deterministic top-K words by frequency, and
    on a corpus whose tail is below every merge threshold the
    truncated model EQUALS the full model (VERDICT r11 ask #4)."""
    head = "aaab " * 1000 + "abab " * 600 + "bbba " * 300
    # 30 singleton tail words over the SAME alphabet: their pair
    # contributions (≤30 total) cannot flip any head margin (≥300)
    tail = " ".join(
        "a" * (i % 3 + 1) + "b" * (i % 4 + 1) + "a" * (i // 6 + 1)
        for i in range(30))
    d = spark.createDataFrame(
        [(0, head), (1, tail)], "doc_id long, text string")
    n_distinct = d.selectExpr(
        "explode(split(lower(trim(text)), '\\\\s+')) AS w"
    ).where("w <> ''").distinct().count()
    assert n_distinct > 3  # the cap below genuinely truncates
    full = bpe_train(d, n_merges=4, max_vocab_words=100_000)
    trunc = bpe_train(d, n_merges=4, max_vocab_words=3)
    assert trunc == full
    # and the collect stays bounded by plan: ORDER BY + LIMIT becomes
    # TakeOrderedAndProject, never a full sort to the driver
    from national_caseload_data_ingest_spark.operators.bpe import (
        word_frequencies,
    )
    from pyspark.sql import functions as F
    plan = (word_frequencies(d)
            .orderBy(F.desc("freq"), F.asc("word")).limit(3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_bpe_query_runs(spark):
    from national_caseload_data_ingest_spark.operators.bpe import (
        bpe_train_encode,
    )

    rows = bpe_train_encode(spark, SF).collect()
    assert len(rows) == 500
    assert all(r["n_tokens"] >= r["n_words"] for r in rows)


def test_frozen_merges_provenance_and_encode(spark):
    """BPE_FROZEN_MERGES must equal what bpe_train(n_merges=60) learns on
    the sf0.001 corpus (its documented provenance), and the frozen-encode
    query must reproduce _bpe_apply word for word, including the actual
    token strings in first_tokens."""
    from national_caseload_data_ingest_spark.operators.bpe import (
        BPE_FROZEN_MERGES,
        bpe_frozen_encode,
        bpe_train,
    )

    d = load_tables(spark, SF, "documents")["documents"]
    assert bpe_train(d, n_merges=60) == list(BPE_FROZEN_MERGES)

    ranks = {p: i for i, p in enumerate(BPE_FROZEN_MERGES)}
    rows = bpe_frozen_encode(spark, SF).collect()
    docs = {r["doc_id"]: r["text"] for r in d.collect()}
    assert len(rows) == len(docs)
    for r in rows[:50]:
        words = [w for w in docs[r["doc_id"]].lower().strip().split() if w]
        toks = [t for w in words for t in _bpe_apply(w, ranks)]
        assert r["n_words"] == len(words)
        assert r["n_tokens"] == len(toks)
        assert r["first_tokens"] == "|".join(toks[:8])
        # the oracle's '~' sentinel wrap requires a '~'-free vocabulary
        assert all("~" not in w for w in words)

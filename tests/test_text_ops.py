"""Ground-truth checks for the corpus-frequency text operators: the rare
rule and ratio columns recomputed in pure Python from the same parquet.
The cross-engine hash evidence lives in the driver gate /
tools/check_oracle.py; these pin the semantics against an independent
(non-SQL, non-Spark) implementation.  The HTML text extractor is
checked for lossless recovery and escape-order edges.
"""

import re
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.text import (
    html_escape,
    html_extract_text,
    html_extract_text_query,
    lexical_diversity_by_source,
    rare_token_fraction,
    synth_html_page,
)

SF = "/root/testdata/sf0.001"


def _tokens(text: str) -> list[str]:
    return re.split(r"\s+", text.strip().lower())


def _docs() -> pd.DataFrame:
    return pd.read_parquet(f"{SF}/documents.parquet")


def test_rare_token_fraction_matches_python_ground_truth(spark):
    docs = _docs()
    vocab: Counter = Counter()
    for t in docs["text"]:
        vocab.update(_tokens(t))
    n_total = sum(vocab.values())
    n_vocab = len(vocab)

    got = {r["doc_id"]: r for r in rare_token_fraction(spark, SF).collect()}
    assert set(got) == set(docs["doc_id"])
    for _, row in docs.iterrows():
        toks = _tokens(row["text"])
        n_rare = sum(1 for t in toks if vocab[t] * n_vocab < n_total)
        g = got[row["doc_id"]]
        assert g["n_tokens"] == len(toks)
        assert g["n_rare"] == n_rare
        assert g["freq_mass"] == sum(vocab[t] for t in toks)
        assert g["rare_fraction"] == n_rare / len(toks)

    # the rare rule must actually fire somewhere on the test corpus —
    # otherwise the query is trivially green
    assert any(r["n_rare"] > 0 for r in got.values())


def test_lexical_diversity_matches_python_ground_truth(spark):
    docs = _docs()
    got = {r["source"]: r for r in lexical_diversity_by_source(spark, SF).collect()}
    assert set(got) == set(docs["source"])
    for source, grp in docs.groupby("source"):
        c: Counter = Counter()
        for t in grp["text"]:
            c.update(_tokens(t))
        g = got[source]
        assert g["total_tokens"] == sum(c.values())
        assert g["distinct_tokens"] == len(c)
        assert g["hapax_tokens"] == sum(1 for v in c.values() if v == 1)
        assert g["type_token_ratio"] == len(c) / sum(c.values())


def test_common_ngram_fraction_matches_python_ground_truth(spark):
    from national_caseload_data_ingest_spark.operators.curation import (
        common_ngram_fraction,
    )

    docs = _docs()

    def bigrams(text: str) -> set:
        toks = _tokens(text)
        if len(toks) < 2:
            return {text.strip().lower()}
        return {f"{a} {b}" for a, b in zip(toks, toks[1:])}

    df: Counter = Counter()
    per_doc = {}
    for _, row in docs.iterrows():
        g = bigrams(row["text"])
        per_doc[row["doc_id"]] = g
        df.update(g)
    total_postings = sum(df.values())
    n_vocab = len(df)

    got = {r["doc_id"]: r for r in common_ngram_fraction(spark, SF).collect()}
    assert set(got) == set(per_doc)
    for doc_id, grams in per_doc.items():
        n_common = sum(1 for g in grams if df[g] * n_vocab > total_postings)
        r = got[doc_id]
        assert r["n_grams"] == len(grams)
        assert r["n_common"] == n_common
        assert r["common_fraction"] == n_common / len(grams)

    # the score must separate docs on the test corpus, not be constant
    fracs = {r["common_fraction"] for r in got.values()}
    assert len(fracs) > 1


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing theorem (Schleimer et al. SIGMOD'03): two documents
    sharing a run of >= k+w-1 tokens must share at least one fingerprint.
    Pinned with synthetic docs containing a planted common run, plus a
    pure-Python recomputation of the whole fingerprint set on real docs."""
    import hashlib

    from national_caseload_data_ingest_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    run = " ".join(f"shared{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    rows = [
        (1, f"alpha beta gamma {run} delta epsilon", "en", "t"),
        (2, f"one two three four five six {run}", "en", "t"),
        (3, "totally different words with no overlap at all here", "en", "t"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(os.path.join(td, "documents.parquet"))
        got = winnowing_fingerprints(spark, td).collect()
    fps = {}
    for r in got:
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[1] & fps[2], "planted shared run produced no shared fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])

    # pure-Python recomputation on the planted docs
    def ref_fps(text):
        toks = re.split(r"\s+", text.strip())
        grams = [
            hashlib.md5(" ".join(toks[i : i + WINNOW_K]).encode()).hexdigest()
            for i in range(len(toks) - WINNOW_K + 1)
        ]
        return {
            min(grams[i : i + WINNOW_W])
            for i in range(len(grams) - WINNOW_W + 1)
        }

    for doc_id, text, _, _ in rows:
        assert fps.get(doc_id, set()) == ref_fps(text), doc_id


def test_conjunctive_search_requires_all_terms(spark):
    """Driver recompute: a doc is returned iff it contains EVERY query
    term; n_occurrences is the total count of the terms; and the HAVING
    branch is non-vacuous (some docs match a proper subset of terms)."""
    import __spark_entry__ as ent
    from national_caseload_data_ingest_spark.operators.text import (
        SEARCH_TERMS,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    sf = "/root/testdata/sf0.01"
    rows = (
        load_tables(spark, sf, "documents")["documents"]
        .select("doc_id", "text")
        .collect()
    )
    want = {}
    partial = 0
    for r in rows:
        toks = r["text"].strip().lower().split()
        present = {t for t in SEARCH_TERMS if t in toks}
        if present == set(SEARCH_TERMS):
            want[r["doc_id"]] = sum(toks.count(t) for t in SEARCH_TERMS)
        elif present:
            partial += 1
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in ent.queries()["conjunctive_term_search"](spark, sf).collect()
    }
    assert got == want and got
    assert partial > 0  # the all-terms filter actually excludes docs


def test_phrase_search_adjacency_semantics(spark):
    """Driver recompute: n_matches counts ADJACENT occurrences only —
    docs containing both words non-adjacently must be absent, and at
    least one doc has 2+ matches (multi-occurrence branch fires)."""
    import __spark_entry__ as ent
    from national_caseload_data_ingest_spark.operators.text import (
        PHRASE_TERMS,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    sf = "/root/testdata/sf0.01"
    rows = (
        load_tables(spark, sf, "documents")["documents"]
        .select("doc_id", "text")
        .collect()
    )
    want = {}
    both_words_non_adjacent = 0
    a, b = PHRASE_TERMS
    for r in rows:
        toks = r["text"].strip().lower().split()
        n = sum(
            1
            for i in range(len(toks) - 1)
            if toks[i] == a and toks[i + 1] == b
        )
        if n:
            want[r["doc_id"]] = n
        elif a in toks and b in toks:
            both_words_non_adjacent += 1
    got = {
        r["doc_id"]: r["n_matches"]
        for r in ent.queries()["phrase_search_positions"](spark, sf).collect()
    }
    assert got == want and got
    assert both_words_non_adjacent > 0  # adjacency is doing real work
    assert max(want.values()) >= 2  # multi-occurrence docs exist


def test_html_extract_recovers_text_and_strips_boilerplate(spark):
    rows = html_extract_text_query(spark, SF).collect()
    assert rows
    assert all(r["recovered_ok"] for r in rows)
    assert all(r["boilerplate_gone"] for r in rows)
    assert all(r["html_len"] > r["extracted_len"] for r in rows)


def test_html_extract_entity_and_script_edges(spark):
    """A document whose text CONTAINS markup and pre-escaped entities must
    round-trip exactly: '<script>' in the body is escaped at synth time so
    the extractor treats it as prose, and a literal '&lt;' survives as the
    four characters '&lt;' (escape-order correctness)."""
    body = 'literal &lt; stays; <script>alert("x")</script> is prose; 1<2>0'
    df = spark.createDataFrame([(body,)], "text string")
    out = df.select(
        html_extract_text(
            synth_html_page(F.col("text"), F.lit("t"))
        ).alias("x")
    ).head()["x"]
    assert "literal &lt; stays" in out
    assert '<script>alert("x")</script> is prose' in out
    assert "1<2>0" in out
    assert "SCRIPTLEAK" not in out and "STYLELEAK" not in out
    # escape() itself is exercised directly too
    esc = df.select(html_escape(F.col("text")).alias("e")).head()["e"]
    assert "&amp;lt;" in esc and "&lt;script&gt;" in esc

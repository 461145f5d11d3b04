"""Ground-truth tests for the corpus-cleaning band (operators/cleaning.py):
C4 line rules, corpus-wide line dedup, the Aho–Corasick automaton, and
next-fit sequence packing.  The oracle replay (tools/check_oracle.py)
covers the full-table relations; these pin the edge semantics with
hand-built inputs."""

from __future__ import annotations

import pytest

from national_caseload_data_ingest_spark.operators.cleaning import (
    C4_MIN_KEPT_LINES,
    KEYWORDS,
    PACK_CAPACITY,
    _build_aho_corasick,
    c4_line_filter,
    keyword_tag_docs,
    line_dedup_survivors,
    sequence_pack_docs,
)

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------ Aho–Corasick


def _ac_count(text: str, patterns=KEYWORDS):
    goto, fail, out = _build_aho_corasick(patterns)
    s, total, seen = 0, 0, set()
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        total += len(out[s])
        seen.update(out[s])
    return total, seen


def _naive_count(text: str, patterns=KEYWORDS):
    total, seen = 0, set()
    for pi, p in enumerate(patterns):
        c = text.count(p)
        # str.count is non-overlapping for self-overlapping patterns;
        # count all start positions instead.
        c = sum(1 for i in range(len(text) - len(p) + 1) if text.startswith(p, i))
        total += c
        if c:
            seen.add(pi)
    return total, seen


@pytest.mark.parametrize(
    "text",
    [
        "window",  # 'windo' + 'window' both end here — dict-suffix link
        "table value",  # 'table'+'able', 'value'+'alue'
        "windowindow",  # overlapping occurrences across the joint
        "scanscan sparkrow keykey",
        "",
        "zzz",
        "windowindowindo",
    ],
)
def test_ac_matches_naive(text):
    assert _ac_count(text) == _naive_count(text)


def test_ac_nested_patterns_random():
    import random

    rng = random.Random(7)
    alphabet = "windotablevaluescanparkrowkeyfilterj "
    for _ in range(200):
        t = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        assert _ac_count(t) == _naive_count(t), t


def test_ac_self_overlap():
    # 'aaa' in 'aaaaa' occurs at 3 start positions (overlapping)
    pats = ("aaa", "aa")
    total, seen = _ac_count("aaaaa", pats)
    assert total == 3 + 4
    assert seen == {0, 1}


# ------------------------------------------------------------ C4 filter


def test_c4_rules_fire(spark):
    rows = c4_line_filter(spark, SF_DIR).collect()
    assert rows, "c4_line_filter returned nothing"
    # every rule must fire somewhere: some lines dropped in some doc,
    # and at least one doc on each side of the page-level verdict
    assert any(r.n_kept < r.n_lines for r in rows)
    assert any(r.doc_kept == 1 for r in rows)
    for r in rows:
        assert 0 <= r.n_kept <= r.n_lines
        assert r.doc_kept == (1 if r.n_kept >= C4_MIN_KEPT_LINES else 0)


# ------------------------------------------------------------ line dedup


def test_line_dedup_counts(spark, tmp_path):
    out = {r.doc_id: r for r in line_dedup_survivors(spark, SF_DIR).collect()}
    assert out
    total_lines = sum(r.n_lines for r in out.values())
    total_surv = sum(r.n_surviving for r in out.values())
    # survivors = number of DISTINCT lines in the corpus: strictly fewer
    # than total lines (non-vacuous), never more
    assert 0 < total_surv < total_lines
    # any doc's surviving count is bounded by its line count
    assert all(0 <= r.n_surviving <= r.n_lines for r in out.values())
    # duplicated-line tally is non-vacuous somewhere
    assert any(r.n_duplicated > 0 for r in out.values())


def test_line_dedup_exactly_one_survivor_per_line(spark):
    """Corpus-level invariant: #survivors == #distinct lines."""
    from national_caseload_data_ingest_spark.operators.cleaning import (
        DEDUP_LINE_WORDS,
        _lines_expr,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    import pyspark.sql.functions as F

    d = load_tables(spark, SF_DIR, "documents")["documents"]
    distinct_lines = (
        d.select(F.explode(_lines_expr(DEDUP_LINE_WORDS, False)).alias("line"))
        .distinct()
        .count()
    )
    surv = (
        line_dedup_survivors(spark, SF_DIR)
        .agg(F.sum("n_surviving").alias("s"))
        .collect()[0]
        .s
    )
    assert surv == distinct_lines


# ------------------------------------------------------------ packing


def test_pack_invariants(spark):
    rows = sequence_pack_docs(spark, SF_DIR).collect()
    assert rows
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        bin_id, fill = 0, 0
        for i, r in enumerate(rs):
            t = r.n_tokens
            if i == 0:
                bin_id, fill = 0, t
            elif fill + t <= PACK_CAPACITY:
                fill += t
            else:
                bin_id, fill = bin_id + 1, t
            assert (r.bin_id, r.bin_fill) == (bin_id, fill), (src, r.doc_id)
        # no bin overfills unless it holds a single oversized doc
        fills: dict[int, int] = {}
        counts: dict[int, int] = {}
        for r in rs:
            fills[r.bin_id] = max(fills.get(r.bin_id, 0), r.bin_fill)
            counts[r.bin_id] = counts.get(r.bin_id, 0) + 1
        for b, f in fills.items():
            assert f <= PACK_CAPACITY or counts[b] == 1


def test_keyword_tag_nonvacuous(spark):
    rows = keyword_tag_docs(spark, SF_DIR).collect()
    assert rows
    assert any(r.total_hits > r.distinct_patterns for r in rows)
    assert all(r.distinct_patterns <= len(KEYWORDS) for r in rows)


# ------------------------------------------------------------ Gopher rules


def test_gopher_rules_consistent(spark):
    from collections import Counter

    from national_caseload_data_ingest_spark.operators.cleaning import (
        GOPHER_DUP_BIGRAM_PCT,
        GOPHER_MAX_MEAN_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_MEAN_LEN,
        GOPHER_MIN_WORDS,
        GOPHER_TOP_BIGRAM_PCT,
        gopher_quality_filter,
    )

    rows = gopher_quality_filter(spark, SF_DIR).collect()
    assert rows, "gopher_quality_filter returned nothing"
    # the combined verdict must be exactly the conjunction of the rules,
    # and each rule must agree with a driver-side recompute from the
    # emitted scalars (integer cross-multiplication, no float thresholds)
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    for r in rows:
        assert r.kept == (
            r.r_wordcount
            & r.r_mean_len
            & r.r_stopwords
            & r.r_top_bigram
            & r.r_dup_bigram
        )
        ws = docs[r.doc_id].strip().split(" ")
        nc = len(docs[r.doc_id].strip())
        assert r.n_words == len(ws)
        letters = nc - (len(ws) - 1)
        assert r.r_wordcount == int(
            GOPHER_MIN_WORDS <= len(ws) <= GOPHER_MAX_WORDS
        )
        assert r.r_mean_len == int(
            GOPHER_MIN_MEAN_LEN * len(ws)
            <= letters
            <= GOPHER_MAX_MEAN_LEN * len(ws)
        )
        assert r.r_stopwords == int("a" in ws and "the" in ws)
        grams = Counter(
            f"{a} {b}" for a, b in zip(ws, ws[1:])
        )
        top = max((c * len(g) for g, c in grams.items()), default=0)
        dup = sum((c - 1) * len(g) for g, c in grams.items() if c > 1)
        assert r.r_top_bigram == int(100 * top <= GOPHER_TOP_BIGRAM_PCT * nc)
        assert r.r_dup_bigram == int(100 * dup <= GOPHER_DUP_BIGRAM_PCT * nc)
        assert abs(r.top_bigram_frac - top / nc) < 1e-12
        assert abs(r.dup_bigram_frac - dup / nc) < 1e-12


def test_gopher_rules_nonvacuous(spark):
    from national_caseload_data_ingest_spark.operators.cleaning import (
        gopher_quality_filter,
    )

    rows = gopher_quality_filter(spark, SF_DIR).collect()
    for flag in (
        "r_wordcount",
        "r_stopwords",
        "kept",
    ):
        vals = {getattr(r, flag) for r in rows}
        assert vals == {0, 1}, f"{flag} is vacuous at sf0.001: {vals}"


def test_mojibake_repair_rule_edges():
    """ADVICE-grade edge sweep: true double-encodings repair byte-exactly,
    clean accents and ASCII are untouched, and unrepairable text (chars
    outside Latin-1) passes through."""
    from national_caseload_data_ingest_spark.operators.cleaning import (
        mojibake_repair,
    )

    broken = "rÃ©sumÃ©"  # 'résumé' double-encoded
    fixed, rep = mojibake_repair(broken)
    assert (fixed, rep) == ("résumé", True)
    for clean in ("résumé", "plain", "naïve — ünïcode ✓", ""):
        out, rep = mojibake_repair(clean)
        assert out == clean and not rep


def test_invisible_scrub_preserves_visible_text():
    from national_caseload_data_ingest_spark.operators.cleaning import (
        INVISIBLE_CHARS,
        _INVIS_TABLE,
    )

    raw = "a​b‌c‍d⁠e﻿f­g"
    assert raw.translate(_INVIS_TABLE) == "abcdefg"
    assert len(INVISIBLE_CHARS) == 6

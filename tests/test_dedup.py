

# -- content-defined chunking -------------------------------------------------

def test_cdc_resynchronizes_after_insertion():
    """THE CDC property: inserting text near the front shifts early
    boundaries but the chunker re-synchronizes — boundaries in the tail
    land on the same CONTENT (same distance from the end), which fixed-
    size chunking can never do."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        _gear_table,
        cdc_chunk_text,
    )

    gear = _gear_table()
    base = "the quick brown fox jumps over the lazy dog " * 30
    cuts_a = cdc_chunk_text(base, gear)
    cuts_b = cdc_chunk_text("INSERTED-PREFIX " + base, gear)
    # distances from the END of the text identify content-anchored cuts
    tail_a = {len(base) - c for c in cuts_a}
    tail_b = {len("INSERTED-PREFIX " + base) - c for c in cuts_b}
    shared = tail_a & tail_b
    # most tail boundaries survive the insertion
    assert len(shared) >= len(cuts_a) // 2, (sorted(tail_a),
                                             sorted(tail_b))
    # fixed-size chunking (the null hypothesis) shares ~none
    fixed_a = {len(base) - c for c in range(32, len(base), 32)}
    fixed_b = {len("INSERTED-PREFIX " + base) - c
               for c in range(32, len(base) + 16, 32)}
    assert len(fixed_a & fixed_b) == 0


def test_cdc_min_max_clamps():
    from national_caseload_data_ingest_spark.operators.dedup import (
        _CDC_MAX,
        _CDC_MIN,
        _gear_table,
        cdc_chunk_text,
    )

    gear = _gear_table()
    text = "abcdefgh" * 200
    cuts = cdc_chunk_text(text, gear)
    sizes = [b - a for a, b in zip([0] + cuts, cuts)]
    # every chunk but the trailing partial respects [MIN, MAX]
    assert all(_CDC_MIN <= s <= _CDC_MAX for s in sizes[:-1])
    assert sizes[-1] <= _CDC_MAX
    assert cuts[-1] == len(text)
    # identical content chunks identically regardless of position
    assert cdc_chunk_text(text, gear) == cuts


def test_cdc_shared_passage_yields_shared_chunks():
    """Two docs sharing a long passage at DIFFERENT offsets produce
    identical chunk content inside the passage — the dedup payoff."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        _gear_table,
        cdc_chunk_text,
    )

    gear = _gear_table()
    # APERIODIC passage (periodic text can phase-lock cut chains —
    # real prose is aperiodic, so emulate that)
    passage = " ".join(f"token{j}payload" for j in range(40))
    d1 = "AAA " + passage + " tail-one"
    d2 = "a completely different and longer lead-in here " + passage

    def chunks(text):
        cuts = cdc_chunk_text(text, gear)
        return {text[a:b] for a, b in zip([0] + cuts, cuts)}

    shared = chunks(d1) & chunks(d2)
    # at ~32-byte chunks a 500-char shared passage yields many twins
    assert len(shared) >= 5


# -- blocked exact Jaccard routing ---------------------------------------------

def test_jaccard_over_stats_cap_falls_through_to_block_kernel(spark, monkeypatch):
    """A corpus whose distinct (block, gram) rows exceed JACCARD_BLAS_STATS_CAP
    would make the BLAS band tier raise when it collects them; routing
    sends it to the per-block kernel instead, even when its work is past
    the BLAS crossover."""
    import pytest

    from national_caseload_data_ingest_spark.operators import dedup

    texts = [
        (i, f"alpha beta gamma delta w{i % 7} epsilon zeta", ("en", "fr")[i % 2])
        for i in range(30)
    ]
    docs = spark.createDataFrame(texts, "doc_id bigint, text string, lang string")
    postings = dedup.word_bigram_postings(docs).persist()
    try:
        want = sorted(
            tuple(r)
            for r in postings.groupBy("lang").applyInPandas(
                dedup._jaccard_block_kernel(
                    0.5, dedup.MAX_BLOCK_DOCS, dedup.MAX_BLOCK_CELLS
                ),
                schema="doc_a bigint, doc_b bigint, jaccard double",
            ).collect()
        )
        monkeypatch.setattr(dedup, "JACCARD_BLAS_MIN_FLOPS", 0)
        monkeypatch.setattr(dedup, "JACCARD_BLAS_STATS_CAP", 4)
        with pytest.raises(ValueError, match="stats cap"):
            dedup._jaccard_bcast_pairs(postings, ["lang"], 0.5)
        got = sorted(
            tuple(r)
            for r in dedup.jaccard_pairs_in_blocks(postings, ["lang"], 0.5).collect()
        )
        assert got == want and want
    finally:
        postings.unpersist()

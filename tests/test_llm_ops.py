"""LLM-pipeline operator semantics: LSH paths checked against exact ground
truth (the oracle-less queries' correctness story), multimodal plumbing,
and the cross-engine determinism of the cosine kernel."""

import duckdb
import pytest

import __spark_entry__ as ent

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def catalog():
    return ent.queries()


def test_minhash_recall_against_exact_jaccard(spark, catalog):
    """Every exact-Jaccard pair ≥ 0.5 must be found by MinHash+LSH (recall
    1.0 at these parameters on this corpus), and every reported pair must
    actually clear the threshold (precision 1.0 — pairs are verified)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in catalog["ngram_jaccard_pairs"](spark, SF).collect()
        if r["jaccard"] >= 0.5
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in catalog["minhash_lsh_neardup"](spark, SF).collect()
    }
    missed = exact - set(lsh)
    assert not missed, f"LSH missed ground-truth pairs: {missed}"
    assert all(j >= 0.5 for j in lsh.values())


def test_simhash_pairs_are_symmetric_consistent(spark, catalog):
    rows = catalog["simhash_neardup"](spark, SF).collect()
    assert all(r["doc_a"] < r["doc_b"] for r in rows)
    assert all(0 <= r["hamming"] <= 3 for r in rows)
    # signature banding must never emit duplicates after distinct
    pairs = [(r["doc_a"], r["doc_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_ann_results_subset_of_bruteforce_candidates(spark, catalog):
    """ANN top-k must report true cosines (same kernel as brute force): for
    each query, every ANN hit appears in the brute-force full ranking with
    the identical similarity value."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in catalog["cosine_topk_bruteforce"](spark, SF).collect()
    }
    ann = catalog["ann_lsh_topk"](spark, SF).collect()
    assert ann, "ANN returned nothing on the test corpus"
    for r in ann:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:  # hit also in exact top-k → values must agree exactly
            assert brute[key] == r["cos_sim"]


def test_ann_finds_planted_near_duplicates(spark):
    """The property LSH actually guarantees: a vector whose near-duplicate
    exists in the corpus finds it (identical vectors share every hyperplane
    side; the 1-bit multi-probe covers small perturbations).

    Random-corpus recall is ≈ the scanned fraction by design — so the test
    plants true neighbors instead of asserting recall on noise."""
    from national_caseload_data_ingest_spark.operators.similarity import lsh_topk
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    from pyspark.sql import functions as F

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    # plant: vectors 0..4 get exact duplicates with ids 10000..10004
    dupes = (
        e.filter(F.col("vec_id") < 4)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    corpus = e.select("vec_id", "embedding").unionAll(dupes)
    hits = lsh_topk(corpus, n_queries=4, k=3).collect()
    by_query = {}
    for r in hits:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid in range(4):
        top = by_query.get(qid, [])
        assert top, f"query {qid} found no candidates"
        best = max(top, key=lambda r: r["cos_sim"])
        assert best["neighbor_id"] == qid + 10000, (
            f"planted duplicate of {qid} not ranked first: {top}"
        )
        assert abs(best["cos_sim"] - 1.0) < 1e-12


def test_dot_product_matches_duckdb_bitwise(spark, catalog):
    """The determinism contract behind every cosine oracle."""
    from national_caseload_data_ingest_spark.operators.dedup import dot
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    from pyspark.sql import functions as F

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    a, b = e.alias("a"), e.alias("b")
    got = {
        (r["x"], r["y"]): r["d"]
        for r in a.crossJoin(b)
        .filter((F.col("a.vec_id") < 4) & (F.col("b.vec_id") < 4))
        .select(
            F.col("a.vec_id").alias("x"),
            F.col("b.vec_id").alias("y"),
            dot(F.col("a.embedding"), F.col("b.embedding")).alias("d"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW e AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    for x, y, d in con.execute(
        """SELECT a.vec_id, b.vec_id,
                  list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[]))
           FROM e a, e b WHERE a.vec_id < 4 AND b.vec_id < 4"""
    ).fetchall():
        assert got[(x, y)] == d  # bitwise equality, no tolerance


def test_pipeline_lsh_mode_matches_exact_mode(spark):
    """The scale path: training_data_curation(neardup='lsh') must reproduce
    the exact-blocked output bit-for-bit on the test corpus (r=1 banding at
    32 perms gives per-pair miss probability ≤ 8e-4 at the 0.2 threshold,
    and the hash family is deterministic, so this is a stable equality)."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        training_data_curation,
    )

    exact = sorted(
        tuple(r) for r in training_data_curation(spark, SF, neardup="exact").collect()
    )
    lsh = sorted(
        tuple(r) for r in training_data_curation(spark, SF, neardup="lsh").collect()
    )
    assert exact == lsh
    assert len(exact) > 0


def test_pipeline_lsh_mode_has_no_quadratic_kernel(spark):
    """The LSH plan must contain no applyInPandas (FlatMapGroupsInPandas)
    stage — the quadratic in-block verifier is exactly what this mode
    replaces; candidates come from the band-bucket join instead."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        training_data_curation,
    )
    from national_caseload_data_ingest_spark.plans import physical_plan

    plan = physical_plan(training_data_curation(spark, SF, neardup="lsh"))
    assert "FlatMapGroupsInPandas" not in plan
    # exact mode, by contrast, is the quadratic kernel
    plan_exact = physical_plan(training_data_curation(spark, SF, neardup="exact"))
    assert "FlatMapGroupsInPandas" in plan_exact


def test_pipeline_rejects_unknown_neardup_mode(spark):
    from national_caseload_data_ingest_spark.operators.dedup import (
        training_data_curation,
    )

    with pytest.raises(ValueError, match="neardup"):
        training_data_curation(spark, SF, neardup="fuzzy")


# Documented recall floors for the ANN paths, measured against the exact
# brute-force top-10 at sf0.1 (≈5k vectors, random 64-dim — the
# hardest-case corpus for ANN: no cluster structure to exploit).  Measured
# on this corpus: LSH = 0.120 (multi-probe scans ≈ 9/256 ≈ 3.5% of the
# corpus → 3.4× better than random scanning, the theoretically expected
# gain from hyperplane bias toward high-cosine neighbors), IVF = 0.400
# (2 of 16 cells ≈ 12.5% scanned, amplified by near-cell bias).  Floors
# sit at ~half the measured values so the test pins "materially better
# than the scanned fraction" without flaking on corpus regeneration.
LSH_RECALL_FLOOR = 0.06
IVF_RECALL_FLOOR = 0.20
SF_BENCH = "/root/testdata/sf0.1"


def test_ann_recall_at_10_vs_bruteforce(spark, catalog):
    """recall@10 of both ANN paths against the exact brute-force ranking at
    sf0.1, printed for the record and asserted against documented floors."""
    truth = {}
    for r in catalog["cosine_topk_bruteforce"](spark, SF_BENCH).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert truth, "brute force returned nothing"

    def recall(rows):
        hit = tot = 0
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for qid, t in truth.items():
            tot += len(t)
            hit += len(t & got.get(qid, set()))
        return hit / tot

    lsh_recall = recall(catalog["ann_lsh_topk"](spark, SF_BENCH).collect())
    ivf_recall = recall(catalog["ann_ivf_topk"](spark, SF_BENCH).collect())
    print(f"\nmeasured recall@10 at sf0.1: lsh={lsh_recall:.3f} ivf={ivf_recall:.3f}")
    assert lsh_recall >= LSH_RECALL_FLOOR, f"LSH recall {lsh_recall:.3f}"
    assert ivf_recall >= IVF_RECALL_FLOOR, f"IVF recall {ivf_recall:.3f}"


def test_brute_topk_survives_small_batches(spark):
    """Batches smaller than k+PAD that contain a query vector must still
    emit their candidates (the tie-closure cut is -inf there, not NaN):
    with 40 vectors split over 32 partitions every batch is tiny, and the
    result must equal the single-batch run exactly."""
    from national_caseload_data_ingest_spark.operators.similarity import (
        brute_topk,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    from pyspark.sql import functions as F

    e = load_tables(spark, SF, "embeddings")["embeddings"].filter(
        F.col("vec_id") < 40
    )
    want = sorted(
        tuple(r) for r in brute_topk(e.coalesce(1), n_queries=4, k=10).collect()
    )
    got = sorted(
        tuple(r) for r in brute_topk(e.repartition(32), n_queries=4, k=10).collect()
    )
    assert got == want
    assert len({r[0] for r in got}) == 4  # every query produced results


def test_ivf_neardup_precision_and_recall(spark):
    """IVF-cell-blocked near-dup vs the exact global pair set (one block,
    small corpus): every reported pair must appear in the exact set with
    the identical cosine (precision 1.0 — pairs are exact-rescored), and
    recall must clear a documented floor (pairs missed only when neither
    side's 2 assigned cells overlap)."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        cosine_pairs_in_blocks,
    )
    from national_caseload_data_ingest_spark.operators.similarity import (
        ivf_neardup,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    from pyspark.sql import functions as F

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in cosine_pairs_in_blocks(
            e.withColumn("blk", F.lit(0)), ["blk"], 0.4
        ).collect()
    }
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in ivf_neardup(e, threshold=0.4).collect()
    }
    assert got, "IVF near-dup found nothing"
    for pair, sim in got.items():
        assert exact[pair] == sim  # precision 1.0, bitwise-equal values
    recall = len(got) / len(exact)
    print(f"\nivf_neardup recall vs exact global pairs: {recall:.3f}")
    assert recall >= 0.5, f"recall {recall:.3f}"


def test_ivf_neardup_finds_planted_duplicates(spark):
    """Exact clones share their argmin cell, so recall on true duplicates
    is 1.0 regardless of cell boundaries."""
    from national_caseload_data_ingest_spark.operators.similarity import (
        ivf_neardup,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    from pyspark.sql import functions as F

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    dupes = e.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus = e.select("vec_id", "embedding").unionAll(dupes)
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in ivf_neardup(corpus, threshold=0.99).collect()
    }
    for qid in range(4):
        assert (qid, qid + 10000) in pairs, f"clone of {qid} missed"


def test_multimodal_decode_stub_raises(spark):
    from national_caseload_data_ingest_spark.operators.multimodal import (
        decode_image,
    )

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n")


def test_multimodal_batch_shape(spark, catalog):
    df = catalog["multimodal_byte_features"](spark, SF)
    assert df.columns == [
        "doc_id",
        "mime",
        "n_bytes",
        "first_byte",
        "head_checksum",
    ]
    rows = df.collect()
    assert len(rows) == 500
    assert all(r["n_bytes"] > 0 for r in rows)


def test_ivf_ann_reports_true_cosines(spark, catalog):
    """IVF hits use the same exact cosine kernel: any hit also present in
    the brute-force ranking must carry the identical value."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in catalog["cosine_topk_bruteforce"](spark, SF).collect()
    }
    ivf = catalog["ann_ivf_topk"](spark, SF).collect()
    assert ivf, "IVF ANN returned nothing on the test corpus"
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert brute[key] == r["cos_sim"]


def test_ivf_finds_planted_near_duplicates(spark):
    """An exact duplicate lands in the same centroid bucket as its query
    (identical distance vectors → identical argmin), so IVF must rank it
    first with cosine 1."""
    from national_caseload_data_ingest_spark.operators.similarity import ivf_topk
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    from pyspark.sql import functions as F

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    dupes = (
        e.filter(F.col("vec_id") < 4)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    corpus = e.select("vec_id", "embedding").unionAll(dupes)
    hits = ivf_topk(corpus, n_queries=4, k=3).collect()
    by_query = {}
    for r in hits:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid in range(4):
        top = by_query.get(qid, [])
        assert top, f"query {qid} found no candidates"
        best = max(top, key=lambda r: r["cos_sim"])
        assert best["neighbor_id"] == qid + 10000, (
            f"planted duplicate of {qid} not ranked first: {top}"
        )
        assert abs(best["cos_sim"] - 1.0) < 1e-12


def test_ivf_assignment_is_narrow(spark):
    """Corpus→bucket assignment must be a pure projection (centroid
    literals, no join, no shuffle) — the 100 TB viability property."""
    from national_caseload_data_ingest_spark.operators.similarity import (
        ivf_assign,
        ivf_train,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    from national_caseload_data_ingest_spark.plans import (
        join_kinds,
        shuffle_exchanges,
    )

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    assigned = ivf_assign(e, ivf_train(e))
    assert join_kinds(assigned) == []
    assert shuffle_exchanges(assigned) == []


def test_frame_sample_explodes_rows_no_shuffle(spark, catalog):
    """Frame sampling: 1→N row explosion inside a narrow mapInPandas —
    every kept frame present, stride respected, no shuffle in the plan."""
    from national_caseload_data_ingest_spark.operators.multimodal import (
        FRAME_STRIDE,
    )
    from national_caseload_data_ingest_spark.plans import shuffle_exchanges

    df = catalog["multimodal_frame_sample"](spark, SF)
    assert shuffle_exchanges(df) == []
    rows = df.collect()
    assert len(rows) > 500  # many docs explode into several frames
    assert all(r["frame_no"] % FRAME_STRIDE == 0 for r in rows)
    assert all(r["frame_bytes"] > 0 for r in rows)


# ---------------------------------------------------------------------------
# Content-defined chunking (cdc_chunk_stats ground truth)
# ---------------------------------------------------------------------------


def test_cdc_vectorized_matches_sequential_reference():
    """The numpy sliding-window formulation must reproduce the textbook
    per-byte gear-hash loop exactly (same candidates, same min/max walk)."""
    import random

    from national_caseload_data_ingest_spark.operators.dedup import (
        _GEAR,
        CDC_MASK_BITS,
        CDC_MAX_LEN,
        CDC_MIN_LEN,
        cdc_chunk_positions,
    )

    def ref_positions(data, k=CDC_MASK_BITS, mn=CDC_MIN_LEN, mx=CDC_MAX_LEN):
        mask = (1 << k) - 1
        cands, h = [], 0
        for i, b in enumerate(data):
            h = ((h << 1) + int(_GEAR[b])) & 0xFFFFFFFFFFFFFFFF
            if (h & mask) == mask:
                cands.append(i)
        ends, start, ci, n = [], 0, 0, len(data)
        while start < n:
            limit = min(start + mx, n)
            cut = limit
            while ci < len(cands) and cands[ci] < start + mn - 1:
                ci += 1
            if ci < len(cands) and cands[ci] < limit:
                cut = cands[ci] + 1
            ends.append(cut)
            start = cut
        return ends

    rng = random.Random(1234)
    for size in (0, 1, 5, 23, 24, 63, 64, 257, 1000, 4096):
        data = bytes(rng.randrange(256) for _ in range(size))
        assert cdc_chunk_positions(data) == ref_positions(data), size

    # Parameterized parity (ADVICE r4): every valid (mask_bits, min_len,
    # max_len) must match the sequential loop, not just the defaults —
    # min_len > mask_bits (enforced by the guard) is exactly the condition
    # under which the partial-window candidates the vectorized scan skips
    # can never be selected.
    for k, mn, mx in ((4, 5, 32), (4, 8, 64), (6, 7, 100), (8, 9, 128),
                      (10, 16, 512)):
        for size in (0, 1, mn - 1, mn, 4 * mx, 1000):
            data = bytes(rng.randrange(256) for _ in range(size))
            assert cdc_chunk_positions(
                data, mask_bits=k, min_len=mn, max_len=mx
            ) == ref_positions(data, k=k, mn=mn, mx=mx), (k, mn, mx, size)


def test_cdc_boundaries_are_content_defined():
    """The CDC property: an edit perturbs only the chunks around it —
    boundaries resynchronize because the hash depends on a bounded window."""
    import hashlib
    import random

    from national_caseload_data_ingest_spark.operators.dedup import (
        CDC_MAX_LEN,
        CDC_MIN_LEN,
        cdc_chunk_positions,
    )

    rng = random.Random(7)
    s = bytes(rng.randrange(32, 127) for _ in range(4000))

    def hashes(b):
        out, st = [], 0
        for e in cdc_chunk_positions(b):
            assert CDC_MIN_LEN <= e - st <= CDC_MAX_LEN or e == len(b)
            out.append(hashlib.md5(b[st:e]).hexdigest())
            st = e
        assert st == len(b)  # chunks tile the input exactly
        return out

    h1 = hashes(s)
    assert len(set(h1) & set(hashes(b"EDIT-" + s))) >= len(set(h1)) - 3
    assert len(set(h1) & set(hashes(s[:2000] + b"#" + s[2000:]))) >= len(set(h1)) - 3


def test_cdc_chunk_stats_query(spark):
    """Whole-pipeline smoke + invariant: chunk lengths within bounds and
    total chunk bytes equal total corpus bytes (chunks tile every doc)."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        CDC_MAX_LEN,
        cdc_chunk_stats,
    )

    out = cdc_chunk_stats(spark, "/root/testdata/sf0.001").collect()
    assert out
    assert all(1 <= r.chunk_len <= CDC_MAX_LEN for r in out)
    total = sum(r.chunk_len * r.n_occurrences for r in out)
    import duckdb

    (expected,) = duckdb.sql(
        "SELECT SUM(strlen(text)) FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchone()
    assert total == expected


def test_semdedup_planted_clones_one_survivor(spark):
    """SemDeDup on a corpus with planted exact clones: the clone is always
    dropped (exact duplicates share their argmin cell — blocking recall
    1.0 on true clones) and its group representative is a smaller id."""
    from national_caseload_data_ingest_spark.operators.similarity import semdedup
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    from pyspark.sql import functions as F

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    dupes = e.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus = e.select("vec_id", "embedding").unionAll(dupes)
    rows = {r["vec_id"]: r for r in semdedup(corpus, eps=0.99).collect()}
    assert len(rows) == corpus.count()  # exactly one decision per vector
    for qid in range(4):
        clone = rows[qid + 10000]
        assert not clone["keep"], f"clone of {qid} survived"
        assert clone["group_id"] <= qid


def test_semdedup_precision_and_group_invariants(spark):
    """Every dropped vector is a true >= eps cosine neighbor (node of the
    exact global pair graph — no false removals), each group keeps exactly
    one member, and that member is the group minimum."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        cosine_pairs_in_blocks,
    )
    from national_caseload_data_ingest_spark.operators.similarity import semdedup
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    from pyspark.sql import functions as F

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    decisions = semdedup(e, eps=0.4).collect()
    assert len(decisions) == e.count()
    dropped = {r["vec_id"] for r in decisions if not r["keep"]}
    assert dropped, "corpus produced no semantic duplicates"
    exact_nodes = set()
    for r in cosine_pairs_in_blocks(
        e.withColumn("blk", F.lit(0)), ["blk"], 0.4
    ).collect():
        exact_nodes.add(r["vec_a"])
        exact_nodes.add(r["vec_b"])
    assert dropped <= exact_nodes  # precision 1.0: no false removals
    by_group = {}
    for r in decisions:
        by_group.setdefault(r["group_id"], []).append(r)
    for gid, members in by_group.items():
        keepers = [m["vec_id"] for m in members if m["keep"]]
        if len(members) == 1:
            assert keepers == [gid]
        else:
            assert keepers == [gid] or (len(keepers) == 1 and keepers[0] == min(
                m["vec_id"] for m in members
            ))
            assert gid == min(m["vec_id"] for m in members)

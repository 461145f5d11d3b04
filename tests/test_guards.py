"""Fail-fast guards: the block-size bounds on the quadratic verify
kernels, MinHash banding parameter validation, and salted-join type
restrictions.  One regression in any of these and the only symptom at
scale would be a silent return to unbounded O(n²) (or silently duplicated
rows) — so each guard gets a behavior test with a deliberately bad input
AND an at-the-bound success case.
"""

import pytest
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.dedup import (
    cosine_pairs_in_blocks,
    jaccard_pairs_in_blocks,
    minhash_band_candidates,
    word_bigram_postings,
)
from national_caseload_data_ingest_spark.operators.registry import load_tables
from national_caseload_data_ingest_spark.operators.skew import salted_join

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return load_tables(spark, SF, "documents")["documents"]


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_tables(spark, SF, "embeddings")["embeddings"]


def _one_block_docs(documents, n):
    """n docs forced into a single blocking group."""
    return (
        documents.filter(F.col("doc_id") < n)
        .withColumn("lang", F.lit("one-block"))
    )


def test_jaccard_block_guard_raises_on_oversized_block(spark, documents):
    """A block over max_block_docs must fail fast with routing guidance,
    never silently run the quadratic kernel."""
    postings = word_bigram_postings(_one_block_docs(documents, 8))
    oversized = jaccard_pairs_in_blocks(
        postings, ["lang"], threshold=0.2, max_block_docs=4
    )
    with pytest.raises(Exception, match="quadratic in-block verifier"):
        oversized.collect()


def test_jaccard_block_at_bound_succeeds(spark, documents):
    """A block exactly at the bound runs normally (the guard is >, not >=)."""
    docs = _one_block_docs(documents, 8)
    postings = word_bigram_postings(docs)
    n = docs.count()
    at_bound = jaccard_pairs_in_blocks(
        postings, ["lang"], threshold=0.2, max_block_docs=n
    )
    at_bound.collect()  # must not raise


def test_jaccard_cell_guard_raises(spark, documents):
    """The n×g incidence-matrix cell bound trips independently of the doc
    bound (skinny-but-wide blocks)."""
    postings = word_bigram_postings(_one_block_docs(documents, 8))
    oversized = jaccard_pairs_in_blocks(
        postings, ["lang"], threshold=0.2, max_block_cells=16
    )
    with pytest.raises(Exception, match="quadratic in-block verifier"):
        oversized.collect()


def test_cosine_block_guard_raises_on_oversized_block(spark, embeddings):
    e = embeddings.filter(F.col("vec_id") < 8).withColumn(
        "label", F.lit(0)
    )
    oversized = cosine_pairs_in_blocks(e, ["label"], 0.0, max_block_docs=4)
    with pytest.raises(Exception, match="quadratic in-block verifier"):
        oversized.collect()


def test_cosine_block_at_bound_succeeds(spark, embeddings):
    e = embeddings.filter(F.col("vec_id") < 8).withColumn(
        "label", F.lit(0)
    )
    at_bound = cosine_pairs_in_blocks(e, ["label"], 0.0, max_block_docs=8)
    assert at_bound.count() > 0  # threshold 0 keeps every pair


def test_minhash_banding_rejects_bad_parameters(spark, documents):
    """perms not divisible by bands drops signature rows; bands > perms
    collapses every band to ONE bucket (a full cross join) — both must
    raise instead."""
    postings = word_bigram_postings(documents)
    with pytest.raises(ValueError, match="divisible"):
        minhash_band_candidates(documents, postings, perms=32, bands=5)
    with pytest.raises(ValueError, match="divisible"):
        minhash_band_candidates(documents, postings, perms=8, bands=16)
    with pytest.raises(ValueError, match="divisible"):
        minhash_band_candidates(documents, postings, perms=8, bands=0)


def test_postings_kernel_matches_array_expression_form(spark, documents):
    """Two independent shingle implementations must agree: the Arrow
    mapInPandas postings kernel (hot path) vs the interpreted array-lambda
    form (verification path).  Guards the kernel against silent
    tokenization drift — every oracle that mentions grams depends on it."""
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.dedup import (
        _word_shingles,
    )

    d = documents.filter(F.col("doc_id") < 50)
    arr_rows = d.select(
        "doc_id", F.explode(_word_shingles(F.col("text"))).alias("gram")
    ).collect()
    arr = {(r["doc_id"], r["gram"]) for r in arr_rows}
    kern_rows = word_bigram_postings(d).collect()
    kern = {(r["doc_id"], r["gram"]) for r in kern_rows}
    assert kern == arr
    # the carried distinct-gram count must equal the actual per-doc count
    from collections import Counter

    per_doc = Counter(doc for doc, _ in kern)
    assert all(r["n_grams"] == per_doc[r["doc_id"]] for r in kern_rows)


def test_simhash_bucket_guard_raises_on_oversized_bucket(spark, documents):
    """Many identical documents land in one SimHash band bucket; the
    quadratic self-join over it must fail fast with routing guidance."""
    from national_caseload_data_ingest_spark.operators.dedup import simhash_pairs

    clones = documents.limit(1).crossJoin(
        spark.range(64).select(F.col("id").alias("clone"))
    ).select(F.col("clone").alias("doc_id"), "text")
    # The guard is IN-PLAN (assert_true over a window count reusing the
    # join's partitioning): constructing the DataFrame runs no job; the
    # raise surfaces at action time.
    guarded = simhash_pairs(clones, max_bucket_docs=16)
    with pytest.raises(Exception, match="quadratic per bucket"):
        guarded.collect()


def test_simhash_bucket_guard_at_bound_succeeds(spark, documents):
    from national_caseload_data_ingest_spark.operators.dedup import simhash_pairs

    d = documents.filter(F.col("doc_id") < 32)
    simhash_pairs(d, max_bucket_docs=32).collect()  # must not raise


def test_simhash_parameter_validation(spark, documents):
    """chunks must divide 64, exceed the Hamming threshold (pigeonhole
    recall guarantee), and keep the band count bounded — chunks=64 would
    explode into C(64,61)=41,664 bands; chunks=16 into 560."""
    from national_caseload_data_ingest_spark.operators.dedup import simhash_pairs

    with pytest.raises(ValueError, match="divide"):
        simhash_pairs(documents, chunks=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(documents, chunks=2)
    with pytest.raises(ValueError, match="bands"):
        simhash_pairs(documents, chunks=16)
    with pytest.raises(ValueError, match="bands"):
        simhash_pairs(documents, chunks=64)


def test_simhash_wide_banding_equals_narrow(spark, documents):
    """chunks=8 (56 bands of 40-bit keys — the large-corpus setting) must
    produce exactly the chunks=4 pair set: the pigeonhole recall guarantee
    for Hamming ≤ 3 is exact for both, and the Hamming filter makes the
    final output banding-invariant."""
    from national_caseload_data_ingest_spark.operators.dedup import simhash_pairs

    narrow = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(documents, chunks=4).collect()
    }
    wide = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(documents, chunks=8).collect()
    }
    assert narrow == wide


def test_cdc_rejects_min_len_not_exceeding_mask_bits():
    """The vectorized CDC candidate scan needs a full k-byte window; a
    min_len <= mask_bits parameterization would silently diverge from the
    sequential gear-hash definition, so it must raise."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        cdc_chunk_positions,
    )

    with pytest.raises(ValueError, match="min_len"):
        cdc_chunk_positions(b"x" * 100, mask_bits=6, min_len=6)
    assert cdc_chunk_positions(b"x" * 100, mask_bits=6, min_len=7)


def test_salted_join_rejects_right_and_full(spark):
    """right/full would emit each unmatched replicated-side row n_salts
    times; the docstring restriction is now enforced."""
    t = load_tables(spark, SF, "orders", "customer")
    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(
                t["orders"], t["customer"], "o_custkey", "c_custkey", how=how
            )


def test_salted_join_accepts_spark_aliases(spark):
    """Spark's join-type aliases of the safe types (leftouter, semi,
    leftanti) must work, and semi/anti epilogues must drop the salt."""
    t = load_tables(spark, SF, "orders", "customer")
    for how, cols_from_other in (
        ("leftouter", True),
        ("semi", False),
        ("leftanti", False),
    ):
        out = salted_join(
            t["orders"], t["customer"], "o_custkey", "c_custkey", how=how
        )
        assert "__salt" not in out.columns
        assert ("c_name" in out.columns) == cols_from_other
        out.limit(1).collect()  # executes cleanly


def test_salted_join_left_matches_plain_join(spark):
    """Allowed join types still produce plain-join row counts."""
    t = load_tables(spark, SF, "orders", "customer")
    plain = t["orders"].join(
        t["customer"], F.col("o_custkey") == F.col("c_custkey"), "left"
    )
    salted = salted_join(
        t["orders"], t["customer"], "o_custkey", "c_custkey", how="left"
    )
    assert salted.count() == plain.count()


# ---------------------------------------------------------------------------
# link-prediction wedge-join guard (graph.py) — the Σ C(deg,2) budget
# ---------------------------------------------------------------------------


def _star_graph(spark, n_leaves):
    """A hub of degree n_leaves: wedge volume = C(n_leaves, 2)."""
    rows = [(0, i) for i in range(1, n_leaves + 1)]
    return spark.createDataFrame(rows, ["doc_a", "doc_b"])


def test_wedge_guard_raises_on_hub_graph(spark):
    """A hub whose sum C(deg,2) exceeds the budget must fail fast with
    routing guidance before any wedge row is produced — AQE splits the
    partition but cannot bound the output."""
    from national_caseload_data_ingest_spark.operators.graph import (
        link_prediction_scores,
    )

    pairs = _star_graph(spark, 12)  # hub degree 12 -> 66 wedges
    with pytest.raises(ValueError, match="wedge-join volume"):
        link_prediction_scores(pairs, wedge_budget=50)


def test_wedge_guard_at_bound_succeeds(spark):
    """Exactly at the budget the exact plan runs (guard is >, not >=),
    and the star's leaves score n_common=1 against each other."""
    from national_caseload_data_ingest_spark.operators.graph import (
        link_prediction_scores,
    )

    pairs = _star_graph(spark, 12)
    # leaves have deg 1 -> C(1,2)=0 each; hub C(12,2)=66
    out = link_prediction_scores(pairs, wedge_budget=66).collect()
    assert len(out) == 66  # every leaf pair, non-adjacent, 1 common nbr
    assert all(r["n_common"] == 1 for r in out)


def test_wedge_guard_max_degree_routes_capped_variant(spark):
    """Over budget WITH max_degree set -> deterministic k-smallest
    neighbor cap bounds the wedge volume; true (uncapped) degrees are
    still reported.  The capped volume is RE-MEASURED (sum over middle
    nodes of in*out on the capped lists): here the hub keeps out-degree
    3 but stays in all 12 leaves' lists, so in(hub)*out(hub)=36 plus
    3 leaf middles = 39 — a budget of 39 admits it, and the uncapped
    volume C(12,2)=66 proves the capped route (not the exact one) ran."""
    from national_caseload_data_ingest_spark.operators.graph import (
        link_prediction_scores,
    )

    pairs = _star_graph(spark, 12)
    out = link_prediction_scores(
        pairs, wedge_budget=39, max_degree=3
    ).collect()
    # hub capped to neighbors {1,2,3} -> only C(3,2)=3 leaf pairs scored
    assert sorted((r["doc_a"], r["doc_b"]) for r in out) == [
        (1, 2), (1, 3), (2, 3)
    ]
    # degrees come from the UNCAPPED graph: every leaf has true deg 1
    assert all(r["deg_a"] == 1 and r["deg_b"] == 1 for r in out)
    assert all(r["n_common"] == 1 for r in out)


def test_wedge_guard_recheck_raises_when_cap_insufficient(spark):
    """The capped-volume re-check is real: a hub that survives in every
    leaf's capped list keeps the measured volume (39 here) above a
    tighter budget, and the function raises instead of running a wedge
    join bigger than promised."""
    from national_caseload_data_ingest_spark.operators.graph import (
        link_prediction_scores,
    )

    pairs = _star_graph(spark, 12)
    with pytest.raises(ValueError, match="capped wedge volume"):
        link_prediction_scores(pairs, wedge_budget=10, max_degree=3)


def test_wedge_default_budget_passes_corpus(spark, documents):
    """The registered query's default budget comfortably admits the real
    near-dup graph (regression: the guard must not break the oracle
    query)."""
    from national_caseload_data_ingest_spark.operators.curation import (
        CLUSTER_THRESHOLD,
    )
    from national_caseload_data_ingest_spark.operators.dedup import (
        neardup_pairs,
    )
    from national_caseload_data_ingest_spark.operators.graph import (
        link_prediction_scores,
    )

    pairs = neardup_pairs(documents, CLUSTER_THRESHOLD, mode="exact").select(
        "doc_a", "doc_b"
    )
    out = link_prediction_scores(pairs)
    assert out.count() >= 0  # executes without tripping the guard

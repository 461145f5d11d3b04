"""Ground-truth tests for the round-7 late additions: Jaro–Winkler
linkage (parity against DuckDB's builtin, which the oracle relies on)
and the exact-integer EWMA rollup."""

from __future__ import annotations

import random

import duckdb
import pytest

from national_caseload_data_ingest_spark.operators.linkage import (
    JW_MIN_SIM,
    jaro_winkler,
    link_customer_records_jw,
)
from national_caseload_data_ingest_spark.operators.timeseries import (
    EWMA_BAND_DAYS,
    EWMA_WEIGHTS,
    ewma_daily_revenue,
)

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------ Jaro–Winkler


@pytest.mark.parametrize(
    ("s1", "s2", "expected"),
    [
        ("martha", "marhta", 0.9611111111111111),  # Winkler's own example
        ("dwayne", "duane", 0.84),
        ("same", "same", 1.0),
        ("", "x", 0.0),
        ("x", "", 0.0),
        ("abc", "xyz", 0.0),
    ],
)
def test_jw_known_values(s1, s2, expected):
    assert jaro_winkler(s1, s2) == pytest.approx(expected, abs=1e-12)


def test_jw_matches_duckdb_exactly():
    """The oracle's validity rests on bit-for-bit parity with DuckDB's
    jaro_winkler_similarity — fuzz it."""
    con = duckdb.connect()
    rng = random.Random(42)
    pool = [
        f"Customer#{rng.randint(0, 999999):09d}" for _ in range(100)
    ] + ["".join(rng.choice("abcdef") for _ in range(rng.randint(0, 12))) for _ in range(100)]
    for _ in range(400):
        a, b = rng.choice(pool), rng.choice(pool)
        d = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert jaro_winkler(a, b) == pytest.approx(d, abs=1e-12), (a, b)


def test_jw_query_pairs_verified(spark):
    rows = link_customer_records_jw(spark, SF_DIR).collect()
    assert rows, "no JW links at sf0.001"
    for r in rows[:50]:
        assert r.key_a < r.key_b
        assert r.sim >= JW_MIN_SIM


# ------------------------------------------------------------ EWMA


def test_ewma_weights_exact():
    # 9**d * 10**(band-d) is the exact integer scaling of 0.9**d
    for d, w in enumerate(EWMA_WEIGHTS):
        assert w == 9**d * 10 ** (EWMA_BAND_DAYS - d)
        assert w / EWMA_WEIGHTS[0] == pytest.approx(0.9**d, rel=1e-12)


def test_ewma_matches_pandas_recompute(spark):
    """Recompute one priority's truncated EWMA in pandas float math and
    compare to within float tolerance (the exact-integer path is the
    oracle's job; this pins the semantics independently)."""
    out = ewma_daily_revenue(spark, SF_DIR).toPandas()
    assert len(out)
    pri = out.priority.iloc[0]
    sub = out[out.priority == pri].sort_values("day").reset_index(drop=True)

    import pandas as pd

    from national_caseload_data_ingest_spark.session import get_spark

    o = (
        get_spark()
        .read.parquet(f"{SF_DIR}/orders.parquet")
        .toPandas()
    )
    o = o[o.o_orderpriority == pri]
    o["day"] = o.o_orderdate.dt.date
    daily = o.groupby("day").o_totalprice.sum()
    days = {d: i for i, d in enumerate(sorted(daily.index))}
    dnum = {d: (pd.Timestamp(d) - pd.Timestamp("1992-01-01")).days for d in daily.index}
    for _, row in sub.head(40).iterrows():
        day = pd.Timestamp(row.day).date()
        dn = dnum[day]
        num = den = 0.0
        for d2, rev in daily.items():
            diff = dn - dnum[d2]
            if 0 <= diff <= EWMA_BAND_DAYS:
                w = 0.9**diff
                num += rev * w
                den += w
        assert row.ewma == pytest.approx(num / den, rel=1e-9), day
        assert row.daily_rev == pytest.approx(daily[day], rel=1e-9)


def test_ewma_single_day_is_identity(spark):
    """A day with no prior days inside the band smooths to itself."""
    out = ewma_daily_revenue(spark, SF_DIR).toPandas()
    import pandas as pd

    out["d"] = pd.to_datetime(out.day)
    for pri, grp in out.groupby("priority"):
        grp = grp.sort_values("d")
        first = grp.iloc[0]
        # the first day of the series has an empty lookback band
        prior = grp[
            (grp.d < first.d) & (grp.d >= first.d - pd.Timedelta(days=EWMA_BAND_DAYS))
        ]
        if len(prior) == 0:
            assert first.ewma == pytest.approx(first.daily_rev, abs=1e-6)


# ------------------------------------------------------ Misra-Gries HH


def test_mg_superset_guarantee_on_skewed_stream(spark):
    """Hand-built skewed stream across several partitions: the two-pass
    result must be EXACTLY the > N/k set."""
    from collections import Counter

    from national_caseload_data_ingest_spark.operators.sketch import (
        misra_gries_candidates,
    )
    import pyspark.sql.functions as F

    rng = random.Random(3)
    # zipf-ish: token 'hot0'..'hot2' dominate, long tail of rares
    stream = (
        ["hot0"] * 500 + ["hot1"] * 300 + ["hot2"] * 150
        + [f"rare{i}" for i in range(400)]
    )
    rng.shuffle(stream)
    toks = spark.createDataFrame(
        [(t,) for t in stream], "tok string"
    ).repartition(8)
    k = 10
    n = len(stream)
    cands = {r.tok for r in misra_gries_candidates(toks, k).collect()}
    true_counts = Counter(stream)
    heavy = {t for t, c in true_counts.items() if c > n / k}
    assert heavy <= cands, "MG candidates missed a true heavy hitter"
    # two-pass exactness: filter candidates by exact counts
    exact = {t for t in cands if true_counts[t] * k > n}
    assert exact == heavy


def test_heavy_hitter_query_is_exact(spark):
    from national_caseload_data_ingest_spark.operators.sketch import (
        MG_K,
        heavy_hitter_tokens,
    )
    import pyspark.sql.functions as F
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    got = {r.tok: r.c for r in heavy_hitter_tokens(spark, SF_DIR).collect()}
    d = load_tables(spark, SF_DIR, "documents")["documents"]
    toks = d.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"))
    n = toks.count()
    truth = {
        r.tok: r.c
        for r in toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).collect()
        if r.c * MG_K > n
    }
    assert got == truth
    assert 0 < len(got), "threshold selects nothing - vacuous"
    # the threshold must also REJECT something, or the filter is vacuous
    all_toks = toks.select("tok").distinct().count()
    assert len(got) < all_toks


# ------------------------------------------------------ label propagation


def test_lpa_splits_sparse_bridge_cc_does_not(spark):
    """Two 4-cliques joined by one bridge edge: CC gives one component,
    LPA (mode + min tie-break) keeps two communities."""
    from national_caseload_data_ingest_spark.operators.graph import (
        label_propagation,
    )

    cl1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cl2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    bridge = [(3, 10)]
    edges = spark.createDataFrame(
        cl1 + cl2 + bridge, "doc_a long, doc_b long"
    )
    labels = {r.node: r.label for r in label_propagation(edges, 4).collect()}
    # both cliques collapse to their own min label
    assert len({labels[n] for n in range(4)}) == 1
    assert len({labels[n] for n in range(10, 14)}) == 1
    assert labels[0] != labels[12], "LPA merged across the sparse bridge"


def test_lpa_deterministic(spark):
    from national_caseload_data_ingest_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (2, 5)],
        "doc_a long, doc_b long",
    )
    a = sorted((r.node, r.label) for r in label_propagation(edges, 4).collect())
    b = sorted((r.node, r.label) for r in label_propagation(edges, 4).collect())
    assert a == b


# ------------------------------------------------------ NFC


def test_nfc_constants_are_canonically_equal():
    import unicodedata

    from national_caseload_data_ingest_spark.operators.cleaning import (
        NFC_DECOMPOSED_SUFFIX,
        NFC_PRECOMPOSED_SUFFIX,
    )

    assert NFC_DECOMPOSED_SUFFIX != NFC_PRECOMPOSED_SUFFIX
    assert len(NFC_DECOMPOSED_SUFFIX) == len(NFC_PRECOMPOSED_SUFFIX) + 1
    assert (
        unicodedata.normalize("NFC", NFC_DECOMPOSED_SUFFIX)
        == NFC_PRECOMPOSED_SUFFIX
    )


def test_nfc_query_classes(spark):
    from national_caseload_data_ingest_spark.operators.cleaning import (
        nfc_normalize_docs,
    )

    rows = {r.doc_id: r for r in nfc_normalize_docs(spark, SF_DIR).collect()}
    assert rows
    for doc_id, r in rows.items():
        if doc_id % 3 == 0:  # decomposed suffix: NFC shrinks by 1 char
            assert r.changed == 1 and r.len_nfc == r.len_raw - 1
            assert r.last_char == "é"
        elif doc_id % 3 == 1:  # precomposed: already NFC
            assert r.changed == 0 and r.len_nfc == r.len_raw
            assert r.last_char == "é"
        else:  # untouched ASCII
            assert r.changed == 0 and r.len_nfc == r.len_raw


# ------------------------------------------------------ golden records


def test_golden_records_survivorship(spark):
    """Hand-checkable invariants: cluster ids are member minima, the
    golden name belongs to the richest member, singletons pass through."""
    from national_caseload_data_ingest_spark.operators.linkage import (
        golden_customer_records,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    out = {r.cluster_id: r for r in golden_customer_records(spark, SF_DIR).collect()}
    assert out
    cust = {
        r.c_custkey: r
        for r in load_tables(spark, SF_DIR, "customer")["customer"].collect()
    }
    # every customer lands in exactly one cluster
    assert sum(r.n_members for r in out.values()) == len(cust)
    assert any(r.n_members > 1 for r in out.values()), "no multi-member cluster"
    assert any(r.n_members == 1 for r in out.values()), "no singleton"
    for cid, r in out.items():
        assert r.golden_key >= cid  # cluster id is the min member key
        if r.n_members == 1:
            c = cust[cid]
            assert r.golden_name == c.c_name
            assert r.total_acctbal == pytest.approx(c.c_acctbal, abs=1e-6)


def test_golden_records_richest_name(spark):
    """For a multi-member cluster, golden_name must be the name of the
    member with the max balance (ties to min key)."""
    from national_caseload_data_ingest_spark.operators.linkage import (
        golden_customer_records,
        link_customer_records,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    out = [r for r in golden_customer_records(spark, SF_DIR).collect() if r.n_members > 1]
    cust = {
        r.c_custkey: r
        for r in load_tables(spark, SF_DIR, "customer")["customer"].collect()
    }
    pairs = [
        (r.key_a, r.key_b) for r in link_customer_records(spark, SF_DIR).collect()
    ]
    # rebuild components driver-side
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for k in parent:
        members.setdefault(find(k), []).append(k)
    for r in out:
        mem = members[r.cluster_id]
        assert len(mem) == r.n_members
        best = min(mem, key=lambda k: (-cust[k].c_acctbal, k))
        assert r.golden_name == cust[best].c_name
        assert r.total_acctbal == pytest.approx(
            sum(cust[k].c_acctbal for k in mem), abs=1e-6
        )


# ------------------------------------------------------ layout / routing


def test_zorder_interleave_bit_exact():
    """The generated SQL interleave must equal a direct Python Morton
    encode for arbitrary 16-bit inputs."""
    import duckdb

    from national_caseload_data_ingest_spark.operators.layout import (
        Z_BITS,
        _Z_EXPR,
    )

    def morton(x, y):
        z = 0
        for i in range(Z_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    con = duckdb.connect()
    cases = [(0, 0), (1, 0), (0, 1), (65535, 65535), (43690, 21845), (899, 2467)]
    for x, y in cases:
        got = con.execute(
            f"SELECT {_Z_EXPR} FROM (SELECT {x} AS zx, {y} AS zy)"
        ).fetchone()[0]
        assert got == morton(x, y), (x, y)


def test_zorder_locality(spark):
    """Neighbors in either dimension must stay within a bounded z-gap:
    flipping the low bit of one dim changes z by at most 2 bits' worth."""
    from national_caseload_data_ingest_spark.operators.layout import (
        zorder_orders_layout,
    )

    rows = zorder_orders_layout(spark, SF_DIR).collect()
    assert rows
    byxy = {(r.zx, r.zy): r.zvalue for r in rows}
    checked = 0
    for (x, y), z in byxy.items():
        if (x + 1, y) in byxy:
            # changing x by 1 flips only even bit positions
            assert (byxy[(x + 1, y)] ^ z) & 0xAAAAAAAA == 0
            checked += 1
    assert checked > 0


def test_hrw_minimal_disruption(spark):
    """Removing one shard must move ONLY the docs routed to it — the
    rendezvous property, recomputed driver-side from the same scores."""
    import hashlib

    from national_caseload_data_ingest_spark.operators.layout import (
        HRW_SHARDS,
        hrw_shard_routing,
    )

    def score(doc_id, s):
        return hashlib.md5(f"{doc_id}:shard:{s}".encode()).hexdigest()

    got = {r.doc_id: r.shard for r in hrw_shard_routing(spark, SF_DIR).collect()}
    assert got
    # parity with a direct python argmax
    for doc_id, shard in list(got.items())[:100]:
        best = max(range(HRW_SHARDS), key=lambda s: score(doc_id, s))
        assert shard == best
    # drop shard 0: every doc NOT on shard 0 must keep its assignment
    for doc_id, shard in got.items():
        if shard != 0:
            best_wo = max(range(1, HRW_SHARDS), key=lambda s: score(doc_id, s))
            assert best_wo == shard
    # balance sanity: every shard gets something
    assert len(set(got.values())) == HRW_SHARDS


# ------------------------------------------------------ KL drift


def test_source_kl_nonnegative_and_entropy_bounds(spark):
    """Gibbs: KL >= 0 always; entropy in [0, ln(vocab)]."""
    import math

    from national_caseload_data_ingest_spark.operators.text import (
        source_token_drift,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables
    import pyspark.sql.functions as F

    rows = source_token_drift(spark, SF_DIR).collect()
    assert rows
    d = load_tables(spark, SF_DIR, "documents")["documents"]
    vocab = (
        d.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("t"))
        .distinct()
        .count()
    )
    for r in rows:
        assert r.kl_from_corpus >= -1e-7, r
        assert -1e-7 <= r.entropy <= math.log(vocab) + 1e-7, r


def test_source_kl_matches_scipy_style_recompute(spark):
    """Driver-side float recompute of one source's KL and entropy."""
    import math
    from collections import Counter

    from national_caseload_data_ingest_spark.operators.text import (
        source_token_drift,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    got = {r.source: r for r in source_token_drift(spark, SF_DIR).collect()}
    docs = load_tables(spark, SF_DIR, "documents")["documents"].collect()
    per_src: dict[str, Counter] = {}
    corpus: Counter = Counter()
    for r in docs:
        toks = r.text.strip().split(" ")
        per_src.setdefault(r.source, Counter()).update(toks)
        corpus.update(toks)
    nq = sum(corpus.values())
    for src, cnt in per_src.items():
        ns = sum(cnt.values())
        kl = sum(
            (c / ns) * math.log((c / ns) / (corpus[t] / nq))
            for t, c in cnt.items()
        )
        ent = -sum((c / ns) * math.log(c / ns) for c, in [(v,) for v in cnt.values()])
        assert got[src].kl_from_corpus == pytest.approx(kl, abs=1e-6)
        assert got[src].entropy == pytest.approx(ent, abs=1e-6)


# ------------------------------------------------------ Bloom-pruned join


def test_bloom_screen_prunes_but_never_drops(spark):
    """The Bloom screen must (a) pass EVERY true-match fact row (no false
    negatives — the join result equals the plain join), (b) actually
    prune: the screened fact relation is a small fraction of the full
    scan (true matches + the documented ~1% FP leak)."""
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.curation import (
        bloom_bitmap,
        bloom_might_contain,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01", "lineitem", "orders")
    surv = t["orders"].filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    ).select("o_orderkey")
    bitmap = bloom_bitmap(surv.select(F.col("o_orderkey").alias("gram")))
    screened = t["lineitem"].filter(
        bloom_might_contain(F.col("l_orderkey"), bitmap)
    )
    n_full = t["lineitem"].count()
    n_screened = screened.count()
    n_true = (
        t["lineitem"].join(surv, F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert n_true <= n_screened  # no false negatives
    assert n_screened < n_full * 0.10  # the prune is real (~1% survivors)


def test_bloom_pruned_join_equals_plain_join(spark):
    """Row-for-row equality with the unscreened join (false positives are
    removed by the exact join; false negatives are impossible)."""
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.skew import (
        bloom_pruned_join,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    t = load_tables(spark, SF_DIR, "lineitem", "orders")
    surv = t["orders"].filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    got = sorted(
        (r["l_orderkey"], r["l_linenumber"])
        for r in bloom_pruned_join(
            t["lineitem"], "l_orderkey", surv, "o_orderkey"
        ).collect()
    )
    want = sorted(
        (r["l_orderkey"], r["l_linenumber"])
        for r in t["lineitem"]
        .join(surv, F.col("l_orderkey") == F.col("o_orderkey"))
        .collect()
    )
    assert got == want and got


# ------------------------------------------------- Matryoshka prefix recall


def test_matryoshka_overlap_counts_are_set_intersections(spark):
    """n_overlap must equal the literal intersection of the two top-k
    neighbor sets computed independently via brute_topk."""
    from pyspark.sql import functions as F

    import __spark_entry__ as ent
    from national_caseload_data_ingest_spark.operators.similarity import (
        MRL_PREFIX_DIM,
        brute_topk,
    )
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    sf = "/root/testdata/sf0.01"
    e = load_tables(spark, sf, "embeddings")["embeddings"]
    full = {}
    for r in brute_topk(e).collect():
        full.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    pfx = {}
    prefixed = e.select(
        "vec_id", F.slice("embedding", 1, MRL_PREFIX_DIM).alias("embedding")
    )
    for r in brute_topk(prefixed).collect():
        pfx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {
        r["query_id"]: r["n_overlap"]
        for r in ent.queries()["matryoshka_prefix_recall"](spark, sf).collect()
    }
    assert set(got) == set(full)
    for qid in full:
        assert got[qid] == len(full[qid] & pfx[qid]), qid
    # non-vacuous at this corpus: truncation loses SOME but not ALL hits
    assert 0 < sum(got.values()) < 10 * len(got)


# -------------------------------------------------- α-mixture allocation


def test_alpha_mixture_sums_to_budget_and_fires_both_branches(spark):
    """Σ alloc == MIX_BUDGET exactly, every source gets > 0, the
    apportionment's +1 branch fires for SOME but not ALL sources
    (non-vacuous largest-remainder step), and small sources get MORE
    than their proportional share (the point of α = 0.5)."""
    import math

    import __spark_entry__ as ent
    from national_caseload_data_ingest_spark.operators.curation import (
        MIX_BUDGET,
    )

    rows = ent.queries()["alpha_mixture_allocation"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert sum(r["alloc"] for r in rows) == MIX_BUDGET
    assert all(r["alloc"] > 0 for r in rows)
    # recompute the floor quotas: the +1 remainder seats must be a
    # proper nonempty subset
    wsum = sum(round(math.sqrt(r["n_tokens"]), 9) for r in rows)
    plus_one = sum(
        1
        for r in rows
        if r["alloc"]
        == math.floor(
            round(math.sqrt(r["n_tokens"]), 9) * MIX_BUDGET / wsum
        )
        + 1
    )
    assert 0 < plus_one < len(rows)
    # α-rebalancing: the smallest source's share of the budget exceeds
    # its share of the tokens
    ntot = sum(r["n_tokens"] for r in rows)
    smallest = min(rows, key=lambda r: r["n_tokens"])
    assert smallest["alloc"] / MIX_BUDGET > smallest["n_tokens"] / ntot

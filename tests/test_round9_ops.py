"""Round-9 operators: the codec gate report (payload → gate reason
routing relation) and its classifier."""

import numpy as np
import pytest

from national_caseload_data_ingest_spark.operators.multimodal import (
    _gate_report_payloads,
    classify_codec_payload,
    codec_gate_report,
)

SF_DIR = "/root/testdata/sf0.001"


def test_classifier_covers_all_statuses():
    """The fixture classes exercise every status the relation can
    emit — decoded, gated, corrupt, unrouted — with the exact gate
    messages the oracle pins (messages are part of the contract)."""
    got = [classify_codec_payload(p) for p in _gate_report_payloads()]
    assert got == [
        ("jpeg", "decoded", ""),
        ("webp", "decoded", ""),
        ("webp", "gated",
         "vp8: inter frame requires reference buffers; route to decoder "
         "host (SCALING.md video routing policy)"),
        ("flac", "gated", "flac: only 8/16/24 bps supported, got 12"),
        ("webp", "corrupt", "vp8l: bad signature byte"),
        ("unknown", "unrouted", "no native decoder claims this container"),
        # animated: ROUTED to the compositing demuxer, not gated
        ("webp", "decoded", ""),
        # inter-coded video: gated with the route-to-host policy reason
        ("avi", "gated",
         "avi: codec 'H264' is inter-coded; route to decoder host "
         "(SCALING.md video routing policy)"),
        # free-format MP3: decoded since round 11 (sync-scan inference)
        ("mp3", "decoded", ""),
        # Ogg/Opus: structural walk (pages + CRCs + id header) decodes
        ("ogg", "decoded", ""),
    ]


def test_classifier_never_raises_on_adversarial_bytes():
    """The whole point: gates and corruption become rows, not job
    failures — random and truncated junk under every sniffed magic must
    classify, not throw."""
    rng = np.random.default_rng(3)
    sniffed_heads = [
        b"fLaC",
        b"RIFF\x10\x00\x00\x00AVI ",
        b"RIFF\x10\x00\x00\x00WEBP",
        b"\x89PNG\r\n\x1a\n",
        b"GIF89a",
        b"\xff\xd8",
        b"BM",
        b"II*\x00",
        b"MM\x00*",
        b"\x00\x00\x01\x00",  # ICO
        b"ID3",
        b"\xff\xfb",  # bare MPEG-audio sync
        b"OggS",
        b"",
    ]
    for head in sniffed_heads:
        for n in (0, 1, 7, 40):
            payload = head + bytes(rng.integers(0, 256, n, dtype=np.uint8))
            fmt, status, reason = classify_codec_payload(payload)
            assert status in {"decoded", "gated", "corrupt", "unrouted"}
            if status in {"gated", "corrupt"}:
                assert reason


def test_codec_gate_report_query(spark):
    rows = codec_gate_report(spark, SF_DIR).collect()
    assert len(rows) > 0
    by_class = {}
    for r in rows:
        by_class.setdefault(r["doc_id"] % 10, set()).add(
            (r["fmt"], r["status"], r["reason"])
        )
    # every class present and deterministic (one distinct triple each)
    assert set(by_class) == set(range(10))
    assert all(len(v) == 1 for v in by_class.values())
    statuses = {next(iter(v))[1] for v in by_class.values()}
    assert statuses == {"decoded", "gated", "corrupt", "unrouted"}


# ---------------------------------------------------------------------------
# scalar quantization family: int8 (global scale) + binary sign
# ---------------------------------------------------------------------------

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _emb_matrix():
    import duckdb

    rows = duckdb.sql(
        f"select vec_id, embedding from '{EMB}' order by vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    x = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, x


def test_int8_quantizer_matches_reference_map():
    """The kernel's codes equal an independent recompute of
    floor(v*127/MX + 0.5), stay in [-127, 127], and an all-zero corpus
    maps to zero codes."""
    from national_caseload_data_ingest_spark.operators.similarity import (
        _int8_quantize_np,
    )

    _, x = _emb_matrix()
    x32 = x.astype(np.float32)
    mx = float(np.abs(x32).max())
    q = _int8_quantize_np(x32, mx)
    ref = np.floor(x32.astype(np.float64) * 127.0 / mx + 0.5).astype(
        np.int64
    )
    assert np.array_equal(q, ref)
    assert q.min() >= -127 and q.max() <= 127
    assert np.array_equal(
        _int8_quantize_np(np.zeros((3, 4), np.float32), 0.0),
        np.zeros((3, 4), np.int64),
    )


def _recall(spark, fn, baseline_pairs):
    got = {
        (r.query_id, r.neighbor_id)
        for r in fn(spark, "/root/testdata/sf0.001").collect()
    }
    return len(got & baseline_pairs) / len(baseline_pairs)


def test_int8_ann_recall_floor_vs_float_dot(spark):
    """Global-scale int8 MIPS keeps >= 0.8 recall@10 against the exact
    float dot-product ranking (measured 0.90; per-vector scaling, the
    bug this floor guards against, measured 0.68)."""
    from national_caseload_data_ingest_spark.operators.similarity import (
        ann_int8_topk,
    )

    ids, x = _emb_matrix()
    dots = x @ x[:5].T
    dots[np.arange(len(ids))[:, None] == np.arange(5)[None, :]] = -np.inf
    base = {
        (q, int(ids[i]))
        for q in range(5)
        for i in np.argsort(-dots[:, q], kind="stable")[:10]
    }
    assert _recall(spark, ann_int8_topk, base) >= 0.8


def test_binary_ann_recall_floor_vs_cosine(spark):
    """1-bit sign codes approximate the ANGLE: recall@10 vs exact cosine
    stays >= 0.2 at d=64 (measured 0.26-0.32 across SFs — the documented
    32x-compression trade; production uses wider codes)."""
    from national_caseload_data_ingest_spark.operators.similarity import (
        ann_binary_topk,
        cosine_topk_bruteforce,
    )

    base = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert _recall(spark, ann_binary_topk, base) >= 0.2


def test_binary_hamming_values_exact(spark):
    """Every emitted Hamming distance equals the independent numpy
    recompute on sign bits, and ranks are (hamming, neighbor_id)-sorted."""
    from national_caseload_data_ingest_spark.operators.similarity import (
        ann_binary_topk,
    )

    ids, x = _emb_matrix()
    signs = x > 0.0
    pos = {int(v): i for i, v in enumerate(ids)}
    rows = ann_binary_topk(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        expect = int(
            (signs[pos[r.query_id]] != signs[pos[r.neighbor_id]]).sum()
        )
        assert r.hamming == expect
    for q in {r.query_id for r in rows}:
        mine = sorted(
            (r.rk, r.hamming, r.neighbor_id) for r in rows if r.query_id == q
        )
        assert mine == sorted(
            mine, key=lambda t: (t[1], t[2])
        )


# ---------------------------------------------------------------------------
# asymmetric containment join
# ---------------------------------------------------------------------------


def test_containment_asymmetric_and_nonvacuous(spark):
    """The relation is genuinely asymmetric (ordered pairs), emits both
    FULL (c == n_a) and partial containments, and every row satisfies
    the integer threshold."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        containment_quote_pairs,
    )

    rows = containment_quote_pairs(spark, "/root/testdata/sf0.01").collect()
    assert rows
    full = [r for r in rows if r.n_common == r.n_a]
    partial = [r for r in rows if r.n_common < r.n_a]
    assert full and partial
    for r in rows:
        assert 2 * r.n_common >= r.n_a
        assert r.containment == r.n_common / r.n_a
    # asymmetry: at least one ordered pair present whose reverse is not
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    assert any((b, a) not in pairs for a, b in pairs)


def test_containment_volume_guard_routes_to_prefix_tier(spark):
    """Past the measured posting-join budget the operator ROUTES to the
    prefix-filtered asymmetric plan (round-10: the raise-message's
    escape route is now code) — and that plan's output matches the
    direct tier's exactly on the same corpus."""
    from national_caseload_data_ingest_spark.operators import dedup

    def rel(df):
        return sorted(
            (r.doc_a, r.doc_b, r.n_common, r.n_a, round(r.containment, 12))
            for r in df.collect()
        )

    direct = rel(
        dedup.containment_quote_pairs(spark, "/root/testdata/sf0.001")
    )
    assert direct
    orig = dedup.DIRECT_JOIN_BUDGET
    dedup.DIRECT_JOIN_BUDGET = 1
    try:
        routed = rel(
            dedup.containment_quote_pairs(spark, "/root/testdata/sf0.001")
        )
    finally:
        dedup.DIRECT_JOIN_BUDGET = orig
    assert routed == direct


def test_containment_prefix_tier_equals_direct_on_planted_quotes(spark):
    """Tier equivalence on a fixture with planted containments of every
    flavor: full quote (short inside long), partial (exactly at the 1/2
    threshold boundary from both sides), and disjoint docs.  The prefix
    tier must emit the identical relation, and its candidate set must
    genuinely prune (fewer candidates than ordered all-pairs)."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        _containment_direct_pairs,
        _containment_prefix_pairs,
        _shared_postings,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"u{i} v{i}" for i in range(30))
    texts = {
        1: short,                               # quoted inside 2 and 3
        2: short + " " + filler,
        3: filler + " " + short,
        4: "alpha beta gamma zzz qqq",          # partial overlap with 1
        5: " ".join(f"w{i} x{i}" for i in range(25)),  # disjoint
        6: short,                               # exact dup of 1
    }
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in texts.items()],
        "doc_id bigint, text string, lang string",
    )
    postings = _shared_postings(docs).persist()
    try:
        def rel(df):
            return sorted(
                (r.doc_a, r.doc_b, r.n_common, r.n_a,
                 round(r.containment, 12))
                for r in df.collect()
            )

        direct = rel(_containment_direct_pairs(postings))
        prefix = rel(_containment_prefix_pairs(postings))
        assert direct == prefix
        pairs = {(a, b) for a, b, *_ in direct}
        # both directions of the full quote, plus the exact dup
        assert (1, 2) in pairs and (1, 3) in pairs and (1, 6) in pairs
        assert (2, 1) not in pairs  # asymmetry: long not contained in short
    finally:
        postings.unpersist()


def test_containment_finds_quote_jaccard_misses(spark):
    """The semantic point: a short doc quoted inside a long one has
    containment 1.0 but Jaccard far below any near-dup threshold —
    construct exactly that and check the ordered pair appears with the
    right direction."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        CONTAINMENT_DEN,
        CONTAINMENT_NUM,
        _shared_postings,
    )
    from pyspark.sql import functions as F

    short = "alpha beta gamma delta"
    filler = " ".join(f"w{i} w{i}x" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short, "en"), (2, short + " " + filler, "en")],
        "doc_id bigint, text string, lang string",
    )
    posts = _shared_postings(docs)
    pa = posts.select(
        F.col("doc_id").alias("a"), "gram", F.col("n_grams").alias("na")
    )
    pb = posts.select(F.col("doc_id").alias("b"), "gram")
    inter = (
        pa.join(pb, "gram")
        .filter("a != b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"), F.first("na").alias("na"))
        .collect()
    )
    by_dir = {(r.a, r.b): (r.c, r.na) for r in inter}
    c12, na1 = by_dir[(1, 2)]
    c21, na2 = by_dir[(2, 1)]
    assert c12 == na1  # short fully contained in long
    assert CONTAINMENT_DEN * c12 >= CONTAINMENT_NUM * na1
    assert CONTAINMENT_DEN * c21 < CONTAINMENT_NUM * na2  # reverse fails
    # and Jaccard would miss it entirely at the near-dup threshold
    jac = c12 / (na1 + na2 - c12)
    assert jac < 0.2


# ---------------------------------------------------------------------------
# repeated-substring spans
# ---------------------------------------------------------------------------


def test_repeated_span_report_islands(spark):
    """The span machinery is non-vacuous: zero-span docs, single spans
    (incl. fully-covered exact dups), and two-island docs all occur, and
    every covered count is consistent with its span count (each span
    covers at least SPAN_L tokens, spans never overlap)."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        SPAN_L,
        repeated_span_report,
    )

    rows = repeated_span_report(spark, "/root/testdata/sf0.01").collect()
    by_spans = {}
    for r in rows:
        by_spans.setdefault(r.n_spans, []).append(r)
    assert set(by_spans) >= {0, 1, 2}
    assert any(
        r.covered_tokens == r.n_tokens for r in by_spans[1]
    )  # full-coverage dups
    assert all(r.covered_tokens == 0 for r in by_spans[0])
    for r in rows:
        if r.n_spans:
            assert r.covered_tokens >= r.n_spans * SPAN_L
            assert r.covered_tokens <= r.n_tokens
            assert r.covered_frac == r.covered_tokens / r.n_tokens


def test_repeated_span_driver_recompute(spark):
    """Driver-side recompute on a handful of docs: re-derive each doc's
    covered positions from the raw window hashes and compare."""
    from collections import defaultdict

    from national_caseload_data_ingest_spark.operators.dedup import (
        SPAN_L,
        _SPAN_FOOTER,
        _SPAN_HEADER,
        repeated_span_report,
    )

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(sf + "/documents.parquet").collect()
    texts = {}
    for r in d:
        t = (
            (_SPAN_HEADER if r.doc_id % 4 == 0 else "")
            + r.text
            + (_SPAN_FOOTER if r.doc_id % 3 == 0 else "")
        )
        texts[r.doc_id] = t.strip().lower().split()
    grams = defaultdict(set)
    for did, tk in texts.items():
        for i in range(len(tk) - SPAN_L + 1):
            grams[" ".join(tk[i : i + SPAN_L])].add(did)
    expected = {}
    for did, tk in texts.items():
        covered = set()
        for i in range(len(tk) - SPAN_L + 1):
            g = " ".join(tk[i : i + SPAN_L])
            if len(grams[g]) >= 2:
                covered.update(range(i, i + SPAN_L))
        # count islands over covered positions
        spans = 0
        prev = None
        for p in sorted(covered):
            if prev is None or p > prev + 1:
                spans += 1
            prev = p
        expected[did] = (len(tk), spans, len(covered))
    got = {
        r.doc_id: (r.n_tokens, r.n_spans, r.covered_tokens)
        for r in repeated_span_report(spark, sf).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# distributed global row numbering
# ---------------------------------------------------------------------------


def test_global_row_index_dense_and_ordered(spark):
    """The emitted index is exactly 0..n-1 (dense, no duplicates) and
    monotone in the order columns — including with a multi-column total
    order."""
    from national_caseload_data_ingest_spark.operators.layout import (
        global_row_index,
    )

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_linenumber")
    )
    n = li.count()
    out = global_row_index(li, "l_orderkey", "l_linenumber").collect()
    assert sorted(r.row_index for r in out) == list(range(n))
    by_key = sorted(out, key=lambda r: (r.l_orderkey, r.l_linenumber))
    assert [r.row_index for r in by_key] == list(range(n))


def test_global_row_index_avoids_single_task_sort(spark):
    """The scale properties: (a) the DATA window runs per range
    partition — any SinglePartition exchange sits over the tiny
    n_partitions-row counts aggregate, never under the row_number
    window; (b) the sampled range shuffle executes exactly ONCE, with
    the counts branch reading it via ReusedExchange (two independent
    executions could sample different boundaries and corrupt the
    index); (c) nothing is persisted — the single-plan design needs no
    boundary-pinning cache (round-10 ADVICE fix)."""
    from national_caseload_data_ingest_spark.operators.layout import (
        global_order_index,
    )

    baseline = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    df = global_order_index(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "rangepartitioning" in final.lower()
    # the range exchange is materialized once and reused (the
    # ReusedExchange line re-prints the reused exchange's description,
    # so count executions per-line)
    executed = [
        ln
        for ln in final.splitlines()
        if "Exchange rangepartitioning" in ln and "ReusedExchange" not in ln
    ]
    assert len(executed) == 1
    assert "ReusedExchange" in final
    # exactly one SinglePartition exchange: the <=n_partitions-row
    # counts relation feeding the prefix-sum window (bounded by
    # construction); the data-side row_number window is __pid-keyed
    assert final.count("SinglePartition") == 1
    assert "windowspecdefinition(__pid" in final
    assert "row_number() windowspecdefinition(__pid" in final
    assert (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        == baseline
    )


# ---------------------------------------------------------------------------
# animated GIF
# ---------------------------------------------------------------------------


def test_gif_animation_compositing_and_disposal():
    """All three GIF89a animation mechanisms: interlaced base frame,
    transparency leaving the underlying canvas, disposal-to-background,
    and disposal-to-previous restoring the pre-frame canvas."""
    from national_caseload_data_ingest_spark.operators.multimodal import (
        gif_decode,
        gif_decode_animated,
        gif_encode_animated,
    )

    base = np.full((12, 16), 200, np.uint8)
    p1 = np.full((4, 4), 199, np.uint8)
    p2 = np.full((4, 4), 77, np.uint8)
    p2[:, :2] = 0
    payload = gif_encode_animated(
        16,
        12,
        [
            dict(left=0, top=0, idx=base, delay_cs=4, interlace=True),
            dict(left=4, top=4, idx=p1, delay_cs=5, disposal=2),
            dict(left=12, top=0, idx=p2, delay_cs=6, transparent_idx=0),
        ],
        bg_index=17,
    )
    w, h, frames = gif_decode_animated(payload)
    assert (w, h) == (16, 12)
    assert [d for d, _ in frames] == [4, 5, 6]
    f3 = frames[2][1]
    assert f3[5, 5, 0] == 17  # disposal 2 -> background color
    assert f3[1, 12, 0] == 200  # transparent columns show the base
    assert f3[1, 14, 0] == 77
    assert frames[1][1][5, 5, 0] == 199
    # still decoder deinterlaces the same first frame
    _, _, _, px = gif_decode(payload)
    assert np.array_equal(px[..., 0], base)
    # disposal 3 restores the pre-frame canvas
    p3 = gif_encode_animated(
        8,
        8,
        [
            dict(left=0, top=0, idx=np.full((8, 8), 10, np.uint8), delay_cs=1),
            dict(left=2, top=2, idx=np.full((2, 2), 99, np.uint8),
                 delay_cs=1, disposal=3),
            dict(left=0, top=0, idx=np.full((1, 1), 50, np.uint8), delay_cs=1),
        ],
    )
    _, _, fr = gif_decode_animated(p3)
    assert fr[1][1][2, 2, 0] == 99
    assert fr[2][1][2, 2, 0] == 10
    assert fr[2][1][0, 0, 0] == 50


def test_gif_animation_features_query(spark):
    from national_caseload_data_ingest_spark.operators.multimodal import (
        gif_animation_features,
    )

    rows = gif_animation_features(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows[:10]:
        assert r["n_frames"] == 3
        b = r["doc_id"] % 251
        patch = 17 * 16 if r["doc_id"] % 2 else 199 * 16
        assert r["gray_sum"] == b * 168 + patch + 77 * 8


def test_classifier_routes_multiframe_gif_through_compositor():
    """Round-10 ADVICE fix: a multi-frame GIF must classify via the
    full compositing demuxer, so corruption hidden past frame 1 surfaces
    as 'corrupt' instead of the first-frame decoder reporting
    'decoded'."""
    from national_caseload_data_ingest_spark.operators.multimodal import (
        gif_encode_animated,
        gif_image_count,
    )

    good = gif_encode_animated(
        8,
        8,
        [
            dict(left=0, top=0, idx=np.full((8, 8), 10, np.uint8), delay_cs=1),
            dict(left=2, top=2, idx=np.full((2, 2), 99, np.uint8), delay_cs=1),
        ],
    )
    assert gif_image_count(good) == 2
    assert classify_codec_payload(good) == ("gif", "decoded", "")
    # truncate INSIDE frame 2's pixel data: frame 1 still decodes, so a
    # first-frame-only classifier would wrongly say 'decoded'
    cut = good[: len(good) - 6]
    fmt, status, reason = classify_codec_payload(cut)
    assert (fmt, status) == ("gif", "corrupt")
    assert reason
    # single-frame stills keep the plain decode path
    still = gif_encode_animated(
        4, 4, [dict(left=0, top=0, idx=np.full((4, 4), 3, np.uint8),
                    delay_cs=1)]
    )
    assert gif_image_count(still) == 1
    assert classify_codec_payload(still) == ("gif", "decoded", "")


def test_gif_animated_truncation_raises_valueerror():
    """Round-10 ADVICE fix: truncated animated payloads raise the
    structural-corruption ValueError every other decoder raises — never
    a bare IndexError from the sub-block loops."""
    from national_caseload_data_ingest_spark.operators.multimodal import (
        gif_decode_animated,
        gif_encode_animated,
    )

    payload = gif_encode_animated(
        6,
        6,
        [
            dict(left=0, top=0, idx=np.full((6, 6), 1, np.uint8), delay_cs=2),
            dict(left=1, top=1, idx=np.full((3, 3), 2, np.uint8), delay_cs=2),
        ],
    )
    saw_value_error = 0
    for n in range(7, len(payload) - 1):
        try:
            gif_decode_animated(payload[:n])
        except ValueError:
            saw_value_error += 1
        except IndexError as e:  # pragma: no cover - the bug class
            raise AssertionError(f"bare IndexError at cut {n}") from e
        except Exception:
            pass  # struct.error etc. are caught by the classifier
    assert saw_value_error > 0


def test_global_row_index_accumulates_no_cache_entries(spark):
    """Round-10 ADVICE fix: the single-plan exchange-reuse design needs
    no boundary-pinning persist/localCheckpoint, so repeated calls over
    distinct relations leave ZERO session-lifetime cache entries.
    (Measured on 4.1.2: SQL-level localCheckpoint RDDs are never
    GC-reaped, so explicit-zero is the only non-leaky contract.)"""
    from national_caseload_data_ingest_spark.operators.layout import (
        global_row_index,
    )

    def persistent_ids() -> set[int]:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs() \
            .keysIterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )
    baseline = persistent_ids()
    for i in range(3):
        out = global_row_index(li.limit(500 + i), "l_orderkey",
                               "l_linenumber")
        assert out.count() == 500 + i
        # each call is still a correct dense index
        got = sorted(r.row_index for r in out.collect())
        assert got == list(range(500 + i))
    # set-difference, not count equality: OTHER tests' persisted RDDs
    # may be reaped asynchronously by the ContextCleaner mid-test (a
    # full-suite ordering flake) — the contract here is only that
    # global_row_index itself added NOTHING
    leaked = persistent_ids() - baseline
    assert not leaked, (
        f"global_row_index left persisted partitions behind: {leaked}"
    )


def test_kmeans_int8_nonvacuous_and_matches_driver_recompute(spark):
    """Integer k-means: >= 2 occupied clusters, every dist2 equals the
    independent numpy recompute against the SAME Lloyd's iterations run
    driver-side, and the iterations genuinely move the centroids (the
    final assignment differs from the init-centroid assignment for at
    least one vector)."""
    from national_caseload_data_ingest_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
        kmeans_int8_assign,
    )

    ids, x = _emb_matrix()
    mx = float(np.abs(x.astype(np.float32)).max())
    q = np.floor(x.astype(np.float64) * 127.0 / mx + 0.5).astype(np.int64)
    order = np.argsort(ids)
    q = q[order]
    ids_sorted = ids[order]
    pos = {int(v): i for i, v in enumerate(ids_sorted)}
    cents = q[[pos[j] for j in range(KMEANS_K)]].copy()
    init_assign = (
        ((q[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
    )
    for _ in range(KMEANS_ITERS):
        d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for j in range(KMEANS_K):
            m = assign == j
            if m.any():
                cents[j] = q[m].sum(0) // int(m.sum())
    d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    want_assign = d2.argmin(1)
    want_d2 = d2[np.arange(len(q)), want_assign]

    rows = kmeans_int8_assign(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len(q)
    for r in rows:
        i = pos[r.vec_id]
        assert r.cluster == want_assign[i], r
        assert r.dist2 == want_d2[i], r
    assert len({r.cluster for r in rows}) >= 2
    assert (want_assign != init_assign).any(), (
        "iterations never moved an assignment — vacuous fixture"
    )


def test_containment_blas_band_tier_equals_bitset_tier(spark):
    """r14: the containment BLAS band tier (broadcast float32 incidence
    matrix, row-band sgemm per task) must emit the BIT-identical
    relation as the direct posting join.  Raw float comparison on
    purpose: overlap counts are exact integers in float32
    (G ≤ DENSE_GRAM_BITS ≪ 2²⁴) and the float64 division is the same
    expression, so no tolerance is needed."""
    from national_caseload_data_ingest_spark.operators.dedup import (
        _containment_bcast_pairs,
        _containment_direct_pairs,
        _shared_postings,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"u{i} v{i}" for i in range(30))
    texts = {}
    for i in range(1, 31):
        if i % 5 == 0:
            texts[i] = short                      # full containment
        elif i % 5 == 1:
            texts[i] = short + " " + filler        # superset doc
        elif i % 5 == 2:
            texts[i] = filler + " " + short
        elif i % 5 == 3:
            texts[i] = f"alpha beta gamma z{i} q{i}"  # partial overlap
        else:
            texts[i] = " ".join(f"w{i}_{j} x{i}_{j}" for j in range(25))
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in texts.items()],
        "doc_id bigint, text string, lang string",
    )
    postings = _shared_postings(docs).persist()
    try:
        def rel(df):
            return sorted(
                (r.doc_a, r.doc_b, r.n_common, r.n_a, r.containment)
                for r in df.collect()
            )

        band = rel(_containment_bcast_pairs(postings))
        assert band == rel(_containment_direct_pairs(postings))
        assert band, "vacuous fixture — no qualifying pairs"
        # both full (c == n_a) and partial containments exercised
        assert any(c == na for _, _, c, na, _ in band)
        assert any(c != na for _, _, c, na, _ in band)
    finally:
        postings.unpersist()


def test_containment_dense_routing_by_measured_stats(spark, monkeypatch):
    """The public query routes to the BLAS band tier when the measured
    vocabulary is small and the join volume and pair flops are large
    enough to matter — and the routed output equals the direct join's."""
    from national_caseload_data_ingest_spark.operators import dedup

    def rel(df):
        return sorted(
            (r.doc_a, r.doc_b, r.n_common, r.n_a, round(r.containment, 12))
            for r in df.collect()
        )

    band_calls = []
    band = dedup._containment_bcast_pairs

    def spy(postings):
        band_calls.append(1)
        return band(postings)

    monkeypatch.setattr(dedup, "_containment_bcast_pairs", spy)
    direct = rel(dedup.containment_quote_pairs(spark, SF_DIR))
    assert not band_calls  # sf0.001 stays on the direct join
    # force the band tier through the ladder
    monkeypatch.setattr(dedup, "DENSE_MIN_VOL", 0)
    monkeypatch.setattr(dedup, "JACCARD_BLAS_MIN_FLOPS", 0)
    routed = rel(dedup.containment_quote_pairs(spark, SF_DIR))
    assert band_calls == [1]
    assert routed == direct and direct


def test_dense_tier_budget_assertion_fails_loudly(spark):
    """VERDICT r11 ask #6: when the routing stats no longer describe
    the corpus (simulated by calling the BLAS band tiers DIRECTLY on a
    corpus whose actuals exceed a shrunk budget — exactly what a
    stats-fooling non-deterministic source produces), the post-collect
    assertion raises a loud ValueError with the estimate-vs-actual
    delta instead of OOMing."""
    import pytest as _pt

    from national_caseload_data_ingest_spark.operators import dedup
    from national_caseload_data_ingest_spark.operators.dedup import (
        _containment_bcast_pairs,
        _jaccard_bcast_pairs,
        _shared_postings,
        word_bigram_postings,
    )

    texts = {i: f"alpha beta gamma w{i} x{i} y{i}" for i in range(20)}
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in texts.items()],
        "doc_id bigint, text string, lang string",
    )
    cpost = _shared_postings(docs).persist()
    jpost = word_bigram_postings(docs).persist()
    orig_work, orig_bcast = (
        dedup.DENSE_WORK_BUDGET, dedup.JACCARD_BLAS_BCAST_BUDGET)
    try:
        dedup.DENSE_WORK_BUDGET = 1  # actuals now dwarf the "estimate"
        with _pt.raises(ValueError, match="ACTUALS exceed"):
            _containment_bcast_pairs(cpost).collect()
        with _pt.raises(ValueError, match="ACTUALS exceed"):
            _jaccard_bcast_pairs(jpost, ["lang"], 0.5).collect()
        dedup.DENSE_WORK_BUDGET = orig_work
        dedup.JACCARD_BLAS_BCAST_BUDGET = 1  # broadcast side trips too
        with _pt.raises(ValueError, match="ACTUALS exceed"):
            _containment_bcast_pairs(cpost).collect()
        with _pt.raises(ValueError, match="ACTUALS exceed"):
            _jaccard_bcast_pairs(jpost, ["lang"], 0.5).collect()
        dedup.JACCARD_BLAS_BCAST_BUDGET = orig_bcast
        # untampered budgets: the same corpus passes clean
        assert _containment_bcast_pairs(cpost).collect() is not None
        assert _jaccard_bcast_pairs(jpost, ["lang"], 0.5).collect() is not None
    finally:
        dedup.DENSE_WORK_BUDGET = orig_work
        dedup.JACCARD_BLAS_BCAST_BUDGET = orig_bcast
        cpost.unpersist()
        jpost.unpersist()


def test_jaccard_blocks_stats_handoff_equals_internal_stats(spark):
    """r14: passing pre-measured ``stats`` to ``jaccard_pairs_in_blocks``
    (the ppjoin tier-1 handoff that skips the internal stats job and
    checkpoint) must emit the identical relation as the self-measuring
    path, whichever tier the stats route to."""
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.dedup import (
        jaccard_pairs_in_blocks,
        word_bigram_postings,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    texts = []
    for i in range(40):
        words = base.split()
        if i % 3 == 0:
            words = words[: 4 + i % 4] + [f"w{i}"]
        if i % 5 == 0:
            words.append("iota")
        texts.append((i, " ".join(words), ("en", "fr")[i % 2]))
    docs = spark.createDataFrame(
        texts, "doc_id bigint, text string, lang string"
    )
    postings = word_bigram_postings(docs).persist()
    try:
        blocked = postings.withColumn("__blk", F.lit(0))
        n_docs = postings.select("doc_id").distinct().count()
        n_grams = postings.select("gram").distinct().count()
        for t in (0.2, 0.5):
            auto = sorted(
                (r.doc_a, r.doc_b, round(r.jaccard, 12))
                for r in jaccard_pairs_in_blocks(
                    blocked, ["__blk"], t
                ).collect()
            )
            handed = sorted(
                (r.doc_a, r.doc_b, round(r.jaccard, 12))
                for r in jaccard_pairs_in_blocks(
                    blocked,
                    ["__blk"],
                    t,
                    stats=(n_docs, n_grams),
                ).collect()
            )
            assert handed == auto and auto, t
    finally:
        postings.unpersist()


def test_jaccard_blas_band_tier_equals_matmul_kernel(spark):
    """r14: the BLAS band tier (broadcast float32 incidence matrix,
    row-band sgemm per task) must emit the BIT-identical relation as
    the per-block matmul kernel — lang-blocked and single-block, across
    thresholds.  Raw float comparison on purpose: shared-gram counts
    are exact integers in float32 and the float64 division is the same
    expression, so no tolerance is needed."""
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.dedup import (
        _jaccard_bcast_pairs,
        jaccard_pairs_in_blocks,
        word_bigram_postings,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    texts = []
    for i in range(40):
        words = base.split()
        if i % 3 == 0:
            words = words[: 4 + i % 4] + [f"w{i}"]
        if i % 5 == 0:
            words.append("iota")
        texts.append((i, " ".join(words), ("en", "fr")[i % 2]))
    docs = spark.createDataFrame(
        texts, "doc_id bigint, text string, lang string"
    )
    postings = word_bigram_postings(docs).persist()
    try:
        single = postings.withColumn("__blk", F.lit(0))
        for t in (0.2, 0.5, 0.8):
            for blocked, cols in ((postings, ["lang"]), (single, ["__blk"])):
                kern = sorted(
                    (r.doc_a, r.doc_b, r.jaccard)
                    for r in jaccard_pairs_in_blocks(
                        blocked, cols, t
                    ).collect()
                )
                blas = sorted(
                    (r.doc_a, r.doc_b, r.jaccard)
                    for r in _jaccard_bcast_pairs(
                        blocked, cols, t
                    ).collect()
                )
                assert blas == kern and kern, (t, cols)
    finally:
        postings.unpersist()

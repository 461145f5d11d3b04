"""Streaming near-duplicate detection over a document stream: MinHash-LSH
candidate generation as a custom stateful operator.

The batch dedup surface (:mod:`..operators.dedup`) answers "which docs in
this CORPUS are near-dups"; a training-data INGEST pipeline needs the
streaming form — "does this arriving doc near-duplicate anything seen so
far" — without re-scanning the corpus per batch.  The LSH structure makes
that a bounded-state streaming problem: a doc's band buckets are computed
in a narrow pass, and the only state is the doc-id set per occupied
(band, bucket) — exactly the inverted index batch LSH builds, accreted
incrementally.  Candidate pairs stream out as they form; the downstream
exact-Jaccard verify (``jaccard_verify_candidates``) is a batch join over
the (tiny) candidate relation, same as the batch path.

Batch and streaming share the SAME signature kernel (the Structured
Streaming model — the transformation doesn't know its source), so
stream ≡ batch equality is testable row-for-row.  The kernel hashes with
md5-seeded linear permutations (self-contained in the Arrow batch,
deterministic across engines/arrival orders); the big-batch corpus path
(`minhash_band_candidates`) keeps its JVM ``xxhash64`` generator — this
module is the *streaming shape*, not a replacement for it.

Scale/state notes: state per bucket is the doc-id list — total state is
one row per document per band (n·bands ids), the same size as the batch
LSH shuffle; per-bucket emission is new×stored pairs, so cost tracks
candidate volume, never O(n²) corpus-wide.  Documents carry no event
time, so the operator runs with ``NoTimeout``; a production deployment
keyed by ingest time would use a TTL timeout to age out cold buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from national_caseload_data_ingest_spark.operators.registry import (
    fan_out,
    load_tables,
    query,
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

STREAM_PERMS = 32
STREAM_BANDS = 8
_MERSENNE = (1 << 61) - 1
_BUCKET_SCHEMA = "doc_id bigint, band int, bucket bigint"
_PAIRS_SCHEMA = "band int, doc_a bigint, doc_b bigint"


def _perm_constants(perms: int) -> tuple[list[int], list[int]]:
    """The frozen linear-permutation constants (a, b) — seeded, shared by
    the Arrow kernel and the DuckDB oracle replay."""
    import numpy as np  # noqa: PLC0415

    rng = np.random.RandomState(0xC0FFEE)
    a = rng.randint(1, _MERSENNE, size=perms, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=perms, dtype=np.int64)
    return [int(v) for v in a], [int(v) for v in b]


def _docs_stream(spark: SparkSession, docs_path: str) -> DataFrame:
    """File-stream source over a documents directory; one file per
    micro-batch so multi-batch statefulness is actually exercised."""
    import os  # noqa: PLC0415

    reader = spark.readStream.schema(DOCS_SCHEMA).option("maxFilesPerTrigger", 1)
    if os.path.isfile(docs_path):
        reader = reader.option("pathGlobFilter", os.path.basename(docs_path))
        docs_path = os.path.dirname(docs_path)
    return reader.parquet(docs_path)


def _band_bucket_batches(perms: int, bands: int):
    """Arrow-batch kernel factory: text → (doc_id, band, bucket) rows.

    Tokenization/shingle rule is the shared contract (lowercased trimmed
    ``\\s+`` split, distinct bigrams, whole-text fallback under 2 tokens —
    see ``word_bigram_postings``).  Signature: md5-based 64-bit gram hash
    pushed through ``perms`` fixed linear permutations mod 2^61−1 (numpy,
    vectorized over grams); bucket = first 8 md5 bytes of the band's
    signature slice serialized as zero-padded lowercase hex (an ASCII
    string, so a SQL engine's ``md5(varchar)`` can replay it — see
    ``_LSH_FROZEN_ORACLE``).  Everything is seeded constants — identical
    output for any partitioning, batch size, or arrival order."""
    rows_per_band = perms // bands
    if rows_per_band < 1 or perms % bands != 0:
        raise ValueError(f"perms {perms} must be a positive multiple of bands {bands}")

    def gen(batches):
        import hashlib  # noqa: PLC0415
        import re  # noqa: PLC0415

        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        a, b = _perm_constants(perms)
        ws = re.compile(r"\s+")
        # Exact (a·h + b) mod 2^61−1 in vectorized uint64 limb arithmetic.
        # The original object-dtype formulation ran one arbitrary-precision
        # Python multiply per (gram, perm) — measured as the whole query's
        # cost (guide §4.2: keep batch math in native code).  With
        # M = 2^61−1 a Mersenne prime, split a = a1·2^32 + a0 and
        # h = h1·2^32 + h0 (h pre-reduced mod M, so a,h < 2^61):
        #   a·h = a1·h1·2^64 + (a1·h0 + a0·h1)·2^32 + a0·h0
        # with every partial product < 2^64, and 2^61 ≡ 1 (mod M) turns
        # the shifted terms into small exact folds — all in uint64, no
        # wraparound (bounds in comments below), bit-identical to the
        # bigint path for every input.
        M = np.uint64(_MERSENNE)
        a_arr = np.asarray(a, dtype=np.uint64)[:, None]  # (perms, 1)
        b_arr = np.asarray(b, dtype=np.uint64)[:, None]
        a1, a0 = a_arr >> np.uint64(32), a_arr & np.uint64(0xFFFFFFFF)

        def _sigs(h64: "np.ndarray") -> list[int]:
            h = h64 % M  # h64 < 2^64 reduced into [0, M)
            h1, h0 = h >> np.uint64(32), h & np.uint64(0xFFFFFFFF)
            t2 = a1 * h1  # < 2^58
            t1 = (a1 * h0 + a0 * h1) % M  # each term < 2^61; sum < 2^62
            t0 = (a0 * h0) % M  # product < 2^64
            # t1·2^32 mod M: t1 = u1·2^29 + u0 → u1·2^61 + u0·2^32
            #   ≡ u1 + u0·2^32, with u0·2^32 < 2^61
            u1, u0 = t1 >> np.uint64(29), t1 & np.uint64((1 << 29) - 1)
            # total < 8·2^58 + 2^32 + 2^61 + 2^61 + 2^61 < 2^63
            s = (
                np.uint64(8) * t2 + u1 + (u0 << np.uint64(32)) + t0 + b_arr
            ) % M
            return s.min(axis=1).tolist()  # per-perm minimum over grams

        for pdf in batches:
            out_doc, out_band, out_bucket = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = (text or "").strip().lower()
                toks = ws.split(t) if t else [""]
                grams = (
                    {f"{x} {y}" for x, y in zip(toks, toks[1:])}
                    if len(toks) >= 2
                    else {t}
                )
                h64 = np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.md5(g.encode("utf-8")).digest()[:8], "big"
                        )
                        for g in grams
                    ),
                    dtype=np.uint64,
                    count=len(grams),
                )
                sig = _sigs(h64[None, :])
                for band in range(bands):
                    chunk = sig[band * rows_per_band : (band + 1) * rows_per_band]
                    raw = "".join(f"{v:016x}" for v in chunk)
                    bucket = int.from_bytes(
                        hashlib.md5(raw.encode("ascii")).digest()[:8],
                        "big", signed=True,
                    )
                    out_doc.append(doc_id)
                    out_band.append(band)
                    out_bucket.append(bucket)
            yield pd.DataFrame(
                {"doc_id": out_doc, "band": out_band, "bucket": out_bucket}
            )

    return gen


def minhash_band_buckets(
    docs: DataFrame, perms: int = STREAM_PERMS, bands: int = STREAM_BANDS
) -> DataFrame:
    """(doc_id, band, bucket) rows — one narrow ``mapInPandas`` pass, zero
    shuffles; works identically on a batch or streaming DataFrame."""
    return docs.select("doc_id", "text").mapInPandas(
        _band_bucket_batches(perms, bands), schema=_BUCKET_SCHEMA
    )


def _bucket_update(key, pdf_iter, state):
    """GroupState kernel for one (band, bucket): emit each newly arrived
    doc paired with every doc already resident, then append the arrivals.

    Pair emission is append-only and arrival-order-insensitive as a SET:
    a bucket that ever holds {a, b, c} emits exactly the 3 unordered
    pairs, whichever order the docs arrive in (stream ≡ batch self-join).
    State is the resident id list — bucket occupancy, the same inverted
    index the batch LSH materializes."""
    import pandas as pd  # noqa: PLC0415

    resident = list(state.get[0]) if state.exists else []
    seen = set(resident)
    pairs = []
    for pdf in pdf_iter:
        for doc in sorted(int(d) for d in pdf["doc_id"]):
            if doc in seen:
                continue
            for other in resident:
                lo, hi = (doc, other) if doc < other else (other, doc)
                pairs.append((key[0], lo, hi))
            resident.append(doc)
            seen.add(doc)
    state.update(([int(d) for d in resident],))
    yield pd.DataFrame(pairs, columns=["band", "doc_a", "doc_b"])


def lsh_candidates_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming MinHash-LSH candidate pairs ``(band, doc_a, doc_b)``.

    Narrow signature pass → one stateful exchange on (band, bucket).
    Output mode is ``append`` (pairs only ever accrete), so any sink works
    and the union over micro-batches equals the batch self-join."""
    buckets = minhash_band_buckets(_docs_stream(spark, docs_dir))
    return buckets.groupBy("band", "bucket").applyInPandasWithState(
        _bucket_update,
        outputStructType=_PAIRS_SCHEMA,
        stateStructType="resident array<bigint>",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def lsh_candidates_batch(docs: DataFrame) -> DataFrame:
    """Batch twin: same signature kernel, bucket-equality self-join (the
    standard LSH candidate join, one shuffle on (band, bucket)).

    Two r14 plan fixes (guide §2.4/§6): the signature kernel input is
    round-robin fanned out past the scan's file-split width (a single
    small parquet file otherwise serializes the whole signature pass
    onto one core — the registry.fan_out policy), and the bucket
    relation is localCheckpoint'ed so the SELF-join reads one
    materialized copy instead of running the signature kernel once per
    join branch (the before-plan showed two MapInPandas subtrees).
    An eager checkpoint runs inside the query's own timed region and is
    never reused across invocations — each call builds a fresh RDD —
    so no cross-run state survives.  On a real cluster prefer reliable
    ``checkpoint`` (the pagerank convention)."""
    buckets = minhash_band_buckets(
        fan_out(docs.select("doc_id", "text"))
    ).localCheckpoint(eager=True)
    a = buckets.select(
        "band", "bucket", F.col("doc_id").alias("doc_a")
    )
    b = buckets.select(
        "band", "bucket", F.col("doc_id").alias("doc_b")
    )
    return a.join(b, ["band", "bucket"]).filter(
        F.col("doc_a") < F.col("doc_b")
    ).select("band", "doc_a", "doc_b")


@query("streaming_lsh_candidates")  # hash-seeded: rows-only for the driver;
# ground truth = stream≡batch + recall tests in tests/test_streaming.py
def streaming_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming LSH candidate generator over the
    ``documents`` table — registered so the driver exercises the shared
    kernel; the streaming path runs in ``tests/test_streaming.py`` with a
    file source and is asserted row-identical to this."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return lsh_candidates_batch(d)


def _lsh_frozen_oracle() -> str:
    """DuckDB replay of the ENTIRE candidate pipeline under the frozen
    permutation constants: shingle → md5 gram hash → exact linear
    permutations in HUGEINT (int128, so a·h < 2^125 never wraps) →
    per-band signature slice serialized as zero-padded hex → md5 bucket →
    bucket-equality self-join.  The same split-the-pipeline pattern as
    the frozen tokenizer encodes: the MODEL (seeded permutations) is
    frozen, so the assignment is engine-independent and fully hashable."""
    a, b = _perm_constants(STREAM_PERMS)
    perm_rows = ", ".join(
        f"({i},{ai},{bi})" for i, (ai, bi) in enumerate(zip(a, b))
    )
    rpb = STREAM_PERMS // STREAM_BANDS
    return rf"""
WITH perms AS (SELECT * FROM (VALUES {perm_rows}) t(p, a, b)),
tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr,
         lower(trim(text)) AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(arr) >= 2 THEN arr[i] || ' ' || arr[i+1]
              ELSE t END AS g
  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(arr), 2))) AS i)
),
gh AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(g), 1, 16) AS UBIGINT) AS HUGEINT) AS h
  FROM grams
),
sig AS (
  SELECT doc_id, p.p,
         CAST(min((p.a * gh.h + p.b) % {_MERSENNE}) AS BIGINT) AS s
  FROM gh CROSS JOIN perms p
  GROUP BY doc_id, p.p
),
bands AS (
  SELECT doc_id, CAST(p // {rpb} AS INT) AS band,
         string_agg(printf('%016x', s), '' ORDER BY p) AS raw
  FROM sig GROUP BY doc_id, band
),
bkt AS (
  SELECT doc_id, band,
         CAST(CAST(CAST('0x' || substr(md5(raw), 1, 16) AS UBIGINT)
                   AS HUGEINT)
              - CASE WHEN CAST('0x' || substr(md5(raw), 1, 1)
                           AS UTINYINT) >= 8
                     THEN 18446744073709551616 ELSE 0 END
              AS BIGINT) AS bucket
  FROM bands
)
SELECT x.band, x.doc_id AS doc_a, y.doc_id AS doc_b
FROM bkt x JOIN bkt y
  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
"""


@query("streaming_lsh_frozen_candidates", oracle=_lsh_frozen_oracle())
def streaming_lsh_frozen_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-backed twin of ``streaming_lsh_candidates``: the identical
    shared kernel and bucket-equality join, hash-verified cross-engine
    because the permutation model is frozen (``_perm_constants``) and the
    bucket serialization is replayable ASCII hex.  The rows-only original
    keeps the stream≡batch equality duty; this entry pins the VALUES."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return lsh_candidates_batch(d)

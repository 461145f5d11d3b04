"""Audio feature-extraction operators over WAV payload columns:
time-domain autocorrelation/pitch features (exact-arithmetic oracle) and
frequency-domain spectral statistics (FFT, ground-truth-tested).

The audio analysis pass of a multimodal training pipeline: decode PCM,
compute per-clip descriptors (periodicity, pitch period, zero-crossing
rate, spectral centroid/flatness/band energies), and keep them as narrow
typed columns next to the opaque payload.  Spark-side shape follows the
multimodal module's convention: payloads are synthesized and decoded
inside Arrow ``mapInPandas`` kernels — 1:1 row batches, no shuffle, the
binary never leaves the executor — so the pass scales as an
embarrassingly-parallel scan at any corpus size.

Two operators, two verification strengths:

* ``audio_autocorr_features`` uses only INTEGER-exact quantities (int64
  lag dot-products, sign-change counts) plus single divisions of exact
  integers, so a DuckDB oracle recomputes it bit-for-bit from the
  closed-form sample series (same technique as ``wav_decode_features``,
  multimodal.py).  The pitch period is an argmax over exact int64
  autocorrelations — deterministic, ties to the smaller lag.
* ``audio_spectrogram_stats`` needs a real FFT; transcendental libm
  differences make a cross-engine hash unreliable, so it is registered
  rows-only and pinned by a pytest against an independent O(n²) direct
  DFT reference (the PNG/JPEG codec convention).

The reference (/root/reference/ncd/) has no audio surface; this extends
the build brief's multimodal band.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from national_caseload_data_ingest_spark.operators.multimodal import (
    AUDIO_N_SAMPLES,
    AUDIO_RATE,
    _synthesize_wav_payloads,
    wav_decode,
)
from national_caseload_data_ingest_spark.operators.registry import (
    fan_out,
    load_tables,
    query,
)

# Autocorrelation lags: report r(1..4)/r(0); pitch = argmax r(l) over
# PITCH_MIN..PITCH_MAX.  Keep literals in sync with the oracle SQL.
AC_LAGS = 4
PITCH_MIN = 2
PITCH_MAX = 32

AUTOCORR_SCHEMA = (
    "doc_id bigint, zero_crossings bigint, "
    + ", ".join(f"ac{i} double" for i in range(1, AC_LAGS + 1))
    + ", pitch_lag bigint, periodicity double"
)


def autocorr_features_kernel(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """WAV payload → integer-exact time-domain features.

    All dot products run in int64 (256 · 32768² ≈ 2.7e11 ≪ 2⁶³); the
    only doubles are single divisions of those exact integers, which any
    engine reproduces identically.
    """
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        out: dict[str, list] = {
            k: []
            for k in ["doc_id", "zero_crossings"]
            + [f"ac{i}" for i in range(1, AC_LAGS + 1)]
            + ["pitch_lag", "periodicity"]
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _, _, s2 = wav_decode(bytes(payload))
            s = s2.astype(np.int64).ravel()
            out["doc_id"].append(int(doc_id))
            neg = s < 0
            out["zero_crossings"].append(int((neg[1:] != neg[:-1]).sum()))
            r0 = int(np.dot(s, s))
            for lag in range(1, AC_LAGS + 1):
                out[f"ac{lag}"].append(float(int(np.dot(s[:-lag], s[lag:])) / r0))
            best_lag, best_r = PITCH_MIN, None
            for lag in range(PITCH_MIN, PITCH_MAX + 1):
                r = int(np.dot(s[:-lag], s[lag:]))
                if best_r is None or r > best_r:
                    best_lag, best_r = lag, r
            out["pitch_lag"].append(best_lag)
            out["periodicity"].append(float(best_r / r0))
        yield pd.DataFrame(out)


# Closed-form sample series (matches _synthesize_wav_payloads):
#   s(k) = (doc_id*7 + k*13) % 65536 - 32768
_S = "((d.doc_id*7 + {k}*13) % 65536 - 32768)"

_AC_COLS = ",\n           ".join(
    f"""CAST((SELECT SUM({_S.format(k='t.k')} * {_S.format(k=f'(t.k + {lag})')})
                 FROM range(0, {AUDIO_N_SAMPLES} - {lag}) t(k))
                AS DOUBLE)
           / (SELECT SUM({_S.format(k='t.k')} * {_S.format(k='t.k')})
              FROM range(0, {AUDIO_N_SAMPLES}) t(k)) AS ac{lag}"""
    for lag in range(1, AC_LAGS + 1)
)

_AUTOCORR_ORACLE = f"""
WITH lagged AS (
    SELECT d.doc_id, l.lag,
           SUM({_S.format(k='t.k')} * {_S.format(k='(t.k + l.lag)')}) AS r
    FROM documents d,
         range({PITCH_MIN}, {PITCH_MAX} + 1) l(lag),
         range(0, {AUDIO_N_SAMPLES}) t(k)
    WHERE t.k + l.lag < {AUDIO_N_SAMPLES}
    GROUP BY d.doc_id, l.lag
),
pitch AS (
    SELECT doc_id, lag AS pitch_lag, r,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY r DESC, lag ASC) AS rk
    FROM lagged
)
SELECT d.doc_id,
       (SELECT COUNT(*) FROM range(1, {AUDIO_N_SAMPLES}) t(k)
        WHERE ({_S.format(k='t.k')} < 0)
              <> ({_S.format(k='(t.k - 1)')} < 0)) AS zero_crossings,
       {_AC_COLS},
       CAST(p.pitch_lag AS BIGINT) AS pitch_lag,
       CAST(p.r AS DOUBLE)
       / (SELECT SUM({_S.format(k='t.k')} * {_S.format(k='t.k')})
          FROM range(0, {AUDIO_N_SAMPLES}) t(k)) AS periodicity
FROM documents d JOIN pitch p ON d.doc_id = p.doc_id AND p.rk = 1
"""


@query("audio_autocorr_features", oracle=_AUTOCORR_ORACLE)
def audio_autocorr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-domain audio descriptors per document — zero-crossing count,
    normalized autocorrelation at lags 1–4, and the dominant pitch period
    (argmax autocorrelation over lags 2–32) — decoded through the real
    WAV path and verified bit-for-bit by an integer-arithmetic SQL
    oracle.  Two narrow ``mapInPandas`` passes, no shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_wav_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        autocorr_features_kernel, schema=AUTOCORR_SCHEMA
    )


# -- frequency domain ----------------------------------------------------

SPECTRO_SCHEMA = (
    "doc_id bigint, n_bins int, dominant_bin bigint, dominant_hz double, "
    "spectral_centroid double, spectral_flatness double, "
    "low_frac double, mid_frac double, high_frac double"
)

# Band split points as bin indices over the positive-frequency bins
# (1..N/2): thirds of the Nyquist range.
_BANDS = (AUDIO_N_SAMPLES // 6, AUDIO_N_SAMPLES // 3)


def spectrogram_stats_kernel(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """WAV payload → rFFT power-spectrum descriptors (DC excluded):
    dominant bin/frequency, power-weighted centroid (in Hz), spectral
    flatness (geometric/arithmetic mean), and low/mid/high band energy
    fractions."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        out: dict[str, list] = {
            k: []
            for k in (
                "doc_id n_bins dominant_bin dominant_hz spectral_centroid "
                "spectral_flatness low_frac mid_frac high_frac"
            ).split()
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, _, s2 = wav_decode(bytes(payload))
            s = s2.astype(np.float64).ravel()
            power = np.abs(np.fft.rfft(s)[1:]) ** 2  # drop DC
            n_bins = len(power)
            bins = np.arange(1, n_bins + 1, dtype=np.float64)
            total = float(power.sum())
            dom = int(np.argmax(power)) + 1
            hz_per_bin = rate / len(s)
            out["doc_id"].append(int(doc_id))
            out["n_bins"].append(n_bins)
            out["dominant_bin"].append(dom)
            out["dominant_hz"].append(dom * hz_per_bin)
            out["spectral_centroid"].append(
                float((bins * power).sum() / total) * hz_per_bin
            )
            out["spectral_flatness"].append(
                float(np.exp(np.mean(np.log(power + 1e-12))) / (total / n_bins))
            )
            lo, mid = _BANDS
            out["low_frac"].append(float(power[:lo].sum() / total))
            out["mid_frac"].append(float(power[lo:mid].sum() / total))
            out["high_frac"].append(float(power[mid:].sum() / total))
        pdf_out = pd.DataFrame(out)
        pdf_out["n_bins"] = pdf_out["n_bins"].astype("int32")
        yield pdf_out


@query("audio_spectrogram_stats", oracle=None)
def audio_spectrogram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain audio descriptors per document via numpy rFFT —
    rows-only at the driver (transcendental libm differences defeat a
    cross-engine hash); pinned by a pytest against an independent O(n²)
    direct-DFT reference (`tests/test_audio.py`)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_wav_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        spectrogram_stats_kernel, schema=SPECTRO_SCHEMA
    )


# ---------------------------------------------------------------------------
# Telephony codecs: G.711 mu-law / A-law (exact, SQL-oracle-able) and
# IMA ADPCM (stateful recurrence, recursive-CTE oracle).
# Format reference: ITU-T G.711 (public) and the IMA ADPCM reference
# algorithm (IMA Digital Audio Focus and Technical Working Groups, 1992).
# ---------------------------------------------------------------------------


def ulaw_decode(codes):
    """G.711 mu-law codewords (uint8) -> int16 samples, exact integer
    arithmetic (the inverse table every telephony stack agrees on)."""
    import numpy as np  # noqa: PLC0415

    u = (~np.asarray(codes, dtype=np.uint8)).astype(np.int64)
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def ulaw_encode(samples):
    """int16 -> G.711 mu-law uint8 (bias 0x84, clip 32635)."""
    import numpy as np  # noqa: PLC0415

    s = np.asarray(samples, dtype=np.int64)
    sign = (s < 0).astype(np.int64)
    mag = np.minimum(np.abs(s), 32635) + 0x84
    exp = np.int64(7) - (np.int64(0x4000) > mag) * 0
    # exponent = position of highest set bit above bit 7
    exp = np.zeros_like(mag)
    for e in range(7, 0, -1):
        exp = np.where((mag >> (e + 7)) & 1, np.maximum(exp, e), exp)
    mant = (mag >> (exp + 3)) & 0x0F
    code = (sign << 7) | (exp << 4) | mant
    return (~code & 0xFF).astype(np.uint8)


def alaw_decode(codes):
    """G.711 A-law codewords (uint8) -> int16 samples, exact."""
    import numpy as np  # noqa: PLC0415

    a = np.asarray(codes, dtype=np.int64) ^ 0x55
    mant = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    t = np.where(seg == 0, mant + 8, (mant + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.int16)


def alaw_encode(samples):
    """int16 -> G.711 A-law uint8."""
    import numpy as np  # noqa: PLC0415

    s = np.asarray(samples, dtype=np.int64)
    sign = (s >= 0).astype(np.int64)
    mag = np.minimum(np.abs(s), 32767)
    exp = np.zeros_like(mag)
    for e in range(7, 0, -1):
        exp = np.where((mag >> (e + 7)) & 1, np.maximum(exp, e), exp)
    mant = np.where(exp == 0, (mag >> 4) & 0x0F, (mag >> (exp + 3)) & 0x0F)
    code = (sign << 7) | (exp << 4) | mant
    return (code ^ 0x55).astype(np.uint8)


# IMA ADPCM reference tables (public)
IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]
IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]


def ima_adpcm_decode(nibbles, predictor: int = 0, index: int = 0):
    """IMA ADPCM 4-bit nibble stream -> int16 samples (the reference
    decoder recurrence: step-scaled magnitude reconstruction, predictor
    clamp, index walk through the 89-entry step table)."""
    import numpy as np  # noqa: PLC0415

    out = []
    for n in nibbles:
        step = IMA_STEP_TABLE[index]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        predictor = predictor - diff if n & 8 else predictor + diff
        predictor = max(-32768, min(32767, predictor))
        index = max(0, min(88, index + IMA_INDEX_TABLE[n & 7]))
        out.append(predictor)
    return np.asarray(out, dtype=np.int16)


def ima_adpcm_encode(samples):
    """int16 -> IMA ADPCM nibbles (reference encoder: choose the nibble
    whose reconstruction lands nearest, using the decoder recurrence for
    state so encode/decode stay in lockstep)."""
    predictor, index = 0, 0
    nibbles = []
    for s in [int(x) for x in samples]:
        step = IMA_STEP_TABLE[index]
        delta = s - predictor
        n = 8 if delta < 0 else 0
        delta = abs(delta)
        if delta >= step:
            n |= 4
            delta -= step
        if delta >= step >> 1:
            n |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            n |= 1
        nibbles.append(n)
        # replicate decoder state transition
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        predictor = predictor - diff if n & 8 else predictor + diff
        predictor = max(-32768, min(32767, predictor))
        index = max(0, min(88, index + IMA_INDEX_TABLE[n & 7]))
    return nibbles


G711_N = 256  # codewords per clip in the synthesized corpus


@query(
    "g711_audio_features",
    oracle=f"""
    WITH codes AS (
        SELECT d.doc_id, t.k, (d.doc_id + t.k) % 256 AS c
        FROM documents d, range(0, {G711_N}) t(k)
    ),
    dec AS (
        SELECT doc_id, k,
          CASE WHEN doc_id % 2 = 0 THEN
            -- mu-law expansion (ITU-T G.711): u = ~c
            CASE WHEN (255 - c) & 128 != 0
                 THEN 132 - ((((255 - c) & 15) * 8 + 132)
                             * (1 << (((255 - c) >> 4) & 7)))
                 ELSE ((((255 - c) & 15) * 8 + 132)
                       * (1 << (((255 - c) >> 4) & 7))) - 132 END
          ELSE
            -- A-law expansion: a = c XOR 0x55
            CASE WHEN xor(c, 85) & 128 != 0
                 THEN CASE WHEN ((xor(c, 85) >> 4) & 7) = 0
                           THEN ((xor(c, 85) & 15) * 16) + 8
                           ELSE (((xor(c, 85) & 15) * 16) + 264)
                                * (1 << (((xor(c, 85) >> 4) & 7) - 1)) END
                 ELSE -(CASE WHEN ((xor(c, 85) >> 4) & 7) = 0
                             THEN ((xor(c, 85) & 15) * 16) + 8
                             ELSE (((xor(c, 85) & 15) * 16) + 264)
                                  * (1 << (((xor(c, 85) >> 4) & 7) - 1)) END)
          END END AS sample
        FROM codes
    )
    SELECT doc_id,
           CAST({G711_N} AS INTEGER) AS n_samples,
           CAST(SUM(sample) AS BIGINT) AS sample_sum,
           CAST(MAX(ABS(sample)) AS BIGINT) AS peak
    FROM dec
    GROUP BY doc_id
    """,
)
def g711_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 telephony-codec decode E2E with a SQL oracle: per document,
    synthesize the full 256-codeword sweep (every mu-law or A-law code
    appears — exhaustive coverage of both expansion tables), decode with
    the exact integer transforms, and hash-match the closed-form sample
    statistics (the oracle re-states both expansions in SQL bit
    arithmetic).  Even doc ids take mu-law, odd take A-law.  One narrow
    ``mapInPandas`` pass."""
    import numpy as np  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]

    def kernel(batches):
        for pdf in batches:
            doc_ids, sums, peaks = [], [], []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                codes = (did + np.arange(G711_N)) % 256
                dec = (
                    ulaw_decode(codes) if did % 2 == 0 else alaw_decode(codes)
                ).astype(np.int64)
                doc_ids.append(did)
                sums.append(int(dec.sum()))
                peaks.append(int(np.abs(dec).max()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "n_samples": pd.Series([G711_N] * len(doc_ids), dtype="int32"),
                    "sample_sum": pd.Series(sums, dtype="int64"),
                    "peak": pd.Series(peaks, dtype="int64"),
                }
            )

    return fan_out(d.select("doc_id")).mapInPandas(
        kernel,
        schema="doc_id bigint, n_samples int, sample_sum bigint, peak bigint",
    )


ADPCM_N = 64  # recurrence steps per clip (bounds the recursive-CTE oracle)


@query(
    "adpcm_audio_features",
    oracle=f"""
    WITH RECURSIVE steps(doc_id, k, predictor, idx) AS (
        SELECT doc_id, 0, 0, 0 FROM documents
        UNION ALL
        SELECT s.doc_id, s.k + 1,
               GREATEST(-32768, LEAST(32767,
                 s.predictor
                 + CASE WHEN ((s.doc_id + s.k) % 16) & 8 != 0 THEN -1 ELSE 1 END
                   * ( (st.step >> 3)
                     + CASE WHEN ((s.doc_id + s.k) % 16) & 1 != 0
                            THEN st.step >> 2 ELSE 0 END
                     + CASE WHEN ((s.doc_id + s.k) % 16) & 2 != 0
                            THEN st.step >> 1 ELSE 0 END
                     + CASE WHEN ((s.doc_id + s.k) % 16) & 4 != 0
                            THEN st.step ELSE 0 END))),
               GREATEST(0, LEAST(88,
                 s.idx + ([-1,-1,-1,-1,2,4,6,8])[(((s.doc_id + s.k) % 16) & 7) + 1]))
        FROM steps s
        JOIN (SELECT ({list(IMA_STEP_TABLE)})[i.idx + 1] AS step, i.idx
              FROM (SELECT unnest(range(0, 89)) AS idx) i) st
          ON st.idx = s.idx
        WHERE s.k < {ADPCM_N}
    )
    SELECT doc_id,
           CAST({ADPCM_N} AS INTEGER) AS n_samples,
           CAST(SUM(predictor) AS BIGINT) AS sample_sum,
           CAST(MAX(ABS(predictor)) AS BIGINT) AS peak
    FROM steps WHERE k > 0
    GROUP BY doc_id
    """,
)
def adpcm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA ADPCM decode E2E with a RECURSIVE-CTE oracle: the 4-bit
    nibble stream ``(doc_id + k) mod 16`` drives the reference decoder
    recurrence (step-table walk + predictor clamp), and DuckDB replays
    the SAME recurrence as a recursive CTE carrying (predictor, index)
    state — the stateful-codec analogue of the connected-components
    iteration twin.  A hash-match proves every branch of the magnitude
    reconstruction and both clamps.  One narrow ``mapInPandas`` pass."""
    import numpy as np  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]

    def kernel(batches):
        for pdf in batches:
            doc_ids, sums, peaks = [], [], []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                nibbles = [(did + k) % 16 for k in range(ADPCM_N)]
                dec = ima_adpcm_decode(nibbles).astype(np.int64)
                doc_ids.append(did)
                sums.append(int(dec.sum()))
                peaks.append(int(np.abs(dec).max()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "n_samples": pd.Series([ADPCM_N] * len(doc_ids), dtype="int32"),
                    "sample_sum": pd.Series(sums, dtype="int64"),
                    "peak": pd.Series(peaks, dtype="int64"),
                }
            )

    return fan_out(d.select("doc_id")).mapInPandas(
        kernel,
        schema="doc_id bigint, n_samples int, sample_sum bigint, peak bigint",
    )


FLAC_N = 600  # samples per synthesized clip (spans two rice partitions)


@query(
    "flac_audio_features",
    oracle=f"""
    WITH amp AS (
        SELECT doc_id,
               CASE doc_id % 7 WHEN 0 THEN 1 WHEN 5 THEN 6 WHEN 6 THEN 8
                    ELSE 2 END AS nch,
               CASE doc_id % 3 WHEN 0 THEN 2000 WHEN 1 THEN 100
                    ELSE 500000 END AS al,
               CASE doc_id % 3 WHEN 0 THEN 1500 WHEN 1 THEN 80
                    ELSE 400000 END AS ar
        FROM documents
    ),
    base AS (
        SELECT a.doc_id, a.nch,
               ((a.doc_id * (7 + 4 * c.c)
                 + CASE WHEN c.c % 2 = 0 THEN t.k * t.k ELSE 3 * t.k END
                 + (c.c // 2) * t.k)
                % (2 * (CASE WHEN c.c % 2 = 0 THEN al ELSE ar END) + 1))
               - (CASE WHEN c.c % 2 = 0 THEN al ELSE ar END) AS x
        FROM amp a, range(0, {FLAC_N}) t(k), range(0, 8) c(c)
        WHERE c.c < a.nch
    )
    SELECT doc_id,
           CAST(nch AS INTEGER) AS channels,
           CAST(CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8
                ELSE 24 END AS INTEGER) AS bit_depth,
           CAST({FLAC_N} AS INTEGER) AS n_samples,
           CAST(SUM(x) AS BIGINT) AS sample_sum,
           CAST(MAX(ABS(x)) AS BIGINT) AS peak
    FROM base
    GROUP BY doc_id, nch
    """,
)
def flac_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC decode E2E with a SQL oracle — the lossless-audio capstone
    (``operators/flac.py``): per document, synthesize a deterministic
    waveform, encode through the real FLAC path (doc_id % 7 rotates the
    CHANNEL LAYOUT over mono, the four stereo assignments — independent,
    left/side, right/side, mid/side — and multichannel 5.1 (6ch) and
    7.1 (8ch) independent frames, closing the round-9 channel gate; odd
    doc ids additionally force order-8 quantized-LPC subframes — the
    dominant real-world coding mode — and doc_id % 3 rotates the BIT
    DEPTH over 16/8/24 with depth-scaled amplitudes), decode it back —
    CRC-8/CRC-16 verified, fixed and LPC predictors restored, Rice
    partitions expanded — and hash-match the closed-form sample
    statistics.  Lossless end to end, so the oracle is exact for every
    layout × mode × depth.  One narrow ``mapInPandas`` pass."""
    import numpy as np  # noqa: PLC0415

    from national_caseload_data_ingest_spark.operators.flac import (  # noqa: PLC0415
        flac_decode,
        flac_encode,
    )

    d = load_tables(spark, sf_dir, "documents")["documents"]

    def kernel(batches):
        for pdf in batches:
            doc_ids, chs, depths, sums, peaks = [], [], [], [], []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                k = np.arange(FLAC_N, dtype=np.int64)
                bps = [16, 8, 24][did % 3]
                al = {16: 2000, 8: 100, 24: 500000}[bps]
                ar = {16: 1500, 8: 80, 24: 400000}[bps]
                mode = did % 7
                nch = {0: 1, 5: 6, 6: 8}.get(mode, 2)
                lpc = 8 if did % 2 else None
                cols = []
                for c in range(nch):
                    a = al if c % 2 == 0 else ar
                    base = (
                        did * (7 + 4 * c)
                        + (k * k if c % 2 == 0 else 3 * k)
                        + (c // 2) * k
                    )
                    cols.append((base % (2 * a + 1)) - a)
                if nch == 1:
                    payload = flac_encode(cols[0], lpc_order=lpc, bps=bps)
                else:
                    sig = np.stack(cols, axis=-1)
                    stereo = (
                        ["independent", "left_side", "right_side",
                         "mid_side"][mode - 1]
                        if nch == 2
                        else "independent"
                    )
                    payload = flac_encode(sig, stereo_mode=stereo,
                                          lpc_order=lpc, bps=bps)
                _rate, ch, out = flac_decode(payload)
                o = out.astype(np.int64)
                doc_ids.append(did)
                chs.append(ch)
                depths.append(bps)
                sums.append(int(o.sum()))
                peaks.append(int(np.abs(o).max()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "bit_depth": pd.Series(depths, dtype="int32"),
                    "n_samples": pd.Series([FLAC_N] * len(doc_ids), dtype="int32"),
                    "sample_sum": pd.Series(sums, dtype="int64"),
                    "peak": pd.Series(peaks, dtype="int64"),
                }
            )

    return fan_out(d.select("doc_id")).mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, channels int, bit_depth int, n_samples int, "
            "sample_sum bigint, peak bigint"
        ),
    )

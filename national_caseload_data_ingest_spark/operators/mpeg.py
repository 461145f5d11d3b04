"""MPEG-audio (MP3) stream walk: ID3v2 skip + frame-header parse over
the whole payload — count frames, exact sample totals, bitrate/layer/
version/channel metadata, byte accounting.

This is the STRUCTURAL half of MP3 handling, mirroring the engine's
video policy (SCALING.md): full audio decode of a perceptual codec
belongs on a decoder host, but the 100 TB-relevant operations — stream
identification, duration estimation, bitrate/layer census, corruption
triage, and sizing the route-to-host population — need only the frame
headers, which this module parses natively per the public ISO/IEC
11172-3 / 13818-3 header layout.  Free-format streams (bitrate index
0) use the spec's inference rule: the frame size is constant, so it is
recovered by scanning from the first header to the next sync word (or
EOF for a single-frame stream); the reported ``bitrate_kbps`` is the
floor of the inverse frame-length formula and ``bitrate_mode`` is
``'free'``.  Structural damage (bad sync, truncated frame, reserved
codes, mixed free/indexed frames) raises ``ValueError`` so
``classify_codec_payload`` files it as corruption.

Everything runs as the established per-payload Arrow kernel: one
``mapInPandas`` over the binary column, zero shuffle, embarrassingly
parallel at any corpus size.

The reference (/root/reference/ncd/) has no audio surface; this extends
the build brief's multimodal band.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from national_caseload_data_ingest_spark.operators.registry import (
    fan_out,
    load_tables,
    query,
)

# public header tables, ISO/IEC 11172-3 §2.4.2.3 / 13818-3 §2.4.2.3
# (kbps; index 0 = free format, 15 = reserved)
_BITRATES = {
    # (version, layer) -> 14-entry table for indices 1..14
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_SAMPLE_RATES = {1: (44100, 48000, 32000), 2: (22050, 24000, 16000),
                 25: (11025, 12000, 8000)}
_VERSION_BITS = {3: 1, 2: 2, 0: 25}  # header bits -> version id (25 = 2.5)


def _frame_geometry(version: int, layer: int, kbps: int, sr: int):
    """(base frame bytes without padding, padding slot bytes, samples
    per frame) — the public frame-length formulas."""
    if layer == 1:
        return 4 * (12_000 * kbps // sr), 4, 384
    if layer == 2:
        return 144_000 * kbps // sr, 1, 1152
    if version == 1:
        return 144_000 * kbps // sr, 1, 1152
    return 72_000 * kbps // sr, 1, 576  # MPEG2/2.5 layer III


def _slot_spf(version: int, layer: int) -> tuple[int, int]:
    """(padding slot bytes, samples per frame) without needing a
    bitrate — the free-format path's geometry."""
    if layer == 1:
        return 4, 384
    if layer == 2:
        return 1, 1152
    return 1, (1152 if version == 1 else 576)


def _free_kbps_div(version: int, layer: int) -> int:
    """Divisor of the inverse frame-length formula: nominal kbps of a
    free-format stream = (base_bytes * sample_rate) // div."""
    if layer == 1:
        return 48_000
    if layer == 2 or version == 1:
        return 144_000
    return 72_000


def mp3_header_plausible(payload: bytes) -> bool:
    """True iff the payload starts with a fully parseable MPEG-audio
    frame header (valid version/layer/bitrate/samplerate fields) — the
    sniff :func:`classify_codec_payload` requires before committing
    ``fmt='mp3'``, so arbitrary ``FF Ex`` binaries stay 'unknown'."""
    if len(payload) < 4:
        return False
    b0, b1, b2, _b3 = payload[:4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return False
    vbits = (b1 >> 3) & 3
    lbits = (b1 >> 1) & 3
    if vbits == 1 or lbits == 0:
        return False
    return (b2 >> 4) != 15 and ((b2 >> 2) & 3) != 3


def mp3_walk(payload: bytes) -> dict:
    """Walk an entire MPEG-audio stream: optional ID3v2 tag, then
    back-to-back frames to EOF.  Returns the stream summary; raises
    ``ValueError`` on structural damage and ``NotImplementedError`` on
    free-format streams (the route-to-host gate)."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("mp3: truncated ID3v2 header")
        size = 0
        for b in payload[6:10]:
            if b & 0x80:
                raise ValueError("mp3: bad ID3v2 syncsafe size")
            size = (size << 7) | b
        pos = 10 + size
        # ID3v2.4 footer flag (flags bit 4): the syncsafe size excludes
        # both the 10-byte header AND the 10-byte footer, so skip it too
        # or the walk lands mid-footer and misfiles the stream as corrupt.
        if payload[5] & 0x10:
            pos += 10
    frames = []
    total_bytes = 0
    free_base = None  # inferred constant frame size (unpadded), free format
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("mp3: truncated frame header")
        b0, b1, b2, b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError("mp3: bad frame sync")
        vbits = (b1 >> 3) & 3
        lbits = (b1 >> 1) & 3
        if vbits == 1 or lbits == 0:
            raise ValueError("mp3: reserved version/layer code")
        version = _VERSION_BITS[vbits]
        layer = 4 - lbits  # bits 3/2/1 -> layers 1/2/3
        br_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 3
        pad = (b2 >> 1) & 1
        if br_idx == 15 or sr_idx == 3:
            raise ValueError("mp3: reserved bitrate/samplerate index")
        sr = _SAMPLE_RATES[version][sr_idx]
        if br_idx == 0:
            # free format (ISO 11172-3 §2.4.2.3): constant frame size,
            # inferred by scanning to the next sync word with the SAME
            # header fields (or EOF for a single-frame stream)
            if frames and free_base is None:
                raise ValueError("mp3: inconsistent stream parameters")
            slot, spf = _slot_spf(version, layer)
            if free_base is None:
                # next sync = any same-version/layer/samplerate header
                # (bitrate field excluded so a free→indexed switch is
                # FOUND here and flagged inconsistent on the next pass)
                nxt = pos + 4
                while nxt + 4 <= len(payload):
                    if (
                        payload[nxt] == 0xFF
                        and payload[nxt + 1] == b1
                        and (payload[nxt + 2] >> 4) != 15
                        and ((payload[nxt + 2] >> 2) & 3) == sr_idx
                    ):
                        break
                    nxt += 1
                else:
                    nxt = len(payload)
                free_base = (nxt - pos) - slot * pad
                if free_base < 4:
                    raise ValueError("mp3: free-format frame too short")
            flen = free_base + slot * pad
            kbps = free_base * sr // _free_kbps_div(version, layer)
        else:
            if free_base is not None:
                raise ValueError("mp3: inconsistent stream parameters")
            kbps = _BITRATES[(min(version, 2), layer)][br_idx - 1]
            base, slot, spf = _frame_geometry(version, layer, kbps, sr)
            flen = base + slot * pad
        if pos + flen > len(payload):
            raise ValueError("mp3: truncated frame body")
        frames.append((version, layer, kbps, sr, (b3 >> 6) & 3, spf))
        total_bytes += flen
        pos += flen
    if not frames:
        raise ValueError("mp3: no frames")
    versions = {f[0] for f in frames}
    layers = {f[1] for f in frames}
    rates = {f[3] for f in frames}
    if len(versions) > 1 or len(layers) > 1 or len(rates) > 1:
        raise ValueError("mp3: inconsistent stream parameters")
    kbps_set = {f[2] for f in frames}
    if free_base is not None:
        mode = "free"
    else:
        mode = "cbr" if len(kbps_set) == 1 else "vbr"
    return {
        "n_frames": len(frames),
        "version_id": frames[0][0],
        "layer": frames[0][1],
        "sample_rate": frames[0][3],
        "bitrate_kbps": frames[0][2],
        "bitrate_mode": mode,
        "channel_mode": frames[0][4],
        "total_samples": sum(f[5] for f in frames),
        "total_bytes": total_bytes,
    }


def mp3_build(
    *,
    version: int = 1,
    layer: int = 3,
    bitrate_idx: int = 5,
    sr_idx: int = 0,
    n_frames: int = 4,
    padded=(),
    channel_mode: int = 0,
    id3_size: int | None = None,
    per_frame_bitrate_idx=None,
    free_frame_bytes: int | None = None,
) -> bytes:
    """Fixture builder (the walker's testable twin): conformant frame
    headers + zero-filled bodies, optional ID3v2 prefix, per-frame
    padding, per-frame bitrate for VBR streams; ``free_frame_bytes``
    emits a free-format stream (bitrate index 0) of that constant
    unpadded frame size."""
    vbits = {1: 3, 2: 2, 25: 0}[version]
    lbits = 4 - layer
    out = bytearray()
    if id3_size is not None:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        )
        out += bytes(id3_size)
    for i in range(n_frames):
        sr = _SAMPLE_RATES[version][sr_idx]
        pad = 1 if i in padded else 0
        if free_frame_bytes is not None:
            idx = 0
            slot, _spf = _slot_spf(version, layer)
            base = free_frame_bytes
        else:
            idx = (
                per_frame_bitrate_idx[i]
                if per_frame_bitrate_idx is not None
                else bitrate_idx
            )
            kbps = _BITRATES[(min(version, 2), layer)][idx - 1]
            base, slot, _spf = _frame_geometry(version, layer, kbps, sr)
        hdr = bytes(
            [
                0xFF,
                0xE0 | (vbits << 3) | (lbits << 1) | 1,
                (idx << 4) | (sr_idx << 2) | (pad << 1),
                channel_mode << 6,
            ]
        )
        out += hdr + bytes(base + slot * pad - 4)
    return bytes(out)


def _sql_case(expr: str, mapping: dict, else_val) -> str:
    arms = " ".join(f"WHEN {k} THEN {v}" for k, v in mapping.items())
    return f"CASE {expr} {arms} ELSE {else_val} END"


def _oracle_sql() -> str:
    """Closed-form twin of the fixture rotation in
    :func:`_synthesize_mp3_payloads` — constants generated from the
    SAME Python tables the walker uses."""
    ver = "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END"
    layer = "(doc_id % 3 + 1)"
    idx = "(doc_id % 14 + 1)"
    sr_i = "((doc_id // 3) % 3)"
    # bitrate: 6 (version, layer) tables keyed by idx 1..14
    br_arms = []
    for (v, lay), tbl in _BITRATES.items():
        inner = _sql_case(
            idx, {i + 1: tbl[i] for i in range(14)}, 0
        )
        br_arms.append(
            f"WHEN {ver} = {v} AND {layer} = {lay} THEN {inner}"
        )
    kbps = "CASE " + " ".join(br_arms) + " ELSE 0 END"
    sr = (
        f"CASE WHEN {ver} = 1 THEN "
        + _sql_case(sr_i, {0: 44100, 1: 48000, 2: 32000}, 0)
        + " ELSE "
        + _sql_case(sr_i, {0: 22050, 1: 24000, 2: 16000}, 0)
        + " END"
    )
    spf = (
        f"CASE WHEN {layer} = 1 THEN 384 WHEN {layer} = 2 THEN 1152 "
        f"WHEN {ver} = 1 THEN 1152 ELSE 576 END"
    )
    base = (
        f"CASE WHEN {layer} = 1 THEN 4 * ((12000 * ({kbps})) // ({sr})) "
        f"WHEN {layer} = 2 OR {ver} = 1 "
        f"THEN (144000 * ({kbps})) // ({sr}) "
        f"ELSE (72000 * ({kbps})) // ({sr}) END"
    )
    slot = f"CASE WHEN {layer} = 1 THEN 4 ELSE 1 END"
    n = "(4 + doc_id % 4)"
    # frames i in [0, n) padded iff (doc_id + i) % 3 = 0:
    # first hit i0 = (3 - doc_id % 3) % 3, count = (n - i0 + 2) // 3
    n_padded = f"(({n}) - (3 - doc_id % 3) % 3 + 2) // 3"
    # free-format rotation (doc_id % 5 = 3): constant frame size ffb,
    # nominal kbps = (ffb * sr) // div — the walker's inference contract
    free = "doc_id % 5 = 3"
    ffb = "(40 + doc_id % 60)"
    div = (
        f"CASE WHEN {layer} = 1 THEN 48000 "
        f"WHEN {layer} = 2 OR {ver} = 1 THEN 144000 ELSE 72000 END"
    )
    kbps_out = (
        f"CASE WHEN {free} THEN (({ffb}) * ({sr})) // ({div}) "
        f"ELSE {kbps} END"
    )
    bytes_out = (
        f"CASE WHEN {free} THEN ({n}) * ({ffb}) + ({slot}) * ({n_padded}) "
        f"ELSE ({n}) * ({base}) + ({slot}) * ({n_padded}) END"
    )
    return f"""
    SELECT doc_id,
           CAST({n} AS INTEGER) AS n_frames,
           CAST({ver} AS INTEGER) AS version_id,
           CAST({layer} AS INTEGER) AS layer,
           CAST({sr} AS INTEGER) AS sample_rate,
           CAST({kbps_out} AS INTEGER) AS bitrate_kbps,
           CASE WHEN {free} THEN 'free' ELSE 'cbr' END AS bitrate_mode,
           CAST(doc_id % 4 AS INTEGER) AS channel_mode,
           CAST(({n}) * ({spf}) AS BIGINT) AS total_samples,
           CAST({bytes_out} AS BIGINT) AS total_bytes
    FROM documents
    """


def _synthesize_mp3_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Deterministic MPEG-audio stream per doc: version 1/2 (doc_id
    mod 2), layer 1/2/3 (mod 3), bitrate index 1-14 (mod 14), sample
    rate index (doc_id÷3 mod 3), 4-7 frames (mod 4), frame i padded
    iff (doc_id + i) mod 3 = 0, channel mode mod 4, an ID3v2 tag
    of 10 + doc_id mod 50 bytes on every fifth doc (the skip path is
    load-bearing but invisible in the output — total_bytes counts
    FRAME bytes only), and FREE FORMAT (bitrate index 0, constant
    frame size 40 + doc_id mod 60) on docs ≡ 3 mod 5 so the sync-scan
    inference rule is oracle-pinned."""
    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            n = 4 + did % 4
            payloads.append(
                mp3_build(
                    version=1 if did % 2 == 0 else 2,
                    layer=did % 3 + 1,
                    bitrate_idx=did % 14 + 1,
                    sr_idx=(did // 3) % 3,
                    n_frames=n,
                    padded={i for i in range(n) if (did + i) % 3 == 0},
                    channel_mode=did % 4,
                    id3_size=(10 + did % 50) if did % 5 == 0 else None,
                    free_frame_bytes=(
                        (40 + did % 60) if did % 5 == 3 else None
                    ),
                )
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query("mp3_stream_features", oracle=_oracle_sql())
def mp3_stream_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-audio stream-walk E2E: synthesize a conformant MP3 per
    document over the full version × layer × bitrate × samplerate ×
    padding × ID3 rotation and walk every frame header, hash-matching
    the closed-form stream summary (both engines' constants come from
    the same public ISO tables).  ``total_bytes`` pins the per-layer
    frame-length and padding-slot arithmetic; ``total_samples`` pins
    the samples-per-frame table; the ID3 skip is load-bearing on every
    fifth doc.  Two narrow ``mapInPandas`` passes, no shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_mp3_payloads, schema="doc_id bigint, payload binary"
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                s = mp3_walk(bytes(payload))
                s["doc_id"] = int(doc_id)
                rows.append(s)
            out = pd.DataFrame(rows)
            yield out[
                [
                    "doc_id", "n_frames", "version_id", "layer",
                    "sample_rate", "bitrate_kbps", "bitrate_mode",
                    "channel_mode", "total_samples", "total_bytes",
                ]
            ].astype(
                {
                    "doc_id": "int64", "n_frames": "int32",
                    "version_id": "int32", "layer": "int32",
                    "sample_rate": "int32", "bitrate_kbps": "int32",
                    "channel_mode": "int32", "total_samples": "int64",
                    "total_bytes": "int64",
                }
            )

    return payloads.mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, n_frames int, version_id int, layer int, "
            "sample_rate int, bitrate_kbps int, bitrate_mode string, "
            "channel_mode int, total_samples bigint, total_bytes bigint"
        ),
    )

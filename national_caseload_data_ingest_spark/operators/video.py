"""Video container path: MJPEG-in-AVI parse + frame extraction.

Upgrades the opaque-payload video story (``multimodal_frame_sample``
keeps payloads un-decoded) to a REAL end-to-end path: parse the AVI
RIFF container (public format: Microsoft 'AVI RIFF File Reference'),
pull the video stream's frames out of the ``movi`` list, and decode
each frame through the engine's own baseline-JPEG decoder
(``operators/multimodal.jpeg_decode``) — no codec libraries.

MJPEG is the one mainstream video codec that is just a sequence of
JPEG stills, which makes it the honest native target; inter-coded
codecs (H.264/VP9/AV1) need a real decoder host and their payloads
keep raising the opaque-column gate.

Scale shape: a video corpus is ``(video_id, payload binary)`` rows;
frame extraction + sampling + per-frame feature kernels run as one
narrow Arrow-batched ``mapInPandas`` pass per video — embarrassingly
parallel, no shuffle until the (tiny) per-frame feature aggregation.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from national_caseload_data_ingest_spark.operators.registry import (
    fan_out,
    load_tables,
    query,
)


def avi_encode_mjpeg(frames: list[bytes], fps: int = 10,
                     width: int = 0, height: int = 0) -> bytes:
    """Minimal spec-shaped MJPEG AVI: ``hdrl`` (avih + one video strl
    with 'MJPG'), ``movi`` with one ``00dc`` chunk per JPEG frame, and
    an ``idx1`` index.  Frame dims are advisory in the header (real
    dims live in each JPEG's SOF)."""
    n = len(frames)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # microseconds per frame
        0, 0, 0x10,  # max bytes/sec, padding, flags (HASINDEX)
        n, 0, 1, 0,  # total frames, initial frames, streams, buffer size
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<I", 0)  # flags
        + struct.pack("<HH", 0, 0)  # priority, language
        + struct.pack("<IIIIIIII", 0, 1, fps, 0, n, 0, 0, 0)
        + struct.pack("<hhhh", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", 0, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"".join(chunk(b"00dc", f) for f in frames)
    movi = lst(b"movi", movi_body)
    idx_entries = []
    off = 4  # offsets are relative to the start of 'movi' fourcc
    for f in frames:
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(f)))
        off += 8 + len(f) + (len(f) & 1)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def avi_video_fourcc(payload: bytes) -> bytes | None:
    """The first video stream's codec handler fourcc (``strh`` with
    fccType ``vids``), or None when no video stream header exists.
    This is the routing key for the gate report's video policy
    (SCALING.md): MJPG decodes natively; inter-coded handlers route to
    a decoder host by documented decision."""
    if payload[:4] != b"RIFF":
        raise ValueError("not a RIFF container")
    if payload[8:12] != b"AVI ":
        raise NotImplementedError(
            f"RIFF form {payload[8:12]!r} is not AVI"
        )
    found: list[bytes] = []

    def walk(data: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end and not found:
            fourcc = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            if body_start + size > len(data):
                raise ValueError("avi: chunk overruns file")
            if fourcc == b"LIST":
                walk(data, body_start + 4, body_start + size)
            elif fourcc == b"strh" and data[body_start : body_start + 4] == b"vids":
                found.append(data[body_start + 4 : body_start + 8])
            pos = body_start + size + (size & 1)

    walk(payload, 12, len(payload))
    return found[0] if found else None


def avi_extract_frames(
    payload: bytes,
    stream: int = 0,
    kinds: tuple[str, ...] = ("dc", "db"),
) -> list[bytes]:
    """Walk the RIFF tree and return the raw per-chunk payloads of
    stream ``stream`` (chunks inside ``movi``, in file order — also
    inside ``rec `` groups, which interleaved AVIs use).  ``kinds``
    selects the chunk flavors: the default ``("dc", "db")`` is
    video-only (compressed/uncompressed frames) so downstream JPEG
    decoding never sees audio bytes; pass ``("wb",)`` to pull an audio
    stream instead.  Raises ``ValueError`` on structural corruption and
    ``NotImplementedError`` for non-AVI RIFF files."""
    if payload[:4] != b"RIFF":
        raise ValueError("not a RIFF container")
    if payload[8:12] != b"AVI ":
        raise NotImplementedError(
            f"RIFF form {payload[8:12]!r} is not AVI"
        )
    want = {f"{stream:02d}{k}".encode() for k in kinds}
    frames: list[bytes] = []

    def walk(data: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            if body_start + size > len(data):
                raise ValueError("avi: chunk overruns file")
            if fourcc == b"LIST":
                list_type = data[body_start : body_start + 4]
                if list_type in (b"movi", b"rec "):
                    walk(data, body_start + 4, body_start + size)
            elif fourcc in want:
                frames.append(data[body_start : body_start + size])
            pos = body_start + size + (size & 1)

    walk(payload, 12, len(payload))
    return frames


def sample_mjpeg_frames(
    payload: bytes, every: int = 2
) -> list[tuple[int, object]]:
    """Extract + decode every ``every``-th MJPEG frame through the native
    JPEG decoder: returns ``[(frame_index, pixel array), ...]``."""
    from national_caseload_data_ingest_spark.operators.multimodal import (  # noqa: PLC0415
        jpeg_decode,
    )

    out = []
    for i, frame in enumerate(avi_extract_frames(payload)):
        if i % every:
            continue
        out.append((i, jpeg_decode(frame)))
    return out


MJPEG_FRAMES = 8
MJPEG_SAMPLE_EVERY = 2


def _synthesize_mjpeg_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """One deterministic 8-frame MJPEG AVI per document: frame f uses the
    grayscale block-constant JPEG construction keyed by doc_id + f, so
    every sampled frame's mean is a closed form (the same even-offset
    exactness argument as ``jpeg_decode_features``)."""
    import numpy as np  # noqa: PLC0415

    from national_caseload_data_ingest_spark.operators.multimodal import (  # noqa: PLC0415
        _JPEG_BLOCKS,
        JPEG_H,
        JPEG_W,
        jpeg_encode,
    )

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            frames = []
            for f in range(MJPEG_FRAMES):
                b = np.arange(_JPEG_BLOCKS, dtype=np.int64)
                vals = 128 + 2 * ((int(doc_id) + f + b) % 64 - 32)
                px = (
                    vals.reshape(JPEG_H // 8, JPEG_W // 8)[:, None, :, None]
                    * np.ones((1, 8, 1, 8), dtype=np.int64)
                ).reshape(JPEG_H, JPEG_W).astype(np.uint8)
                frames.append(jpeg_encode(px))
            payloads.append(avi_encode_mjpeg(frames, width=JPEG_W, height=JPEG_H))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


def _decode_mjpeg_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Frame-sampling kernel: each AVI payload explodes into one row per
    SAMPLED frame with its decoded mean — container parse + JPEG decode
    per row, all inside one Arrow batch pass."""
    for pdf in batches:
        doc_ids, fidx, ws, hs, means = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for i, px in sample_mjpeg_frames(
                bytes(payload), every=MJPEG_SAMPLE_EVERY
            ):
                doc_ids.append(doc_id)
                fidx.append(i)
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                means.append(int(px.sum(dtype="int64")) / px.size)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "frame_index": pd.Series(fidx, dtype="int32"),
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "mean_pixel": pd.Series(means, dtype="float64"),
            }
        )


@query(
    "mjpeg_frame_features",
    oracle="""
    SELECT d.doc_id,
           CAST(f.f AS INTEGER) AS frame_index,
           CAST(24 AS INTEGER) AS width,
           CAST(16 AS INTEGER) AS height,
           CAST(SUM(128 + 2 * (((d.doc_id + f.f + t.k) % 64) - 32)) AS DOUBLE)
               / 6 AS mean_pixel
    FROM documents d,
         (SELECT range * 2 AS f FROM range(0, 4)) f,
         range(0, 6) t(k)
    GROUP BY d.doc_id, f.f
    """,
)
def mjpeg_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame sampling E2E with a SQL oracle: synthesize an
    8-frame MJPEG AVI per document, parse the RIFF container, sample
    every 2nd frame, decode each through the native baseline-JPEG path,
    and hash-match the closed-form per-frame means — the decoded
    upgrade of ``multimodal_frame_sample``'s opaque-payload sampling
    (that query pins the payload-layout plumbing; this one proves a
    real container+codec stack on top).  Inter-coded video (H.264 etc.)
    stays behind the opaque gate by design.  Two narrow ``mapInPandas``
    passes; the frame explosion happens inside the Arrow kernel, so no
    shuffle carries pixel data."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_mjpeg_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        _decode_mjpeg_features,
        schema=(
            "doc_id bigint, frame_index int, width int, height int, "
            "mean_pixel double"
        ),
    )

"""QOI ("Quite OK Image") codec — the byte-aligned lossless image
format (public single-page spec, qoiformat.org / the reference qoi.h).

QOI shows up in game-asset and dataset tooling because it decodes at
memcpy-like speed with a 300-line implementation; for this engine it is
the still-image codec family's byte-aligned member (PNG covers the
bit-packed DEFLATE member, BMP/TIFF the raw rasters).

Format, from the spec: 14-byte header (``qoif`` magic, width/height
u32 BE, channels 3|4, colorspace 0|1), then a chunk stream over a
running decoder state — previous pixel (start ``(0,0,0,255)``) and a
64-entry recently-seen table indexed ``(3r+5g+7b+11a) mod 64``:

* ``QOI_OP_RGB``   ``0xFE r g b``
* ``QOI_OP_RGBA``  ``0xFF r g b a``
* ``QOI_OP_INDEX`` ``0b00iiiiii`` — table lookup
* ``QOI_OP_DIFF``  ``0b01drdgdb`` — per-channel -2..1 vs prev (mod 256)
* ``QOI_OP_LUMA``  ``0b10gggggg; 0bRRRRBBBB`` — dg -32..31,
  dr-dg / db-dg -8..7 (mod 256)
* ``QOI_OP_RUN``   ``0b11rrrrrr`` — run of prev, length 1..62
* end marker: seven ``0x00`` then ``0x01``.

Spark shape: the established per-payload Arrow kernel — decode is one
``mapInPandas`` over the binary column, zero shuffle.  Structural
damage (bad magic, truncated stream, missing end marker, pixel-count
overrun) raises ``ValueError``; channels outside 3/4 raise
``NotImplementedError``.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from national_caseload_data_ingest_spark.operators.registry import fan_out, query
from national_caseload_data_ingest_spark.session import load_tables

QOI_MAGIC = b"qoif"
_END = b"\x00" * 7 + b"\x01"


def _hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def qoi_decode(payload: bytes):
    """QOI container → (width, height, channels, pixels) with pixels a
    row-major list of (r, g, b, a) tuples."""
    if payload[:4] != QOI_MAGIC:
        raise ValueError("qoi: bad magic")
    if len(payload) < 14 + len(_END):
        raise ValueError("qoi: truncated header")
    w, h = struct.unpack_from(">II", payload, 4)
    channels = payload[12]
    colorspace = payload[13]
    if channels not in (3, 4):
        raise NotImplementedError(f"qoi: channels {channels} unsupported")
    if colorspace not in (0, 1):
        raise ValueError("qoi: bad colorspace byte")
    n = w * h
    px = (0, 0, 0, 255)
    table = [(0, 0, 0, 0)] * 64
    out = []
    pos = 14
    end = len(payload) - len(_END)
    if payload[end:] != _END:
        raise ValueError("qoi: missing end marker")
    while len(out) < n:
        if pos >= end:
            raise ValueError("qoi: truncated chunk stream")
        b0 = payload[pos]
        pos += 1
        if b0 == 0xFE:  # QOI_OP_RGB
            r, g, b = payload[pos : pos + 3]
            pos += 3
            px = (r, g, b, px[3])
        elif b0 == 0xFF:  # QOI_OP_RGBA
            r, g, b, a = payload[pos : pos + 4]
            pos += 4
            px = (r, g, b, a)
        else:
            tag = b0 >> 6
            if tag == 0:  # QOI_OP_INDEX
                px = table[b0 & 0x3F]
            elif tag == 1:  # QOI_OP_DIFF
                dr = ((b0 >> 4) & 3) - 2
                dg = ((b0 >> 2) & 3) - 2
                db = (b0 & 3) - 2
                px = ((px[0] + dr) % 256, (px[1] + dg) % 256,
                      (px[2] + db) % 256, px[3])
            elif tag == 2:  # QOI_OP_LUMA
                dg = (b0 & 0x3F) - 32
                b1 = payload[pos]
                pos += 1
                dr = dg + ((b1 >> 4) & 0x0F) - 8
                db = dg + (b1 & 0x0F) - 8
                px = ((px[0] + dr) % 256, (px[1] + dg) % 256,
                      (px[2] + db) % 256, px[3])
            else:  # QOI_OP_RUN
                run = (b0 & 0x3F) + 1
                if len(out) + run > n:
                    raise ValueError("qoi: run past pixel count")
                out.extend([px] * run)
                continue
        table[_hash(*px)] = px
        out.append(px)
    if pos != end:
        raise ValueError("qoi: trailing bytes before end marker")
    return w, h, channels, out


def qoi_encode(w: int, h: int, pixels, channels: int = 3) -> bytes:
    """(r, g, b[, a]) tuples → QOI container, using every op the spec
    defines (run / index / diff / luma / rgb / rgba) exactly as the
    reference encoder prefers them."""
    if channels not in (3, 4):
        raise NotImplementedError(f"qoi: channels {channels} unsupported")
    out = bytearray(QOI_MAGIC)
    out += struct.pack(">II", w, h)
    out += bytes((channels, 0))
    px = (0, 0, 0, 255)
    table = [(0, 0, 0, 0)] * 64
    run = 0
    for p in pixels:
        p = (p[0], p[1], p[2], p[3] if len(p) == 4 else 255)
        if p == px:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        idx = _hash(*p)
        if table[idx] == p:
            out.append(idx)
        elif p[3] != px[3]:
            out.append(0xFF)
            out += bytes(p)
        else:
            dr = (p[0] - px[0]) % 256
            dg = (p[1] - px[1]) % 256
            db = (p[2] - px[2]) % 256
            sr = dr - 256 if dr > 127 else dr
            sg = dg - 256 if dg > 127 else dg
            sb = db - 256 if db > 127 else db
            if -2 <= sr <= 1 and -2 <= sg <= 1 and -2 <= sb <= 1:
                out.append(0x40 | ((sr + 2) << 4) | ((sg + 2) << 2)
                           | (sb + 2))
            elif (
                -32 <= sg <= 31
                and -8 <= sr - sg <= 7
                and -8 <= sb - sg <= 7
            ):
                out.append(0x80 | (sg + 32))
                out.append(((sr - sg + 8) << 4) | (sb - sg + 8))
            else:
                out.append(0xFE)
                out += bytes(p[:3])
        table[idx] = p
        px = p
    if run:
        out.append(0xC0 | (run - 1))
    out += _END
    return bytes(out)


def _synth_pixels(did: int, n: int):
    """Closed-form pixel stream that exercises every op class: slow
    per-channel steps (runs + DIFF), a ±16 all-channel brightness
    toggle every 5 pixels (LUMA: dg mid-size, dr-dg/db-dg ≈ 0), a +100
    blue jump every 13th pixel (RGB), and a recurring fixed color every
    29th pixel (INDEX hits)."""
    out = []
    for i in range(n):
        if i % 29 == 0:
            out.append((200, 100, 50))
        else:
            bright = 16 * ((i // 5) % 2)
            out.append(
                (
                    (did + i // 7 + bright) % 256,
                    (did * 2 + i // 11 + bright) % 256,
                    (did * 3 + i // 17 + (i % 13 == 0) * 100 + bright)
                    % 256,
                )
            )
    return out


def _synthesize_qoi(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            w = 8 + did % 8
            h = 6 + did % 6
            payloads.append(qoi_encode(w, h, _synth_pixels(did, w * h)))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "qoi_decode_features",
    oracle="""
    WITH geom AS (
        SELECT doc_id, (8 + doc_id % 8) AS w, (6 + doc_id % 6) AS h
        FROM documents
    ),
    px AS (
        SELECT g.doc_id, g.w, g.h,
               CASE WHEN t.i % 29 = 0 THEN 200
                    ELSE (g.doc_id + t.i // 7
                          + 16 * ((t.i // 5) % 2)) % 256 END AS r,
               CASE WHEN t.i % 29 = 0 THEN 100
                    ELSE (g.doc_id * 2 + t.i // 11
                          + 16 * ((t.i // 5) % 2)) % 256 END AS gg,
               CASE WHEN t.i % 29 = 0 THEN 50
                    ELSE (g.doc_id * 3 + t.i // 17
                          + CASE WHEN t.i % 13 = 0 THEN 100 ELSE 0 END
                          + 16 * ((t.i // 5) % 2))
                         % 256 END AS b
        FROM geom g, range(0, 165) t(i)
        WHERE t.i < g.w * g.h
    )
    SELECT doc_id,
           CAST(ANY_VALUE(w) AS INTEGER) AS width,
           CAST(ANY_VALUE(h) AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(SUM(r + 2 * gg + 3 * b) AS BIGINT) AS weighted_sum,
           CAST(MAX(r) AS INTEGER) AS max_r
    FROM px
    GROUP BY doc_id
    """,
)
def qoi_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QOI decode E2E: synthesize a QOI image per document whose pixel
    stream drives every chunk type the spec defines (RUN, INDEX, DIFF,
    LUMA, RGB), decode it, and emit dimensions plus an exact weighted
    pixel sum against the closed form.  A wrong bias in DIFF/LUMA, a
    stale hash-table entry, an off-by-one run length, or a mod-256
    wraparound bug each shifts the sum.  Two narrow ``mapInPandas``
    passes, zero shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_qoi, schema="doc_id bigint, payload binary"
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, ch, px = qoi_decode(bytes(payload))
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "width": w,
                        "height": h,
                        "channels": ch,
                        "weighted_sum": sum(
                            r + 2 * g + 3 * b for r, g, b, _a in px
                        ),
                        "max_r": max(r for r, _g, _b, _a in px),
                    }
                )
            yield pd.DataFrame(rows).astype(
                {
                    "doc_id": "int64", "width": "int32", "height": "int32",
                    "channels": "int32", "weighted_sum": "int64",
                    "max_r": "int32",
                }
            )

    return payloads.mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, width int, height int, channels int, "
            "weighted_sum bigint, max_r int"
        ),
    )

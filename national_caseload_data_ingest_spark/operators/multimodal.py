"""Multimodal column support: opaque binary payloads + typed metadata, with
Pandas-UDF (Arrow-batched) decode/feature plumbing.

Model: a modality column is ``binary`` next to typed metadata columns
(mime, byte length) — the pattern for image/audio/video at 100 TB, where
payloads stay opaque to the planner and all pixel/sample work happens in
vectorized Python batches via ``mapInPandas``.

Codec status: PNG (decode/encode/resize), BMP (8/24-bpp DIB
decode/encode/resize), GIF (LZW decode/encode/resize),
and 16-bit PCM WAV (decode/encode) are REAL pure-stdlib implementations —
tested without any codec library, with synthesize→decode E2E queries
hash-checked against DuckDB oracles (``png_decode_features``,
``gif_decode_features``, ``wav_decode_features``).  Other
formats (JPEG, compressed audio, video containers) are honestly gated
behind ``try: import PIL`` and raise ``NotImplementedError`` in this
container; their *Spark-side plumbing* — schema, batch iteration, Arrow
transfer, 1→N explosion — is exercised by the byte-feature and
frame-sampling queries.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import fan_out, query
from national_caseload_data_ingest_spark.session import load_tables

FEATURE_SCHEMA = (
    "doc_id bigint, mime string, n_bytes bigint, first_byte int, "
    "head_checksum bigint"
)


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


# Adam7 interlace pass grid: (x0, y0, dx, dy) per pass, PNG spec §8.2 —
# pass p covers pixels (x0 + i*dx, y0 + j*dy); passes with an empty
# pixel grid contribute NO scanlines to the stream.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_defilter(raw: bytes, offset: int, n_rows: int, width: int, ch: int):
    """Undo the five scanline filters over ``n_rows`` consecutive
    scanlines starting at ``offset`` in the decompressed stream; returns
    ``(rows (n_rows, width*ch) uint8, next_offset)``.  One (sub)image's
    filtering is self-contained — Adam7 passes reset the Up/Paeth
    ``prev`` row, which is why this helper exists."""
    import numpy as np  # noqa: PLC0415

    stride = width * ch
    if offset + n_rows * (stride + 1) > len(raw):
        raise ValueError("PNG scanline data has wrong length")
    out = np.zeros((n_rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(n_rows):
        base = offset + y * (stride + 1)
        f = raw[base]
        row = np.frombuffer(raw[base + 1 : base + 1 + stride], np.uint8).copy()
        if f == 0:
            pass
        elif f == 1:  # Sub
            for i in range(ch, stride):
                row[i] = (int(row[i]) + int(row[i - ch])) & 0xFF
        elif f == 2:  # Up — vectorized, uint8 wraps mod 256
            row += prev
        elif f == 3:  # Average
            for i in range(stride):
                left = int(row[i - ch]) if i >= ch else 0
                row[i] = (int(row[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(row[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                row[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = row
        prev = row
    return out, offset + n_rows * (stride + 1)


def _unpack_indices(rows, pw: int, depth: int):
    """``(n, rowbytes)`` packed scanline bytes → ``(n, pw)`` palette
    indices.  Sub-byte samples pack MSB-first within each byte (RFC 2083
    §2.3); trailing pad bits in the last byte are discarded."""
    import numpy as np  # noqa: PLC0415

    if depth == 8:
        return rows[:, :pw]
    bits = np.unpackbits(rows, axis=1)[:, : pw * depth]
    groups = bits.reshape(rows.shape[0], pw, depth).astype(np.uint8)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (groups * weights).sum(axis=2).astype(np.uint8)


def _png_decode_palette(idat, w, h, depth, interlace, plte, trns):
    """Color-type-3 path: defilter the packed index plane (filters act on
    BYTES with left-neighbor distance 1 for sub-byte depths, §6.5),
    unpack to indices, then map through PLTE (+ tRNS alpha → RGBA)."""
    import zlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if plte is None or len(plte) == 0 or len(plte) % 3:
        raise ValueError("PNG palette image missing or malformed PLTE")
    raw = zlib.decompress(idat)

    def rowbytes(pw: int) -> int:
        return (pw * depth + 7) // 8

    idx = np.zeros((h, w), dtype=np.uint8)
    if interlace == 0:
        rows, end = _png_defilter(raw, 0, h, rowbytes(w), 1)
        if end != len(raw):
            raise ValueError("PNG scanline data has wrong length")
        idx = _unpack_indices(rows, w, depth)
    else:
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows, offset = _png_defilter(raw, offset, ph, rowbytes(pw), 1)
            idx[y0::dy, x0::dx] = _unpack_indices(rows, pw, depth)
        if offset != len(raw):
            raise ValueError("PNG scanline data has wrong length")

    n_entries = len(plte) // 3
    if int(idx.max(initial=0)) >= n_entries:
        raise ValueError("PNG palette index out of range")
    palette = np.frombuffer(plte, np.uint8).reshape(n_entries, 3)
    rgb = palette[idx]
    if trns is None:
        return w, h, 3, rgb
    alpha = np.full(n_entries, 255, dtype=np.uint8)
    alpha[: len(trns)] = np.frombuffer(trns, np.uint8)
    return w, h, 4, np.dstack([rgb, alpha[idx]])


def png_decode(payload: bytes):
    """Pure-stdlib PNG decoder (zlib + struct, no codec libraries): returns
    ``(width, height, channels, pixels)`` with ``pixels`` a numpy array
    of shape ``(height, width, channels)`` — uint8 everywhere except
    16-bit streams, which return their true uint16 samples.

    Supports the full still-image profile — color types 0/2/4/6 at
    depth 8 and 16, grayscale additionally at 1/2/4 (expanded to 8-bit
    by the exact max-value rescale), paletted (type 3) at 1/2/4/8 with
    optional tRNS alpha, non-interlaced OR Adam7-interlaced — with all
    five scanline
    filters (None, Sub, Up, Average, Paeth) per the PNG spec (RFC 2083
    §6).  The Up filter is fully vectorized (uint8 addition wraps mod
    256); Sub/Average/Paeth carry a left-neighbor dependency and walk the
    row in Python — fine for a per-payload kernel whose rows are
    Arrow-batched above it.  Adam7 (spec §8.2): seven consecutive
    sub-images in one zlib stream, each filtered independently (the
    ``prev`` row resets per pass), placed on the strided pixel grid;
    empty passes contribute no scanlines.
    """
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG payload")
    pos, idat, header, plte, trns = 8, [], None, None, None
    while pos + 8 <= len(payload):
        (length,), typ = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if typ == b"IHDR":
            header = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = data
        elif typ == b"tRNS":
            trns = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if header is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = header
    if color == 3:
        if depth not in (1, 2, 4, 8) or interlace not in (0, 1):
            raise NotImplementedError(
                f"png_decode palette images need depth 1/2/4/8 with "
                f"interlace 0/1; got depth={depth} interlace={interlace}"
            )
        return _png_decode_palette(
            b"".join(idat), w, h, depth, interlace, plte, trns
        )
    valid_depth = depth in (8, 16) or (color == 0 and depth in (1, 2, 4))
    if color not in _PNG_CHANNELS or interlace not in (0, 1) or not valid_depth:
        raise NotImplementedError(
            f"png_decode supports color types {sorted(_PNG_CHANNELS)} at "
            f"depth 8/16 (grayscale also 1/2/4) + 3 (paletted, 1/2/4/8) "
            f"with interlace 0/1; got "
            f"depth={depth} color={color} interlace={interlace}"
        )
    ch = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    if depth < 8:
        # sub-byte grayscale: filters act on the PACKED bytes with
        # left-neighbor distance 1 (spec §6.5, like the palette plane);
        # samples expand to 8-bit by exact max-value rescale (255 is
        # divisible by 1/3/15, so v·255/(2^d−1) is integer-exact)
        scale = np.uint8(255 // ((1 << depth) - 1))

        def plane(offset: int, pw: int, ph: int):
            rows, end = _png_defilter(raw, offset, ph, (pw * depth + 7) // 8, 1)
            return (_unpack_indices(rows, pw, depth) * scale)[..., None], end

        dtype = np.uint8
    elif depth == 8:

        def plane(offset: int, pw: int, ph: int):
            rows, end = _png_defilter(raw, offset, ph, pw, ch)
            return rows.reshape(ph, pw, ch), end

        dtype = np.uint8
    else:
        # 16-bit samples, big-endian pairs; filter distance is BYTES per
        # pixel (spec §6.2), so the byte-wise defilter runs at 2·ch —
        # the decode returns the true uint16 samples, no precision loss

        def plane(offset: int, pw: int, ph: int):
            rows, end = _png_defilter(raw, offset, ph, pw, ch * 2)
            pairs = rows.reshape(ph, pw, ch, 2).astype(np.uint16)
            return (pairs[..., 0] << 8) | pairs[..., 1], end

        dtype = np.uint16
    if interlace == 0:
        px, end = plane(0, w, h)
        if end != len(raw):
            raise ValueError("PNG scanline data has wrong length")
        return w, h, ch, px
    out = np.zeros((h, w, ch), dtype=dtype)
    offset = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        px, offset = plane(offset, pw, ph)
        out[y0::dy, x0::dx] = px
    if offset != len(raw):
        raise ValueError("PNG scanline data has wrong length")
    return w, h, ch, out


def decode_image(payload: bytes) -> object:
    """Decode an image payload.

    PNG payloads decode natively via :func:`png_decode`, GIF via
    :func:`gif_decode`, BMP via :func:`bmp_decode`, and JPEG — baseline
    AND progressive, gray or color, any integer chroma subsampling — via
    :func:`jpeg_decode` (all pure stdlib/numpy — tested without any
    codec library); remaining formats (WEBP, TIFF) require PIL, which
    this container doesn't ship, and raise ``NotImplementedError``."""
    if payload[:8] == PNG_SIGNATURE:
        return png_decode(payload)
    if payload[:6] in GIF_SIGNATURES:
        return gif_decode(payload)
    if payload[:2] == JPEG_SOI:
        px = jpeg_decode(payload)
        if px.ndim == 2:  # grayscale
            h, w = px.shape
            return w, h, 1, px.reshape(h, w, 1)
        h, w, ch = px.shape
        return w, h, ch, px
    if payload[:2] == BMP_SIGNATURE:
        return bmp_decode(payload)
    if payload[:4] == ICO_SIGNATURE:
        return ico_decode(payload)  # largest entry, a browser's pick
    if payload[:4] in TIFF_SIGNATURES:
        return tiff_decode(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from national_caseload_data_ingest_spark.operators.webp import (  # noqa: PLC0415
            webp_decode,
        )

        return webp_decode(payload)
    try:
        from PIL import Image  # noqa: PLC0415
    except ImportError as e:
        raise NotImplementedError(
            "unrecognized image payload and PIL absent; every format this "
            "engine claims decodes natively — PNG, GIF, BMP, TIFF "
            "(strips, LZW/PackBits, predictor), JPEG (baseline and "
            "progressive, gray/color, subsampled), and WEBP-lossless "
            "(VP8L) and lossy key-frame VP8"
        ) from e
    import io  # noqa: PLC0415

    return Image.open(io.BytesIO(payload))


def _png_filter(flat, ch: int, filter_type: int) -> bytes:
    """Apply one scanline filter to every row of a ``(n, stride)`` uint8
    (sub)image — the encode twin of :func:`_png_defilter`, with the same
    per-(sub)image ``prev`` reset.  Filters operate on the RAW neighbor
    bytes (not the filtered output), per RFC 2083 §6.5."""
    import numpy as np  # noqa: PLC0415

    n, stride = flat.shape
    prev = np.zeros(stride, dtype=np.uint8)
    lines = []
    for y in range(n):
        row = flat[y]
        f = filter_type
        res = np.empty(stride, dtype=np.uint8)
        if f == 0:
            res = row
        elif f == 1:  # Sub
            res[:ch] = row[:ch]
            res[ch:] = (row[ch:].astype(int) - row[:-ch].astype(int)) & 0xFF
        elif f == 2:  # Up
            res = row - prev  # uint8 wraps mod 256
        elif f == 3:  # Average
            for i in range(stride):
                left = int(row[i - ch]) if i >= ch else 0
                res[i] = (int(row[i]) - ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(row[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                res[i] = (int(row[i]) - pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        lines.append(bytes([f]) + res.tobytes())
        prev = row
    return b"".join(lines)


def png_encode(
    arr, filter_type: int = 0, interlace: bool = False, depth: int = None
) -> bytes:
    """Pure-stdlib PNG encoder (inverse of :func:`png_decode`): array of
    shape ``(h, w)`` or ``(h, w, channels)`` → PNG bytes, applying the
    given scanline filter to every row.  ``depth`` defaults to 8 for a
    uint8 array and 16 for uint16; grayscale additionally accepts 1/2/4
    (the array then holds RAW samples 0..2^d−1, packed MSB-first).
    Exists so the decoder's filter/depth paths are testable without any
    codec library, and to synthesize image payloads for the
    decode-pipeline E2E queries.  With ``interlace=True`` the stream is
    Adam7: the seven strided sub-images are filtered independently and
    concatenated in pass order inside one zlib stream (spec §8.2)."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    arr = np.asarray(arr)
    if depth is None:
        depth = 16 if arr.dtype == np.uint16 else 8
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    if depth == 16:
        arr = np.asarray(arr, dtype=np.uint16)

        def rows_of(sub):
            ph, pw = sub.shape[:2]
            be = sub.astype(">u2").view(np.uint8)
            return be.reshape(ph, pw * ch * 2), ch * 2

    elif depth == 8:
        arr = np.asarray(arr, dtype=np.uint8)

        def rows_of(sub):
            ph, pw = sub.shape[:2]
            return sub.reshape(ph, pw * ch), ch

    else:
        if ch != 1 or depth not in (1, 2, 4):
            raise ValueError(
                "png_encode: sub-byte depth needs a single-channel array"
            )
        arr = np.asarray(arr, dtype=np.uint8)
        if int(arr.max(initial=0)) >= 1 << depth:
            raise ValueError("png_encode: sample exceeds bit depth")

        def rows_of(sub):
            return _pack_indices(sub[:, :, 0], depth), 1

    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            flat, dist = rows_of(sub)
            parts.append(_png_filter(flat, dist, filter_type))
        raw = zlib.compress(b"".join(parts))
    else:
        flat, dist = rows_of(arr)
        raw = zlib.compress(_png_filter(flat, dist, filter_type))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0
    )
    return (
        PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", raw)
        + chunk(b"IEND", b"")
    )


def _pack_indices(idx_rows, depth: int) -> "object":
    """``(n, pw)`` palette indices → ``(n, rowbytes)`` packed bytes
    (MSB-first sub-byte packing) — the encode twin of
    :func:`_unpack_indices`."""
    import numpy as np  # noqa: PLC0415

    if depth == 8:
        return idx_rows
    n, pw = idx_rows.shape
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    bits = ((idx_rows[:, :, None] & weights) > 0).astype(np.uint8)
    return np.packbits(bits.reshape(n, pw * depth), axis=1)


def png_encode_palette(
    indices,
    palette,
    trns=None,
    depth: int = 8,
    filter_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Paletted (color type 3) PNG encoder: ``(h, w)`` uint8 index array
    + ``(n, 3)`` RGB palette (+ optional per-entry ``trns`` alpha list)
    → PNG bytes at bit depth 1/2/4/8.  Exists so the decoder's palette,
    sub-byte unpacking, and tRNS paths are testable without a codec
    library and to synthesize fixture payloads for the E2E query."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if depth not in (1, 2, 4, 8):
        raise ValueError("png_encode_palette: depth must be 1/2/4/8")
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    if int(idx.max(initial=0)) >= min(len(pal), 1 << depth):
        raise ValueError("png_encode_palette: index exceeds palette/depth")
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = idx[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.append(
                _png_filter(_pack_indices(sub, depth), 1, filter_type)
            )
        raw = zlib.compress(b"".join(parts))
    else:
        raw = zlib.compress(
            _png_filter(_pack_indices(idx, depth), 1, filter_type)
        )

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, 3, 0, 0, 1 if interlace else 0
    )
    out = PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal.tobytes())
    if trns is not None:
        out += chunk(b"tRNS", bytes(bytearray(trns)))
    return out + chunk(b"IDAT", raw) + chunk(b"IEND", b"")


def extract_byte_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic per-payload features: size, first byte, checksum of the
    first 8 bytes.  Shape-identical to a real decode-and-featurize UDF:
    one output row per payload, vectorized per Arrow batch."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "n_bytes": payloads.map(len).astype("int64"),
                "first_byte": payloads.map(
                    lambda b: b[0] if len(b) else -1
                ).astype("int32"),
                "head_checksum": payloads.map(
                    lambda b: int(sum(b[:8]))
                ).astype("int64"),
            }
        )


def with_binary_payload(d: DataFrame) -> DataFrame:
    """documents → multimodal shape: (doc_id, mime, payload binary)."""
    return d.select(
        "doc_id",
        F.lit("text/plain").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


@query(
    "multimodal_byte_features",
    oracle="""
    SELECT doc_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte,
           CAST(list_sum(list_transform(range(1, least(LENGTH(text), 8) + 1),
                i -> ascii(substr(text, i, 1)))) AS BIGINT) AS head_checksum
    FROM documents
    """,
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the full multimodal path:
    encode → binary column → ``mapInPandas`` (Arrow batches) → typed rows.

    The oracle recomputes the same features from character codes (the corpus
    is ASCII, so char codes == UTF-8 bytes), proving the Python batch path
    produces exactly what a pure-SQL engine derives — i.e. the plumbing adds
    no skew, loss, or reordering.
    """
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return with_binary_payload(d).mapInPandas(
        extract_byte_features, schema=FEATURE_SCHEMA
    )


IMG_W, IMG_H = 16, 12  # synthesized test-image geometry (192 px)

IMAGE_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, mean_pixel double"
)


PNG_FEATURE_SCHEMA = IMAGE_FEATURE_SCHEMA + ", weighted_sum bigint"


def decode_image_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real image-decode kernel: PNG binary payload → (dims, channels,
    mean pixel, position-weighted sum) via the pure-stdlib decoder.  The
    mean divides an exact integer pixel sum by the pixel count in
    float64, so it's reproducible against any engine computing AVG over
    the same integers.  ``weighted_sum`` = Σ k·px[k] over the row-major
    flattened pixels — position-SENSITIVE where the mean is
    permutation-invariant, so a decoder that produces the right pixel
    multiset at the wrong positions (the Adam7 bug class) still breaks
    the oracle hash."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        doc_ids, ws, hs, chs, means, wsum = [], [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, ch, px = png_decode(bytes(payload))
            doc_ids.append(doc_id)
            ws.append(w)
            hs.append(h)
            chs.append(ch)
            flat = px.reshape(-1).astype(np.int64)
            means.append(int(flat.sum()) / (w * h * ch))
            wsum.append(int((np.arange(flat.size, dtype=np.int64) * flat).sum()))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "channels": pd.Series(chs, dtype="int32"),
                "mean_pixel": pd.Series(means, dtype="float64"),
                "weighted_sum": pd.Series(wsum, dtype="int64"),
            }
        )


def _synthesize_png_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic grayscale PNG per doc: pixel k = (doc_id + k) mod 256,
    encoded with scanline filter ``doc_id mod 5`` and Adam7 interlacing
    for odd doc_ids — every filter type AND both interlace layouts flow
    through the production decode path (the rotations are coprime, so
    all ten filter x layout combinations occur)."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            px = ((int(doc_id) + k) % 256).astype(np.uint8).reshape(IMG_H, IMG_W)
            payloads.append(
                png_encode(
                    px,
                    filter_type=int(doc_id) % 5,
                    interlace=bool(doc_id % 2),
                )
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "png_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST({IMG_H} AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS channels,
           CAST(SUM((d.doc_id + t.k) % 256) AS DOUBLE) / {IMG_W * IMG_H}
               AS mean_pixel,
           CAST(SUM(t.k * ((d.doc_id + t.k) % 256)) AS BIGINT)
               AS weighted_sum
    FROM documents d, range(0, {IMG_W * IMG_H}) t(k)
    GROUP BY d.doc_id
    """,
)
def png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode E2E with a SQL oracle: synthesize a deterministic PNG
    per document (gradient pixels, filter type rotating over all five
    scanline filters, Adam7 interlacing on odd doc_ids), then run the
    REAL decode through
    :func:`decode_image_features` — two narrow ``mapInPandas`` passes, no
    shuffle.  The oracle recomputes the pixel statistics from the closed
    form, so a single flipped byte anywhere in encode, zlib framing,
    unfiltering, deinterlacing, or the Arrow plumbing breaks the hash
    match — and ``weighted_sum`` is position-sensitive, so Adam7 pixels
    landing anywhere but their strided grid cell break it too.  At 100
    TB the synthesize stage swaps for real stored payloads; the decode
    stage is unchanged — payloads never leave the executor, only
    features."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_png_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        decode_image_features, schema=PNG_FEATURE_SCHEMA
    )


def _synthesize_palette_png_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Deterministic paletted PNG per doc: index k = (doc_id + k) mod 2^d
    with the bit depth rotating over 8/1/2/4 (doc_id mod 4), palette
    entry j = (7j, 11j, 13j) mod 256, tRNS alpha (5j mod 256) on doc_id
    mod 3 == 0, scanline filter doc_id mod 5, Adam7 on odd doc_ids — the
    rotations are coprime, so every depth × filter × layout × alpha
    combination occurs."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            depth = [8, 1, 2, 4][did % 4]
            m = 1 << depth
            j = np.arange(m, dtype=np.int64)
            pal = np.stack(
                [(j * 7) % 256, (j * 11) % 256, (j * 13) % 256], axis=-1
            ).astype(np.uint8)
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            idx = ((did + k) % m).astype(np.uint8).reshape(IMG_H, IMG_W)
            trns = ((j * 5) % 256).tolist() if did % 3 == 0 else None
            payloads.append(
                png_encode_palette(
                    idx,
                    pal,
                    trns=trns,
                    depth=depth,
                    filter_type=did % 5,
                    interlace=bool(did % 2),
                )
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "png_palette_decode_features",
    oracle=f"""
    WITH geom AS (
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 256 WHEN 1 THEN 2
                    WHEN 2 THEN 4 ELSE 16 END AS m,
               CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END AS nch
        FROM documents
    ),
    px AS (
        SELECT g.doc_id, g.nch, t.k, c.c,
               CASE c.c
                 WHEN 0 THEN (((g.doc_id + t.k) % g.m) * 7) % 256
                 WHEN 1 THEN (((g.doc_id + t.k) % g.m) * 11) % 256
                 WHEN 2 THEN (((g.doc_id + t.k) % g.m) * 13) % 256
                 ELSE (((g.doc_id + t.k) % g.m) * 5) % 256
               END AS v
        FROM geom g, range(0, {IMG_W * IMG_H}) t(k), range(0, 4) c(c)
        WHERE c.c < g.nch
    )
    SELECT doc_id,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST({IMG_H} AS INTEGER) AS height,
           CAST(nch AS INTEGER) AS channels,
           CAST(SUM(v) AS DOUBLE) / ({IMG_W * IMG_H} * nch) AS mean_pixel,
           CAST(SUM((t_k_c) * v) AS BIGINT) AS weighted_sum
    FROM (SELECT doc_id, nch, v, k * nch + c AS t_k_c FROM px)
    GROUP BY doc_id, nch
    """,
)
def png_palette_decode_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Paletted-PNG decode E2E (color type 3 — the round-10 gate close):
    synthesize an indexed-color PNG per document with the bit depth
    rotating over 8/1/2/4, tRNS alpha on every third doc, all five
    scanline filters, and Adam7 on odd doc_ids; decode through the real
    path (packed sub-byte defilter → index unpack → palette map →
    optional alpha) and hash-match the closed-form per-channel pixel
    statistics.  ``weighted_sum`` is position-AND-channel-sensitive, so
    a palette entry applied to the wrong pixel, a mis-unpacked sub-byte
    group, or a dropped alpha plane all break the match.  Two narrow
    ``mapInPandas`` passes, no shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_palette_png_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        decode_image_features, schema=PNG_FEATURE_SCHEMA
    )


def _synthesize_depth_png_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Deterministic grayscale PNG per doc with the bit depth rotating
    over 16/1/2/4 (doc_id mod 4): 16-bit sample k = ((doc_id + k)·771)
    mod 65536 (771 = 3·257 exercises both bytes), sub-byte raw sample =
    (doc_id + k) mod 2^d; scanline filter doc_id mod 5, Adam7 on odd
    doc_ids — coprime rotations, every depth × filter × layout occurs."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            depth = [16, 1, 2, 4][did % 4]
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            if depth == 16:
                px = (((did + k) * 771) % 65536).astype(
                    np.uint16).reshape(IMG_H, IMG_W)
            else:
                px = ((did + k) % (1 << depth)).astype(
                    np.uint8).reshape(IMG_H, IMG_W)
            payloads.append(
                png_encode(
                    px,
                    filter_type=did % 5,
                    interlace=bool(did % 2),
                    depth=depth,
                )
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "png_depth_decode_features",
    oracle=f"""
    WITH geom AS (
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 65536 WHEN 1 THEN 2
                    WHEN 2 THEN 4 ELSE 16 END AS m
        FROM documents
    ),
    px AS (
        SELECT g.doc_id, g.m, t.k,
               CASE WHEN g.m = 65536
                    THEN ((g.doc_id + t.k) * 771) % 65536
                    ELSE ((g.doc_id + t.k) % g.m) * (255 // (g.m - 1))
               END AS v
        FROM geom g, range(0, {IMG_W * IMG_H}) t(k)
    )
    SELECT doc_id,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST({IMG_H} AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS channels,
           CAST(SUM(v) AS DOUBLE) / {IMG_W * IMG_H} AS mean_pixel,
           CAST(SUM(k * v) AS BIGINT) AS weighted_sum
    FROM px
    GROUP BY doc_id
    """,
)
def png_depth_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-8-bit PNG decode E2E (the round-10 depth-gate close): each
    document gets a grayscale PNG whose depth rotates over 16/1/2/4,
    decoded through the real path — 16-bit big-endian pairs defiltered
    at byte distance 2, sub-byte packed samples defiltered at distance
    1 then exactly rescaled — and hash-matched against the closed-form
    sample statistics.  ``weighted_sum`` is position-sensitive, so a
    byte-swapped 16-bit read or a mis-unpacked sample group breaks the
    match.  Two narrow ``mapInPandas`` passes, no shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_depth_png_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        decode_image_features, schema=PNG_FEATURE_SCHEMA
    )


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Resize an image payload, returning PNG bytes.

    Every format :func:`decode_image` handles natively — PNG, GIF,
    JPEG, BMP, TIFF, ICO, WEBP — resizes natively too (pure numpy
    nearest-neighbor over the decoded pixel array, re-encoded with
    :func:`png_encode`; 16-bit sources re-encode as 16-bit PNG).
    Anything else would require PIL and raises ``NotImplementedError``
    in this container."""
    import numpy as np  # noqa: PLC0415

    if (
        payload[:8] == PNG_SIGNATURE
        or payload[:6] in GIF_SIGNATURES
        or payload[:2] == JPEG_SOI
        or payload[:2] == BMP_SIGNATURE
        or payload[:4] in TIFF_SIGNATURES
        or payload[:4] == ICO_SIGNATURE
        or (payload[:4] == b"RIFF" and payload[8:12] == b"WEBP")
    ):
        w, h, _ch, px = decode_image(payload)
        ys = np.minimum((np.arange(height) * h) // height, h - 1)
        xs = np.minimum((np.arange(width) * w) // width, w - 1)
        return png_encode(px[ys][:, xs])
    try:
        from PIL import Image  # noqa: PLC0415
    except ImportError as e:
        raise NotImplementedError(
            "non-PNG image resize requires PIL; container has no codecs"
        ) from e
    import io  # noqa: PLC0415

    img = Image.open(io.BytesIO(payload)).resize((width, height))
    out = io.BytesIO()
    img.save(out, format="PNG")
    return out.getvalue()


# ---------------------------------------------------------------------------
# GIF: pure-stdlib LZW codec + decode-features pipeline
# ---------------------------------------------------------------------------

GIF_SIGNATURES = (b"GIF87a", b"GIF89a")
_GIF_MAX_CODE_WIDTH = 12  # GIF89a spec §22: codes never exceed 12 bits


def _lzw_compress(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: variable-width codes (LSB-first bit packing),
    clear/EOI codes, dictionary reset at 4096 entries (GIF89a spec
    appendix F).  Width grows when the next assignable code would not fit
    — the non-early-change convention GIF uses (TIFF differs)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    out = bytearray()
    acc = bits = 0

    def emit(code: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    w = b""
    for c in indices:
        wc = w + bytes([c])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code == (1 << _GIF_MAX_CODE_WIDTH):
            # table full: a 13-bit code is unrepresentable, so clear and
            # reset instead of assigning (the decoder mirrors this, one
            # entry behind)
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        else:
            table[wc] = next_code
            next_code += 1
            if next_code - 1 == (1 << width):
                width += 1
        w = bytes([c])
    if w:
        emit(table[w])
    emit(eoi)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int) -> bytes:
    """Inverse of :func:`_lzw_compress`, tolerant of deferred clear codes
    (a full dictionary simply stops growing until a clear arrives)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    prev: bytes | None = None
    acc = bits = 0
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            bits -= width
            if code == clear:
                table = list(base)
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt LZW stream: first code unknown")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < (1 << _GIF_MAX_CODE_WIDTH):
                    table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]  # the KwKwK case
                table.append(entry)
            else:
                raise ValueError("corrupt LZW stream: code beyond table")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < _GIF_MAX_CODE_WIDTH:
                width += 1
    # Implicit EOI: the sub-block chain ended without an explicit EOI
    # code.  Hand-minimized files in the wild (the classic 1x1 spacer
    # GIF) omit it; every mainstream decoder treats end-of-data as EOI.
    return bytes(out)


def gif_encode(arr) -> bytes:
    """uint8 array of shape ``(h, w)`` → single-frame GIF89a bytes with a
    256-entry grayscale palette (pixel value == palette index == gray
    level).  Exists so the LZW decoder is testable against a real encoder
    without any codec library, and to synthesize payloads for the
    decode-pipeline E2E query — same role :func:`png_encode` plays for
    PNG."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("gif_encode takes a 2-D grayscale index array")
    h, w = arr.shape
    out = bytearray(b"GIF89a")
    # logical screen: global 256-color table (packed 0xF7 = flag·res·size)
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += bytes(v for i in range(256) for v in (i, i, i))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(8)  # LZW minimum code size
    compressed = _lzw_compress(arr.tobytes(), 8)
    for i in range(0, len(compressed), 255):
        block = compressed[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def gif_encode_animated(
    screen_w: int,
    screen_h: int,
    frames,
    bg_index: int = 17,
    loop_count: int = 0,
) -> bytes:
    """Animated GIF89a from ``frames`` = iterable of dicts with keys
    ``left, top`` (pixel offsets), ``idx`` (2-D uint8 palette-index
    array; the global palette is 256-level grayscale, index == gray),
    ``delay_cs`` (hundredths of a second), and optional ``disposal``
    (1 keep / 2 restore-to-background / 3 restore-to-previous),
    ``transparent_idx`` (pixels of this index leave the canvas
    untouched), and ``interlace`` (store rows in the spec's 4-pass
    order).  Emits the NETSCAPE2.0 loop extension and one Graphic
    Control Extension per frame."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", screen_w, screen_h, 0xF7, bg_index, 0)
    out += bytes(v for i in range(256) for v in (i, i, i))
    out += (
        b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        + struct.pack("<H", loop_count)
        + b"\x00"
    )
    for f in frames:
        idx = np.asarray(f["idx"], dtype=np.uint8)
        ih, iw = idx.shape
        left, top = int(f["left"]), int(f["top"])
        if left + iw > screen_w or top + ih > screen_h:
            raise ValueError("gif anim: frame exceeds screen")
        t_idx = f.get("transparent_idx")
        packed = (int(f.get("disposal", 1)) & 0x07) << 2 | (
            1 if t_idx is not None else 0
        )
        out += b"\x21\xf9\x04" + bytes([packed])
        out += struct.pack("<H", int(f["delay_cs"]))
        out += bytes([t_idx or 0, 0])
        ipacked = 0x40 if f.get("interlace") else 0
        out += b"\x2c" + struct.pack("<HHHHB", left, top, iw, ih, ipacked)
        if f.get("interlace"):
            idx = idx[_gif_interlace_order(ih)]
        out.append(8)
        compressed = _lzw_compress(idx.tobytes(), 8)
        for i in range(0, len(compressed), 255):
            block = compressed[i : i + 255]
            out.append(len(block))
            out += block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_image_count(payload: bytes) -> int:
    """Count image descriptors in a GIF stream WITHOUT decoding pixel
    data — a block-structure walk that skips color tables and
    sub-blocks.  Used to route multi-frame streams through
    :func:`gif_decode_animated` (compositing semantics) while
    single-frame stills take :func:`gif_decode`."""
    import struct  # noqa: PLC0415

    if payload[:6] not in GIF_SIGNATURES:
        raise ValueError("not a GIF payload")
    pos = 6
    if len(payload) < pos + 7:
        raise ValueError("gif: truncated payload")
    _sw, _sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", payload, pos)
    pos += 7
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))
    count = 0
    while pos < len(payload):
        introducer = payload[pos]
        pos += 1
        if introducer == 0x3B:
            break
        if introducer == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if introducer != 0x2C:
            raise ValueError(
                f"unknown GIF block introducer 0x{introducer:02x}"
            )
        count += 1
        if pos + 9 > len(payload):
            raise ValueError("gif: truncated payload")
        ipacked = payload[pos + 8]
        pos += 9
        if ipacked & 0x80:
            pos += 3 * (2 << (ipacked & 0x07))
        pos += 1  # LZW minimum code size
        while pos < len(payload) and payload[pos]:
            pos += 1 + payload[pos]
        pos += 1
    return count


def gif_decode_animated(payload: bytes):
    """Animated GIF → ``(screen_w, screen_h, [(delay_cs, rgb
    (screen_h, screen_w, 3)), ...])`` — each entry the PRESENTED canvas
    after compositing that frame.

    Compositing per GIF89a: the canvas starts filled with the
    background color (the logical screen descriptor's background index
    through the global palette); pixels equal to the frame's
    transparent index leave the canvas untouched; after presentation,
    disposal 2 restores the frame rect to the background color and
    disposal 3 restores the canvas to its pre-frame state (0/1 keep).
    Interlaced frames are deinterlaced.  Local color tables override
    the global one per frame."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload[:6] not in GIF_SIGNATURES:
        raise ValueError("not a GIF payload")
    pos = 6
    if len(payload) < pos + 7:
        raise ValueError("gif anim: truncated payload")
    sw, sh, packed, bg_index, _aspect = struct.unpack_from(
        "<HHBBB", payload, pos
    )
    pos += 7
    global_palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_palette = np.frombuffer(
            payload, np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    if global_palette is None:
        raise ValueError("gif anim: no global color table")
    bg_rgb = global_palette[bg_index % len(global_palette)]
    canvas = np.empty((sh, sw, 3), dtype=np.uint8)
    canvas[:] = bg_rgb
    out = []
    # pending graphic-control state for the next image
    delay_cs, disposal, t_idx = 0, 1, None
    while pos < len(payload):
        introducer = payload[pos]
        pos += 1
        if introducer == 0x3B:
            break
        if introducer == 0x21:
            if pos >= len(payload):
                raise ValueError("gif anim: truncated payload")
            label = payload[pos]
            pos += 1
            blocks = []
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                if pos + 1 + ln > len(payload):
                    raise ValueError("gif anim: truncated payload")
                blocks.append(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            if pos >= len(payload):
                raise ValueError("gif anim: truncated payload")
            pos += 1
            if label == 0xF9 and blocks:
                gce = blocks[0]
                disposal = (gce[0] >> 2) & 0x07
                (delay_cs,) = struct.unpack_from("<H", gce, 1)
                t_idx = gce[3] if gce[0] & 0x01 else None
            continue
        if introducer != 0x2C:
            raise ValueError(
                f"unknown GIF block introducer 0x{introducer:02x}"
            )
        left, top, iw, ih, ipacked = struct.unpack_from(
            "<HHHHB", payload, pos
        )
        pos += 9
        palette = global_palette
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            palette = np.frombuffer(
                payload, np.uint8, count=3 * n, offset=pos
            ).reshape(n, 3)
            pos += 3 * n
        if pos >= len(payload):
            raise ValueError("gif anim: truncated payload")
        min_code_size = payload[pos]
        pos += 1
        blocks = []
        while pos < len(payload) and payload[pos]:
            ln = payload[pos]
            if pos + 1 + ln > len(payload):
                raise ValueError("gif anim: truncated payload")
            blocks.append(payload[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        if pos >= len(payload):
            raise ValueError("gif anim: truncated payload")
        pos += 1
        indices = np.frombuffer(
            _lzw_decompress(b"".join(blocks), min_code_size), np.uint8
        )
        if len(indices) != iw * ih:
            raise ValueError("gif anim: pixel data has wrong length")
        rows = indices.reshape(ih, iw)
        if ipacked & 0x40:
            rows = _gif_deinterlace(rows)
        if top + ih > sh or left + iw > sw:
            raise ValueError("gif anim: frame exceeds screen")
        before = canvas[top : top + ih, left : left + iw].copy()
        region = canvas[top : top + ih, left : left + iw]
        px = palette[rows]
        if t_idx is None:
            region[:] = px
        else:
            opaque = rows != t_idx
            region[opaque] = px[opaque]
        out.append((delay_cs, canvas.copy()))
        if disposal == 2:
            canvas[top : top + ih, left : left + iw] = bg_rgb
        elif disposal == 3:
            canvas[top : top + ih, left : left + iw] = before
        delay_cs, disposal, t_idx = 0, 1, None
    if not out:
        raise ValueError("GIF stream contains no image")
    return sw, sh, out


def gif_decode(payload: bytes):
    """Pure-stdlib GIF decoder (LZW + struct): returns ``(width, height,
    channels, pixels)`` with ``pixels`` a uint8 RGB array of shape
    ``(height, width, 3)`` — the first image of the stream, palette
    applied.

    Supports the still-image profile: GIF87a/89a, global or local color
    table, extension blocks skipped (graphic control, comment,
    application), interlaced or not (deinterlacing is the spec's 4-pass
    row permutation).  Transparency/disposal are ANIMATION concerns —
    multi-frame streams composite through :func:`gif_decode_animated`;
    this entry point reads the first image."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload[:6] not in GIF_SIGNATURES:
        raise ValueError("not a GIF payload")
    pos = 6
    _sw, _sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", payload, pos)
    pos += 7
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = np.frombuffer(
            payload, np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        introducer = payload[pos]
        pos += 1
        if introducer == 0x3B:  # trailer
            break
        if introducer == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if introducer != 0x2C:
            raise ValueError(f"unknown GIF block introducer 0x{introducer:02x}")
        _left, _top, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        if ipacked & 0x80:  # local color table overrides the global one
            n = 2 << (ipacked & 0x07)
            palette = np.frombuffer(
                payload, np.uint8, count=3 * n, offset=pos
            ).reshape(n, 3)
            pos += 3 * n
        if palette is None:
            raise ValueError("GIF image has no color table")
        min_code_size = payload[pos]
        pos += 1
        blocks = []
        while payload[pos]:
            ln = payload[pos]
            blocks.append(payload[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        indices = np.frombuffer(
            _lzw_decompress(b"".join(blocks), min_code_size), np.uint8
        )
        if len(indices) != iw * ih:
            raise ValueError(
                f"GIF pixel data has wrong length: {len(indices)} != {iw * ih}"
            )
        rows = indices.reshape(ih, iw)
        if ipacked & 0x40:
            rows = _gif_deinterlace(rows)
        px = palette[rows]
        return iw, ih, 3, px
    raise ValueError("GIF stream contains no image")


def _gif_interlace_order(h: int) -> list[int]:
    """Row order of an interlaced GIF's stored data (the spec's 4-pass
    scheme: every 8th row from 0, from 4, every 4th from 2, every 2nd
    from 1)."""
    return [
        r
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for r in range(start, h, step)
    ]


def _gif_deinterlace(rows):
    import numpy as np  # noqa: PLC0415

    out = np.empty_like(rows)
    out[_gif_interlace_order(rows.shape[0])] = rows
    return out


def _synthesize_gif_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic grayscale GIF per doc: pixel k = (doc_id*3 + k) mod
    256 — a shifted gradient whose LZW stream exercises code-width growth
    on every payload."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            px = ((int(doc_id) * 3 + k) % 256).astype(np.uint8)
            payloads.append(gif_encode(px.reshape(IMG_H, IMG_W)))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


def decode_gif_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """GIF-decode kernel: payload → (dims, channels, mean pixel) through
    the real LZW path; mean divides the exact integer RGB sum by the
    sample count in float64 (grayscale palette ⇒ equals the index mean)."""
    for pdf in batches:
        doc_ids, ws, hs, chs, means = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, ch, px = gif_decode(bytes(payload))
            doc_ids.append(doc_id)
            ws.append(w)
            hs.append(h)
            chs.append(ch)
            means.append(int(px.sum(dtype="int64")) / (w * h * ch))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "channels": pd.Series(chs, dtype="int32"),
                "mean_pixel": pd.Series(means, dtype="float64"),
            }
        )


@query(
    "gif_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST({IMG_H} AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(SUM((d.doc_id * 3 + t.k) % 256) AS DOUBLE) / {IMG_W * IMG_H}
               AS mean_pixel
    FROM documents d, range(0, {IMG_W * IMG_H}) t(k)
    GROUP BY d.doc_id
    """,
)
def gif_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode E2E with a SQL oracle — the LZW twin of
    :func:`png_decode_features`: synthesize a deterministic single-frame
    GIF per document, decode it through the REAL
    :func:`gif_decode`/:func:`_lzw_decompress` path, and emit per-payload
    stats the oracle recomputes from the closed form (grayscale palette ⇒
    RGB mean equals index mean).  Two narrow ``mapInPandas`` passes, no
    shuffle; payloads never leave the executor."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_gif_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        decode_gif_features, schema=IMAGE_FEATURE_SCHEMA
    )


def wav_encode(samples, sample_rate: int = 8000) -> bytes:
    """int16 PCM array of shape ``(n,)`` or ``(n, channels)`` → WAV bytes
    (stdlib ``wave`` — RIFF/WAVE PCM needs no codec library)."""
    import io  # noqa: PLC0415
    import wave  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(arr.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(arr.tobytes())  # interleaved little-endian int16
    return buf.getvalue()


def wav_decode(payload: bytes):
    """WAV PCM payload → ``(sample_rate, channels, samples)`` with
    ``samples`` an int16 numpy array of shape ``(n_frames, channels)``.

    Supports 16-bit PCM (the uncompressed profile); compressed WAV or
    other widths raise ``NotImplementedError`` — same honest-gating
    contract as :func:`png_decode`'s baseline profile."""
    import io  # noqa: PLC0415
    import wave  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2 or wf.getcomptype() != "NONE":
            raise NotImplementedError(
                "wav_decode supports uncompressed 16-bit PCM; got "
                f"width={wf.getsampwidth()} comp={wf.getcomptype()}"
            )
        rate, ch = wf.getframerate(), wf.getnchannels()
        raw = wf.readframes(wf.getnframes())
    samples = np.frombuffer(raw, dtype="<i2").reshape(-1, ch)
    return rate, ch, samples


AUDIO_N_SAMPLES = 256
AUDIO_RATE = 8000

AUDIO_FEATURE_SCHEMA = (
    "doc_id bigint, sample_rate int, channels int, n_samples int, "
    "rms double, peak bigint"
)


def decode_audio_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Audio-decode kernel: WAV payload → (rate, channels, length, RMS,
    peak).  RMS divides an exact int64 sum of squares by the count before
    one sqrt, so it's reproducible against any engine aggregating the same
    integers (sqrt is IEEE correctly-rounded)."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        rows = {k: [] for k in
                ("doc_id", "sample_rate", "channels", "n_samples", "rms", "peak")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, ch, s = wav_decode(bytes(payload))
            flat = s.astype(np.int64).ravel()
            rows["doc_id"].append(doc_id)
            rows["sample_rate"].append(rate)
            rows["channels"].append(ch)
            rows["n_samples"].append(len(s))
            rows["rms"].append(float(np.sqrt(int((flat * flat).sum()) / len(flat))))
            rows["peak"].append(int(np.abs(flat).max()))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                "sample_rate": pd.Series(rows["sample_rate"], dtype="int32"),
                "channels": pd.Series(rows["channels"], dtype="int32"),
                "n_samples": pd.Series(rows["n_samples"], dtype="int32"),
                "rms": pd.Series(rows["rms"], dtype="float64"),
                "peak": pd.Series(rows["peak"], dtype="int64"),
            }
        )


def _synthesize_wav_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic mono PCM per doc: sample k = ((doc_id*7 + k*13) mod
    65536) - 32768 — integer-exact, so the oracle recomputes it in SQL."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            k = np.arange(AUDIO_N_SAMPLES, dtype=np.int64)
            s = ((int(doc_id) * 7 + k * 13) % 65536 - 32768).astype(np.int16)
            payloads.append(wav_encode(s, AUDIO_RATE))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "wav_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({AUDIO_RATE} AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST({AUDIO_N_SAMPLES} AS INTEGER) AS n_samples,
           sqrt(CAST(SUM(((d.doc_id*7 + t.k*13) % 65536 - 32768)
                         * ((d.doc_id*7 + t.k*13) % 65536 - 32768)) AS DOUBLE)
                / {AUDIO_N_SAMPLES}) AS rms,
           CAST(MAX(ABS((d.doc_id*7 + t.k*13) % 65536 - 32768)) AS BIGINT)
               AS peak
    FROM documents d, range(0, {AUDIO_N_SAMPLES}) t(k)
    GROUP BY d.doc_id
    """,
)
def wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode E2E with a SQL oracle — the audio twin of
    :func:`png_decode_features`: synthesize a deterministic 16-bit PCM WAV
    per document, decode it through the REAL :func:`wav_decode` path, and
    emit per-payload stats the oracle recomputes from the closed form.
    Two narrow ``mapInPandas`` passes, no shuffle; payloads never leave
    the executor."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_wav_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        decode_audio_features, schema=AUDIO_FEATURE_SCHEMA
    )


FRAME_BYTES = 64  # deterministic stand-in for a decoded video frame
FRAME_STRIDE = 3  # keep every 3rd frame

FRAME_SCHEMA = "doc_id bigint, frame_no int, frame_bytes int, frame_checksum bigint"


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame-sampling kernel: each payload explodes into one row per kept
    frame (every ``FRAME_STRIDE``-th fixed-size chunk) — the 1→N batch
    shape of real video frame extraction, with a deterministic fake
    "decode" (chunking) standing in for the codec."""
    for pdf in batches:
        doc_ids, frame_nos, sizes, sums = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
            for f in range(0, n_frames, FRAME_STRIDE):
                chunk = payload[f * FRAME_BYTES : (f + 1) * FRAME_BYTES]
                doc_ids.append(doc_id)
                frame_nos.append(f)
                sizes.append(len(chunk))
                sums.append(int(sum(chunk)))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "frame_no": pd.Series(frame_nos, dtype="int32"),
                "frame_bytes": pd.Series(sizes, dtype="int32"),
                "frame_checksum": pd.Series(sums, dtype="int64"),
            }
        )


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, octet_length(encode(text)) AS n, text
        FROM documents
    ),
    frames AS (
        SELECT doc_id, CAST(fr AS INTEGER) AS frame_no,
               CAST(least(n - fr * {FRAME_BYTES}, {FRAME_BYTES}) AS INTEGER)
                 AS frame_bytes,
               CAST(list_sum(list_transform(
                    range(fr * {FRAME_BYTES} + 1,
                          least(n, (fr + 1) * {FRAME_BYTES}) + 1),
                    i -> ascii(substr(text, i, 1)))) AS BIGINT)
                 AS frame_checksum
        FROM f, unnest(range(0, CAST(ceil(n / {FRAME_BYTES}.0) AS BIGINT),
                             {FRAME_STRIDE})) AS t(fr)
    )
    SELECT doc_id, frame_no, frame_bytes, frame_checksum FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through the multimodal path: binary
    payload → ``mapInPandas`` 1→N explosion → one typed row per kept frame.

    The oracle re-derives the same frames from character codes (ASCII
    corpus), proving the Python batch path's row explosion is lossless and
    deterministic.  At scale the chunking fake swaps for a codec call; the
    plan shape (narrow map, no shuffle) is unchanged.
    """
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return with_binary_payload(d).mapInPandas(sample_frames, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# JPEG: pure-stdlib/numpy baseline codec (grayscale, ITU-T T.81)
# ---------------------------------------------------------------------------
# Baseline sequential DCT, 8-bit, single component, standard Annex K
# quantization + Huffman tables — the encoder emits JFIF files any viewer
# opens, and the decoder reads any single-component baseline JPEG
# (progressive/SOF2 raises with routing guidance).  Everything is
# stdlib + numpy: DCT as an orthogonal 8x8 matrix sandwich, canonical
# Huffman from the BITS/HUFFVAL spec lists, MSB-first bit IO with 0xFF00
# byte stuffing and RSTn handling.

JPEG_SOI = b"\xff\xd8"

# Annex K.1 luminance quantization table (quality 50), natural order.
_JPEG_QTABLE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# zigzag index k -> natural-order index (T.81 figure A.6)
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.2 chrominance quantization table (quality 50), natural order.
_JPEG_QTABLE_C = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K.3 luminance Huffman specs: (BITS[1..16], HUFFVAL)
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


# Annex K.3 chrominance Huffman specs
_JPEG_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC_VALS_C = list(range(12))
_JPEG_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_JPEG_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _jpeg_dct_matrix():
    """Orthogonal 8-point DCT-II matrix: forward = C @ B @ C.T, inverse =
    C.T @ F @ C (rows are orthonormal, so transpose is inverse)."""
    import numpy as np  # noqa: PLC0415

    k = np.arange(8.0)[:, None]
    n = np.arange(8.0)[None, :]
    c = 0.5 * np.cos((2 * n + 1) * k * np.pi / 16)
    c[0, :] /= np.sqrt(2)
    return c


def _jpeg_encode_huff(bits, vals):
    """BITS/HUFFVAL -> {symbol: (code, length)} (canonical assignment,
    T.81 Annex C)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit writer with JPEG byte stuffing (0xFF -> 0xFF 0x00)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (spec F.1.2.3)


def _jpeg_magnitude(v: int):
    """(size category, appended bits) for a DC diff / AC value (F.1.2.1)."""
    size = abs(v).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def jpeg_encode(px) -> bytes:
    """Grayscale baseline JFIF encoder: 8x8 DCT, Annex K.1 quantization,
    Annex K.3 Huffman.  Accepts any HxW uint8 array (edges replicated to
    pad to block multiples; SOF records the true dims so decoders crop).
    """
    import numpy as np  # noqa: PLC0415
    import struct  # noqa: PLC0415

    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(px, ((0, ph - h), (0, pw - w)), mode="edge")
    c = _jpeg_dct_matrix()
    q = np.asarray(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        .astype(np.float64)
        - 128.0
    )
    coef = np.einsum("ij,bjk,lk->bil", c, blocks, c)
    quant = np.round(coef / q).astype(np.int64)

    dc_huff = _jpeg_encode_huff(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huff = _jpeg_encode_huff(_JPEG_AC_BITS, _JPEG_AC_VALS)
    zz = np.asarray(_JPEG_ZIGZAG)
    bw = _JpegBitWriter()
    pred = 0
    for blk in quant:
        seq = blk.reshape(64)[zz]
        diff = int(seq[0]) - pred
        pred = int(seq[0])
        size, bits = _jpeg_magnitude(diff)
        code, length = dc_huff[size]
        bw.write(code, length)
        if size:
            bw.write(bits, size)
        run = 0
        last_nz = int(np.max(np.nonzero(seq)[0])) if np.any(seq[1:]) else 0
        for k in range(1, 64):
            v = int(seq[k])
            if k > last_nz:
                break
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, length = ac_huff[0xF0]  # ZRL
                bw.write(code, length)
                run -= 16
            size, bits = _jpeg_magnitude(v)
            code, length = ac_huff[run * 16 + size]
            bw.write(code, length)
            bw.write(bits, size)
            run = 0
        if last_nz < 63:
            code, length = ac_huff[0x00]  # EOB
            bw.write(code, length)
    bw.flush()

    out = bytearray()
    out += JPEG_SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    zz_q = bytes(int(q.reshape(64)[_JPEG_ZIGZAG[k]]) for k in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    for marker, bits, vals in (
        (0x00, _JPEG_DC_BITS, _JPEG_DC_VALS),
        (0x10, _JPEG_AC_BITS, _JPEG_AC_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 3 + 16 + len(vals))
        out += bytes([marker]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_geometry(components, h, w):
    """Sampling geometry shared by the baseline and progressive paths.

    Returns ``(samplings, hmax, vmax, mcus_x, mcus_y, grids)`` where
    ``grids[i]`` is component i's OWN full block grid ``(bh, bw)`` —
    the raster space of non-interleaved scans, which can be smaller
    than the MCU-padded ``mcus * sampling`` grid."""
    if len(components) == 1:
        # single-component frames are never MCU-interleaved: sampling
        # factors are ignored (T.81 A.2.2)
        samplings = [(1, 1)]
        hmax = vmax = 1
    else:
        samplings = [(hi, vi) for _cid, _tq, hi, vi in components]
        hmax = max(s[0] for s in samplings)
        vmax = max(s[1] for s in samplings)
        for hi, vi in samplings:
            if hmax % hi or vmax % vi:
                raise ValueError(
                    "jpeg: non-integer chroma upsampling ratio "
                    f"(H{hi}V{vi} vs max H{hmax}V{vmax}) not supported"
                )
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    grids = []
    for hi, vi in samplings:
        cw = -(-(w * hi) // hmax)
        ch = -(-(h * vi) // vmax)
        grids.append((-(-ch // 8), -(-cw // 8)))
    return samplings, hmax, vmax, mcus_x, mcus_y, grids


def _jpeg_decode_huff(bits, vals):
    """BITS/HUFFVAL -> (mincode, maxcode, valptr) per length for canonical
    decode (T.81 Annex F.2.2.3)."""
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for length in range(1, 17):
        if bits[length - 1]:
            valptr[length] = k
            mincode[length] = code
            code += bits[length - 1]
            k += bits[length - 1]
            maxcode[length] = code - 1
        else:
            maxcode[length] = -1
        code <<= 1
    return mincode, maxcode, valptr, list(vals)


class _JpegBitReader:
    """MSB-first reader over the entropy segment: un-stuffs 0xFF00, stops
    (and byte-aligns) at any real marker, exposes RSTn consumption.

    When the scan legitimately ends early — the reader hits EOI while
    blocks remain — it switches to supplying zero bits, libjpeg's
    documented JWRN_HIT_MARKER recovery (jdhuff.c "insert dummy zero
    bits").  Real minimal files depend on this: canonical Huffman gives
    the all-zeros code to the first symbol, so zero fill decodes as
    EOB / zero-diff runs.  Any marker other than EOI still raises —
    mid-file corruption stays loud."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None
        self.exhausted = False

    def _fill(self) -> None:
        if self.exhausted:
            self.acc = self.acc << 8
            self.nbits += 8
            return
        if self.marker is not None:
            raise ValueError("jpeg: entropy data exhausted at marker "
                             f"0x{self.marker:02x}")
        if self.pos >= len(self.data):
            raise ValueError("jpeg: entropy data truncated (no marker)")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(
                self.data) else None
            if nxt is None:
                # lone trailing 0xFF with no marker byte: truncated stream
                raise ValueError("jpeg: entropy data truncated (lone 0xFF)")
            if nxt == 0x00:
                self.pos += 2
            elif nxt == 0xD9:  # EOI: premature end — zero-fill (libjpeg)
                self.marker = nxt
                self.exhausted = True
                self.acc = self.acc << 8
                self.nbits += 8
                return
            else:
                self.marker = nxt
                raise ValueError(
                    f"jpeg: unexpected marker 0x{nxt:02x} inside scan"
                )
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker (DRI support)."""
        self.acc = 0
        self.nbits = 0
        if self.data[self.pos] != 0xFF or not (
            0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("jpeg: expected RSTn at restart interval")
        self.pos += 2


def _jpeg_huff_symbol(br: _JpegBitReader, table) -> int:
    mincode, maxcode, valptr, vals = table
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        if maxcode[length] >= code >= mincode[length]:
            return vals[valptr[length] + code - mincode[length]]
    raise ValueError("jpeg: invalid Huffman code in scan")


def _jpeg_extend(v: int, size: int) -> int:
    return v - (1 << size) + 1 if size and v < (1 << (size - 1)) else v


def _jpeg_progressive_scan(
    br, scan, coefs, components, samplings, grids, mcus_x, mcus_y,
    htables, restart_interval, zz,
):
    """Entropy-decode ONE progressive scan into the coefficient arrays
    (T.81 Annex G.2).  ``scan`` = (member_indices, tabs, ss, se, ah, al).
    Four scan kinds: DC first (diff-coded, shifted left by Al), DC
    refinement (one appended bit per block), AC first (run-length with
    EOB-run codes), AC refinement (correction bits).  DC predictors and
    the EOB run reset at restart markers."""
    members, tabs, ss, se, ah, al = scan
    ncomp_scan = len(members)
    preds = {ci: 0 for ci in members}
    eobrun = 0

    def dc_first(ci, by, bx):
        size = _jpeg_huff_symbol(br, tabs[ci][0])
        diff = _jpeg_extend(br.receive(size), size) if size else 0
        preds[ci] += diff
        coefs[ci][by, bx, 0] = preds[ci] << al

    def dc_refine(ci, by, bx):
        if br.read_bit():
            coefs[ci][by, bx, 0] |= 1 << al

    def ac_first(ci, by, bx):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        blk = coefs[ci][by, bx]
        k = ss
        while k <= se:
            rs = _jpeg_huff_symbol(br, tabs[ci][1])
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.receive(r)
                break
            k += r
            if k > se:
                raise ValueError("jpeg: AC coefficient index past Se")
            blk[zz[k]] = _jpeg_extend(br.receive(s), s) << al
            k += 1

    def _refine_nonzero(blk, k):
        """Correction bit for an already-nonzero coefficient."""
        if br.read_bit() and not (blk[zz[k]] & (1 << al)):
            blk[zz[k]] += (1 << al) if blk[zz[k]] > 0 else -(1 << al)

    def ac_refine(ci, by, bx):
        nonlocal eobrun
        blk = coefs[ci][by, bx]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _jpeg_huff_symbol(br, tabs[ci][1])
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r)
                        if r:
                            eobrun += br.receive(r)
                        break
                    val = 0  # ZRL: run of 16 zero-HISTORY coefficients
                else:
                    if s != 1:
                        raise ValueError(
                            "jpeg: AC refinement magnitude must be 1"
                        )
                    val = (1 << al) if br.read_bit() else -(1 << al)
                # advance over the run, emitting correction bits for
                # already-nonzero coefficients (they don't count toward r)
                while k <= se:
                    if blk[zz[k]] != 0:
                        _refine_nonzero(blk, k)
                    else:
                        if r == 0:
                            if val:
                                blk[zz[k]] = val
                            k += 1
                            break
                        r -= 1
                    k += 1
        if eobrun > 0:
            # inside an EOB run: only correction bits for the block's
            # already-nonzero coefficients in the band
            while k <= se:
                if blk[zz[k]] != 0:
                    _refine_nonzero(blk, k)
                k += 1
            eobrun -= 1

    if ss == 0:
        decode_block = dc_refine if ah else dc_first
        if se != 0:
            raise ValueError("jpeg: progressive DC scan must have Se=0")
    else:
        if ncomp_scan != 1:
            raise ValueError("jpeg: progressive AC scans are single-component")
        decode_block = ac_refine if ah else ac_first

    def at_restart():
        nonlocal eobrun
        br.restart()
        for ci in preds:
            preds[ci] = 0
        eobrun = 0

    if ncomp_scan > 1:  # interleaved (DC only): MCU order
        for mcu in range(mcus_y * mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                at_restart()
            my, mx = divmod(mcu, mcus_x)
            for ci in members:
                hi, vi = samplings[ci]
                for by in range(vi):
                    for bx in range(hi):
                        decode_block(ci, my * vi + by, mx * hi + bx)
    else:  # non-interleaved: raster order over the component's own grid
        ci = members[0]
        bh, bw_ = grids[ci]
        for blk_i in range(bh * bw_):
            if restart_interval and blk_i and blk_i % restart_interval == 0:
                at_restart()
            by, bx = divmod(blk_i, bw_)
            decode_block(ci, by, bx)


def _jpeg_finish_progressive(
    data, pos, qtables, htables, components, h, w, restart_interval
):
    """Multi-scan driver for SOF2 streams: takes over at the first SOS
    (``pos`` = start of its segment length), accumulates coefficients
    across every scan (tables may be redefined between scans), then
    dequantizes + IDCTs once at EOI.  Reference geometry/flow: T.81
    Annex G; the scan kernels live in :func:`_jpeg_progressive_scan`."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    zz = list(_JPEG_ZIGZAG)
    samplings, hmax, vmax, mcus_x, mcus_y, grids = _jpeg_geometry(
        components, h, w
    )
    cid_to_idx = {cid: i for i, (cid, _tq, _hi, _vi) in enumerate(components)}
    # Coefficient planes span the MCU-padded grid (superset of the
    # component grid) so interleaved DC scans index without bounds checks.
    coefs = [
        np.zeros((mcus_y * vi, mcus_x * hi, 64), dtype=np.int64)
        for hi, vi in samplings
    ]
    marker = 0xDA  # entered at the first SOS
    while True:
        if marker == 0xDA:
            (seglen,) = struct.unpack(">H", data[pos : pos + 2])
            seg = data[pos + 2 : pos + seglen]
            ns = seg[0]
            members, tabs = [], {}
            for i in range(ns):
                cid = seg[1 + 2 * i]
                if cid not in cid_to_idx:
                    raise ValueError(f"jpeg: scan names unknown component {cid}")
                ci = cid_to_idx[cid]
                members.append(ci)
                dc_id, ac_id = seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 0x0F
                dc_tab = htables.get((0, dc_id))
                ac_tab = htables.get((1, ac_id))
                tabs[ci] = (dc_tab, ac_tab)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            br = _JpegBitReader(data, pos + seglen)
            _jpeg_progressive_scan(
                br,
                (members, tabs, ss, se, ah, al),
                coefs, components, samplings, grids, mcus_x, mcus_y,
                htables, restart_interval, zz,
            )
            # skip to the next marker after the entropy data
            pos = br.pos
            while not (
                data[pos] == 0xFF
                and data[pos + 1] not in (0x00, 0xFF)  # stuffing / fill
                and not (0xD0 <= data[pos + 1] <= 0xD7)
            ):
                pos += 1
        else:
            (seglen,) = struct.unpack(">H", data[pos : pos + 2])
            seg = data[pos + 2 : pos + seglen]
            if marker == 0xC4:  # DHT between scans
                off = 0
                while off < len(seg):
                    tc, th = seg[off] >> 4, seg[off] & 0x0F
                    bits = list(seg[off + 1 : off + 17])
                    nvals = sum(bits)
                    vals = list(seg[off + 17 : off + 17 + nvals])
                    htables[(tc, th)] = _jpeg_decode_huff(bits, vals)
                    off += 17 + nvals
            elif marker == 0xDB:  # DQT between scans
                off = 0
                zz_np = np.asarray(_JPEG_ZIGZAG)
                while off < len(seg):
                    pq, tq = seg[off] >> 4, seg[off] & 0x0F
                    off += 1
                    n = 64 * (2 if pq else 1)
                    raw = seg[off : off + n]
                    vals = (
                        np.frombuffer(raw, dtype=">u2").astype(np.int64)
                        if pq
                        else np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                    )
                    nat = np.zeros(64, dtype=np.int64)
                    nat[zz_np] = vals
                    qtables[tq] = nat.reshape(8, 8)
                    off += n
            elif marker == 0xDD:  # DRI between scans
                (restart_interval,) = struct.unpack(">H", seg[:2])
            pos += seglen
        if data[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI — reconstruct
            break

    c = _jpeg_dct_matrix()
    zz_np = np.asarray(_JPEG_ZIGZAG)
    planes = []
    for ci, ((_cid, tq, _hi, _vi), (hi, vi)) in enumerate(
        zip(components, samplings)
    ):
        q = np.asarray(qtables[tq], dtype=np.float64)
        arr = coefs[ci].astype(np.float64)  # (BH, BW, 64) natural order
        bh, bw_ = arr.shape[:2]
        deq = arr.reshape(bh, bw_, 8, 8) * q[None, None, :, :]
        # IDCT all blocks at once: c.T @ B @ c per block
        blk = np.einsum("ij,xyjk,kl->xyil", c.T, deq, c) + 128.0
        planes.append(
            blk.transpose(0, 2, 1, 3).reshape(bh * 8, bw_ * 8)
        )
    if len(components) == 1:
        return np.clip(np.round(planes[0][:h, :w]), 0, 255).astype(np.uint8)
    full = []
    for ci, (hi, vi) in enumerate(samplings):
        p = planes[ci]
        ry, rx = vmax // vi, hmax // hi
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    ycc = np.stack(full, axis=-1)
    return _ycbcr_to_rgb(ycc)


def jpeg_decode(data: bytes):
    """JPEG -> HxW uint8 (grayscale) or HxWx3 uint8 (color) array.

    Handles baseline sequential (SOF0/1) and progressive (SOF2) Huffman
    streams, 1 or 3 components, any integer chroma subsampling ratio
    (4:4:4, 4:2:2, 4:2:0, ...), restart intervals, and between-scan
    table redefinitions.  Parses DQT/DHT/SOF/DRI/SOS, entropy-decodes
    with the file's own tables, IDCTs, and crops the padded grid to the
    SOF dimensions.  Raises ``ValueError`` on lossless/arithmetic/
    hierarchical modes, >3 components, non-integer sampling ratios, or
    truncated/corrupt input — never a raw IndexError from running off
    the buffer."""
    import struct  # noqa: PLC0415

    try:
        return _jpeg_decode_impl(data)
    except (IndexError, struct.error) as e:
        raise ValueError(f"jpeg: truncated or corrupt stream ({e})") from e


def _jpeg_decode_impl(data: bytes):
    import numpy as np  # noqa: PLC0415
    import struct  # noqa: PLC0415

    if data[:2] != JPEG_SOI:
        raise ValueError("jpeg: missing SOI")
    qtables: dict[int, object] = {}
    htables: dict[tuple[int, int], object] = {}
    h = w = None
    components: list[tuple] = []  # (comp_id, tq, hi, vi) in SOF order
    scan_tabs: dict[int, tuple[int, int]] = {}  # comp_id -> (dc, ac)
    restart_interval = 0
    progressive = False
    pos = 2
    zz = np.asarray(_JPEG_ZIGZAG)
    while True:
        if data[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise ValueError("jpeg: EOI before SOS")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                off += 1
                n = 64 * (2 if pq else 1)
                raw = seg[off : off + n]
                vals = (
                    np.frombuffer(raw, dtype=">u2").astype(np.int64)
                    if pq
                    else np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                )
                nat = np.zeros(64, dtype=np.int64)
                nat[zz] = vals
                qtables[tq] = nat.reshape(8, 8)
                off += n
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = list(seg[off + 1 : off + 17])
                nvals = sum(bits)
                vals = list(seg[off + 17 : off + 17 + nvals])
                htables[(tc, th)] = _jpeg_decode_huff(bits, vals)
                off += 17 + nvals
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            _prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if ncomp not in (1, 3):
                raise ValueError(
                    "jpeg: 1 (grayscale) or 3 (YCbCr) components "
                    f"supported, got {ncomp}"
                )
            components = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(
                        f"jpeg: invalid sampling factors 0x{hv:02x}"
                    )
                components.append((cid, tq, hi, vi))
        elif marker == 0xC2:  # SOF2 progressive (Huffman)
            _prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if ncomp not in (1, 3):
                raise ValueError(
                    "jpeg: 1 (grayscale) or 3 (YCbCr) components "
                    f"supported, got {ncomp}"
                )
            components = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(
                        f"jpeg: invalid sampling factors 0x{hv:02x}"
                    )
                components.append((cid, tq, hi, vi))
            progressive = True
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"jpeg: SOF{marker - 0xC0} (lossless/arithmetic/"
                "hierarchical) not supported — baseline and progressive "
                "Huffman only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if h is None or not components:
                raise ValueError("jpeg: missing SOF before SOS")
            if progressive:
                return _jpeg_finish_progressive(
                    data, pos, qtables, htables, components, h, w,
                    restart_interval,
                )
            ns = seg[0]
            if ns != len(components):
                raise ValueError(
                    "jpeg: partial-scan baseline files not supported "
                    "(scan must cover every frame component)"
                )
            for i in range(ns):
                cid = seg[1 + 2 * i]
                scan_tabs[cid] = (seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 0x0F)
            pos += seglen
            break
        pos += seglen
    if h is None or not components:
        raise ValueError("jpeg: missing SOF before SOS")
    ncomp = len(components)
    c = _jpeg_dct_matrix()
    samplings, hmax, vmax, mcus_x, mcus_y, _grids = _jpeg_geometry(
        components, h, w
    )
    # Per-component block grid: hi×vi blocks per MCU.
    planes = [
        np.zeros((mcus_y * vi * 8, mcus_x * hi * 8), dtype=np.float64)
        for hi, vi in samplings
    ]
    tabs = []
    for cid, tq, _hi, _vi in components:
        dc_id, ac_id = scan_tabs[cid]
        tabs.append((htables[(0, dc_id)], htables[(1, ac_id)], qtables[tq]))
    br = _JpegBitReader(data, pos)
    preds = [0] * ncomp
    for mcu in range(mcus_y * mcus_x):
        if restart_interval and mcu and mcu % restart_interval == 0:
            br.restart()
            preds = [0] * ncomp
        my, mx = divmod(mcu, mcus_x)
        for ci, (dc_tab, ac_tab, q) in enumerate(tabs):
            hi, vi = samplings[ci]
            for by in range(vi):
                for bx in range(hi):
                    seq = np.zeros(64, dtype=np.int64)
                    size = _jpeg_huff_symbol(br, dc_tab)
                    diff = _jpeg_extend(br.receive(size), size) if size else 0
                    preds[ci] += diff
                    seq[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = _jpeg_huff_symbol(br, ac_tab)
                        if rs == 0x00:  # EOB
                            break
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += rs >> 4
                        size = rs & 0x0F
                        seq[k] = _jpeg_extend(br.receive(size), size)
                        k += 1
                    coef = np.zeros(64, dtype=np.float64)
                    coef[zz] = seq * q.reshape(64)[zz]
                    blk = c.T @ coef.reshape(8, 8) @ c + 128.0
                    py, px_ = (my * vi + by) * 8, (mx * hi + bx) * 8
                    planes[ci][py : py + 8, px_ : px_ + 8] = blk
    if ncomp == 1:
        return np.clip(np.round(planes[0][:h, :w]), 0, 255).astype(np.uint8)
    # Upsample subsampled components to full resolution by pixel
    # replication (JFIF box inverse — exact for the constant-chroma
    # constructions and the standard nearest-neighbor reconstruction),
    # then crop the MCU padding to the SOF dimensions.
    full = []
    for ci, (hi, vi) in enumerate(samplings):
        p = planes[ci]
        ry, rx = vmax // vi, hmax // hi
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    ycc = np.stack(full, axis=-1)
    return _ycbcr_to_rgb(ycc)


# -- color (YCbCr 4:4:4) --------------------------------------------------

def _rgb_to_ycbcr(rgb):
    """JFIF BT.601 full-range RGB -> YCbCr, rounded to uint8 planes."""
    import numpy as np  # noqa: PLC0415

    f = rgb.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.clip(np.round(np.stack([y, cb, cr], axis=-1)), 0, 255).astype(
        np.uint8
    )


def _ycbcr_to_rgb(ycc):
    """YCbCr planes (float, pre-clip) -> uint8 RGB (JFIF BT.601)."""
    import numpy as np  # noqa: PLC0415

    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )


def _jpeg_encode_block(bw, seq, pred, dc_huff, ac_huff):
    """Huffman-encode one zigzag block; returns the new DC predictor."""
    import numpy as np  # noqa: PLC0415

    diff = int(seq[0]) - pred
    size, bits = _jpeg_magnitude(diff)
    code, length = dc_huff[size]
    bw.write(code, length)
    if size:
        bw.write(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(seq)[0])) if np.any(seq[1:]) else 0
    for k in range(1, 64):
        v = int(seq[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_huff[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, bits = _jpeg_magnitude(v)
        code, length = ac_huff[run * 16 + size]
        bw.write(code, length)
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_huff[0x00]  # EOB
        bw.write(code, length)
    return int(seq[0])


def _jpeg_quantized_blocks(plane, q):
    """uint8 plane -> quantized zigzag coefficient rows (n_blocks, 64),
    edge-padded to 8x8 multiples."""
    import numpy as np  # noqa: PLC0415

    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    c = _jpeg_dct_matrix()
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        .astype(np.float64)
        - 128.0
    )
    coef = np.einsum("ij,bjk,lk->bil", c, blocks, c)
    quant = np.round(coef / np.asarray(q, dtype=np.float64).reshape(8, 8))
    zz = np.asarray(_JPEG_ZIGZAG)
    return quant.astype(np.int64).reshape(-1, 64)[:, zz]


def jpeg_encode_color(rgb, subsampling: str = "444") -> bytes:
    """Color baseline JFIF encoder: YCbCr, Annex K.1/K.2 quantization
    (luma/chroma), Annex K.3 Huffman (both table sets), interleaved MCUs.
    Accepts any HxWx3 uint8 array (edges replicated to block multiples).

    ``subsampling``:

    - ``"444"`` — one block per component per MCU (the round-5 path).
    - ``"420"`` — the mainstream web-corpus layout (VERDICT r6 item 5):
      chroma box-averaged 2×2, MCU = four Y blocks (raster within the
      16×16 macroblock) + one Cb + one Cr.
    """
    import numpy as np  # noqa: PLC0415
    import struct  # noqa: PLC0415

    if subsampling not in ("444", "420"):
        raise ValueError(f"jpeg_encode_color: unknown subsampling {subsampling!r}")
    rgb = np.asarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("jpeg_encode_color expects HxWx3 RGB")
    h, w = rgb.shape[:2]
    ycc = _rgb_to_ycbcr(rgb)
    q_y = np.asarray(_JPEG_QTABLE, dtype=np.int64)
    q_c = np.asarray(_JPEG_QTABLE_C, dtype=np.int64)
    huff = [
        (_jpeg_encode_huff(_JPEG_DC_BITS, _JPEG_DC_VALS),
         _jpeg_encode_huff(_JPEG_AC_BITS, _JPEG_AC_VALS)),
        (_jpeg_encode_huff(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C),
         _jpeg_encode_huff(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)),
        (_jpeg_encode_huff(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C),
         _jpeg_encode_huff(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)),
    ]
    bw = _JpegBitWriter()
    preds = [0, 0, 0]
    if subsampling == "444":
        comp_blocks = [
            _jpeg_quantized_blocks(ycc[..., 0], q_y),
            _jpeg_quantized_blocks(ycc[..., 1], q_c),
            _jpeg_quantized_blocks(ycc[..., 2], q_c),
        ]
        for mcu in range(comp_blocks[0].shape[0]):
            for ci in range(3):
                preds[ci] = _jpeg_encode_block(
                    bw, comp_blocks[ci][mcu], preds[ci],
                    huff[ci][0], huff[ci][1],
                )
        sof_sampling = b"\x01\x11\x00" + b"\x02\x11\x01" + b"\x03\x11\x01"
    else:  # 420
        # Luma padded to 16-multiples so the Y block grid is even; chroma
        # box-averaged 2×2 from the SAME padded plane (keeps the two
        # grids aligned), then its own 8-padding is a no-op by
        # construction.
        ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
        ypad = np.pad(
            ycc[..., 0], ((0, ph - h), (0, pw - w)), mode="edge"
        )
        y_blocks = _jpeg_quantized_blocks(ypad, q_y)  # raster order
        by_, bx_ = ph // 8, pw // 8  # Y block grid (even by construction)

        def down2(plane):
            p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
            p = p.reshape(ph // 2, 2, pw // 2, 2).astype(np.float64)
            return np.round(p.mean(axis=(1, 3))).astype(np.float64)

        cb_blocks = _jpeg_quantized_blocks(down2(ycc[..., 1]), q_c)
        cr_blocks = _jpeg_quantized_blocks(down2(ycc[..., 2]), q_c)
        mcus_y, mcus_x = by_ // 2, bx_ // 2
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for yy in range(2):
                    for xx in range(2):
                        bi = (my * 2 + yy) * bx_ + (mx * 2 + xx)
                        preds[0] = _jpeg_encode_block(
                            bw, y_blocks[bi], preds[0],
                            huff[0][0], huff[0][1],
                        )
                ci_idx = my * mcus_x + mx
                preds[1] = _jpeg_encode_block(
                    bw, cb_blocks[ci_idx], preds[1], huff[1][0], huff[1][1]
                )
                preds[2] = _jpeg_encode_block(
                    bw, cr_blocks[ci_idx], preds[2], huff[2][0], huff[2][1]
                )
        sof_sampling = b"\x01\x22\x00" + b"\x02\x11\x01" + b"\x03\x11\x01"
    bw.flush()

    zz = _JPEG_ZIGZAG
    out = bytearray()
    out += JPEG_SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, q in ((0, q_y), (1, q_c)):
        zz_q = bytes(int(q[zz[k]]) for k in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + zz_q
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += sof_sampling
    for marker, bits, vals in (
        (0x00, _JPEG_DC_BITS, _JPEG_DC_VALS),
        (0x10, _JPEG_AC_BITS, _JPEG_AC_VALS),
        (0x01, _JPEG_DC_BITS_C, _JPEG_DC_VALS_C),
        (0x11, _JPEG_AC_BITS_C, _JPEG_AC_VALS_C),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 3 + 16 + len(vals))
        out += bytes([marker]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">H", 12) + b"\x03"
    out += b"\x01\x00" + b"\x02\x11" + b"\x03\x11"
    out += b"\x00\x3f\x00"
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


# JPEG geometry: 3x2 blocks of 8x8.  Block values are 128 + an EVEN offset,
# which quality-50 quantization preserves EXACTLY: the DC coefficient of a
# constant block is 8*offset, and Q[0,0] = 16 divides 8*(2m) for every m —
# so the decode equals the synthesized image bit for bit and the SQL
# oracle can state the mean in closed form despite JPEG being lossy in
# general.
JPEG_W, JPEG_H = 24, 16
_JPEG_BLOCKS = (JPEG_W // 8) * (JPEG_H // 8)


def _synthesize_jpeg_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            b = np.arange(_JPEG_BLOCKS, dtype=np.int64)
            vals = 128 + 2 * ((int(doc_id) + b) % 64 - 32)
            px = (
                vals.reshape(JPEG_H // 8, JPEG_W // 8)[:, None, :, None]
                * np.ones((1, 8, 1, 8), dtype=np.int64)
            ).reshape(JPEG_H, JPEG_W).astype(np.uint8)
            payloads.append(jpeg_encode(px))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


def decode_jpeg_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """JPEG-decode kernel: payload -> (dims, channels, mean pixel) through
    the real Huffman/DCT path; the mean divides the exact integer pixel
    sum by the count in float64."""
    for pdf in batches:
        doc_ids, ws, hs, chs, means = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            px = jpeg_decode(bytes(payload))
            doc_ids.append(doc_id)
            hs.append(px.shape[0])
            ws.append(px.shape[1])
            chs.append(1)
            means.append(int(px.sum(dtype="int64")) / px.size)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "channels": pd.Series(chs, dtype="int32"),
                "mean_pixel": pd.Series(means, dtype="float64"),
            }
        )


@query(
    "jpeg_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({JPEG_W} AS INTEGER) AS width,
           CAST({JPEG_H} AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS channels,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG_BLOCKS} AS mean_pixel
    FROM documents d, range(0, {_JPEG_BLOCKS}) t(k)
    GROUP BY d.doc_id
    """,
)
def jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG decode E2E with a SQL oracle — the lossy-format sibling of
    ``png_decode_features``/``gif_decode_features``: synthesize a
    deterministic block-constant JPEG per document (even offsets from 128,
    chosen so quality-50 quantization is EXACT — see the JPEG_W comment),
    run the REAL Huffman+IDCT decode, and hash-match the closed-form pixel
    statistics.  Two narrow ``mapInPandas`` passes, no shuffle; at 100 TB
    the synthesize stage swaps for stored crawl payloads and the decode
    stage is unchanged."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_jpeg_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        decode_jpeg_features, schema=IMAGE_FEATURE_SCHEMA
    )


def _synthesize_color_jpeg_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Gray-valued RGB (R=G=B = 128 + even offset per block) through the
    FULL color pipeline: Y equals the gray value exactly and Cb=Cr=128
    exactly (the BT.601 row sums are 1 and 0), so the chroma planes
    quantize to all-zero blocks and the color decode is bit-exact —
    letting a closed-form SQL oracle pin a 3-component lossy codec."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            b = np.arange(_JPEG_BLOCKS, dtype=np.int64)
            vals = 128 + 2 * ((int(doc_id) + b) % 64 - 32)
            px = (
                vals.reshape(JPEG_H // 8, JPEG_W // 8)[:, None, :, None]
                * np.ones((1, 8, 1, 8), dtype=np.int64)
            ).reshape(JPEG_H, JPEG_W).astype(np.uint8)
            payloads.append(jpeg_encode_color(np.stack([px] * 3, axis=-1)))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


def decode_color_jpeg_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Color-JPEG decode kernel: payload -> (dims, channels, per-channel
    means) through the real 3-component Huffman/IDCT/YCbCr path."""
    for pdf in batches:
        rows = {k: [] for k in
                ("doc_id", "width", "height", "channels",
                 "mean_r", "mean_g", "mean_b")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            px = jpeg_decode(bytes(payload))
            rows["doc_id"].append(doc_id)
            rows["height"].append(px.shape[0])
            rows["width"].append(px.shape[1])
            rows["channels"].append(px.shape[2])
            for ci, name in enumerate(("mean_r", "mean_g", "mean_b")):
                rows[name].append(
                    int(px[..., ci].sum(dtype="int64")) / (px.shape[0] * px.shape[1])
                )
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                "width": pd.Series(rows["width"], dtype="int32"),
                "height": pd.Series(rows["height"], dtype="int32"),
                "channels": pd.Series(rows["channels"], dtype="int32"),
                "mean_r": pd.Series(rows["mean_r"], dtype="float64"),
                "mean_g": pd.Series(rows["mean_g"], dtype="float64"),
                "mean_b": pd.Series(rows["mean_b"], dtype="float64"),
            }
        )


@query(
    "jpeg_color_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({JPEG_W} AS INTEGER) AS width,
           CAST({JPEG_H} AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG_BLOCKS} AS mean_r,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG_BLOCKS} AS mean_g,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG_BLOCKS} AS mean_b
    FROM documents d, range(0, {_JPEG_BLOCKS}) t(k)
    GROUP BY d.doc_id
    """,
)
def jpeg_color_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color (3-component YCbCr 4:4:4) JPEG decode E2E with a SQL oracle:
    the gray-valued-RGB construction (see the synthesize kernel) drives
    every color-path stage — both quantization tables, all four Annex
    K.3 Huffman tables, interleaved MCUs, the YCbCr↔RGB transform —
    while staying bit-exact, so the driver hash-gate covers a lossy
    color codec.  Real-color fidelity is tolerance-tested in
    `tests/test_jpeg.py`."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_color_jpeg_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        decode_color_jpeg_features,
        schema=(
            "doc_id bigint, width int, height int, channels int, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


# -- progressive (SOF2) encoder -------------------------------------------
#
# Flat Huffman tables: every needed symbol at one code length (12 DC
# symbols at 4 bits, 176 AC symbols at 8 bits — EOBn runs r=0..14, ZRL,
# and every (run, size) pair).  Valid per T.81 (no all-ones code),
# deliberately non-optimal: the encoder exists to produce spec-complete
# progressive streams for the decoder, not to compress well.
_JPEG_PROG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_PROG_DC_VALS = list(range(12))
_JPEG_PROG_AC_VALS = (
    [r << 4 for r in range(15)]  # EOB0..EOB14
    + [0xF0]  # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_JPEG_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_JPEG_PROG_AC_VALS),
                      0, 0, 0, 0, 0, 0, 0, 0]


class _JpegProgEncoder:
    """Per-scan entropy encoder state (T.81 Annex G.1.2): EOB-run and
    pending-correction-bit buffering span blocks within one scan."""

    def __init__(self, bw, dc_huff, ac_huff):
        self.bw = bw
        self.dc = dc_huff
        self.ac = ac_huff
        self.eobrun = 0
        self.pending = []  # correction bits deferred to the next EOB flush

    def flush_eobrun(self):
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            code, length = self.ac[r << 4]
            self.bw.write(code, length)
            if r:
                self.bw.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for bit in self.pending:
            self.bw.write(bit, 1)
        self.pending = []

    def dc_first(self, v, pred):
        diff = v - pred
        size, bits = _jpeg_magnitude(diff)
        code, length = self.dc[size]
        self.bw.write(code, length)
        if size:
            self.bw.write(bits, size)
        return v

    def dc_refine(self, coef, al):
        self.bw.write((coef >> al) & 1, 1)

    def ac_first(self, band, al):
        """``band`` = full-precision coefficients at zigzag Ss..Se."""
        vs = [
            (abs(c) >> al) if c >= 0 else -(abs(c) >> al) for c in band
        ]
        if not any(vs):
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()
            return
        self.flush_eobrun()
        run = 0
        last_nz = max(i for i, v in enumerate(vs) if v)
        for i, v in enumerate(vs):
            if i > last_nz:
                self.eobrun += 1
                return
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = self.ac[0xF0]
                self.bw.write(code, length)
                run -= 16
            size, bits = _jpeg_magnitude(v)
            code, length = self.ac[(run << 4) | size]
            self.bw.write(code, length)
            self.bw.write(bits, size)
            run = 0

    def ac_refine(self, band, ah, al):
        """IJG encode_mcu_AC_refine shape: newly-significant coefficients
        are run-coded with sign bits; already-significant ones emit
        correction bits (buffered until the enclosing emission point)."""
        absv = [abs(c) >> al for c in band]
        eob = -1
        for i, t in enumerate(absv):
            if t == 1:
                eob = i
        run = 0
        br_bits = []
        for i, t in enumerate(absv):
            if t == 0:
                run += 1
                continue
            while run > 15 and i <= eob:
                self.flush_eobrun()
                code, length = self.ac[0xF0]
                self.bw.write(code, length)
                run -= 16
                for bit in br_bits:
                    self.bw.write(bit, 1)
                br_bits = []
            if t > 1:  # significant before this scan: one correction bit
                br_bits.append(t & 1)
                continue
            self.flush_eobrun()
            code, length = self.ac[(run << 4) | 1]
            self.bw.write(code, length)
            self.bw.write(1 if band[i] > 0 else 0, 1)
            for bit in br_bits:
                self.bw.write(bit, 1)
            br_bits = []
            run = 0
        if run > 0 or br_bits:
            self.eobrun += 1
            self.pending.extend(br_bits)
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()


def jpeg_encode_progressive(arr, subsampling: str = "444") -> bytes:
    """Progressive (SOF2) JFIF encoder exercising every scan kind the
    decoder implements: an interleaved DC-first scan and per-component
    AC-first scans at successive-approximation bit 1, then DC- and
    AC-refinement scans delivering bit 0 (T.81 Annex G).  Quantized
    coefficients are identical to the baseline encoder's, so
    ``jpeg_decode(jpeg_encode_progressive(x))`` must equal
    ``jpeg_decode(jpeg_encode_color(x))`` bit for bit — the test
    anchor.  Accepts HxW grayscale or HxWx3 RGB; ``subsampling``
    applies to RGB (``"444"``/``"420"``)."""
    import numpy as np  # noqa: PLC0415
    import struct  # noqa: PLC0415

    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    q_y = np.asarray(_JPEG_QTABLE, dtype=np.int64)
    q_c = np.asarray(_JPEG_QTABLE_C, dtype=np.int64)
    if gray:
        comp_planes = [arr.astype(np.float64)]
        qtabs = [q_y]
        sofs = [(1, 0x11, 0)]
        sampling_pad = 8
    else:
        if subsampling not in ("444", "420"):
            raise ValueError(
                f"jpeg_encode_progressive: unknown subsampling {subsampling!r}"
            )
        ycc = _rgb_to_ycbcr(arr)
        if subsampling == "444":
            comp_planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
            sofs = [(1, 0x11, 0), (2, 0x11, 1), (3, 0x11, 1)]
            sampling_pad = 8
        else:
            ph, pw = -(-h // 16) * 16, -(-w // 16) * 16

            def down2(plane):
                p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
                p = p.reshape(ph // 2, 2, pw // 2, 2).astype(np.float64)
                return np.round(p.mean(axis=(1, 3))).astype(np.float64)

            comp_planes = [
                np.pad(ycc[..., 0], ((0, ph - h), (0, pw - w)), mode="edge"),
                down2(ycc[..., 1]),
                down2(ycc[..., 2]),
            ]
            sofs = [(1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1)]
            sampling_pad = 16
        qtabs = [q_y, q_c, q_c]
    # Quantized zigzag blocks per component, on each component's own grid
    # (equal to the MCU-padded grid by the padding above).
    qblocks, dims = [], []
    for plane, q in zip(comp_planes, qtabs):
        blocks = _jpeg_quantized_blocks(plane, q)
        bh = -(-plane.shape[0] // 8)
        bw_ = -(-plane.shape[1] // 8)
        qblocks.append(blocks)
        dims.append((bh, bw_))
    samp = [(s[1] >> 4, s[1] & 0x0F) for s in sofs]
    if gray:
        samp = [(1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # Non-interleaved scans cover each component's OWN block grid (from
    # the ceil-scaled frame dims, T.81 A.2.2) — a subset of the padded
    # `dims` grid when the frame is not an MCU multiple.
    grids = []
    for hi, vi in samp:
        cw = -(-(w * hi) // hmax)
        ch = -(-(h * vi) // vmax)
        grids.append((-(-ch // 8), -(-cw // 8)))

    dc_huff = _jpeg_encode_huff(_JPEG_PROG_DC_BITS, _JPEG_PROG_DC_VALS)
    ac_huff = _jpeg_encode_huff(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)

    ncomp = len(comp_planes)
    all_ci = list(range(ncomp))
    scans = [("dc_first", all_ci, 0, 0, 0, 1)]
    for ci in all_ci:
        if ci == 0:  # split the luma band: exercises multi-band AC scans
            scans += [("ac_first", [ci], 1, 5, 0, 1),
                      ("ac_first", [ci], 6, 63, 0, 1)]
        else:
            scans.append(("ac_first", [ci], 1, 63, 0, 1))
    scans.append(("dc_refine", all_ci, 0, 0, 1, 0))
    scans += [("ac_refine", [ci], 1, 63, 1, 0) for ci in all_ci]

    out = bytearray()
    out += JPEG_SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    zz = _JPEG_ZIGZAG
    emitted_q = [(0, q_y)] if gray else [(0, q_y), (1, q_c)]
    for tq, q in emitted_q:
        zz_q = bytes(int(q[zz[k]]) for k in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + zz_q
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid, hv, tq in sofs[:ncomp]:
        out += bytes([cid, hv, tq])
    for marker, bits, vals in (
        (0x00, _JPEG_PROG_DC_BITS, _JPEG_PROG_DC_VALS),
        (0x10, _JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 3 + 16 + len(vals))
        out += bytes([marker]) + bytes(bits) + bytes(vals)

    zz_list = list(_JPEG_ZIGZAG)
    # natural-order index for zigzag position k is zz_list[k]; qblocks
    # rows are already IN zigzag order (see _jpeg_quantized_blocks)
    for kind, members, ss, se, ah, al in scans:
        ns = len(members)
        out += b"\xff\xda" + struct.pack(">H", 6 + 2 * ns) + bytes([ns])
        for ci in members:
            out += bytes([sofs[ci][0], 0x00])
        out += bytes([ss, se, (ah << 4) | al])
        bw = _JpegBitWriter()
        enc = _JpegProgEncoder(bw, dc_huff, ac_huff)
        if kind in ("dc_first", "dc_refine"):
            preds = {ci: 0 for ci in members}
            if ns > 1:  # interleaved MCU order
                for mcu in range(mcus_y * mcus_x):
                    my, mx = divmod(mcu, mcus_x)
                    for ci in members:
                        hi, vi = samp[ci]
                        bh, bw_ci = dims[ci]
                        for by in range(vi):
                            for bx in range(hi):
                                bi = (my * vi + by) * bw_ci + (mx * hi + bx)
                                c0 = int(qblocks[ci][bi][0])
                                if kind == "dc_first":
                                    preds[ci] = enc.dc_first(c0 >> al, preds[ci])
                                else:
                                    enc.dc_refine(c0, al)
            else:  # single-component DC scan: raster over the OWN grid
                ci = members[0]
                gh, gw = grids[ci]
                _bh, bw_ci = dims[ci]
                for gi in range(gh * gw):
                    by, bx = divmod(gi, gw)
                    c0 = int(qblocks[ci][by * bw_ci + bx][0])
                    if kind == "dc_first":
                        preds[ci] = enc.dc_first(c0 >> al, preds[ci])
                    else:
                        enc.dc_refine(c0, al)
        else:
            ci = members[0]
            gh, gw = grids[ci]
            _bh, bw_ci = dims[ci]
            for gi in range(gh * gw):
                by, bx = divmod(gi, gw)
                band = [
                    int(v) for v in qblocks[ci][by * bw_ci + bx][ss : se + 1]
                ]
                if kind == "ac_first":
                    enc.ac_first(band, al)
                else:
                    enc.ac_refine(band, ah, al)
        enc.flush_eobrun()
        bw.flush()
        out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


# 4:2:0 geometry: 2x2 MACROBLOCKS of 16x16 (each = four Y blocks + one
# Cb + one Cr block after subsampling).  Values constant per macroblock
# with even offsets from 128: Y quantizes exactly (same argument as
# JPEG_W above), the gray-valued construction makes Cb=Cr=128 exactly,
# the 2x2 box-average of a constant is that constant, and replication
# upsampling inverts it — so the full 4:2:0 pipeline is bit-exact and
# the SQL oracle states the means in closed form.
JPEG420_W, JPEG420_H = 32, 32
_JPEG420_MACROBLOCKS = (JPEG420_W // 16) * (JPEG420_H // 16)


def _synthesize_jpeg420_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            m = np.arange(_JPEG420_MACROBLOCKS, dtype=np.int64)
            vals = 128 + 2 * ((int(doc_id) + m) % 64 - 32)
            px = (
                vals.reshape(JPEG420_H // 16, JPEG420_W // 16)[:, None, :, None]
                * np.ones((1, 16, 1, 16), dtype=np.int64)
            ).reshape(JPEG420_H, JPEG420_W).astype(np.uint8)
            payloads.append(
                jpeg_encode_color(
                    np.stack([px] * 3, axis=-1), subsampling="420"
                )
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "jpeg420_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({JPEG420_W} AS INTEGER) AS width,
           CAST({JPEG420_H} AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG420_MACROBLOCKS} AS mean_r,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG420_MACROBLOCKS} AS mean_g,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG420_MACROBLOCKS} AS mean_b
    FROM documents d, range(0, {_JPEG420_MACROBLOCKS}) t(k)
    GROUP BY d.doc_id
    """,
)
def jpeg420_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma-SUBSAMPLED (YCbCr 4:2:0) JPEG decode E2E with a SQL
    oracle — closing round 6's top gap: real web-image corpora are
    mostly 4:2:0, which the round-6 decoder honestly rejected.  The
    macroblock-constant gray-valued construction (see the synthesize
    kernel) drives every 4:2:0-specific stage — the four-Y-plus-chroma
    interleaved MCU layout, the 2×2 box downsample, the replication
    upsample — while staying bit-exact, so the driver hash-gate covers
    the subsampled path, not just 4:4:4.  Real-color fidelity and
    rejection of non-integer sampling ratios are tolerance-tested in
    `tests/test_jpeg.py`.  Two narrow ``mapInPandas`` passes, no
    shuffle; at 100 TB the synthesize stage swaps for stored crawl
    payloads and the decode stage is unchanged."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_jpeg420_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        decode_color_jpeg_features,
        schema=(
            "doc_id bigint, width int, height int, channels int, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


def _synthesize_progressive_jpeg_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """The 4:2:0 macroblock-constant construction, emitted as PROGRESSIVE
    (SOF2) streams: DC carries the whole image, so every AC-first scan is
    one maximal EOB run and the refinement scans exercise the
    correction-bit machinery over already-empty bands."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            m = np.arange(_JPEG420_MACROBLOCKS, dtype=np.int64)
            vals = 128 + 2 * ((int(doc_id) + m) % 64 - 32)
            px = (
                vals.reshape(JPEG420_H // 16, JPEG420_W // 16)[:, None, :, None]
                * np.ones((1, 16, 1, 16), dtype=np.int64)
            ).reshape(JPEG420_H, JPEG420_W).astype(np.uint8)
            payloads.append(
                jpeg_encode_progressive(
                    np.stack([px] * 3, axis=-1), subsampling="420"
                )
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "jpeg_progressive_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({JPEG420_W} AS INTEGER) AS width,
           CAST({JPEG420_H} AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG420_MACROBLOCKS} AS mean_r,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG420_MACROBLOCKS} AS mean_g,
           CAST(SUM(128 + 2 * (((d.doc_id + t.k) % 64) - 32)) AS DOUBLE)
               / {_JPEG420_MACROBLOCKS} AS mean_b
    FROM documents d, range(0, {_JPEG420_MACROBLOCKS}) t(k)
    GROUP BY d.doc_id
    """,
)
def jpeg_progressive_decode_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode E2E with a SQL oracle — with
    :func:`jpeg420_decode_features` this closes round 6's 'mainstream
    web images fall back to a non-stdlib gate' finding entirely: the
    decoder now handles baseline and progressive Huffman streams at any
    integer chroma subsampling, pure numpy.  The synthesized streams are
    progressive 4:2:0 with successive approximation (T.81 Annex G: an
    interleaved DC-first scan, split-band AC-first scans at bit 1, DC
    and AC refinement scans at bit 0), and the macroblock-constant
    construction keeps the multi-scan pipeline bit-exact, so the
    cross-engine hash gate covers all four progressive scan kinds.
    Randomized progressive≡baseline equality (every decoded pixel, any
    shape) is pinned in `tests/test_jpeg.py`."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_progressive_jpeg_payloads,
        schema="doc_id bigint, payload binary",
    )
    return payloads.mapInPandas(
        decode_color_jpeg_features,
        schema=(
            "doc_id bigint, width int, height int, channels int, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


# ---------------------------------------------------------------------------
# BMP: pure-stdlib uncompressed DIB codec + decode-features pipeline
# ---------------------------------------------------------------------------

BMP_SIGNATURE = b"BM"


def bmp_encode(arr) -> bytes:
    """Pure-stdlib BMP (Windows BITMAPINFOHEADER) encoder: uint8 array of
    shape ``(h, w)`` → 8-bpp palettized grayscale (identity gray palette),
    ``(h, w, 3)`` RGB → 24-bpp BI_RGB.  Rows are stored bottom-up and
    padded to 4-byte boundaries per the DIB spec."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        h, w = a.shape
        bpp, palette = 8, b"".join(
            struct.pack("<BBBB", g, g, g, 0) for g in range(256)
        )
        rows = a
    elif a.ndim == 3 and a.shape[2] == 3:
        h, w = a.shape[:2]
        bpp, palette = 24, b""
        rows = a[:, :, ::-1].reshape(h, w * 3)  # RGB → BGR byte order
    else:
        raise ValueError("bmp_encode takes (h, w) gray or (h, w, 3) RGB")
    stride = (rows.shape[1] + 3) & ~3
    body = bytearray()
    pad = b"\x00" * (stride - rows.shape[1])
    for y in range(h - 1, -1, -1):  # bottom-up
        body += rows[y].tobytes() + pad
    offset = 14 + 40 + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(body), 2835, 2835,
        256 if bpp == 8 else 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", offset + len(body), 0, 0, offset)
    return header + info + palette + bytes(body)


def _bmp_wrap(bpp: int, w: int, h: int, compression: int,
              palette: bytes, body: bytes) -> bytes:
    """Assemble BITMAPFILEHEADER + BITMAPINFOHEADER around a pixel body."""
    import struct  # noqa: PLC0415

    offset = 14 + 40 + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, compression, len(body),
        2835, 2835, len(palette) // 4, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", offset + len(body), 0, 0, offset)
    return header + info + palette + body


def bmp_encode_paletted(idx, palette, bpp: int = 8, rle: bool = False) -> bytes:
    """Paletted BMP encoder (the extended decoder's testable twin):
    ``(h, w)`` index array + ``(n, 3)`` RGB palette → BI_RGB at bpp
    1/4/8, or BI_RLE8/BI_RLE4 (``rle=True`` with bpp 8/4) as
    maximal-run encoded mode with per-row EOL and a final EOB."""
    import numpy as np  # noqa: PLC0415

    a = np.asarray(idx, np.uint8)
    pal = np.asarray(palette, np.uint8)
    h, w = a.shape
    if int(a.max(initial=0)) >= min(len(pal), 1 << bpp):
        raise ValueError("bmp encode: index exceeds palette/depth")
    quads = np.zeros((len(pal), 4), np.uint8)
    quads[:, :3] = pal[:, ::-1]  # RGB → BGR0
    if rle:
        if bpp not in (4, 8):
            raise ValueError("bmp encode: RLE needs bpp 4 or 8")
        body = bytearray()
        for y in range(h - 1, -1, -1):  # file order = bottom-up
            x = 0
            row = a[y]
            while x < w:
                n = 1
                while x + n < w and n < 255 and row[x + n] == row[x]:
                    n += 1
                p = int(row[x])
                body += bytes([n, p * 17 if bpp == 4 else p])
                x += n
            body += b"\x00\x00" if y else b"\x00\x01"  # EOL / EOB
        return _bmp_wrap(
            bpp, w, h, 1 if bpp == 8 else 2, quads.tobytes(), bytes(body)
        )
    packed = _pack_indices(a, bpp)
    stride = (packed.shape[1] + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : packed.shape[1]] = packed
    return _bmp_wrap(bpp, w, h, 0, quads.tobytes(), rows[::-1].tobytes())


def bmp_encode_bitfields(quantized, masks, bpp: int = 16) -> bytes:
    """BI_BITFIELDS encoder (the decoder's testable twin): ``(h, w, 3)``
    QUANTIZED channel values (each < its mask's peak + 1) + three
    contiguous masks → 16- or 32-bpp BMP with the mask DWORDs in the
    post-header slot."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    q = np.asarray(quantized, np.int64)
    h, w = q.shape[:2]
    vals = np.zeros((h, w), np.int64)
    for c, mask in enumerate(masks):
        shift = (mask & -mask).bit_length() - 1
        peak = mask >> shift
        if int(q[:, :, c].max(initial=0)) > peak:
            raise ValueError("bmp bitfields encode: value exceeds mask")
        vals |= q[:, :, c] << shift
    rows = vals.astype("<u2" if bpp == 16 else "<u4").view(np.uint8)
    rows = rows.reshape(h, w * (bpp // 8))
    stride = (rows.shape[1] + 3) & ~3
    body = np.zeros((h, stride), np.uint8)
    body[:, : rows.shape[1]] = rows
    return _bmp_wrap(
        bpp, w, h, 3 if len(masks) == 3 else 6,
        struct.pack(f"<{len(masks)}I", *masks), body[::-1].tobytes(),
    )


def bmp_encode_embedded(stream: bytes, w: int, h: int, kind: str) -> bytes:
    """BI_JPEG / BI_PNG encoder twin: wrap a complete JPEG or PNG
    stream in a BMP whose header declares the embedded compression
    (bpp 0, per the Windows convention for embedded streams)."""
    import struct  # noqa: PLC0415

    comp = {"jpeg": 4, "png": 5}[kind]
    offset = 14 + 40
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 0, comp, len(stream), 0, 0, 0, 0
    )
    header = struct.pack(
        "<2sIHHI", b"BM", offset + len(stream), 0, 0, offset
    )
    return header + info + stream


def bmp_encode_core(arr, palette=None, bpp: int = None) -> bytes:
    """BITMAPCOREHEADER (OS/2 BMPv2) encoder: 12-byte DIB header,
    unsigned short dims, RGB-TRIPLE palettes — ``(h, w)`` indices +
    ``(n, 3)`` palette at bpp 1/4/8, or ``(h, w, 3)`` RGB at 24."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    a = np.asarray(arr, np.uint8)
    h, w = a.shape[:2]
    if palette is not None:
        if bpp is None:
            bpp = 8
        pal = np.asarray(palette, np.uint8)
        if int(a.max(initial=0)) >= min(len(pal), 1 << bpp):
            raise ValueError("bmp core encode: index exceeds palette/depth")
        triples = np.zeros((1 << bpp, 3), np.uint8)
        triples[: len(pal)] = pal[:, ::-1]  # RGB → BGR
        pal_bytes = triples.tobytes()
        packed = _pack_indices(a, bpp)
    else:
        bpp, pal_bytes = 24, b""
        packed = a[:, :, ::-1].reshape(h, w * 3)
    stride = (packed.shape[1] + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : packed.shape[1]] = packed
    body = rows[::-1].tobytes()
    offset = 14 + 12 + len(pal_bytes)
    info = struct.pack("<IHHHH", 12, w, h, 1, bpp)
    header = struct.pack("<2sIHHI", b"BM", offset + len(body), 0, 0, offset)
    return header + info + pal_bytes + body


def bmp_encode_32(rgb) -> bytes:
    """32-bpp BGRX BI_RGB encoder (pad byte zero), bottom-up rows."""
    import numpy as np  # noqa: PLC0415

    a = np.asarray(rgb, np.uint8)
    h, w = a.shape[:2]
    body = np.zeros((h, w, 4), np.uint8)
    body[:, :, :3] = a[:, :, ::-1]  # RGB → BGR
    return _bmp_wrap(32, w, h, 0, b"", body[::-1].tobytes())


def _bmp_rle_decode(payload: bytes, offset: int, w: int, h: int, rle4: bool):
    """BI_RLE8 / BI_RLE4 → (h, w) uint8 index plane in FILE row order
    (bottom-up).  The three escape codes (0 = end of line, 1 = end of
    bitmap, 2 = delta) and absolute mode follow the public Windows DIB
    spec; pixels skipped by EOL/delta stay index 0 (the conventional
    background).  Structural overruns raise ``ValueError``."""
    import numpy as np  # noqa: PLC0415

    img = np.zeros((h, w), np.uint8)
    x = y = 0
    i, end = offset, len(payload)
    while True:
        if i + 2 > end:
            raise ValueError("bmp rle: truncated stream")
        n, v = payload[i], payload[i + 1]
        i += 2
        if n > 0:  # encoded run
            if y >= h or x + n > w:
                raise ValueError("bmp rle: run overflows row")
            if rle4:
                pair = np.array([v >> 4, v & 15], np.uint8)
                img[y, x : x + n] = np.tile(pair, (n + 1) // 2)[:n]
            else:
                img[y, x : x + n] = v
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return img
        elif v == 2:  # delta
            if i + 2 > end:
                raise ValueError("bmp rle: truncated delta")
            x += payload[i]
            y += payload[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("bmp rle: delta out of bounds")
        else:  # absolute mode: v literal pixels, data padded to 2 bytes
            if y >= h or x + v > w:
                raise ValueError("bmp rle: absolute run overflows row")
            nbytes = (v + 1) // 2 if rle4 else v
            if i + nbytes > end:
                raise ValueError("bmp rle: truncated absolute run")
            raw = np.frombuffer(payload, np.uint8, count=nbytes, offset=i)
            if rle4:
                px = np.empty(nbytes * 2, np.uint8)
                px[0::2] = raw >> 4
                px[1::2] = raw & 15
                img[y, x : x + v] = px[:v]
            else:
                img[y, x : x + v] = raw
            x += v
            i += (nbytes + 1) & ~1  # word-aligned


def bmp_decode(payload: bytes):
    """Pure-stdlib BMP decoder: BI_RGB at 1/4/8/24/32 bpp, BI_RLE8 and
    BI_RLE4 compression, and BI_BITFIELDS at 16/32 bpp (contiguous
    masks, e.g. 565/555/8888 — channels rescale to 8 bits by the exact
    max-value formula), both bottom-up (positive height) and top-down
    (negative) row orders — returns ``(width, height, channels, uint8
    array (h, w, channels))``.  Sub-byte pixels unpack MSB-first;
    paletted pixels expand through the BGR0 color table to RGB, except
    8-bpp identity-gray-ramp payloads, which collapse to one channel;
    32-bpp BI_RGB is BGRX (the pad byte is not alpha) and decodes to
    RGB.  BITMAPCOREHEADER (OS/2 BMPv2: unsigned short dims, RGB-triple
    palettes, always BI_RGB) decodes at 1/4/8/24 bpp; BI_JPEG/BI_PNG
    embeddings remain honest gates."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload[:2] != BMP_SIGNATURE:
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    core = hdr_size == 12  # BITMAPCOREHEADER (OS/2 BMPv2)
    if hdr_size < 12 or (12 < hdr_size < 40):
        raise ValueError(f"bmp: unknown DIB header size {hdr_size}")
    if core:
        # bcWidth/bcHeight are UNSIGNED shorts (always bottom-up),
        # there is no compression field, and palettes are RGB TRIPLES
        w, h_signed = struct.unpack_from("<HH", payload, 18)
        bpp = struct.unpack_from("<H", payload, 24)[0]
        compression = 0
    else:
        w, h_signed = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        compression = struct.unpack_from("<I", payload, 30)[0]
    if compression not in (0, 1, 2, 3, 4, 5, 6):
        raise NotImplementedError(
            f"BMP compression {compression} not supported"
        )
    if compression in (4, 5):
        # BI_JPEG / BI_PNG: the pixel area is a complete embedded
        # stream (biSizeImage bytes), routed to the native codec
        size_image = struct.unpack_from("<I", payload, 34)[0]
        data = bytes(
            payload[offset : offset + size_image]
            if size_image
            else payload[offset:]
        )
        if compression == 4:
            jpx = jpeg_decode(data)
            px = jpx.reshape(jpx.shape[0], jpx.shape[1], -1)
        else:
            _pw, _ph, _pch, px = png_decode(data)
            px = px.reshape(px.shape[0], px.shape[1], -1)
        if (px.shape[1], px.shape[0]) != (w, abs(h_signed)):
            raise ValueError(
                "bmp: embedded stream geometry disagrees with the header"
            )
        return w, abs(h_signed), px.shape[2], np.ascontiguousarray(px)
    if compression in (1, 2) and (
        h_signed < 0 or bpp != (8 if compression == 1 else 4)
    ):
        raise ValueError("bmp rle: needs bottom-up rows at the matching bpp")
    if bpp not in (1, 4, 8, 16, 24, 32) or (
        bpp == 16 and compression not in (3, 6)
    ):
        raise NotImplementedError(
            f"BMP bpp {bpp} with compression {compression} not supported"
        )
    if core and bpp not in (1, 4, 8, 24):
        raise ValueError(f"bmp core header: bpp {bpp} invalid")
    top_down = h_signed < 0
    h = abs(h_signed)
    if compression in (3, 6):
        if bpp not in (16, 32):
            raise ValueError("bmp bitfields: needs 16 or 32 bpp")
        # BI_ALPHABITFIELDS (6) adds a 4th mask: the alpha channel
        n_masks = 4 if compression == 6 else 3
        masks = struct.unpack_from(f"<{n_masks}I", payload, 54)
        row_bytes = w * (bpp // 8)
        stride = (row_bytes + 3) & ~3
        if offset + stride * h > len(payload):
            raise ValueError("bmp: truncated pixel data")
        data = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=offset
        ).reshape(h, stride)[:, :row_bytes]
        if not top_down:
            data = data[::-1]
        vals = np.ascontiguousarray(data).view(
            "<u2" if bpp == 16 else "<u4"
        ).reshape(h, w).astype(np.int64)
        chans = []
        for mask in masks:
            if mask == 0:
                raise ValueError("bmp bitfields: zero channel mask")
            shift = (mask & -mask).bit_length() - 1
            peak = mask >> shift
            if (peak & (peak + 1)) != 0:
                raise ValueError("bmp bitfields: non-contiguous mask")
            # exact max-value rescale to 8 bits (identity when peak=255)
            chans.append(
                (((vals & mask) >> shift) * 255 // peak).astype(np.uint8)
            )
        return (
            w, h, n_masks, np.ascontiguousarray(np.stack(chans, axis=-1))
        )

    def palette():
        if core:  # RGB triples, no ClrUsed field
            n_colors = 1 << bpp
            pal = np.frombuffer(
                payload, dtype=np.uint8, count=n_colors * 3,
                offset=14 + hdr_size,
            ).reshape(n_colors, 3)[:, ::-1]  # stored BGR → RGB
            return pal, n_colors
        n_colors = struct.unpack_from("<I", payload, 46)[0] or (1 << bpp)
        pal = np.frombuffer(
            payload, dtype=np.uint8, count=n_colors * 4, offset=14 + hdr_size
        ).reshape(n_colors, 4)[:, :3][:, ::-1]  # stored BGR0 → RGB
        return pal, n_colors

    if compression:
        idx = _bmp_rle_decode(payload, offset, w, h, rle4=compression == 2)[
            ::-1
        ]
        pal, n_colors = palette()
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("bmp: palette index out of range")
        return w, h, 3, np.ascontiguousarray(pal[idx])
    row_bytes = (w * bpp + 7) // 8
    stride = (row_bytes + 3) & ~3
    if offset + stride * h > len(payload):
        raise ValueError("bmp: truncated pixel data")
    data = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset)
    rows = data.reshape(h, stride)[:, :row_bytes]
    if not top_down:
        rows = rows[::-1]
    if bpp == 24:
        px = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
        return w, h, 3, np.ascontiguousarray(px)
    if bpp == 32:
        px = rows.reshape(h, w, 4)[:, :, [2, 1, 0]]  # BGRX → RGB
        return w, h, 3, np.ascontiguousarray(px)
    pal, n_colors = palette()
    idx = _unpack_indices(rows, w, bpp) if bpp < 8 else rows.reshape(h, w)
    if int(idx.max(initial=0)) >= n_colors:
        raise ValueError("bmp: palette index out of range")
    gray_ramp = np.arange(n_colors, dtype=np.uint8)
    if bpp == 8 and n_colors == 256 and (pal == gray_ramp[:, None]).all():
        return w, h, 1, idx[..., None].copy()
    return w, h, 3, np.ascontiguousarray(pal[idx])


def bmp_decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """BMP decode kernel: payload → (dims, channels, exact-mean pixel),
    same contract as the PNG/GIF kernels."""
    for pdf in batches:
        doc_ids, ws, hs, chs, means = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, ch, px = bmp_decode(bytes(payload))
            doc_ids.append(doc_id)
            ws.append(w)
            hs.append(h)
            chs.append(ch)
            means.append(int(px.sum(dtype="int64")) / (w * h * ch))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "channels": pd.Series(chs, dtype="int32"),
                "mean_pixel": pd.Series(means, dtype="float64"),
            }
        )


def _synthesize_bmp_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic BMP per doc: even doc_ids get the 8-bpp grayscale
    gradient (pixel k = (doc_id + k) mod 256), odd doc_ids the 24-bpp RGB
    form of the same gradient replicated across channels — both paths of
    the decoder flow through the one query."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            px = ((int(doc_id) + k) % 256).astype(np.uint8).reshape(IMG_H, IMG_W)
            if int(doc_id) % 2:
                px = np.repeat(px[..., None], 3, axis=2)
            payloads.append(bmp_encode(px))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "bmp_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST({IMG_H} AS INTEGER) AS height,
           CAST(CASE WHEN d.doc_id % 2 = 1 THEN 3 ELSE 1 END AS INTEGER)
               AS channels,
           CAST(SUM((d.doc_id + t.k) % 256) AS DOUBLE) / {IMG_W * IMG_H}
               AS mean_pixel
    FROM documents d, range(0, {IMG_W * IMG_H}) t(k)
    GROUP BY d.doc_id
    """,
)
def bmp_decode_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP decode E2E with a SQL oracle — the uncompressed-DIB twin of
    ``png_decode_features``: synthesize a deterministic BMP per document
    (8-bpp palettized gray for even doc ids, 24-bpp BGR for odd — the
    channel-replicated gradient keeps the mean identical, so the oracle
    is one closed form), decode through the real :func:`bmp_decode`
    path, emit per-payload features.  Two narrow ``mapInPandas`` passes,
    no shuffle; payloads never leave the executor."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_bmp_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        bmp_decode_features, schema=IMAGE_FEATURE_SCHEMA
    )


_BMP_EXT_CLASSES = (
    "1bpp", "4bpp", "rle8", "rle4", "32bpp", "bf565", "bf210", "core4",
)  # doc_id % 8

# BI_BITFIELDS fixture masks: classic 565 and the 2-10-10-10 HDR layout
_BF_MASKS = {
    "bf565": ((0xF800, 0x07E0, 0x001F), 16),
    "bf210": ((0x3FF00000, 0x000FFC00, 0x000003FF), 32),
}


def _synthesize_bmp_ext_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Deterministic BMP per doc over the round-10 decoder extensions
    (doc_id mod 8 → 1-bpp, 4-bpp, BI_RLE8, BI_RLE4, 32-bpp BGRX,
    565-bitfields, 2-10-10-10-bitfields, 4-bpp BITMAPCOREHEADER):
    base value b(k) =
    ((doc_id + k) ÷ 3) mod m for the RLE classes (runs of three, so
    encoded-run mode is load-bearing) and (doc_id + k) mod m otherwise;
    palette entry j = (7j, 11j, 13j) mod 256, the 32-bpp channels use
    the same multipliers directly, and the bitfields channels carry
    quantized value (doc_id + k) mod (peak_c + 1) rescaled on decode by
    the exact max-value formula."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            cls = _BMP_EXT_CLASSES[did % 8]
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            if cls == "core4":  # OS/2 BMPv2: triple palette, 4 bpp
                idx = ((did + k) % 16).astype(np.uint8).reshape(IMG_H, IMG_W)
                j = np.arange(16, dtype=np.int64)
                pal = np.stack(
                    [(j * 7) % 256, (j * 11) % 256, (j * 13) % 256], axis=-1
                ).astype(np.uint8)
                payloads.append(bmp_encode_core(idx, pal, bpp=4))
            elif cls in _BF_MASKS:
                masks, bpp = _BF_MASKS[cls]
                peaks = [m >> ((m & -m).bit_length() - 1) for m in masks]
                q = np.stack(
                    [((did + k) % (p + 1)).reshape(IMG_H, IMG_W)
                     for p in peaks],
                    axis=-1,
                )
                payloads.append(bmp_encode_bitfields(q, masks, bpp=bpp))
            elif cls == "32bpp":
                b = ((did + k) % 256).reshape(IMG_H, IMG_W)
                rgb = np.stack(
                    [(b * p) % 256 for p in (7, 11, 13)], axis=-1
                ).astype(np.uint8)
                payloads.append(bmp_encode_32(rgb))
            else:
                bpp = {"1bpp": 1, "4bpp": 4, "rle8": 8, "rle4": 4}[cls]
                rle = cls.startswith("rle")
                m = 1 << bpp
                base = (did + k) // 3 if rle else did + k
                idx = (base % m).astype(np.uint8).reshape(IMG_H, IMG_W)
                j = np.arange(m, dtype=np.int64)
                pal = np.stack(
                    [(j * 7) % 256, (j * 11) % 256, (j * 13) % 256], axis=-1
                ).astype(np.uint8)
                payloads.append(
                    bmp_encode_paletted(idx, pal, bpp=bpp, rle=rle)
                )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "bmp_ext_decode_features",
    oracle=f"""
    WITH geom AS (
        SELECT doc_id,
               doc_id % 8 AS cls,
               CASE doc_id % 8 WHEN 0 THEN 2 WHEN 1 THEN 16
                    WHEN 2 THEN 256 WHEN 3 THEN 16
                    WHEN 7 THEN 16 ELSE 256 END AS m,
               CASE WHEN doc_id % 8 IN (2, 3) THEN 3 ELSE 1 END AS rdiv
        FROM documents
    ),
    px AS (
        SELECT g.doc_id, t.k, c.c,
               CASE
                 WHEN g.cls = 5 THEN
                   ((g.doc_id + t.k)
                    % CASE c.c WHEN 1 THEN 64 ELSE 32 END) * 255
                   // CASE c.c WHEN 1 THEN 63 ELSE 31 END
                 WHEN g.cls = 6 THEN
                   ((g.doc_id + t.k) % 1024) * 255 // 1023
                 ELSE
                   ((((g.doc_id + t.k) // g.rdiv) % g.m)
                    * CASE c.c WHEN 0 THEN 7 WHEN 1 THEN 11 ELSE 13 END)
                   % 256
               END AS v
        FROM geom g, range(0, {IMG_W * IMG_H}) t(k), range(0, 3) c(c)
    )
    SELECT doc_id,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST({IMG_H} AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(SUM(v) AS DOUBLE) / {IMG_W * IMG_H * 3} AS mean_pixel,
           CAST(SUM((k * 3 + c) * v) AS BIGINT) AS weighted_sum
    FROM px
    GROUP BY doc_id
    """,
)
def bmp_ext_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended-BMP decode E2E (the round-10 gate close): each document
    gets a BMP from the eight newly decodable classes — 1-bpp and 4-bpp
    packed palettes, BI_RLE8 and BI_RLE4 run-length streams (runs of
    three so the encoded-run path is load-bearing), 32-bpp BGRX,
    BI_BITFIELDS at 565 and 2-10-10-10 (exact max-value channel
    rescale), and a 4-bpp OS/2 BITMAPCOREHEADER (RGB-triple palette) —
    and the per-channel, position-sensitive pixel statistics
    hash-match the closed form.  Two narrow ``mapInPandas`` passes, no
    shuffle."""
    import numpy as np  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_bmp_ext_payloads, schema="doc_id bigint, payload binary"
    )

    def kernel(batches):
        for pdf in batches:
            ids, ws, hs, chs, means, wsums = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, ch, px = bmp_decode(bytes(payload))
                flat = px.reshape(-1).astype(np.int64)
                ids.append(int(doc_id))
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                means.append(int(flat.sum()) / flat.size)
                wsums.append(
                    int((np.arange(flat.size, dtype=np.int64) * flat).sum())
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "mean_pixel": pd.Series(means, dtype="float64"),
                    "weighted_sum": pd.Series(wsums, dtype="int64"),
                }
            )

    return payloads.mapInPandas(kernel, schema=PNG_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# ICO (favicon): directory of DIB- or PNG-encoded images.  The dominant
# small-image container in a web crawl (every site root serves one), and
# pure routing + composition over machinery this module already has: PNG
# entries go through png_decode, DIB entries through the BMP pixel path
# plus the ICO-specific doubled-height AND transparency mask.  Format
# reference: the public ICONDIR/ICONDIRENTRY layout (Win32 resource
# format; PNG entries allowed since Vista).
# ---------------------------------------------------------------------------

ICO_SIGNATURE = b"\x00\x00\x01\x00"
CUR_SIGNATURE = b"\x00\x00\x02\x00"


def _ico_dib_decode(entry: bytes):
    """One ICO DIB entry → ``(w, h, 4, uint8 RGBA)``.

    The entry is a BITMAPINFOHEADER whose ``biHeight`` is DOUBLED: the
    bottom-up XOR color plane (1/4/8 bpp through a BGR0 palette, 24 bpp
    BGR, 32 bpp BGRA) is followed by a bottom-up 1-bpp AND transparency
    mask, each row padded to 4 bytes.  For ≤24 bpp the AND mask IS the
    alpha plane (set bit = transparent); 32-bpp entries carry their own
    alpha channel and the mask is ignored (the Vista+ convention)."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if len(entry) < 40:
        raise ValueError("ico: truncated DIB entry")
    hdr_size, w, h2 = struct.unpack_from("<Iii", entry, 0)
    bpp = struct.unpack_from("<H", entry, 14)[0]
    compression = struct.unpack_from("<I", entry, 16)[0]
    if hdr_size != 40:
        raise NotImplementedError(
            f"ico: DIB header size {hdr_size} not supported (40 only)"
        )
    if compression != 0:
        raise NotImplementedError(
            f"ico: compressed DIB entries not supported "
            f"(compression={compression})"
        )
    if h2 <= 0 or h2 % 2 or w <= 0:
        raise ValueError("ico: DIB entry needs positive doubled height")
    if bpp not in (1, 2, 4, 8, 24, 32):
        raise NotImplementedError(f"ico: DIB bpp {bpp} not supported")
    h = h2 // 2

    def plane(offset: int, bits_per_px: int, n_rows: int):
        stride = ((w * bits_per_px + 31) // 32) * 4
        end = offset + stride * n_rows
        if end > len(entry):
            raise ValueError("ico: truncated DIB pixel data")
        rows = np.frombuffer(
            entry, np.uint8, count=stride * n_rows, offset=offset
        ).reshape(n_rows, stride)
        return rows[::-1], end  # bottom-up → top-down

    pos = 40
    if bpp <= 8:
        n_colors = struct.unpack_from("<I", entry, 32)[0] or (1 << bpp)
        pal_end = pos + n_colors * 4
        if pal_end > len(entry):
            raise ValueError("ico: truncated DIB palette")
        pal = np.frombuffer(
            entry, np.uint8, count=n_colors * 4, offset=pos
        ).reshape(n_colors, 4)[:, :3][:, ::-1]  # BGR0 → RGB
        rows, pos = plane(pal_end, bpp, h)
        idx = _unpack_indices(rows[:, : (w * bpp + 7) // 8], w, bpp)
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("ico: palette index out of range")
        rgb = pal[idx]
    elif bpp == 24:
        rows, pos = plane(pos, 24, h)
        rgb = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    else:  # 32
        rows, pos = plane(pos, 32, h)
        bgra = rows[:, : w * 4].reshape(h, w, 4)
        rgba = np.ascontiguousarray(bgra[:, :, [2, 1, 0, 3]])
        # consume the (ignored) AND mask so truncation still surfaces
        plane(pos, 1, h)
        return w, h, 4, rgba
    mask_rows, _ = plane(pos, 1, h)
    bits = np.unpackbits(mask_rows, axis=1)[:, :w]
    alpha = np.where(bits == 0, 255, 0).astype(np.uint8)
    return w, h, 4, np.dstack([rgb, alpha])


def ico_decode_entries(payload: bytes):
    """Decode EVERY image in an ICO container: list of ``(w, h,
    channels, pixels)``, PNG entries through :func:`png_decode` (their
    native channel count), DIB entries through :func:`_ico_dib_decode`
    (always RGBA).  Cursor files (``.cur``, type 2) share the layout but
    repurpose directory fields as hotspot coordinates — an honest gate
    until a corpus shows they matter."""
    import struct  # noqa: PLC0415

    if payload[:4] == CUR_SIGNATURE:
        raise NotImplementedError(
            "ico: .cur cursor files not supported (hotspot semantics)"
        )
    if payload[:4] != ICO_SIGNATURE:
        raise ValueError("not an ICO payload")
    count = struct.unpack_from("<H", payload, 4)[0]
    if count == 0:
        raise ValueError("ico: empty image directory")
    out = []
    for i in range(count):
        base = 6 + 16 * i
        if base + 16 > len(payload):
            raise ValueError("ico: truncated image directory")
        size, offset = struct.unpack_from("<II", payload, base + 8)
        if offset + size > len(payload):
            raise ValueError("ico: entry data out of bounds")
        data = payload[offset : offset + size]
        if data[:8] == PNG_SIGNATURE:
            out.append(png_decode(data))
        else:
            out.append(_ico_dib_decode(data))
    return out


def ico_decode(payload: bytes):
    """Best-image ICO decode: the largest entry by pixel area (ties →
    first in directory order), matching what a browser picks when it
    needs one representative icon."""
    entries = ico_decode_entries(payload)
    best = max(
        range(len(entries)),
        key=lambda i: (entries[i][0] * entries[i][1], -i),
    )
    return entries[best]


def _ico_dib_encode(
    *, idx=None, palette=None, rgb=None, rgba=None, transparent=None, bpp=None
):
    """Build one DIB entry blob (the decoder's testable twin): pass
    ``idx``+``palette`` for 1/2/4/8 bpp, ``rgb`` for 24, ``rgba`` for 32;
    ``transparent`` is an optional (h, w) bool AND-mask (ignored for
    32 bpp, where alpha rides the pixel plane).  Returns ``(blob, w, h)``."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    def pad4(rows):
        n, rb = rows.shape
        stride = (rb + 3) & ~3
        out = np.zeros((n, stride), np.uint8)
        out[:, :rb] = rows
        return out[::-1].tobytes()  # top-down → bottom-up

    if rgba is not None:
        arr = np.asarray(rgba, np.uint8)
        h, w = arr.shape[:2]
        bpp = 32
        pal_bytes = b""
        body = pad4(arr[:, :, [2, 1, 0, 3]].reshape(h, w * 4))
    elif rgb is not None:
        arr = np.asarray(rgb, np.uint8)
        h, w = arr.shape[:2]
        bpp = 24
        pal_bytes = b""
        body = pad4(arr[:, :, ::-1].reshape(h, w * 3))
    else:
        arr = np.asarray(idx, np.uint8)
        pal = np.asarray(palette, np.uint8)
        h, w = arr.shape
        if bpp is None:
            bpp = 8
        if int(arr.max(initial=0)) >= min(len(pal), 1 << bpp):
            raise ValueError("ico encode: index exceeds palette/depth")
        quads = np.zeros((len(pal), 4), np.uint8)
        quads[:, :3] = pal[:, ::-1]  # RGB → BGR0
        pal_bytes = quads.tobytes()
        body = pad4(_pack_indices(arr, bpp))
    if transparent is None:
        transparent = np.zeros((h, w), bool)
    mask = pad4(np.packbits(np.asarray(transparent, np.uint8), axis=1))
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h * 2, 1, bpp, 0,
        len(body) + len(mask), 0, 0,
        len(pal_bytes) // 4, 0,
    )
    return info + pal_bytes + body + mask, w, h


def ico_encode(entries) -> bytes:
    """Assemble an ICO container from ``(blob, w, h)`` entry tuples —
    the output of :func:`_ico_dib_encode`, or ``(png_bytes, w, h)`` for
    embedded-PNG entries."""
    import struct  # noqa: PLC0415

    out = bytearray(ICO_SIGNATURE + struct.pack("<H", len(entries)))
    offset = 6 + 16 * len(entries)
    for blob, w, h in entries:
        out += struct.pack(
            "<BBBBHHII",
            w if w < 256 else 0,
            h if h < 256 else 0,
            0, 0, 1, 0, len(blob), offset,
        )
        offset += len(blob)
    for blob, _w, _h in entries:
        out += blob
    return bytes(out)


_ICO_BPP_ROTATION = (32, 1, 4, 8, 24)  # doc_id % 5 → DIB entry bpp


def _synthesize_ico_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Deterministic two-entry favicon per doc.  Entry 0 is a DIB at bpp
    rotating over 32/1/4/8/24 (doc_id mod 5) with base value b(k) =
    (doc_id + k) mod m (m = 2^bpp for paletted, 256 otherwise), channel
    c = (b·p_c) mod 256 for p = (7, 11, 13); alpha is (b·5) mod 256 on
    the 32-bpp pixel plane and the AND mask (transparent ⇔ (doc_id + k)
    mod 3 = 0) otherwise.  Entry 1 is an embedded RGB PNG at half size
    with b(k) = (doc_id + 2k) mod 256 and the same channel formula."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            bpp = _ICO_BPP_ROTATION[did % 5]
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            transparent = (
                ((did + k) % 3 == 0).reshape(IMG_H, IMG_W)
            )
            if bpp == 32:
                b = ((did + k) % 256).reshape(IMG_H, IMG_W)
                rgba = np.stack(
                    [(b * p) % 256 for p in (7, 11, 13, 5)], axis=-1
                ).astype(np.uint8)
                dib = _ico_dib_encode(rgba=rgba)
            elif bpp == 24:
                b = ((did + k) % 256).reshape(IMG_H, IMG_W)
                rgb = np.stack(
                    [(b * p) % 256 for p in (7, 11, 13)], axis=-1
                ).astype(np.uint8)
                dib = _ico_dib_encode(rgb=rgb, transparent=transparent)
            else:
                m = 1 << bpp
                j = np.arange(m, dtype=np.int64)
                pal = np.stack(
                    [(j * 7) % 256, (j * 11) % 256, (j * 13) % 256], axis=-1
                ).astype(np.uint8)
                idx = ((did + k) % m).astype(np.uint8).reshape(IMG_H, IMG_W)
                dib = _ico_dib_encode(
                    idx=idx, palette=pal, bpp=bpp, transparent=transparent
                )
            k2 = np.arange((IMG_W // 2) * (IMG_H // 2), dtype=np.int64)
            b2 = ((did + 2 * k2) % 256).reshape(IMG_H // 2, IMG_W // 2)
            png_px = np.stack(
                [(b2 * p) % 256 for p in (7, 11, 13)], axis=-1
            ).astype(np.uint8)
            png = png_encode(png_px)
            payloads.append(
                ico_encode([dib, (png, IMG_W // 2, IMG_H // 2)])
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "ico_decode_features",
    oracle=f"""
    WITH geom AS (
        SELECT doc_id, e.entry,
               CASE WHEN e.entry = 0 THEN {IMG_W} ELSE {IMG_W // 2} END AS w,
               CASE WHEN e.entry = 0 THEN {IMG_H} ELSE {IMG_H // 2} END AS h,
               CASE WHEN e.entry = 0 THEN 4 ELSE 3 END AS nch,
               CASE WHEN e.entry = 1 OR doc_id % 5 IN (0, 3, 4) THEN 256
                    WHEN doc_id % 5 = 1 THEN 2 ELSE 16 END AS m
        FROM documents, (VALUES (0), (1)) e(entry)
    ),
    px AS (
        SELECT g.doc_id, g.entry, g.w, g.h, g.nch, t.k, c.c,
               CASE
                 WHEN c.c < 3 THEN
                   (((g.doc_id + CASE WHEN g.entry = 1 THEN 2 * t.k
                                      ELSE t.k END) % g.m)
                    * CASE c.c WHEN 0 THEN 7 WHEN 1 THEN 11 ELSE 13 END)
                   % 256
                 WHEN g.doc_id % 5 = 0 THEN
                   (((g.doc_id + t.k) % 256) * 5) % 256
                 WHEN (g.doc_id + t.k) % 3 = 0 THEN 0
                 ELSE 255
               END AS v
        FROM geom g, range(0, {IMG_W * IMG_H}) t(k), range(0, 4) c(c)
        WHERE c.c < g.nch AND t.k < g.w * g.h
    )
    SELECT doc_id,
           CAST(entry AS INTEGER) AS entry,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(nch AS INTEGER) AS channels,
           CAST(SUM(v) AS DOUBLE) / (w * h * nch) AS mean_pixel,
           CAST(SUM((k * nch + c) * v) AS BIGINT) AS weighted_sum
    FROM px
    GROUP BY doc_id, entry, w, h, nch
    """,
)
def ico_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Favicon decode E2E: synthesize a two-entry ICO per document (a
    DIB whose bpp rotates over 32/1/4/8/24 with AND-mask or pixel-plane
    alpha, plus an embedded half-size PNG) and decode EVERY entry through
    the real directory walk, emitting one row per (doc, entry) with the
    channel- and position-sensitive pixel statistics.  A palette mapped
    to the wrong pixel, a mis-oriented bottom-up plane, a dropped AND
    mask, or a PNG entry routed down the DIB path all break the hash.
    Two narrow ``mapInPandas`` passes, no shuffle — at 100 TB this is
    the favicon-column scan, embarrassingly parallel per payload."""
    import numpy as np  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_ico_payloads, schema="doc_id bigint, payload binary"
    )

    def kernel(batches):
        for pdf in batches:
            ids, ents, ws, hs, chs, means, wsums = (
                [], [], [], [], [], [], []
            )
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for entry, (w, h, ch, px) in enumerate(
                    ico_decode_entries(bytes(payload))
                ):
                    flat = px.reshape(-1).astype(np.int64)
                    ids.append(int(doc_id))
                    ents.append(entry)
                    ws.append(w)
                    hs.append(h)
                    chs.append(ch)
                    means.append(int(flat.sum()) / flat.size)
                    wsums.append(
                        int((np.arange(flat.size, dtype=np.int64) * flat)
                            .sum())
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "entry": pd.Series(ents, dtype="int32"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "mean_pixel": pd.Series(means, dtype="float64"),
                    "weighted_sum": pd.Series(wsums, dtype="int64"),
                }
            )

    return payloads.mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, entry int, width int, height int, "
            "channels int, mean_pixel double, weighted_sum bigint"
        ),
    )


# ---------------------------------------------------------------------------
# TIFF: pure-stdlib baseline codec (uncompressed / LZW / PackBits strips,
# horizontal-differencing predictor, II+MM byte orders) + decode pipeline.
# Closes the last line of decode_image's PIL gate for still images other
# than WEBP.  Format reference: TIFF 6.0 specification (public, Adobe
# 1992) — §3 (IFD structure), §7 (PackBits), §13 (LZW with early change),
# §14 (predictor).
# ---------------------------------------------------------------------------

TIFF_SIGNATURES = (b"II*\x00", b"MM\x00*")


def _tiff_lzw_compress(data: bytes) -> bytes:
    """TIFF-variant LZW: MSB-first bit packing, codes start at 9 bits,
    ClearCode 256 / EOI 257, EARLY code-width change (width bumps when
    the next code to be assigned is 2^w − 1, one entry sooner than GIF's
    LSB-first variant)."""
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(256, width)  # Clear
    s = b""
    for ch in data:
        c = bytes([ch])
        if s + c in table:
            s += c
            continue
        emit(table[s], width)
        table[s + c] = next_code
        next_code += 1
        # early change (spec 13): bump when the NEXT code to assign is
        # (1<<w)-1, so codes 511/1023/2047 are never written at the old
        # width; at 12 bits, reset when NextCode reaches 4094
        if width < 12 and next_code == (1 << width) - 1:
            width += 1
        elif next_code == 4094:
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        s = c
    if s:
        emit(table[s], width)
    emit(257, width)  # EOI
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_lzw_decompress(data: bytes) -> bytes:
    """Inverse of :func:`_tiff_lzw_compress` (spec §13 pseudocode)."""
    out = bytearray()
    acc = nbits = pos = 0
    width = 9

    def read_code():
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return 257  # truncated stream: treat as EOI
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        return code

    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev = None
    while True:
        code = read_code()
        if code == 257:  # EOI
            break
        if code == 256:  # Clear
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("tiff: corrupt LZW stream (code gap)")
        out += entry
        prev = entry
        # early change, one entry EARLIER than the encoder's check: the
        # decoder's table lags the encoder by one entry at the same code
        # index (the encoder assigns after emitting code k, the decoder
        # while processing code k+1), so it must widen at (1<<w)-2
        if len(table) >= (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)


def _packbits_compress(data: bytes) -> bytes:
    """TIFF PackBits RLE (spec §7): literal runs and repeat runs of
    ≤ 128 bytes.  Simple two-state encoder — repeats of ≥ 2 become
    repeat runs, everything else literals."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit_start = i
        i += 1
        while (
            i < n
            and i - lit_start < 128
            and not (i + 1 < n and data[i + 1] == data[i])
        ):
            i += 1
        out += bytes([i - lit_start - 1]) + data[lit_start:i]
    return bytes(out)


def _packbits_decompress(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat run of 257-n
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op per spec
    return bytes(out)


_TIFF_COMPRESSIONS = {"none": 1, "lzw": 5, "packbits": 32773, "jpeg": 7}


def tiff_encode(
    arr,
    compression: str = "none",
    predictor: bool = False,
    rows_per_strip: int | None = None,
) -> bytes:
    """Pure-stdlib little-endian TIFF encoder: ``(h, w)`` gray or
    ``(h, w, 3)`` RGB uint8, chunky planar layout, multi-strip when
    ``rows_per_strip`` is set, compression none/lzw/packbits, optional
    horizontal-differencing predictor (tag 317 = 2, LZW's usual
    companion)."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError("tiff_encode takes (h, w) gray or (h, w, 3) RGB")
    h, w = a.shape[:2]
    spp = 1 if gray else 3
    comp = _TIFF_COMPRESSIONS[compression]
    if predictor and compression == "none":
        raise ValueError("predictor only meaningful with compression")
    rps = rows_per_strip or h
    px = a.reshape(h, w, spp)
    strips = []
    for y0 in range(0, h, rps):
        rows = px[y0 : y0 + rps]
        if predictor:
            rows = rows.astype(np.int16)
            rows = np.concatenate(
                [rows[:, :1, :], np.diff(rows, axis=1)], axis=1
            ).astype(np.uint8)  # mod-256 horizontal differences per channel
        raw = rows.tobytes()
        if comp == 1:
            strips.append(raw)
        elif comp == 5:
            strips.append(_tiff_lzw_compress(raw))
        else:
            strips.append(_packbits_compress(raw))

    # layout: header(8) | strip data | bits-per-sample array (if RGB) |
    # strip offset/count arrays (if >1 strip) | IFD
    pos = 8
    strip_offsets = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    aux = bytearray()
    entries = []

    def entry(tag, typ, count, value):
        entries.append((tag, typ, count, value))

    entry(256, 3, 1, w)  # ImageWidth SHORT
    entry(257, 3, 1, h)  # ImageLength
    if spp == 1:
        entry(258, 3, 1, 8)  # BitsPerSample
    else:
        bps_off = pos
        aux.extend(struct.pack("<3H", 8, 8, 8))
        pos += 6
        entry(258, 3, 3, bps_off)
    entry(259, 3, 1, comp)
    entry(262, 3, 1, 1 if gray else 2)  # Photometric: BlackIsZero / RGB
    if len(strips) == 1:
        entry(273, 4, 1, strip_offsets[0])
    else:
        so_off = pos
        aux.extend(struct.pack(f"<{len(strips)}I", *strip_offsets))
        pos += 4 * len(strips)
        entry(273, 4, len(strips), so_off)
    entry(277, 3, 1, spp)
    entry(278, 3, 1, rps)
    if len(strips) == 1:
        entry(279, 4, 1, len(strips[0]))
    else:
        sc_off = pos
        aux.extend(struct.pack(f"<{len(strips)}I", *(len(s) for s in strips)))
        pos += 4 * len(strips)
        entry(279, 4, len(strips), sc_off)
    entry(284, 3, 1, 1)  # PlanarConfiguration: chunky
    if predictor:
        entry(317, 3, 1, 2)
    entries.sort()
    ifd_off = pos
    out = bytearray()
    out += b"II*\x00" + struct.pack("<I", ifd_off)
    for s in strips:
        out += s
    out += aux
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        out += struct.pack("<HHI", tag, typ, count)
        if typ == 3 and count == 1:
            out += struct.pack("<HH", value, 0)
        else:
            out += struct.pack("<I", value)
    out += struct.pack("<I", 0)  # no next IFD
    return bytes(out)


def _jpeg_split_tables(stream: bytes) -> tuple[bytes, bytes]:
    """Interchange JPEG → (tables-only stream, abbreviated stream) per
    the public TIFF Technical Note 2: DQT/DHT segments move to a
    SOI…EOI tables stream (the JPEGTables tag payload); everything else
    stays in the abbreviated per-segment stream."""
    tables, image = bytearray(b"\xff\xd8"), bytearray(b"\xff\xd8")
    i = 2
    while i < len(stream) - 1:
        if stream[i] != 0xFF:
            raise ValueError("jpeg split: lost marker sync")
        m = stream[i + 1]
        if m == 0xD9:
            break
        if m == 0xDA:
            image += stream[i:]  # SOS through EOI, entropy included
            break
        ln = int.from_bytes(stream[i + 2 : i + 4], "big")
        seg = stream[i : i + 2 + ln]
        (tables if m in (0xDB, 0xC4) else image).extend(seg)
        i += 2 + ln
    tables += b"\xff\xd9"
    return bytes(tables), bytes(image)


def tiff_encode_ext(
    arr,
    *,
    palette=None,
    bits: int = 8,
    planar: int = 1,
    tile=None,
    compression: str = "none",
    predictor: bool = False,
    rows_per_strip: int | None = None,
    jpeg_tables: bool = False,
) -> bytes:
    """Extended little-endian TIFF encoder (the round-10 decoder
    extensions' testable twin): ``palette`` ((n, 3) uint16 ColorMap
    values, ``arr`` then being a (h, w) index plane at ``bits``
    1/2/4/8), ``planar=2`` (per-plane RGB segments), and
    ``tile=(tw, tl)`` (tile layout, edge tiles padded to full size per
    spec §15) — composable with none/lzw/packbits compression and the
    horizontal predictor."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    wide = np.asarray(arr).dtype == np.uint16 and palette is None
    a = np.asarray(arr, dtype=np.uint16 if wide else np.uint8)
    comp = _TIFF_COMPRESSIONS[compression]
    if palette is not None:
        if a.ndim != 2 or bits not in (1, 2, 4, 8):
            raise ValueError("palette needs (h, w) indices at bits 1/2/4/8")
        if int(a.max(initial=0)) >= 1 << bits:
            raise ValueError("palette index exceeds bit depth")
        spp, photo = 1, 3
    elif a.ndim == 2:
        spp, photo, bits = 1, 1, 16 if wide else 8
    elif a.ndim == 3 and a.shape[2] == 3:
        spp, photo, bits = 3, 2, 16 if wide else 8
    else:
        raise ValueError("takes (h, w) gray/indices or (h, w, 3) RGB")
    h, w = a.shape[:2]
    n_planes = spp if (planar == 2 and spp > 1) else 1
    seg_ch = spp // n_planes
    px = a.reshape(h, w, spp)

    shared_tables = []

    def encode_rows(rows):  # (n, width, seg_ch) → compressed segment
        if comp == 7:
            if predictor or bits != 8 or palette is not None:
                raise ValueError(
                    "jpeg compression needs 8-bit gray/RGB, no predictor"
                )
            if rows.shape[2] == 1:
                stream = jpeg_encode(np.ascontiguousarray(rows[:, :, 0]))
            else:
                stream = jpeg_encode_color(np.ascontiguousarray(rows))
            if jpeg_tables:
                tables, stream = _jpeg_split_tables(stream)
                shared_tables.append(tables)
            return stream
        if predictor:
            rows = rows.astype(np.int64)
            rows = np.concatenate(
                [rows[:, :1, :], np.diff(rows, axis=1)], axis=1
            ).astype(np.uint16 if wide else np.uint8)
        if bits < 8:
            flat = _pack_indices(rows[:, :, 0], bits)
            raw = np.ascontiguousarray(flat).tobytes()
        elif wide:
            # little-endian pairs: the encoder always writes II files
            raw = np.ascontiguousarray(rows.astype("<u2")).tobytes()
        else:
            flat = rows.reshape(rows.shape[0], rows.shape[1] * seg_ch)
            raw = np.ascontiguousarray(flat).tobytes()
        if comp == 5:
            return _tiff_lzw_compress(raw)
        if comp == 32773:
            return _packbits_compress(raw)
        return raw

    segments = []
    if tile is not None:
        tw, tl = tile
        ta, td = (w + tw - 1) // tw, (h + tl - 1) // tl
        for p in range(n_planes):
            plane = px[:, :, p * seg_ch : (p + 1) * seg_ch]
            full = np.zeros(
                (td * tl, ta * tw, seg_ch),
                np.uint16 if wide else np.uint8,
            )
            full[:h, :w] = plane
            for t in range(ta * td):
                ty, tx = divmod(t, ta)
                segments.append(
                    encode_rows(
                        full[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw]
                    )
                )
    else:
        rps = rows_per_strip or h
        for p in range(n_planes):
            plane = px[:, :, p * seg_ch : (p + 1) * seg_ch]
            for y0 in range(0, h, rps):
                segments.append(encode_rows(plane[y0 : y0 + rps]))

    pos = 8
    seg_offsets = []
    for s in segments:
        seg_offsets.append(pos)
        pos += len(s)
    aux = bytearray()
    entries = []

    def array_entry(tag, typ, vals):
        nonlocal pos
        fmt = {3: "H", 4: "I", 7: "B"}[typ]
        size = {3: 2, 4: 4, 7: 1}[typ]
        if len(vals) * size <= 4:
            packed = struct.pack(f"<{len(vals)}{fmt}", *vals)
            entries.append(
                (tag, typ, len(vals), struct.unpack(
                    "<I", packed.ljust(4, b"\x00"))[0])
            )
        else:
            entries.append((tag, typ, len(vals), pos))
            aux.extend(struct.pack(f"<{len(vals)}{fmt}", *vals))
            pos += len(vals) * size

    entries.append((256, 3, 1, w))
    entries.append((257, 3, 1, h))
    array_entry(258, 3, [bits] * spp)
    entries.append((259, 3, 1, comp))
    entries.append((262, 3, 1, photo))
    entries.append((277, 3, 1, spp))
    entries.append((284, 3, 1, planar))
    if predictor:
        entries.append((317, 3, 1, 2))
    if palette is not None:
        pal = np.asarray(palette, np.uint16)
        n = 1 << bits
        cm = np.zeros((n, 3), np.uint16)
        cm[: len(pal)] = pal
        array_entry(320, 3, [int(v) for v in cm.T.reshape(-1)])
    if jpeg_tables:
        if len(set(shared_tables)) != 1:
            raise ValueError(
                "jpeg_tables fixture needs identical per-segment tables"
            )
        array_entry(347, 7, list(shared_tables[0]))
    if tile is not None:
        entries.append((322, 3, 1, tile[0]))
        entries.append((323, 3, 1, tile[1]))
        array_entry(324, 4, seg_offsets)
        array_entry(325, 4, [len(s) for s in segments])
    else:
        entries.append((278, 3, 1, rows_per_strip or h))
        array_entry(273, 4, seg_offsets)
        array_entry(279, 4, [len(s) for s in segments])
    entries.sort()
    out = bytearray(b"II*\x00" + struct.pack("<I", pos))
    for s in segments:
        out += s
    out += aux
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        out += struct.pack("<HHI", tag, typ, count)
        if typ == 3 and count == 1:
            out += struct.pack("<HH", value, 0)
        else:
            out += struct.pack("<I", value)
    out += struct.pack("<I", 0)
    return bytes(out)


def tiff_decode(payload: bytes):
    """Pure-stdlib TIFF decoder: returns ``(w, h, channels, array
    (h, w, channels))`` — uint8, except 16-bit samples and paletted
    images (16-bit ColorMap), which return uint16 with no precision
    loss.  Supports both byte orders, gray (photometric 0/1) and RGB at
    8 AND 16 bits (16-bit samples follow the container byte order, and
    the predictor differences whole 16-bit values), paletted
    (photometric 3) at 1/2/4/8 bits, strip AND tile layouts (any
    RowsPerStrip; edge tiles encoded full-size per spec §15), chunky
    AND per-plane (planar configuration 2) sample order, compression
    none/LZW/PackBits, and the horizontal-differencing predictor.
    Mixed/other depths and JPEG-in-TIFF raise ``NotImplementedError``
    (honest gates); structural damage raises ``ValueError``."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload[:4] not in TIFF_SIGNATURES:
        raise ValueError("not a TIFF payload")
    bo = "<" if payload[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack(bo + "I", payload[4:8])
    (n_entries,) = struct.unpack(bo + "H", payload[ifd_off : ifd_off + 2])
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(bo + "HHI", payload[base : base + 8])
        (raw_value,) = struct.unpack(bo + "I", payload[base + 8 : base + 12])
        tags[tag] = (typ, count, base + 8)

    type_fmt = {1: "B", 3: "H", 4: "I", 7: "B"}  # 7 = UNDEFINED (bytes)
    type_size = {1: 1, 3: 2, 4: 4, 7: 1}

    def values(tag, default=None):
        if tag not in tags:
            if default is None:
                raise ValueError(f"tiff: missing required tag {tag}")
            return default
        typ, count, vpos = tags[tag]
        if typ not in type_fmt:
            raise NotImplementedError(f"tiff: tag {tag} type {typ} unsupported")
        total = type_size[typ] * count
        if total <= 4:
            src = payload[vpos : vpos + total]
        else:
            (off,) = struct.unpack(bo + "I", payload[vpos : vpos + 4])
            src = payload[off : off + total]
        return list(struct.unpack(f"{bo}{count}{type_fmt[typ]}", src))

    w = values(256)[0]
    h = values(257)[0]
    spp = values(277, [1])[0]
    bits = values(258, [8] * spp)
    comp = values(259, [1])[0]
    photo = values(262)[0]
    planar = values(284, [1])[0]
    predictor = values(317, [1])[0]
    tiled = 322 in tags or 323 in tags
    bits0 = bits[0]
    if photo == 3:
        if spp != 1 or bits0 not in (1, 2, 4, 8):
            raise NotImplementedError(
                f"tiff: paletted needs a single 1/2/4/8-bit sample "
                f"(bits={bits}, spp={spp})"
            )
        cmap = values(320)
        n_cmap = 1 << bits0
        if len(cmap) != 3 * n_cmap:
            raise ValueError("tiff: colormap size mismatch")
    elif any(b not in (8, 16) for b in bits) or len(set(bits)) > 1 or (
        spp not in (1, 3)
    ):
        raise NotImplementedError(
            f"tiff: only uniform 8/16-bit gray/RGB supported "
            f"(bits={bits}, spp={spp})"
        )
    if comp not in (1, 5, 32773, 7):
        raise NotImplementedError(
            f"tiff: compression {comp} not supported "
            f"(none/LZW/PackBits/JPEG only)"
        )
    jpeg_tables = None
    if comp == 7:
        if 347 in tags:
            # abbreviated streams (TTN2): the shared tables live in the
            # JPEGTables tag as a SOI…EOI stream; each segment splices
            # its entropy data after those tables
            jpeg_tables = bytes(values(347))
            if (
                jpeg_tables[:2] != b"\xff\xd8"
                or jpeg_tables[-2:] != b"\xff\xd9"
            ):
                raise ValueError("tiff: malformed JPEGTables stream")
        if photo == 3 or bits0 != 8 or predictor != 1:
            raise ValueError(
                "tiff: JPEG compression needs 8-bit gray/RGB, no predictor"
            )
    if predictor not in (1, 2):
        raise NotImplementedError(f"tiff: predictor {predictor} unsupported")
    if predictor == 2 and bits0 < 8:
        raise ValueError("tiff: predictor needs whole-byte samples")
    if planar not in (1, 2):
        raise ValueError(f"tiff: bad planar configuration {planar}")
    n_planes = spp if (planar == 2 and spp > 1) else 1
    seg_ch = spp // n_planes  # samples interleaved within one segment

    def seg_rowbytes(width: int) -> int:
        return (width * seg_ch * bits0 + 7) // 8

    def decode_segment(off: int, cnt: int, n_rows: int, width: int):
        raw = payload[off : off + cnt]
        if comp == 7:
            # new-style JPEG-in-TIFF (TTN2): each segment is a complete
            # JPEG interchange stream — or, with JPEGTables, an
            # abbreviated stream spliced after the shared tables
            if jpeg_tables is not None:
                if bytes(raw[:2]) != b"\xff\xd8":
                    raise ValueError("tiff: abbreviated segment missing SOI")
                raw = jpeg_tables[:-2] + bytes(raw[2:])
            jpx = jpeg_decode(bytes(raw))
            jpx = jpx.reshape(jpx.shape[0], jpx.shape[1], -1)
            if jpx.shape != (n_rows, width, seg_ch):
                raise ValueError(
                    "tiff: JPEG segment geometry disagrees with the IFD"
                )
            return jpx
        expected = n_rows * seg_rowbytes(width)
        if comp == 5:
            raw = _tiff_lzw_decompress(raw)[:expected]
        elif comp == 32773:
            raw = _packbits_decompress(raw, expected)
        if len(raw) < expected:
            raise ValueError("tiff: segment shorter than expected")
        data = np.frombuffer(raw[:expected], dtype=np.uint8).reshape(
            n_rows, seg_rowbytes(width)
        )
        if bits0 < 8:
            seg = _unpack_indices(data, width, bits0)[:, :, None]
        elif bits0 == 16:
            # 16-bit samples follow the CONTAINER byte order (spec §4),
            # and the predictor differences whole 16-bit values
            pairs = data.reshape(n_rows, width, seg_ch, 2).astype(np.uint16)
            hi, lo = (1, 0) if bo == "<" else (0, 1)
            seg = (pairs[..., hi] << 8) | pairs[..., lo]
            if predictor == 2:
                seg = np.cumsum(seg.astype(np.int64), axis=1).astype(
                    np.uint16
                )  # mod-65536 undo
            return seg
        else:
            seg = data.reshape(n_rows, width, seg_ch)
        if predictor == 2:
            seg = np.cumsum(seg.astype(np.int64), axis=1).astype(
                np.uint8
            )  # mod-256 undo of horizontal differencing
        return seg

    if tiled:
        tw = values(322)[0]
        tl = values(323)[0]
        offsets = values(324)
        counts = values(325)
        if tw <= 0 or tl <= 0:
            raise ValueError("tiff: bad tile geometry")
        ta = (w + tw - 1) // tw
        td = (h + tl - 1) // tl
        per_plane = ta * td
        if len(offsets) != len(counts) or len(offsets) != per_plane * n_planes:
            raise ValueError("tiff: tile offset/count mismatch")
        planes = []
        for p in range(n_planes):
            canvas = np.zeros(
                (td * tl, ta * tw, seg_ch),
                dtype=np.uint16 if bits0 == 16 else np.uint8,
            )
            for t in range(per_plane):
                ty, tx = divmod(t, ta)
                i = p * per_plane + t
                # edge tiles are encoded at FULL tile size (spec §15),
                # then cropped by the canvas slice below
                canvas[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw] = (
                    decode_segment(offsets[i], counts[i], tl, tw)
                )
            planes.append(canvas[:h, :w])
        px = planes[0] if n_planes == 1 else np.concatenate(planes, axis=2)
    else:
        offsets = values(273)
        counts = values(279)
        rps = values(278, [h])[0]
        per_plane = (h + rps - 1) // rps
        if len(offsets) != len(counts) or len(offsets) != per_plane * n_planes:
            raise ValueError("tiff: strip offset/count mismatch")
        planes = []
        for p in range(n_planes):
            rows = [
                decode_segment(
                    offsets[p * per_plane + i],
                    counts[p * per_plane + i],
                    min(rps, h - i * rps),
                    w,
                )
                for i in range(per_plane)
            ]
            planes.append(np.concatenate(rows, axis=0))
        px = planes[0] if n_planes == 1 else np.concatenate(planes, axis=2)
    if photo == 0:  # WhiteIsZero: invert to BlackIsZero convention
        px = (65535 if bits0 == 16 else 255) - px
    if photo == 3:
        # ColorMap entries are 16-bit (spec §5): return the true uint16
        # samples, the same no-precision-loss contract as 16-bit PNG
        cm = np.array(cmap, dtype=np.uint16).reshape(3, n_cmap).T
        return w, h, 3, np.ascontiguousarray(cm[px[:, :, 0]])
    return w, h, spp, px


def tiff_decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """TIFF-decode kernel: payload -> (dims, channels, mean pixel)."""
    for pdf in batches:
        doc_ids, ws, hs, chs, means = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, ch, px = tiff_decode(bytes(payload))
            doc_ids.append(doc_id)
            ws.append(w)
            hs.append(h)
            chs.append(ch)
            means.append(int(px.sum(dtype="int64")) / px.size)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "channels": pd.Series(chs, dtype="int32"),
                "mean_pixel": pd.Series(means, dtype="float64"),
            }
        )


def _synthesize_tiff_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One deterministic TIFF per document, rotating the codec surface by
    doc id: compression none / LZW / PackBits (id mod 3), gray or RGB
    (id mod 2), multi-strip (5 rows/strip), predictor on for the LZW
    variants — so the corpus-level decode exercises every supported
    combination, not one happy path.  The pixel ramp ``(doc_id + k) mod
    256`` is channel-replicated for RGB, keeping one closed-form mean."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            gray = ((did + k) % 256).reshape(IMG_H, IMG_W).astype(np.uint8)
            arr = gray if did % 2 == 0 else np.stack([gray] * 3, axis=-1)
            compression = ("none", "lzw", "packbits")[did % 3]
            payloads.append(
                tiff_encode(
                    arr,
                    compression=compression,
                    predictor=(compression == "lzw"),
                    rows_per_strip=5,
                )
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "tiff_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST({IMG_H} AS INTEGER) AS height,
           CAST(CASE WHEN d.doc_id % 2 = 1 THEN 3 ELSE 1 END AS INTEGER)
               AS channels,
           CAST(SUM((d.doc_id + t.k) % 256) AS DOUBLE) / {IMG_W * IMG_H}
               AS mean_pixel
    FROM documents d, range(0, {IMG_W * IMG_H}) t(k)
    GROUP BY d.doc_id
    """,
)
def tiff_decode_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF decode E2E with a SQL oracle: per document, synthesize a
    deterministic TIFF rotating through compression none/LZW/PackBits,
    gray/RGB, 5-row strips, and the horizontal predictor (see the
    synthesize kernel), decode through the real strip/LZW/predictor
    path, and hash-match the closed-form pixel statistics.  Lossless
    end to end, so the oracle is exact for every variant.  Two narrow
    ``mapInPandas`` passes, no shuffle — the same 100 TB shape as the
    other codec pipelines."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_tiff_payloads, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(
        tiff_decode_features, schema=IMAGE_FEATURE_SCHEMA
    )


def _synthesize_tiff_ext_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Deterministic TIFF per doc over the round-10 layout + depth +
    codec extensions (doc_id mod 8): 8-bit palette + LZW strips, 4-bit
    palette + PackBits, tiled LZW+predictor RGB, planar-2 RGB strips,
    1-bit palette tiled, 16-BIT gray (LZW + 16-bit-value predictor,
    strips), 16-BIT RGB (tiled, planar 2), and new-style JPEG-in-TIFF
    (gray, constant per 8×8 block so DC-only quantization is exact).
    Palette entry j = (771j, 1031j, 1297j) mod 65536 (true 16-bit
    ColorMap samples); 8-bit RGB channel c of pixel k =
    (((doc_id + k) mod 256)·p_c) mod 256 for p = (7, 11, 13); 16-bit
    samples use ((doc_id + k)·q_c) mod 65536 for q = (771, 1031,
    1297); the JPEG class uses 128 + 2·(((doc_id + block) mod 64) −
    32) per 8×8 block."""
    import numpy as np  # noqa: PLC0415

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            cls = did % 8
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            if cls == 7:  # new-style JPEG-in-TIFF (gray, DC-only exact);
                # odd doc_ids use abbreviated JPEGTables streams (TTN2)
                x = (k % IMG_W).reshape(IMG_H, IMG_W)
                y = (k // IMG_W).reshape(IMG_H, IMG_W)
                b = (y // 8) * 2 + (x // 8)
                g = (128 + 2 * ((did + b) % 64 - 32)).astype(np.uint8)
                payloads.append(
                    tiff_encode_ext(
                        g, compression="jpeg",
                        jpeg_tables=bool(did % 2),
                        rows_per_strip=8 if did % 2 else None,
                    )
                )
            elif cls == 5:  # 16-bit gray, LZW + predictor, strips
                g16 = (((did + k) * 771) % 65536).astype(
                    np.uint16).reshape(IMG_H, IMG_W)
                payloads.append(
                    tiff_encode_ext(
                        g16, compression="lzw", predictor=True,
                        rows_per_strip=5,
                    )
                )
            elif cls == 6:  # 16-bit RGB, tiled, planar 2
                b = ((did + k)).reshape(IMG_H, IMG_W)
                rgb16 = np.stack(
                    [(b * q) % 65536 for q in (771, 1031, 1297)], axis=-1
                ).astype(np.uint16)
                payloads.append(
                    tiff_encode_ext(rgb16, tile=(8, 4), planar=2)
                )
            elif cls in (0, 1, 4):
                bits = {0: 8, 1: 4, 4: 1}[cls]
                m = 1 << bits
                j = np.arange(m, dtype=np.int64)
                pal = np.stack(
                    [(j * 771) % 65536, (j * 1031) % 65536,
                     (j * 1297) % 65536],
                    axis=-1,
                ).astype(np.uint16)
                idx = ((did + k) % m).astype(np.uint8).reshape(IMG_H, IMG_W)
                kw = {
                    0: dict(compression="lzw", rows_per_strip=5),
                    1: dict(compression="packbits", rows_per_strip=4),
                    4: dict(tile=(8, 8)),
                }[cls]
                payloads.append(
                    tiff_encode_ext(idx, palette=pal, bits=bits, **kw)
                )
            else:
                b = ((did + k) % 256).reshape(IMG_H, IMG_W)
                rgb = np.stack(
                    [(b * p) % 256 for p in (7, 11, 13)], axis=-1
                ).astype(np.uint8)
                if cls == 2:
                    payloads.append(
                        tiff_encode_ext(
                            rgb, tile=(8, 4), compression="lzw",
                            predictor=True,
                        )
                    )
                else:
                    payloads.append(
                        tiff_encode_ext(rgb, planar=2, rows_per_strip=5)
                    )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "tiff_ext_decode_features",
    oracle=f"""
    WITH geom AS (
        SELECT doc_id,
               doc_id % 8 AS cls,
               CASE doc_id % 8 WHEN 0 THEN 256 WHEN 1 THEN 16
                    WHEN 4 THEN 2 ELSE 0 END AS m,
               CASE WHEN doc_id % 8 IN (5, 7) THEN 1 ELSE 3 END AS nch
        FROM documents
    ),
    px AS (
        SELECT g.doc_id, g.nch, t.k, c.c,
               CASE
                 WHEN g.m > 0 THEN
                   (((g.doc_id + t.k) % g.m)
                    * CASE c.c WHEN 0 THEN 771 WHEN 1 THEN 1031
                           ELSE 1297 END) % 65536
                 WHEN g.cls = 5 THEN ((g.doc_id + t.k) * 771) % 65536
                 WHEN g.cls = 6 THEN
                   ((g.doc_id + t.k)
                    * CASE c.c WHEN 0 THEN 771 WHEN 1 THEN 1031
                           ELSE 1297 END) % 65536
                 WHEN g.cls = 7 THEN
                   128 + 2 * (((g.doc_id
                                + ((t.k // {IMG_W}) // 8) * 2
                                + ((t.k % {IMG_W}) // 8)) % 64) - 32)
                 ELSE
                   (((g.doc_id + t.k) % 256)
                    * CASE c.c WHEN 0 THEN 7 WHEN 1 THEN 11
                           ELSE 13 END) % 256
               END AS v
        FROM geom g, range(0, {IMG_W * IMG_H}) t(k), range(0, 3) c(c)
        WHERE c.c < g.nch
    )
    SELECT doc_id,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST({IMG_H} AS INTEGER) AS height,
           CAST(nch AS INTEGER) AS channels,
           CAST(SUM(v) AS DOUBLE) / ({IMG_W * IMG_H} * nch) AS mean_pixel,
           CAST(SUM((k * nch + c) * v) AS BIGINT) AS weighted_sum
    FROM px
    GROUP BY doc_id, nch
    """,
)
def tiff_ext_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended-TIFF decode E2E (the round-10 layout-gate close): each
    document gets a TIFF from the five newly decodable classes —
    paletted at 8/4/1 bits (true uint16 ColorMap samples), tiled
    LZW+predictor RGB with cropped edge tiles, and planar-configuration-2
    RGB — and the channel- and position-sensitive statistics hash-match
    the closed form.  A tile placed at the wrong origin, a plane stacked
    in the wrong order, or an 8-bit-truncated ColorMap read all break
    the oracle.  Two narrow ``mapInPandas`` passes, no shuffle."""
    import numpy as np  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_tiff_ext_payloads, schema="doc_id bigint, payload binary"
    )

    def kernel(batches):
        for pdf in batches:
            ids, ws, hs, chs, means, wsums = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, ch, px = tiff_decode(bytes(payload))
                flat = px.reshape(-1).astype(np.int64)
                ids.append(int(doc_id))
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                means.append(int(flat.sum()) / flat.size)
                wsums.append(
                    int((np.arange(flat.size, dtype=np.int64) * flat).sum())
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "mean_pixel": pd.Series(means, dtype="float64"),
                    "weighted_sum": pd.Series(wsums, dtype="int64"),
                }
            )

    return payloads.mapInPandas(kernel, schema=PNG_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# WEBP (VP8L lossless) decode pipeline — codec lives in operators/webp.py
# ---------------------------------------------------------------------------


def _synthesize_webp_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One deterministic VP8L WEBP per document, rotating the encoder
    surface by doc id: plain literals, LZ77, color cache, subtract-green,
    a predictor transform, or the palette transform (id mod 6) — so the
    corpus-level decode exercises every transform inverse and entropy
    path.  The channel-replicated ramp keeps one closed-form mean; the
    palette variant quantizes the ramp to 16 levels ((v//16)*16), whose
    mean the oracle states exactly."""
    import numpy as np  # noqa: PLC0415

    from national_caseload_data_ingest_spark.operators.webp import (  # noqa: PLC0415
        webp_encode,
    )

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            k = np.arange(IMG_W * IMG_H, dtype=np.int64)
            gray = ((did + k) % 256).reshape(IMG_H, IMG_W).astype(np.uint8)
            mode = did % 6
            if mode == 5:
                gray = (gray // 16) * 16  # ≤16 colors → palette-able
            rgb = np.stack([gray] * 3, axis=-1)
            kw = [
                {"use_lz77": False},
                {"use_lz77": True},
                {"cache_bits": 5},
                {"subtract_green": True},
                {"predictor_mode": 11},
                {"palette": True},
            ][mode]
            payloads.append(webp_encode(rgb, **kw))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "webp_decode_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST({IMG_H} AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(SUM(CASE WHEN d.doc_id % 6 = 5
                         THEN ((d.doc_id + t.k) % 256) // 16 * 16
                         ELSE (d.doc_id + t.k) % 256 END) AS DOUBLE)
               / {IMG_W * IMG_H} AS mean_pixel
    FROM documents d, range(0, {IMG_W * IMG_H}) t(k)
    GROUP BY d.doc_id
    """,
)
def webp_decode_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEBP (VP8L lossless) decode E2E with a SQL oracle — the final
    still-image format gate: per document, synthesize a VP8L stream
    rotating through literal/LZ77/color-cache entropy modes and the
    subtract-green/predictor/palette transforms (see the synthesize
    kernel), decode through the real RIFF→VP8L→inverse-transform path
    (``operators/webp.py``), and hash-match the closed-form pixel
    statistics.  Lossless end to end, exact for every variant.  Two
    narrow ``mapInPandas`` passes, no shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_webp_payloads, schema="doc_id bigint, payload binary"
    )

    def decode_features(batches):
        from national_caseload_data_ingest_spark.operators.webp import (  # noqa: PLC0415
            webp_decode,
        )

        for pdf in batches:
            doc_ids, ws, hs, chs, means = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, ch, px = webp_decode(bytes(payload))
                doc_ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                means.append(
                    int(px[..., 0].astype("int64").sum()) / (w * h)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "mean_pixel": pd.Series(means, dtype="float64"),
                }
            )

    return payloads.mapInPandas(decode_features, schema=IMAGE_FEATURE_SCHEMA)


def _synthesize_lossy_webp_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """One deterministic lossy (VP8 key-frame) WEBP per document: a
    2x2-macroblock frame, all DC-predicted, where MB k carries the Y2
    DC token (doc_id + k) % 4 at quantizer index [10, 20, 30, 40]
    [doc_id % 4] — tokens of 0 take the macroblock SKIP path, and the
    DC cascade through IWHT, IDCT, and DC prediction is a hand-derived
    closed form the oracle restates (see ``vp8_decode_features``)."""
    from national_caseload_data_ingest_spark.operators.vp8 import (  # noqa: PLC0415
        vp8_build_keyframe,
    )
    from national_caseload_data_ingest_spark.operators.vp8_tables import (  # noqa: PLC0415
        DC_PRED,
    )
    from national_caseload_data_ingest_spark.operators.webp import (  # noqa: PLC0415
        webp_encode_lossy,
    )

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            qi = [10, 20, 30, 40][did % 4]
            mbs = [
                dict(
                    ymode=DC_PRED,
                    uv_mode=DC_PRED,
                    y2=[(did + k) % 4] + [0] * 15,
                )
                for k in range(4)
            ]
            payloads.append(
                webp_encode_lossy(vp8_build_keyframe(32, 32, mbs,
                                                     y_ac_qi=qi))
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "vp8_decode_features",
    oracle="""
    WITH q AS (
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 13 WHEN 1 THEN 21
                    WHEN 2 THEN 27 ELSE 37 END AS dcq
        FROM documents
    ),
    d AS (
        SELECT doc_id,
               (((((doc_id + 0) % 4) * 2 * dcq + 3) // 8) + 4) // 8 AS d0,
               (((((doc_id + 1) % 4) * 2 * dcq + 3) // 8) + 4) // 8 AS d1,
               (((((doc_id + 2) % 4) * 2 * dcq + 3) // 8) + 4) // 8 AS d2,
               (((((doc_id + 3) % 4) * 2 * dcq + 3) // 8) + 4) // 8 AS d3
        FROM q
    ),
    v AS (
        SELECT doc_id,
               128 + d0 AS v00, 128 + d0 + d1 AS v01, 128 + d0 + d2 AS v10,
               ((256 + 2 * d0 + d1 + d2 + 1) // 2) + d3 AS v11
        FROM d
    )
    SELECT doc_id,
           CAST(32 AS INTEGER) AS width,
           CAST(32 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(256 * ((298 * (v00 - 16) + 128) // 256
                     + (298 * (v01 - 16) + 128) // 256
                     + (298 * (v10 - 16) + 128) // 256
                     + (298 * (v11 - 16) + 128) // 256) AS BIGINT)
               AS r_sum
    FROM v
    """,
)
def vp8_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSY WebP (VP8 key-frame) decode E2E with a FULL value oracle —
    the round-10 close of the engine's last mainstream image gate: per
    document, synthesize a 2x2-macroblock VP8 key frame (Y2 DC tokens
    (doc_id+k) % 4 per MB — token 0 exercises the SKIP path — at
    quantizer index rotating over 10/20/30/40), wrap it in RIFF, decode
    through the real ``decode_image`` → ``webp_decode`` →
    ``vp8_decode_rgb`` chain, and hash-match the hand-derived closed
    form: the Y2 DC cascades through dequant (2·dc_q), IWHT
    ((x+3)>>3), IDCT DC ((x+4)>>3), and DC-prediction propagation
    (top-left MB predicts 128; right/below MBs inherit; the interior
    MB averages its two neighbors with (a+b+1)>>1), then the integer
    BT.601 conversion maps Y to the R channel.  Every bitstream stage —
    bool decoder, header, mode trees, token trees, skip flags,
    transforms, prediction — must be exact for the hash to match.  Two
    narrow ``mapInPandas`` passes, zero shuffle; at 100 TB the
    synthesize stage swaps for real stored payloads."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_lossy_webp_payloads, schema="doc_id bigint, payload binary"
    )

    def decode_features(batches):
        for pdf in batches:
            doc_ids, ws, hs, chs, sums = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, ch, px = decode_image(bytes(payload))
                doc_ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                sums.append(int(px[..., 0].astype("int64").sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "r_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return payloads.mapInPandas(
        decode_features,
        schema=(
            "doc_id bigint, width int, height int, channels int, "
            "r_sum bigint"
        ),
    )


# ---------------------------------------------------------------------------
# codec gate report — quantify what the honest gates exclude
# ---------------------------------------------------------------------------


def classify_codec_payload(payload: bytes) -> tuple[str, str, str]:
    """Route one payload through the native decoders WITHOUT failing the
    job: ``(fmt, status, reason)``.

    ``status`` is ``decoded`` (the native path produced pixels/samples),
    ``gated`` (structurally recognized but outside the implemented
    subset — the decoder's ``NotImplementedError``, whose message is the
    ``reason``), ``corrupt`` (structural ``ValueError``), or
    ``unrouted`` (no native decoder claims the container).  This is the
    routing hook SCALING.md promises in front of a codec host: at
    corpus scale, ``group by fmt, status, reason`` quantifies exactly
    which payload population each gate excludes, so the decision to
    build/route a decoder (e.g. inter-coded video) is made
    from measured volume, not guesswork — and gated payloads become a
    work queue instead of a job failure."""
    from national_caseload_data_ingest_spark.operators.flac import (  # noqa: PLC0415
        FLAC_MAGIC,
        flac_decode,
    )
    from national_caseload_data_ingest_spark.operators.mpeg import (  # noqa: PLC0415
        mp3_header_plausible as _mp3_header_plausible,
    )
    from national_caseload_data_ingest_spark.operators.video import (  # noqa: PLC0415
        avi_extract_frames,
        avi_video_fourcc,
    )
    import struct  # noqa: PLC0415

    fmt = "unknown"
    try:
        if payload[:4] == FLAC_MAGIC:
            fmt = "flac"
            flac_decode(payload)
        elif payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            fmt = "avi"
            # codec-aware routing (not just a container walk): MJPG
            # decodes natively frame-by-frame; inter-coded handlers
            # gate with the SCALING.md route-to-host policy reason
            handler = avi_video_fourcc(payload)
            frames = avi_extract_frames(payload)
            if handler is not None and handler.upper() not in (
                b"MJPG", b"\x00\x00\x00\x00"
            ):
                name = handler.decode("ascii", "replace").strip()
                raise NotImplementedError(
                    f"avi: codec '{name}' is inter-coded; route to "
                    "decoder host (SCALING.md video routing policy)"
                )
            for f in frames[:1]:
                jpeg_decode(f)
        elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            fmt = "webp"
            try:
                decode_image(payload)
            except NotImplementedError as e:
                if "animated" not in str(e):
                    raise
                # real routing, not a gate: animated files decode via
                # the compositing demuxer
                from national_caseload_data_ingest_spark.operators.webp import (  # noqa: PLC0415
                    webp_decode_animated,
                )

                webp_decode_animated(payload)
        elif payload[:8] == PNG_SIGNATURE:
            fmt = "png"
            decode_image(payload)
        elif payload[:6] in GIF_SIGNATURES:
            fmt = "gif"
            # real routing, not a gate: multi-frame streams decode via
            # the compositing demuxer (first-frame-only would overstate
            # decode coverage when corruption/gates hide past frame 1)
            if gif_image_count(payload) > 1:
                gif_decode_animated(payload)
            else:
                decode_image(payload)
        elif payload[:2] == JPEG_SOI:
            fmt = "jpeg"
            decode_image(payload)
        elif payload[:2] == BMP_SIGNATURE:
            fmt = "bmp"
            decode_image(payload)
        elif payload[:4] in TIFF_SIGNATURES:
            fmt = "tiff"
            decode_image(payload)
        elif payload[:4] in (ICO_SIGNATURE, CUR_SIGNATURE):
            fmt = "ico"
            # every entry must decode — a first-entry-only walk would
            # overstate coverage exactly like the GIF case above
            ico_decode_entries(payload)
        elif payload[:2] == b"\x1f\x8b" or payload[:7] == b"WARC/1.":
            from national_caseload_data_ingest_spark.operators.warc import (  # noqa: PLC0415
                gzip_members,
                warc_walk,
            )

            if payload[:7] == b"WARC/1.":
                fmt = "warc"
                warc_walk(payload)
            else:
                # gzip: decompress every member; WARC-framed payloads
                # route to the record walker (fmt reflects the routing)
                fmt = "gzip"
                members = gzip_members(payload)
                if members and members[0][:7] == b"WARC/1.":
                    fmt = "warc"
                    warc_walk(payload)
        elif payload[:4] == b"OggS":
            fmt = "ogg"
            from national_caseload_data_ingest_spark.operators.ogg import (  # noqa: PLC0415
                ogg_walk,
            )

            # structural walk (pages + CRCs + id header); sample decode
            # routes to host per the SCALING.md audio/video policy
            ogg_walk(payload)
        elif (
            payload[:3] == b"BZh"
            or payload[:6] == b"\xfd7zXZ\x00"
            or payload[:4] == b"\x28\xb5\x2f\xfd"
        ):
            from national_caseload_data_ingest_spark.operators.formats import (  # noqa: PLC0415
                archive_decompress,
            )

            fmt = (
                "bz2" if payload[:3] == b"BZh"
                else "xz" if payload[:6] == b"\xfd7zXZ\x00"
                else "zstd"
            )
            # zstd decodes (native header + bundled reference payload
            # decompressor); only no-content-size frames still gate;
            # corrupt members -> ValueError -> corrupt rows
            archive_decompress(payload)
        elif payload[:3] == b"ID3" or _mp3_header_plausible(payload):
            # the bare-sync sniff requires a fully parseable first frame
            # header (valid version/layer/bitrate/samplerate fields), so
            # arbitrary FF Ex binaries file as 'unknown', not mp3/corrupt
            fmt = "mp3"
            from national_caseload_data_ingest_spark.operators.mpeg import (  # noqa: PLC0415
                mp3_walk,
            )

            # structural walk only (headers + byte accounting); sample
            # decode routes to host per the SCALING.md audio/video policy
            mp3_walk(payload)
        else:
            return ("unknown", "unrouted",
                    "no native decoder claims this container")
        return (fmt, "decoded", "")
    except NotImplementedError as e:
        return (fmt, "gated", str(e))
    except ValueError as e:
        return (fmt, "corrupt", str(e))
    except (IndexError, EOFError, struct.error) as e:
        # truncated payloads surface as reads past the buffer inside
        # the decoders — corruption, phrased by the failing primitive
        return (fmt, "corrupt", str(e) or "truncated payload")


def _gate_report_payloads() -> list[bytes]:
    """The ten deterministic payload classes the report query rotates
    through (index = doc_id % 10): a decodable grayscale JPEG, a
    decodable VP8L WEBP, a GATED inter-frame VP8 WEBP (lossy KEY frames
    decode natively since round 10), a GATED 12-bps FLAC, a CORRUPT
    VP8L stream, an unrecognized container, a decodable ANIMATED WEBP
    (routed through the compositing demuxer — proof the classifier
    routes rather than gates once a decoder exists), a GATED
    inter-coded AVI (H264 handler — the reason string names the
    SCALING.md route-to-host policy), a DECODED free-format MP3 (the
    sync-scan inference landed in round 11 — this class is the
    gated→decoded transition proof), and a
    decodable (structurally walked) Ogg/Opus stream."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    from national_caseload_data_ingest_spark.operators.flac import (  # noqa: PLC0415
        FLAC_MAGIC,
        _MsbWriter,
    )
    from national_caseload_data_ingest_spark.operators.webp import (  # noqa: PLC0415
        webp_encode,
    )

    jpeg = jpeg_encode(
        (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 256
    )
    vp8l = webp_encode(
        np.arange(48, dtype=np.uint8).reshape(4, 4, 3), use_lz77=False
    )
    from national_caseload_data_ingest_spark.operators.vp8 import (  # noqa: PLC0415
        vp8_build_keyframe,
    )
    from national_caseload_data_ingest_spark.operators.vp8_tables import (  # noqa: PLC0415
        DC_PRED,
    )
    from national_caseload_data_ingest_spark.operators.webp import (  # noqa: PLC0415
        webp_encode_lossy,
    )

    # inter-coded VP8: a conformant key frame with the frame-type bit
    # flipped — the decoder's route-to-host gate (lossy KEY frames now
    # decode natively, so the gated class is the inter frame)
    kf = bytearray(
        vp8_build_keyframe(
            16, 16, [dict(ymode=DC_PRED, uv_mode=DC_PRED)]
        )
    )
    kf[0] |= 1
    vp8_inter = webp_encode_lossy(bytes(kf))
    info = _MsbWriter()
    info.write(4096, 16)
    info.write(4096, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(8000, 20)  # sample rate
    info.write(0, 3)  # mono
    info.write(11, 5)  # bps - 1 = 11 -> 12 bps: the decoder's depth gate
    info.write(0, 36)
    info.align()
    flac_8bps = (
        FLAC_MAGIC + bytes([0x80]) + (34).to_bytes(3, "big")
        + info.bytes() + b"\x00" * 16
    )
    bad_vp8l_body = b"\x00" + b"\x00" * 8  # signature byte must be 0x2f
    corrupt = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(bad_vp8l_body)) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(bad_vp8l_body)) + bad_vp8l_body
        + b"\x00"
    )
    unknown = b"\x00NOTAFORMAT\x00\x00\x00\x00"
    from national_caseload_data_ingest_spark.operators.webp import (  # noqa: PLC0415
        webp_encode_animated,
    )

    frame = np.full((4, 4, 4), 9, np.uint8)
    animated = webp_encode_animated(
        4, 4, [dict(x=0, y=0, rgba=frame, duration_ms=10)]
    )
    from national_caseload_data_ingest_spark.operators.video import (  # noqa: PLC0415
        avi_encode_mjpeg,
    )

    inter_avi = avi_encode_mjpeg([b"\x00" * 16], width=4, height=4).replace(
        b"MJPG", b"H264"
    )
    from national_caseload_data_ingest_spark.operators.mpeg import (  # noqa: PLC0415
        mp3_build,
    )
    from national_caseload_data_ingest_spark.operators.ogg import (  # noqa: PLC0415
        ogg_build,
    )

    # free-format MP3 (bitrate index 0): since round 11 the walker
    # infers the constant frame size by sync-scan, so this class is
    # DECODED — the living proof a gate narrows once the decoder lands
    mp3_free = mp3_build(n_frames=2, free_frame_bytes=48)
    ogg_ok = ogg_build(codec="opus", n_audio_pages=2)
    return [jpeg, vp8l, vp8_inter, flac_8bps, corrupt, unknown, animated,
            inter_avi, mp3_free, ogg_ok]


@query(
    "codec_gate_report",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 10 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'webp'
                WHEN 2 THEN 'webp' WHEN 3 THEN 'flac'
                WHEN 4 THEN 'webp' WHEN 5 THEN 'unknown'
                WHEN 6 THEN 'webp' WHEN 7 THEN 'avi'
                WHEN 8 THEN 'mp3' ELSE 'ogg' END AS fmt,
           CASE doc_id % 10 WHEN 0 THEN 'decoded' WHEN 1 THEN 'decoded'
                WHEN 2 THEN 'gated' WHEN 3 THEN 'gated'
                WHEN 4 THEN 'corrupt' WHEN 5 THEN 'unrouted'
                WHEN 6 THEN 'decoded' WHEN 7 THEN 'gated'
                WHEN 8 THEN 'decoded' ELSE 'decoded' END AS status,
           CASE doc_id % 10
                WHEN 2 THEN 'vp8: inter frame requires reference buffers; route to decoder host (SCALING.md video routing policy)'
                WHEN 3 THEN 'flac: only 8/16/24 bps supported, got 12'
                WHEN 4 THEN 'vp8l: bad signature byte'
                WHEN 5 THEN 'no native decoder claims this container'
                WHEN 7 THEN 'avi: codec ''H264'' is inter-coded; route to decoder host (SCALING.md video routing policy)'
                ELSE '' END AS reason
    FROM documents
    """,
)
def codec_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload gate report: (doc_id, fmt, status, reason) — the
    measured answer to "what do the honest codec gates exclude?".

    Each document is assigned one of ten deterministic payload
    classes (decodable JPEG, VP8L WEBP, animated WEBP, and Ogg/Opus;
    free-format MP3 and Ogg/Opus; gated inter-frame VP8 WEBP, 12-bps
    FLAC, and inter-coded AVI; a corrupt VP8L stream; an unrecognized
    container)
    and routed
    through :func:`classify_codec_payload`; gates and corruption become
    ROWS, not job failures.  At 100 TB the same kernel runs over a real
    binary-payload column and ``GROUP BY fmt, status, reason`` sizes
    each gate's excluded population — the routing decision SCALING.md
    defers to a codec host starts from this relation.  Oracle: the
    class → (fmt, status, reason) map is a closed-form CASE over
    doc_id, including the exact gate messages (they are part of the
    operator contract)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]

    def kernel(batches):
        classes = _gate_report_payloads()
        for pdf in batches:
            ids, fmts, stats, reasons = [], [], [], []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                fmt, status, reason = classify_codec_payload(
                    classes[did % 10]
                )
                ids.append(did)
                fmts.append(fmt)
                stats.append(status)
                reasons.append(reason)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "fmt": fmts,
                    "status": stats,
                    "reason": reasons,
                }
            )

    return fan_out(d.select("doc_id")).mapInPandas(
        kernel, schema="doc_id bigint, fmt string, status string, reason string"
    )


ANIM_W, ANIM_H = 16, 12  # animation canvas (192 px)


@query(
    "webp_animation_features",
    oracle=f"""
    SELECT doc_id,
           CAST(3 AS INTEGER) AS n_frames,
           CAST(150 + 3 * (doc_id % 5) AS BIGINT) AS total_duration_ms,
           CAST((doc_id % 256) * 160
                + CASE WHEN doc_id % 2 = 0 THEN 99 * 16 ELSE 0 END
                AS BIGINT) AS r_sum,
           CAST(((doc_id * 3) % 256) * 160 + 77 * 16 AS BIGINT) AS g_sum,
           CAST(255 * (192 - CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 16 END)
                AS BIGINT) AS a_sum
    FROM documents
    """,
)
def webp_animation_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-WEBP decode E2E (VP8X + ANIM + ANMF compositing,
    ``operators/webp.py``): per document, synthesize a deterministic
    3-frame animation — a full-canvas base frame, a moving 4x4 patch
    whose DISPOSE bit depends on doc parity (odd docs dispose it to
    transparent, leaving a hole in the final canvas), and a fixed
    second patch — encode through the real container writer, decode
    through the compositing demuxer, and hash-match closed-form channel
    sums of the final presented canvas plus the summed frame durations.
    Lossless VP8L frames keep every expectation exact, and the parity
    split makes BOTH dispose paths load-bearing in the oracle.  One
    narrow ``mapInPandas`` pass per doc; zero shuffle."""
    import numpy as np  # noqa: PLC0415

    from national_caseload_data_ingest_spark.operators.webp import (  # noqa: PLC0415
        webp_decode_animated,
        webp_encode_animated,
    )

    d = load_tables(spark, sf_dir, "documents")["documents"]

    def kernel(batches):
        for pdf in batches:
            ids, nfs, durs, rs, gs, als = [], [], [], [], [], []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                base = np.zeros((ANIM_H, ANIM_W, 4), np.uint8)
                base[..., 0] = did % 256
                base[..., 1] = (did * 3) % 256
                base[..., 2] = (did * 5) % 256
                base[..., 3] = 255
                p1 = np.zeros((4, 4, 4), np.uint8)
                p1[..., 0] = 99
                p1[..., 3] = 255
                p2 = np.zeros((4, 4, 4), np.uint8)
                p2[..., 1] = 77
                p2[..., 3] = 255
                extra = did % 5
                payload = webp_encode_animated(
                    ANIM_W,
                    ANIM_H,
                    [
                        dict(x=0, y=0, rgba=base,
                             duration_ms=40 + extra, blend=1),
                        dict(x=(did % 3) * 4, y=4, rgba=p1,
                             duration_ms=50 + extra, blend=1,
                             dispose=did % 2),
                        dict(x=12, y=0, rgba=p2,
                             duration_ms=60 + extra, blend=1),
                    ],
                )
                w, h, frames = webp_decode_animated(payload)
                final = frames[-1][1].astype(np.int64)
                ids.append(did)
                nfs.append(len(frames))
                durs.append(sum(dur for dur, _ in frames))
                rs.append(int(final[..., 0].sum()))
                gs.append(int(final[..., 1].sum()))
                als.append(int(final[..., 3].sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nfs, dtype="int32"),
                    "total_duration_ms": pd.Series(durs, dtype="int64"),
                    "r_sum": pd.Series(rs, dtype="int64"),
                    "g_sum": pd.Series(gs, dtype="int64"),
                    "a_sum": pd.Series(als, dtype="int64"),
                }
            )

    return fan_out(d.select("doc_id")).mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, n_frames int, total_duration_ms bigint, "
            "r_sum bigint, g_sum bigint, a_sum bigint"
        ),
    )


@query(
    "gif_animation_features",
    oracle="""
    SELECT doc_id,
           CAST(3 AS INTEGER) AS n_frames,
           CAST(12 + 3 * (doc_id % 5) AS BIGINT) AS total_delay_cs,
           CAST((doc_id % 251) * 168
                + CASE WHEN doc_id % 2 = 1 THEN 17 * 16 ELSE 199 * 16 END
                + 77 * 8 AS BIGINT) AS gray_sum
    FROM documents
    """,
)
def gif_animation_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF decode E2E (GCE compositing, ``gif_decode_animated``):
    per document, synthesize a 3-frame animation — an INTERLACED
    full-canvas base, a patch whose disposal method flips on doc parity
    (odd docs restore its rect to the background color), and a patch
    with a transparent-index column pair that must leave the base
    visible — then decode and hash-match the closed-form gray sum of
    the final presented canvas plus summed delays.  All three GIF89a
    animation mechanisms (interlace, disposal-to-background,
    transparency) are load-bearing in the oracle.  One narrow
    ``mapInPandas`` pass; zero shuffle."""
    import numpy as np  # noqa: PLC0415

    d = load_tables(spark, sf_dir, "documents")["documents"]

    def kernel(batches):
        for pdf in batches:
            ids, nfs, dls, gss = [], [], [], []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                b = did % 251
                delay = 4 + did % 5
                base = np.full((ANIM_H, ANIM_W), b, np.uint8)
                p1 = np.full((4, 4), 199, np.uint8)
                p2 = np.full((4, 4), 77, np.uint8)
                p2[:, :2] = 0
                payload = gif_encode_animated(
                    ANIM_W,
                    ANIM_H,
                    [
                        dict(left=0, top=0, idx=base, delay_cs=delay,
                             interlace=True),
                        dict(left=(did % 3) * 4, top=4, idx=p1,
                             delay_cs=delay,
                             disposal=2 if did % 2 else 1),
                        dict(left=12, top=0, idx=p2, delay_cs=delay,
                             transparent_idx=0),
                    ],
                    bg_index=17,
                )
                w, h, frames = gif_decode_animated(payload)
                final = frames[-1][1].astype(np.int64)
                ids.append(did)
                nfs.append(len(frames))
                dls.append(sum(dcs for dcs, _ in frames))
                gss.append(int(final[..., 0].sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nfs, dtype="int32"),
                    "total_delay_cs": pd.Series(dls, dtype="int64"),
                    "gray_sum": pd.Series(gss, dtype="int64"),
                }
            )

    return fan_out(d.select("doc_id")).mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, n_frames int, total_delay_cs bigint, "
            "gray_sum bigint"
        ),
    )

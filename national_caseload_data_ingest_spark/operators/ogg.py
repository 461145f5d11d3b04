"""Ogg container page walk: page-level parse with CRC verification,
codec identification (Vorbis / Opus / FLAC-in-Ogg / Theora), lacing
reassembly, and granule-based duration accounting.

The container twin of the MP3 walk (``operators/mpeg.py``) under the
same SCALING.md policy: perceptual-audio sample decode routes to a
decoder host, but the 100 TB-relevant work — codec census, channel/
rate extraction from the identification header, duration from the last
granule, corruption triage with REAL page CRCs — is structural and
runs natively as a per-payload Arrow kernel (one ``mapInPandas``, zero
shuffle).

Format reference: the public Ogg bitstream spec (RFC 3533) — 27-byte
page header, segment lacing (255-terminated runs), BOS/EOS/continued
flags, CRC-32 with polynomial 0x04C11DB7 (init 0, no reflection) over
the page with a zeroed CRC field; Vorbis I spec §4.2.1 and RFC 7845
§5.1 (OpusHead) for the identification headers.

The reference (/root/reference/ncd/) has no audio surface; this extends
the build brief's multimodal band.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from national_caseload_data_ingest_spark.operators.registry import fan_out, query
from national_caseload_data_ingest_spark.session import load_tables

_CRC_TABLE = None


def _ogg_crc(data: bytes) -> int:
    """RFC 3533 CRC-32: poly 0x04C11DB7, init 0, no reflection, no
    final XOR (NOT the zlib CRC)."""
    global _CRC_TABLE
    if _CRC_TABLE is None:
        table = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
                r &= 0xFFFFFFFF
            table.append(r)
        _CRC_TABLE = table
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def _identify(first_packet: bytes) -> tuple[str, int, int]:
    """(codec, channels, sample_rate) from a stream's identification
    packet.  Unknown codecs gate (route to host) rather than guess."""
    if first_packet[:7] == b"\x01vorbis":
        if len(first_packet) < 16:
            raise ValueError("ogg: truncated vorbis id header")
        return (
            "vorbis",
            first_packet[11],
            struct.unpack_from("<I", first_packet, 12)[0],
        )
    if first_packet[:8] == b"OpusHead":
        # RFC 7845 §5.1: version(1) channels(1) pre-skip(2) rate(4 LE)
        if len(first_packet) < 16:
            raise ValueError("ogg: truncated OpusHead")
        return (
            "opus",
            first_packet[9],
            struct.unpack_from("<I", first_packet, 12)[0],
        )
    if first_packet[:5] == b"\x7fFLAC":
        return ("flac", 0, 0)
    if first_packet[:7] == b"\x80theora":
        return ("theora", 0, 0)
    raise NotImplementedError(
        "ogg: unrecognized codec in BOS packet; route to decoder host"
    )


def ogg_walk(payload: bytes) -> dict:
    """Walk every page of an Ogg stream: verify each page CRC,
    reassemble the first (identification) packet through the lacing
    table, track the last granule position.  Returns the stream
    summary; ``ValueError`` on structural damage, the codec gate on
    unknown BOS packets."""
    pos = 0
    n_pages = 0
    serials: dict[int, dict] = {}
    while pos < len(payload):
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError("ogg: bad page capture pattern")
        if pos + 27 > len(payload):
            raise ValueError("ogg: truncated page header")
        (version, flags, granule, serial, _seq, crc, n_segs) = struct.unpack_from(
            "<BBqIIIB", payload, pos + 4
        )
        if version != 0:
            raise ValueError(f"ogg: unsupported page version {version}")
        lace_end = pos + 27 + n_segs
        if lace_end > len(payload):
            raise ValueError("ogg: truncated lacing table")
        lacing = payload[pos + 27 : lace_end]
        body_len = sum(lacing)
        page_end = lace_end + body_len
        if page_end > len(payload):
            raise ValueError("ogg: truncated page body")
        page = bytearray(payload[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError("ogg: page CRC mismatch")
        st = serials.setdefault(
            serial, {"first_packet": b"", "id_done": False, "granule": -1}
        )
        if flags & 0x02:  # BOS: the id packet starts here
            body = payload[lace_end:page_end]
            # first packet = lacing runs up to the first value < 255; a
            # trailing 255 means the packet CONTINUES on the next page
            plen, terminated = 0, False
            for v in lacing:
                plen += v
                if v < 255:
                    terminated = True
                    break
            st["first_packet"] = body[:plen]
            st["id_done"] = terminated
        elif not st["id_done"] and st["first_packet"]:
            # reassemble the spanning id packet (ADVICE r10): the page
            # after an unterminated BOS must carry the continuation flag
            if not (flags & 0x01):
                raise ValueError(
                    "ogg: BOS packet unterminated without continuation"
                )
            body = payload[lace_end:page_end]
            plen, terminated = 0, False
            for v in lacing:
                plen += v
                if v < 255:
                    terminated = True
                    break
            st["first_packet"] += body[:plen]
            st["id_done"] = terminated
        if granule >= 0:
            st["granule"] = max(st["granule"], granule)
        n_pages += 1
        pos = page_end
    if not n_pages:
        raise ValueError("ogg: no pages")
    first = serials[next(iter(serials))]
    if not first["id_done"]:
        raise ValueError("ogg: stream without a BOS page")
    codec, channels, rate = _identify(first["first_packet"])
    return {
        "n_pages": n_pages,
        "n_streams": len(serials),
        "codec": codec,
        "channels": channels,
        "sample_rate": rate,
        "last_granule": first["granule"],
        "total_bytes": pos,
    }


def ogg_build_page(
    serial: int, seq: int, granule: int, body: bytes, flags: int = 0
) -> bytes:
    """One conformant page (correct lacing + CRC) — the walker's twin."""
    lacing = bytearray()
    n = len(body)
    while n >= 255:
        lacing.append(255)
        n -= 255
    lacing.append(n)
    hdr = b"OggS" + struct.pack(
        "<BBqIIIB", 0, flags, granule, serial, seq, 0, len(lacing)
    )
    page = bytearray(hdr + bytes(lacing) + body)
    crc = _ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def ogg_build(
    *,
    codec: str = "vorbis",
    channels: int = 2,
    sample_rate: int = 44100,
    n_audio_pages: int = 3,
    body_len: int = 300,
    final_granule: int = 48_000,
    serial: int = 1,
) -> bytes:
    """Deterministic single-stream Ogg fixture: a BOS identification
    page followed by ``n_audio_pages`` data pages whose granules step
    up to ``final_granule`` (EOS on the last)."""
    if codec == "vorbis":
        ident = (
            b"\x01vorbis" + struct.pack("<IB", 0, channels)
            + struct.pack("<I", sample_rate) + bytes(16)
        )
    elif codec == "opus":
        ident = (
            b"OpusHead\x01" + bytes([channels]) + b"\x00\x00"
            + struct.pack("<I", sample_rate) + bytes(3)
        )
    else:
        raise ValueError("fixture supports vorbis/opus")
    out = ogg_build_page(serial, 0, -1 if codec == "vorbis" else 0, ident, 0x02)
    for i in range(n_audio_pages):
        granule = final_granule * (i + 1) // n_audio_pages
        flags = 0x04 if i == n_audio_pages - 1 else 0
        body = bytes((7 * (i + j)) % 256 for j in range(body_len))
        out += ogg_build_page(serial, i + 1, granule, body, flags)
    return out


def _synthesize_ogg_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per doc: codec vorbis/opus (doc_id mod 2), channels 1 + doc_id
    mod 2 rotated independently via mod 3, rate from a 3-entry table,
    3-5 audio pages (mod 3), body length 200 + doc_id mod 400 (so
    multi-run 255-lacing occurs), final granule doc_id·960 + 48000."""
    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            codec = "vorbis" if did % 2 == 0 else "opus"
            rate = (44100, 48000, 16000)[did % 3] if codec == "vorbis" else 48000
            payloads.append(
                ogg_build(
                    codec=codec,
                    channels=1 + (did // 2) % 2,
                    sample_rate=rate,
                    n_audio_pages=3 + did % 3,
                    body_len=200 + did % 400,
                    final_granule=did * 960 + 48_000,
                )
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "ogg_stream_features",
    oracle="""
    SELECT doc_id,
           CAST(1 + (3 + doc_id % 3) AS INTEGER) AS n_pages,
           CAST(1 AS INTEGER) AS n_streams,
           CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
           CAST(1 + (doc_id // 2) % 2 AS INTEGER) AS channels,
           CAST(CASE WHEN doc_id % 2 = 0 THEN
                  CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                       ELSE 16000 END
                ELSE 48000 END AS INTEGER) AS sample_rate,
           CAST(doc_id * 960 + 48000 AS BIGINT) AS last_granule
    FROM documents
    """,
)
def ogg_stream_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg stream-walk E2E: synthesize a conformant single-stream Ogg
    per document (vorbis/opus rotation, varying page counts, bodies
    long enough to exercise 255-run lacing, stepped granules) and walk
    every page — REAL CRC verification per page, identification-header
    parse, last-granule extraction — hash-matching the closed-form
    summary.  ``total_bytes`` is omitted from the oracle relation
    because it depends on the lacing arithmetic both sides would share;
    the CRC check subsumes byte-exactness anyway (any length drift
    breaks every subsequent page's CRC).  Two narrow ``mapInPandas``
    passes, no shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_ogg_payloads, schema="doc_id bigint, payload binary"
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                s = ogg_walk(bytes(payload))
                del s["total_bytes"]
                s["doc_id"] = int(doc_id)
                rows.append(s)
            out = pd.DataFrame(rows)
            yield out[
                [
                    "doc_id", "n_pages", "n_streams", "codec",
                    "channels", "sample_rate", "last_granule",
                ]
            ].astype(
                {
                    "doc_id": "int64", "n_pages": "int32",
                    "n_streams": "int32", "channels": "int32",
                    "sample_rate": "int32", "last_granule": "int64",
                }
            )

    return payloads.mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, n_pages int, n_streams int, codec string, "
            "channels int, sample_rate int, last_granule bigint"
        ),
    )

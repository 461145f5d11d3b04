"""WARC (Web ARChive) reader: the Common Crawl container — gzip
member-per-record framing, WARC/1.x header parse, HTTP response-payload
extraction.

This is the head of the engine's crawl-curation chain: a real pipeline
reads WARC (CC's native format) → canonicalizes URLs (``web.py``) →
extracts text (``text.py`` HTML) → quality/dedup.  The reader is pure
stdlib: zlib handles the gzip members (wbits=31, looped on
``unused_data`` — the member-per-record convention lets a 100 TB crawl
split at member boundaries), and the record grammar follows the public
ISO 28500 / WARC 1.1 spec (version line, CRLF header block, exactly
``Content-Length`` body octets, CRLF CRLF separator).

Spark shape: the established per-payload Arrow kernel — one
``mapInPandas`` over the binary column, zero shuffle.  At real scale
one WARC file is ~1 GiB holding ~10⁵ records; there the same walker
runs per FILE (binaryFile source) with records exploded to rows, still
shuffle-free until the first dedup/groupBy downstream.

Chunked transfer-encoding is de-chunked (size-line/CRLF frames, chunk
extensions tolerated, trailer ignored) and ``Content-Encoding: gzip``
payloads are gunzipped — the two encodings real Common Crawl responses
actually carry.  Honest gates remain for genuinely exotic encodings
(``br``, ``deflate``, compress) via ``NotImplementedError``; structural
damage (bad version line, truncated body/chunk, malformed
Content-Length) raises ``ValueError``.

The reference (/root/reference/ncd/) has no web-archive surface; this
extends the build brief's LLM-pipeline band.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from national_caseload_data_ingest_spark.operators.registry import fan_out, query
from national_caseload_data_ingest_spark.session import load_tables

GZIP_MAGIC = b"\x1f\x8b"


def gzip_members(payload: bytes) -> list[bytes]:
    """Split a multi-member gzip stream into decompressed members —
    the WARC framing primitive (one record per member)."""
    out = []
    rest = payload
    while rest:
        if rest[:2] != GZIP_MAGIC:
            raise ValueError("gzip: bad member magic")
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(rest))
        except zlib.error as e:
            raise ValueError(f"gzip: corrupt member ({e})")
        if not d.eof:
            raise ValueError("gzip: truncated member")
        rest = d.unused_data
    if not out:
        raise ValueError("gzip: empty stream")
    return out


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if b":" not in line:
            raise ValueError("warc: malformed header line")
        k, v = line.split(b":", 1)
        headers[k.strip().decode("ascii", "replace").lower()] = v.strip().decode(
            "ascii", "replace"
        )
    return headers


def warc_parse_record(data: bytes) -> dict:
    """One WARC record: version line + CRLF headers + blank line +
    exactly Content-Length body octets."""
    if not data.startswith(b"WARC/1."):
        raise ValueError("warc: bad version line")
    head_end = data.find(b"\r\n\r\n")
    if head_end < 0:
        raise ValueError("warc: unterminated header block")
    first_nl = data.find(b"\r\n")
    headers = _parse_headers(data[first_nl + 2 : head_end])
    if "content-length" not in headers:
        raise ValueError("warc: missing Content-Length")
    # Validate before int(): a malformed value must raise the module's
    # 'warc:' ValueError, and a negative value must not slice silently
    # to an empty body.  str.isdigit admits no sign, so n >= 0 holds.
    if not headers["content-length"].isdigit():
        raise ValueError("warc: bad Content-Length")
    n = int(headers["content-length"])
    body = data[head_end + 4 : head_end + 4 + n]
    if len(body) != n:
        raise ValueError("warc: truncated record body")
    return {
        "type": headers.get("warc-type", ""),
        "target_uri": headers.get("warc-target-uri", ""),
        "headers": headers,
        "body": body,
    }


def dechunk(data: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-encoded body: hex size line
    (chunk extensions after ``;`` ignored) + CRLF + chunk octets + CRLF,
    terminated by a zero-size chunk; any trailer headers are ignored."""
    out = []
    pos = 0
    while True:
        nl = data.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("warc: unterminated chunk-size line")
        size_tok = data[pos:nl].split(b";", 1)[0].strip()
        try:
            n = int(size_tok, 16)
        except ValueError:
            raise ValueError("warc: bad chunk size") from None
        pos = nl + 2
        if n == 0:
            return b"".join(out)
        chunk = data[pos : pos + n]
        if len(chunk) != n:
            raise ValueError("warc: truncated chunk")
        out.append(chunk)
        pos += n
        if data[pos : pos + 2] != b"\r\n":
            raise ValueError("warc: missing chunk terminator")
        pos += 2


def http_payload(body: bytes) -> tuple[int, dict, bytes]:
    """Split an HTTP response block into (status, headers, payload).

    Decodes the two layers real crawl captures carry, in wire order:
    ``Transfer-Encoding: chunked`` first (the outer hop-by-hop layer),
    then ``Content-Encoding: gzip``.  Other encodings gate honestly."""
    head_end = body.find(b"\r\n\r\n")
    if head_end < 0 or not body.startswith(b"HTTP/1."):
        raise ValueError("warc: record body is not an HTTP response")
    first_nl = body.find(b"\r\n")
    status_line = body[:first_nl].decode("ascii", "replace").split()
    if len(status_line) < 2 or not status_line[1].isdigit():
        raise ValueError("warc: malformed HTTP status line")
    headers = _parse_headers(body[first_nl + 2 : head_end])
    payload = body[head_end + 4 :]
    te = headers.get("transfer-encoding", "").lower()
    if te == "chunked":
        payload = dechunk(payload)
    elif te not in ("", "identity"):
        raise NotImplementedError(
            f"warc: transfer-encoding {te!r} not supported; route to "
            "decode host"
        )
    ce = headers.get("content-encoding", "").lower()
    if ce in ("gzip", "x-gzip"):
        payload = b"".join(gzip_members(payload))
    elif ce not in ("", "identity"):
        raise NotImplementedError(
            f"warc: content-encoding {ce!r} not supported; route to "
            "decode host"
        )
    return int(status_line[1]), headers, payload


def warc_walk(payload: bytes) -> list[dict]:
    """All records of a WARC payload — gzip member-per-record or plain
    concatenated records (both spec framings)."""
    if payload[:2] == GZIP_MAGIC:
        return [warc_parse_record(m) for m in gzip_members(payload)]
    if not payload.startswith(b"WARC/1."):
        raise ValueError("warc: neither gzip members nor a WARC record")
    records, pos = [], 0
    while pos < len(payload):
        head_end = payload.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("warc: unterminated header block")
        rec = warc_parse_record(payload[pos:])
        records.append(rec)
        pos = head_end + 4 + len(rec["body"])
        if payload[pos : pos + 4] != b"\r\n\r\n":
            raise ValueError("warc: missing record separator")
        pos += 4
    return records


def warc_build(records, gzip_framing: bool = True) -> bytes:
    """Fixture builder: ``(warc_type, target_uri, body)`` triples →
    a conformant WARC payload (gzip member-per-record by default)."""
    blobs = []
    for warc_type, target_uri, body in records:
        head = f"WARC/1.0\r\nWARC-Type: {warc_type}\r\n"
        if target_uri:
            head += f"WARC-Target-URI: {target_uri}\r\n"
        head += f"Content-Length: {len(body)}\r\n\r\n"
        blob = head.encode("ascii") + body
        if gzip_framing:
            c = zlib.compressobj(6, zlib.DEFLATED, 31)
            blobs.append(c.compress(blob) + c.flush())
        else:
            blobs.append(blob + b"\r\n\r\n")
    return b"".join(blobs)


_HTML_WRAP = len(b"<html></html>")


def _chunk_encode(data: bytes, seed: int) -> bytes:
    """Chunked transfer-encode ``data`` in seed-derived chunk sizes; the
    first size line carries a chunk extension so the parser's
    extension-tolerance is load-bearing."""
    size = 7 + seed % 23
    out = bytearray()
    first = True
    for i in range(0, len(data), size):
        ch = data[i : i + size]
        ext = b";fx=1" if first else b""
        out += f"{len(ch):x}".encode() + ext + b"\r\n" + ch + b"\r\n"
        first = False
    out += b"0\r\n\r\n"
    return bytes(out)


def _synth_records(did: int):
    """Deterministic 3-record capture: warcinfo + request + response.
    The response payload is ``<html>`` + bytes ((did + k) mod 64 + 32,
    k < 64 + did mod 128) + ``</html>`` behind a status from
    (200, 301, 404) by did mod 3 — printable, position-derived, and
    closed-form summable.  The response body's WIRE encoding rotates by
    did mod 4: identity / chunked / gzip Content-Encoding / chunked over
    gzip — so the oracle's decoded-payload closed form only matches if
    de-chunking and gunzipping both recover the exact bytes."""
    host = f"w{did % 7}.example{did % 13}." + ("com", "org", "net")[did % 3]
    uri = f"https://{host}/page{did % 10}"
    info = b"software: fixture-crawler/1.0\r\n"
    req = f"GET /page{did % 10} HTTP/1.1\r\nHost: {host}\r\n\r\n".encode()
    n = 64 + did % 128
    html = (
        b"<html>"
        + bytes((did + k) % 64 + 32 for k in range(n))
        + b"</html>"
    )
    status = (200, 301, 404)[did % 3]
    mode = did % 4
    wire = html
    extra = ""
    if mode in (2, 3):
        c = zlib.compressobj(6, zlib.DEFLATED, 31)
        wire = c.compress(wire) + c.flush()
        extra += "Content-Encoding: gzip\r\n"
    if mode in (1, 3):
        wire = _chunk_encode(wire, did)
        extra += "Transfer-Encoding: chunked\r\n"
    resp = (
        f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n"
        f"{extra}\r\n".encode()
        + wire
    )
    return [
        ("warcinfo", "", info),
        ("request", uri, req),
        ("response", uri, resp),
    ]


def _synthesize_warc_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """gzip member-per-record on even doc_ids, plain framing on odd —
    both spec framings load-bearing in one query."""
    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            payloads.append(
                warc_build(_synth_records(did), gzip_framing=did % 2 == 0)
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


@query(
    "warc_record_features",
    oracle=f"""
    WITH geom AS (
        SELECT doc_id, 64 + doc_id % 128 AS n FROM documents
    ),
    body AS (
        SELECT g.doc_id, g.n,
               SUM((g.doc_id + t.k) % 64 + 32) AS inner_sum
        FROM geom g, range(0, 192) t(k)
        WHERE t.k < g.n
        GROUP BY g.doc_id, g.n
    )
    SELECT doc_id,
           CAST(3 AS INTEGER) AS n_records,
           CAST(1 AS INTEGER) AS n_responses,
           'w' || (doc_id % 7) || '.example' || (doc_id % 13) || '.' ||
               CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                    ELSE 'net' END AS target_host,
           CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 301
                ELSE 404 END AS INTEGER) AS http_status,
           CAST(n + {_HTML_WRAP} AS BIGINT) AS payload_bytes,
           CAST(inner_sum
                + 60 + 104 + 116 + 109 + 108 + 62
                + 60 + 47 + 104 + 116 + 109 + 108 + 62
                AS BIGINT) AS payload_checksum
    FROM body
    """,
)
def warc_record_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion E2E: synthesize a 3-record capture per document
    (warcinfo + request + response; gzip member-per-record framing on
    even doc_ids, plain framing on odd; response wire encoding rotating
    identity/chunked/gzip/chunked-over-gzip by doc_id mod 4), walk the
    records, and extract the DECODED HTTP response payload — host,
    status, exact payload byte count and checksum — hash-matching the
    closed form.  A mis-split gzip member, an off-by-one in the
    Content-Length body slice, a mangled HTTP head, a dropped chunk, or
    a bad gunzip all break the match.  Two narrow ``mapInPandas``
    passes, no shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_warc_payloads, schema="doc_id bigint, payload binary"
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                records = warc_walk(bytes(payload))
                responses = [r for r in records if r["type"] == "response"]
                status, _hdrs, body = http_payload(responses[0]["body"])
                host = responses[0]["target_uri"].split("://", 1)[1].split(
                    "/", 1
                )[0]
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_records": len(records),
                        "n_responses": len(responses),
                        "target_host": host,
                        "http_status": status,
                        "payload_bytes": len(body),
                        "payload_checksum": sum(body),
                    }
                )
            out = pd.DataFrame(rows)
            yield out.astype(
                {
                    "doc_id": "int64", "n_records": "int32",
                    "n_responses": "int32", "http_status": "int32",
                    "payload_bytes": "int64", "payload_checksum": "int64",
                }
            )

    return payloads.mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, n_records int, n_responses int, "
            "target_host string, http_status int, payload_bytes bigint, "
            "payload_checksum bigint"
        ),
    )

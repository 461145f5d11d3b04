"""POSIX ustar (tar) shard reader — the WebDataset convention.

Large-scale training pipelines ship multimodal samples as TAR SHARDS
(WebDataset: members grouped by basename-before-first-dot into samples,
e.g. ``000123.jpg`` + ``000123.txt`` + ``000123.cls``), because tar is
append-streamable, splittable at shard granularity, and every storage
system speaks it.  This module parses the public POSIX.1-1988 ustar
layout natively: 512-byte headers (name 100, mode 8, uid/gid 8+8,
size 12, mtime 12, chksum 8, typeflag 1, linkname 100, magic 6,
version 2, uname/gname 32+32, devmajor/minor 8+8, prefix 155), octal
numeric fields, the space-filled-checksum rule, data rounded up to
512-byte blocks, and the two-zero-block terminator.

Tar dialects (round-11 second sweep — the former honest gates): GNU
long-name/long-linkname members (typeflag ``L``/``K``, the
``././@LongLink`` convention: data = the NUL-terminated name applying
to the NEXT member) and PAX extended headers (``x`` per-file, ``g``
global; data = ``"<len> key=value\\n"`` records where ``len`` counts
the whole record including its own digits) are DECODED — ``path`` /
``linkpath`` / ``size`` / ``mtime`` records override the following
header's fields, with POSIX precedence per-file ``x`` > GNU ``L`` >
global ``g`` > header.  Real WebDataset shards hit these as soon as a
sample key exceeds the 100-byte ustar name field, which is why the gate
had to go.  Structural damage (bad checksum, non-octal numeric field,
malformed pax record, truncated member) still raises ``ValueError``.

Spark shape: the established per-payload Arrow kernel — one
``mapInPandas`` over the binary column, zero shuffle; sample grouping
is per-shard local (WebDataset keeps a sample's members adjacent), so
it happens inside the kernel, not as a shuffle.

Relationship to ``formats.tar_roundtrip_documents``: that query proves
SINK+SOURCE fidelity through stdlib ``tarfile``; this module is the
spec-native READER with header-checksum verification, honest gates for
the tar dialects stdlib silently accepts, and the WebDataset sample
semantics on top — ``tests/test_tarshard.py`` cross-validates the two
implementations against each other in both directions.

The reference (/root/reference/ncd/) has no tar surface; this extends
the build brief's LLM-pipeline band.
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

BLOCK = 512


def _octal(field: bytes, what: str) -> int:
    s = field.rstrip(b"\x00 ").lstrip(b" ")
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError:
        raise ValueError(f"tar: bad octal {what} field") from None


def _parse_pax(data: bytes) -> dict[str, str]:
    """PAX extended-header records: ``"<len> key=value\\n"`` where
    ``len`` is the decimal byte length of the WHOLE record including its
    own digits, the space, and the trailing newline (POSIX.1-2001)."""
    recs: dict[str, str] = {}
    pos = 0
    while pos < len(data):
        sp = data.find(b" ", pos)
        if sp < 0:
            raise ValueError("tar: bad pax record (no length delimiter)")
        try:
            ln = int(data[pos:sp])
        except ValueError:
            raise ValueError("tar: bad pax record (non-decimal length)") \
                from None
        if ln <= sp - pos or pos + ln > len(data) \
                or data[pos + ln - 1] != 0x0A:
            raise ValueError("tar: bad pax record (length/newline)")
        kv = data[sp + 1 : pos + ln - 1]
        key, eq, val = kv.partition(b"=")
        if not eq:
            raise ValueError("tar: bad pax record (no '=')")
        recs[key.decode("utf-8")] = val.decode("utf-8")
        pos += ln
    return recs


def tar_walk(payload: bytes) -> list[dict]:
    """All members of a ustar/PAX/GNU stream: ``{"name", "size",
    "mtime", "typeflag", "linkname", "data"}`` per member, checksums
    verified.  GNU ``L``/``K`` and PAX ``x``/``g`` headers are consumed
    and applied to the member they describe (never emitted as members
    themselves), with precedence ``x`` > ``L``/``K`` > ``g`` > header."""
    members = []
    pos = 0
    pending_name: str | None = None
    pending_link: str | None = None
    pax_next: dict[str, str] = {}
    pax_global: dict[str, str] = {}
    while pos + BLOCK <= len(payload):
        hdr = payload[pos : pos + BLOCK]
        if hdr == b"\x00" * BLOCK:
            # terminator: two zero blocks (tolerate one + EOF padding)
            if pending_name or pending_link or pax_next:
                raise ValueError(
                    "tar: dangling extended header at end of archive")
            return members
        magic = hdr[257:263]
        if magic not in (b"ustar\x00", b"ustar "):
            raise ValueError("tar: bad ustar magic")
        stored = _octal(hdr[148:156], "chksum")
        # checksum = unsigned byte sum with the chksum field as spaces
        actual = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stored != actual:
            raise ValueError("tar: header checksum mismatch")
        typeflag = chr(hdr[156])
        hdr_size = _octal(hdr[124:136], "size")
        if typeflag in ("L", "K", "x", "g"):
            # extended header: data describes the NEXT member
            pos += BLOCK
            data = payload[pos : pos + hdr_size]
            if len(data) != hdr_size:
                raise ValueError("tar: truncated extended header data")
            pos += (hdr_size + BLOCK - 1) // BLOCK * BLOCK
            if typeflag == "L":
                pending_name = data.rstrip(b"\x00").decode(
                    "utf-8", "replace")
            elif typeflag == "K":
                pending_link = data.rstrip(b"\x00").decode(
                    "utf-8", "replace")
            elif typeflag == "x":
                pax_next.update(_parse_pax(data))
            else:  # "g": defaults for ALL subsequent members
                pax_global.update(_parse_pax(data))
            continue
        name = hdr[0:100].rstrip(b"\x00").decode("utf-8", "replace")
        prefix = hdr[345:500].rstrip(b"\x00").decode("utf-8", "replace")
        if prefix:
            name = prefix + "/" + name
        linkname = hdr[157:257].rstrip(b"\x00").decode("utf-8", "replace")
        # PAX/GNU overrides (x > L/K > g > header); pax size/mtime are
        # decimal (mtime possibly fractional — seconds part kept)
        name = pax_next.get("path") or pending_name \
            or pax_global.get("path") or name
        linkname = pax_next.get("linkpath") or pending_link \
            or pax_global.get("linkpath") or linkname
        size_s = pax_next.get("size", pax_global.get("size"))
        size = int(size_s) if size_s is not None else hdr_size
        mtime_s = pax_next.get("mtime", pax_global.get("mtime"))
        mtime = int(float(mtime_s)) if mtime_s is not None \
            else _octal(hdr[136:148], "mtime")
        pending_name = pending_link = None
        pax_next = {}
        pos += BLOCK
        data = payload[pos : pos + size]
        if len(data) != size:
            raise ValueError("tar: truncated member data")
        pos += (size + BLOCK - 1) // BLOCK * BLOCK
        members.append(
            {
                "name": name,
                "size": size,
                "mtime": mtime,
                "typeflag": typeflag,
                "linkname": linkname,
                "data": data,
            }
        )
    if members:
        # ran off the end without a zero-block terminator
        raise ValueError("tar: missing end-of-archive blocks")
    raise ValueError("tar: empty or truncated archive")


def _ustar_header(
    name_bytes: bytes, size: int, mtime: int, typeflag: str
) -> bytes:
    hdr = bytearray(BLOCK)
    hdr[0 : len(name_bytes)] = name_bytes
    hdr[100:108] = b"0000644\x00"
    hdr[108:116] = b"0000000\x00"
    hdr[116:124] = b"0000000\x00"
    hdr[124:136] = f"{size:011o}\x00".encode()
    hdr[136:148] = f"{mtime:011o}\x00".encode()
    hdr[148:156] = b" " * 8
    hdr[156] = ord(typeflag)
    hdr[257:263] = b"ustar\x00"
    hdr[263:265] = b"00"
    chk = sum(hdr)
    hdr[148:156] = f"{chk:06o}\x00 ".encode()
    return bytes(hdr)


def pax_record(key: str, value: str) -> bytes:
    """One PAX record with the self-counting length prefix: ``len`` is
    the byte length of the entire record including its own digits."""
    body = f" {key}={value}\n".encode("utf-8")
    ln = len(body) + 1
    while len(str(ln)) + len(body) != ln:
        ln = len(str(ln)) + len(body)
    return str(ln).encode() + body


def _padded(data: bytes) -> bytes:
    return data + bytes((-len(data)) % BLOCK)


def tar_build(members, mtime: int = 0, longname: str = "pax") -> bytes:
    """Fixture builder: ``(name, data)`` pairs → a conformant ustar
    stream (the walker's testable twin).  Names over 100 bytes emit the
    ``longname`` dialect first: ``"pax"`` → an ``x`` header with a
    ``path`` record (POSIX.1-2001, what GNU tar --format=posix writes);
    ``"gnu"`` → a typeflag-``L`` ``././@LongLink`` member."""
    out = bytearray()
    for name, data in members:
        nb = name.encode("utf-8")
        if len(nb) > 100:
            if longname == "pax":
                rec = pax_record("path", name)
                out += _ustar_header(
                    b"PaxHeader/" + nb[:90], len(rec), mtime, "x")
                out += _padded(rec)
            elif longname == "gnu":
                body = nb + b"\x00"
                out += _ustar_header(
                    b"././@LongLink", len(body), mtime, "L")
                out += _padded(body)
            else:
                raise ValueError(f"tar_build: unknown dialect {longname!r}")
            nb = nb[:100]
        out += _ustar_header(nb, len(data), mtime, "0")
        out += _padded(data)
    out += bytes(2 * BLOCK)
    return bytes(out)


def wds_sample_key(name: str) -> str:
    """WebDataset sample key: the basename up to the FIRST dot."""
    base = name.rsplit("/", 1)[-1]
    return base.split(".", 1)[0]


def _synth_shard(did: int) -> bytes:
    """Deterministic WebDataset shard: 2-4 samples, each a ``.txt``
    member (position-derived printable bytes, closed-form summable) and
    a ``.cls`` member (one ASCII digit) — except on docs ≡ 0 mod 7,
    where the LAST sample's ``.cls`` is missing (the incomplete-sample
    case a real pipeline must detect).  Docs ≡ 1 mod 5 store members
    under a >100-byte directory prefix, so the walker's PAX (even dids)
    or GNU-``L`` (odd dids) long-name path is load-bearing: dropping or
    mis-associating the extended header would surface ``PaxHeader/...``
    or ``././@LongLink`` names and break the sample grouping."""
    n_samples = 2 + did % 3
    prefix = ""
    if did % 5 == 1:
        prefix = "/".join(f"dir{did:08d}{c * 20}" for c in "abcde") + "/"
    members = []
    for s in range(n_samples):
        key = f"{did:08d}-{s}"
        ln = 32 + (did + s) % 32
        txt = bytes((did + s + k) % 64 + 32 for k in range(ln))
        members.append((f"{prefix}{key}.txt", txt))
        if not (did % 7 == 0 and s == n_samples - 1):
            members.append(
                (f"{prefix}{key}.cls", str((did + s) % 10).encode()))
    return tar_build(
        members, mtime=did, longname="pax" if did % 2 == 0 else "gnu")


def _synthesize_shards(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "payload": [_synth_shard(int(d)) for d in pdf["doc_id"]],
            }
        )


@query(
    "webdataset_shard_features",
    oracle="""
    WITH geom AS (
        SELECT doc_id, 2 + doc_id % 3 AS n_samples FROM documents
    ),
    txt AS (
        SELECT g.doc_id, g.n_samples, t.s,
               32 + (g.doc_id + t.s) % 32 AS ln
        FROM geom g, range(0, 4) t(s)
        WHERE t.s < g.n_samples
    ),
    txt_sum AS (
        SELECT doc_id, n_samples,
               SUM(ln) AS txt_bytes,
               SUM((SELECT SUM((doc_id + s + k.k) % 64 + 32)
                    FROM range(0, 64) k(k) WHERE k.k < ln)) AS txt_check,
               SUM(CASE WHEN doc_id % 7 = 0 AND s = n_samples - 1
                        THEN 0 ELSE 1 END) AS n_cls,
               SUM(CASE WHEN doc_id % 7 = 0 AND s = n_samples - 1
                        THEN 0 ELSE 48 + (doc_id + s) % 10 END) AS cls_check
        FROM txt
        GROUP BY doc_id, n_samples
    )
    SELECT doc_id,
           CAST(n_samples + n_cls AS INTEGER) AS n_members,
           CAST(n_samples AS INTEGER) AS n_samples,
           CAST(txt_bytes + n_cls AS BIGINT) AS payload_bytes,
           CAST(txt_check + cls_check AS BIGINT) AS payload_checksum,
           CAST(n_samples - n_cls AS INTEGER) AS n_incomplete,
           printf('%08d-0', doc_id) AS first_key
    FROM txt_sum
    """,
)
def webdataset_shard_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard ingestion E2E: synthesize a ustar shard per
    document (2-4 samples of ``.txt`` + ``.cls`` members; the last
    sample's ``.cls`` missing on docs ≡ 0 mod 7), walk every member
    with checksum verification, group members into samples by the
    WebDataset key convention INSIDE the kernel (samples are adjacent
    within a shard — no shuffle), and emit exact member/sample counts,
    byte totals, a data checksum, and the incomplete-sample count —
    all hash-matched against the closed form.  A mis-parsed octal size,
    a wrong 512-block advance, or a broken key grouping breaks the
    match.  Two narrow ``mapInPandas`` passes, zero shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    payloads = fan_out(d.select("doc_id")).mapInPandas(
        _synthesize_shards, schema="doc_id bigint, payload binary"
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                members = tar_walk(bytes(payload))
                samples: dict[str, set] = {}
                for m in members:
                    key = wds_sample_key(m["name"])
                    ext = m["name"].rsplit(".", 1)[-1]
                    samples.setdefault(key, set()).add(ext)
                incomplete = sum(
                    1 for exts in samples.values()
                    if exts != {"txt", "cls"}
                )
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_members": len(members),
                        "n_samples": len(samples),
                        "payload_bytes": sum(m["size"] for m in members),
                        "payload_checksum": sum(
                            sum(m["data"]) for m in members
                        ),
                        "n_incomplete": incomplete,
                        "first_key": min(samples),
                    }
                )
            yield pd.DataFrame(rows).astype(
                {
                    "doc_id": "int64", "n_members": "int32",
                    "n_samples": "int32", "payload_bytes": "int64",
                    "payload_checksum": "int64", "n_incomplete": "int32",
                }
            )

    return payloads.mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, n_members int, n_samples int, "
            "payload_bytes bigint, payload_checksum bigint, "
            "n_incomplete int, first_key string"
        ),
    )

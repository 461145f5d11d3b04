"""Pure-stdlib CBOR codec (RFC 8949) and its distributed Spark plumbing
— the fourth binary interchange family (Avro container / MessagePack /
protobuf wire being the others).  CBOR is the IETF standard binary
object format (COSE, WebAuthn, CoAP, sensor feeds).

Implemented from the RFC:

* all major types: unsigned/negative integers (0/1), byte strings (2),
  text strings (3), arrays (4), maps (5), tags (6), simple/float (7);
* PREFERRED SERIALIZATION (§4.1): integers in the shortest width
  (immediate / uint8 / uint16 / uint32 / uint64), floats in the
  shortest of float16/float32/float64 that round-trips the value —
  so real data exercises every width on the decode side;
* float16 (IEEE 754 binary16) encode/decode via struct's ``e`` format;
* INDEFINITE-LENGTH strings, arrays, and maps with the ``break`` stop
  code (decode side; the encoder emits definite lengths, as preferred
  serialization requires);
* timestamps as tag 0 (RFC 3339 text, §3.4.1) — exact to the
  microsecond, unlike the lossy float form of tag 1; tag 1 decodes too
  (int/float epoch seconds);
* unknown tags raise ``NotImplementedError`` (loud gate); reserved
  additional-info values and ill-formed items raise ``ValueError``.

Stream layout: each Spark partition becomes one CBOR SEQUENCE
(RFC 8742: concatenated data items), one definite-length array per
row.  Encode/decode are narrow Arrow ``mapInPandas`` kernels, zero
shuffle.  Tests pin the RFC 8949 Appendix A example table — the spec's
own published vectors — as the cross-implementation check.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_BREAK = object()


def _head(out: bytearray, major: int, arg: int) -> None:
    """Encode a major type + argument in the shortest form (§4.2.1)."""
    mt = major << 5
    if arg < 24:
        out.append(mt | arg)
    elif arg < 0x100:
        out.append(mt | 24)
        out.append(arg)
    elif arg < 0x10000:
        out.append(mt | 25)
        out += arg.to_bytes(2, "big")
    elif arg < 0x100000000:
        out.append(mt | 26)
        out += arg.to_bytes(4, "big")
    else:
        out.append(mt | 27)
        out += arg.to_bytes(8, "big")


def _encode_float(out: bytearray, v: float) -> None:
    """Shortest float that round-trips (preferred serialization)."""
    if not math.isnan(v):
        try:
            if struct.unpack(">e", struct.pack(">e", v))[0] == v:
                out.append(0xF9)
                out += struct.pack(">e", v)
                return
        except OverflowError:
            pass
        try:
            if struct.unpack(">f", struct.pack(">f", v))[0] == v:
                out.append(0xFA)
                out += struct.pack(">f", v)
                return
        except OverflowError:
            pass
    out.append(0xFB)
    out += struct.pack(">d", v)


def cbor_encode(out: bytearray, v) -> None:
    import numpy as np  # noqa: PLC0415

    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT or v is pd.NA:
        out.append(0xF6)
    elif isinstance(v, bool):
        out.append(0xF5 if v else 0xF4)
    elif isinstance(v, int):
        if v >= 0:
            if v >= 1 << 64:
                raise ValueError("cbor: integer above uint64 range")
            _head(out, 0, v)
        else:
            if -1 - v >= 1 << 64:
                raise ValueError("cbor: integer below -2^64 range")
            _head(out, 1, -1 - v)
    elif isinstance(v, float):
        if v != v:
            out += b"\xf9\x7e\x00"  # canonical NaN
        else:
            _encode_float(out, v)
    elif isinstance(v, pd.Timestamp):
        out.append(0xC0)  # tag 0: RFC 3339 text time
        iso = v.isoformat()
        cbor_encode(out, iso)
    elif isinstance(v, str):
        b = v.encode("utf-8")
        _head(out, 3, len(b))
        out += b
    elif isinstance(v, (bytes, bytearray)):
        _head(out, 2, len(v))
        out += bytes(v)
    elif isinstance(v, (list, tuple)):
        _head(out, 4, len(v))
        for item in v:
            cbor_encode(out, item)
    elif isinstance(v, dict):
        _head(out, 5, len(v))
        for k, val in v.items():
            cbor_encode(out, k)
            cbor_encode(out, val)
    else:
        raise NotImplementedError(
            f"cbor: unsupported python type {type(v).__name__}"
        )


_MAX_DEPTH = 256


class _Decoder:
    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.depth = 0

    def _take(self, n: int) -> bytes:
        if self.pos + n > len(self.d):
            raise ValueError("cbor: truncated item")
        out = self.d[self.pos : self.pos + n]
        self.pos += n
        return out

    def _arg(self, info: int) -> int | None:
        """Argument value; None signals indefinite length (info 31)."""
        if info < 24:
            return info
        if info == 24:
            return self._take(1)[0]
        if info == 25:
            return int.from_bytes(self._take(2), "big")
        if info == 26:
            return int.from_bytes(self._take(4), "big")
        if info == 27:
            return int.from_bytes(self._take(8), "big")
        if info == 31:
            return None
        raise ValueError(f"cbor: reserved additional info {info}")

    def item(self):
        # adversarial nesting must be a clean gate, not a
        # RecursionError that kills the executor
        self.depth += 1
        if self.depth > _MAX_DEPTH:
            raise ValueError("cbor: nesting deeper than 256")
        try:
            return self._item()
        finally:
            self.depth -= 1

    def _item(self):
        ib = self._take(1)[0]
        major, info = ib >> 5, ib & 0x1F
        if major == 0:
            arg = self._arg(info)
            if arg is None:
                raise ValueError("cbor: indefinite-length integer")
            return arg
        if major == 1:
            arg = self._arg(info)
            if arg is None:
                raise ValueError("cbor: indefinite-length integer")
            return -1 - arg
        if major == 2 or major == 3:
            arg = self._arg(info)
            if arg is None:  # indefinite: definite chunks until break
                chunks = []
                while True:
                    nb = self._take(1)[0]
                    if nb == 0xFF:
                        break
                    if nb >> 5 != major or nb & 0x1F == 31:
                        raise ValueError(
                            "cbor: bad chunk in indefinite string")
                    n = self._arg(nb & 0x1F)
                    chunks.append(self._take(n))
                b = b"".join(chunks)
            else:
                b = self._take(arg)
            return b if major == 2 else b.decode("utf-8")
        if major == 4:
            arg = self._arg(info)
            out = []
            if arg is None:
                while True:
                    v = self._item_or_break()
                    if v is _BREAK:
                        return out
                    out.append(v)
            for _ in range(arg):
                out.append(self.item())
            return out
        if major == 5:
            arg = self._arg(info)
            out_m = {}
            if arg is None:
                while True:
                    k = self._item_or_break()
                    if k is _BREAK:
                        return out_m
                    if isinstance(k, (list, dict)):
                        raise ValueError("cbor: container map key")
                    out_m[k] = self.item()
            for _ in range(arg):
                k = self.item()
                if isinstance(k, (list, dict)):
                    raise ValueError("cbor: container map key")
                out_m[k] = self.item()
            return out_m
        if major == 6:
            tag = self._arg(info)
            if tag == 0:  # RFC 3339 text time
                s = self.item()
                if not isinstance(s, str):
                    raise ValueError("cbor: tag 0 needs a text string")
                return pd.Timestamp(s)
            if tag == 1:  # epoch seconds (int or float)
                v = self.item()
                if not isinstance(v, (int, float)):
                    raise ValueError("cbor: tag 1 needs a number")
                return pd.Timestamp(v * 1_000_000_000, unit="ns")
            raise NotImplementedError(f"cbor: unsupported tag {tag}")
        # major 7
        if info == 20:
            return False
        if info == 21:
            return True
        if info == 22:
            return None
        if info == 23:
            return None  # undefined -> null
        if info == 25:
            return struct.unpack(">e", self._take(2))[0]
        if info == 26:
            return struct.unpack(">f", self._take(4))[0]
        if info == 27:
            return struct.unpack(">d", self._take(8))[0]
        if info == 31:
            raise ValueError("cbor: unexpected break code")
        if info == 24:
            n = self._take(1)[0]
            raise NotImplementedError(f"cbor: simple value {n}")
        raise NotImplementedError(f"cbor: simple value {info}")

    def _item_or_break(self):
        if self.d[self.pos : self.pos + 1] == b"\xff":
            self.pos += 1
            return _BREAK
        return self.item()


def cbor_decode_one(data: bytes):
    d = _Decoder(data)
    v = d.item()
    if d.pos != len(data):
        raise ValueError("cbor: trailing bytes after item")
    return v


def cbor_encode_rows(rows: list[tuple]) -> bytes:
    """Rows → one CBOR sequence (RFC 8742), one array per row."""
    out = bytearray()
    for row in rows:
        cbor_encode(out, list(row))
    return bytes(out)


def cbor_decode_rows(payload: bytes) -> list[list]:
    d = _Decoder(payload)
    rows = []
    while d.pos < len(d.d):
        row = d.item()
        if not isinstance(row, list):
            raise ValueError("cbor: sequence item is not an array")
        rows.append(row)
    return rows


def _encode_kernel():
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list[tuple] = []
        for pdf in batches:
            rows.extend(pdf.itertuples(index=False, name=None))
        if rows:
            yield pd.DataFrame({"payload": [cbor_encode_rows(rows)]})

    return kernel


def _decode_kernel(out_schema: str):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.strip().split()[0] for c in out_schema.split(",")]
        for pdf in batches:
            frames = [
                pd.DataFrame(cbor_decode_rows(bytes(p)), columns=cols)
                for p in pdf["payload"]
            ]
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return kernel


def encode_partitions(df: DataFrame) -> DataFrame:
    """Each partition → one CBOR-sequence payload (narrow Arrow
    kernel, zero shuffle)."""
    # Fan out before the CPU-bound kernel: the scan's partition
    # count is the file-split count, and a single small parquet
    # file serializes the whole Python encode onto a few cores
    # (measured 40x at sf1 on avro_nested_roundtrip).  At 100 TB
    # inputs arrive in thousands of splits and this is a no-op-cost
    # straggler guard -- same policy as operators/registry.fan_out.
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df.mapInPandas(_encode_kernel(), schema="payload binary")


def decode_payloads(payloads: DataFrame, out_schema: str) -> DataFrame:
    return payloads.mapInPandas(_decode_kernel(out_schema),
                                schema=out_schema)


def roundtrip_partitions(df: DataFrame, out_schema: str) -> DataFrame:
    """Encode→decode round-trip in ONE Arrow kernel (the exact encode
    and decode kernels composed as iterator transformers) — drops the
    payload's Python→JVM→Python hop when the payload relation has no
    other consumer; both codec directions still run verbatim on every
    row (same rationale as ``sources/avro.roundtrip_partitions``)."""
    enc, dec = _encode_kernel(), _decode_kernel(out_schema)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return dec(enc(batches))

    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df.mapInPandas(kernel, schema=out_schema)

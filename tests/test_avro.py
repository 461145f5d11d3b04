"""Tests for the pure-stdlib Avro container codec (`sources/avro.py`):
spec-structure checks, codec round-trips (null + deflate), property
round-trips under hypothesis, and the distributed file write/read path."""

from __future__ import annotations

import json
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from national_caseload_data_ingest_spark.sources.avro import (
    MAGIC,
    avro_decode,
    avro_encode,
    read_avro,
    write_avro,
)

FIELDS = [("id", "bigint"), ("name", "string"), ("score", "double"), ("ok", "boolean")]


def test_container_structure_per_spec():
    rows = [(1, "a", 0.5, True), (2, "b", 1.5, False)]
    payload = avro_encode(rows, FIELDS, codec="null", block_records=1)
    assert payload[:4] == MAGIC
    # schema JSON must be embedded and declare nullable unions
    assert b"avro.schema" in payload
    i = payload.index(b'{"type": "record"')
    schema = json.loads(payload[i : payload.index(b"avro.codec") - 1].split(b"}]}")[0] + b"}]}")
    assert schema["fields"][0]["type"] == ["null", "long"]
    # two blocks (block_records=1) → the 16-byte sync marker appears
    # after the header and after each block = 3 times
    fields, back = avro_decode(payload)
    assert back == rows


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_roundtrip_with_nulls(codec):
    rows = [
        (None, None, None, None),
        (-(2**62), "", -0.0, False),
        (2**62, "naïve — ünïcode ✓", float("inf"), True),
    ]
    fields, back = avro_decode(avro_encode(rows, FIELDS, codec=codec))
    assert back == rows
    assert [t for _, t in fields] == ["long", "string", "double", "boolean"]


def test_deflate_blocks_are_raw_rfc1951():
    """The spec requires RAW deflate (no zlib wrapper, no checksum)."""
    rows = [(i, "x" * 50, 1.0, True) for i in range(100)]
    p_null = avro_encode(rows, FIELDS, codec="null")
    p_defl = avro_encode(rows, FIELDS, codec="deflate")
    assert len(p_defl) < len(p_null) // 2  # actually compressed
    # a zlib-wrapped block would start with 0x78; raw deflate of this
    # data must still decompress with wbits=-15 (done inside decode)
    _, back = avro_decode(p_defl)
    assert back == rows


def test_snappy_codec_blocks_and_crc():
    """Avro 'snappy' codec: block = snappy(data) + 4-byte BIG-ENDIAN
    CRC32 of the UNCOMPRESSED data (spec), written by the repo's own
    from-scratch snappy encoder and verified on read."""
    import zlib as _z

    from national_caseload_data_ingest_spark.sources.blockcodecs import (
        snappy_decode,
    )
    rows = [(i, f"name {i % 40}", i * 0.5, i % 3 == 0)
            for i in range(3000)]
    payload = avro_encode(rows, FIELDS, codec="snappy",
                          block_records=800)
    _, back = avro_decode(payload)
    assert back == rows
    # dissect the first block by hand: after magic+meta+sync the block
    # header is (count varint, size varint), then snappy+CRC
    from national_caseload_data_ingest_spark.sources.avro import _Reader
    r = _Reader(payload)
    r.raw(4)
    while True:
        n = r.long()
        if n == 0:
            break
        for _ in range(abs(n)):
            r.str_()
            r.bytes_()
    r.raw(16)
    count, size = r.long(), r.long()
    block = r.raw(size)
    raw = snappy_decode(block[:-4])
    assert count == 800
    assert int.from_bytes(block[-4:], "big") == _z.crc32(raw)
    # flip a byte inside a DATA block: the CRC (or the snappy
    # structure check) must catch it
    bad = bytearray(payload)
    bad[-30] ^= 0xFF
    with pytest.raises(ValueError):
        avro_decode(bytes(bad))


def test_corrupt_sync_marker_raises():
    rows = [(1, "a", 0.5, True)]
    payload = bytearray(avro_encode(rows, FIELDS, codec="null"))
    payload[-1] ^= 0xFF  # flip a sync byte of the last block
    with pytest.raises(ValueError, match="sync"):
        avro_decode(bytes(payload))


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
            st.one_of(st.none(), st.text(max_size=40)),
            st.one_of(
                st.none(),
                st.floats(allow_nan=False, width=64),
            ),
            st.one_of(st.none(), st.booleans()),
        ),
        max_size=30,
    ),
    st.sampled_from(["null", "deflate", "snappy", "bzip2", "xz"]),
)
def test_property_roundtrip(rows, codec):
    _, back = avro_decode(avro_encode(rows, FIELDS, codec=codec, block_records=7))
    assert back == rows


def test_distributed_file_roundtrip(spark, tmp_path):
    """write_avro (one container per partition) → binaryFile read →
    decode kernel must reproduce the table exactly."""
    from national_caseload_data_ingest_spark.operators.registry import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", "documents")[
        "documents"
    ].repartition(4)
    path = str(tmp_path / "docs_avro")
    write_avro(docs, path)
    import os

    files = [f for f in os.listdir(path) if f.endswith(".avro")]
    assert 1 <= len(files) <= 4  # ≤ one file per non-empty partition
    back = read_avro(
        spark,
        path,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b and len(a) > 0


def test_avro_logical_types_roundtrip():
    """timestamp-micros / date / float annotated primitives survive the
    container byte-exactly, including pre-epoch instants and nulls."""
    import pandas as pd

    from national_caseload_data_ingest_spark.sources.avro import (
        avro_decode,
        avro_encode,
    )

    rows = [
        (1, pd.Timestamp("2024-01-01 00:09:58.778549"), 1.5,
         pd.Timestamp("2024-03-05").date()),
        (2, None, None, None),
        (3, pd.Timestamp("1969-12-31 23:59:59.000001"), -2.25,
         pd.Timestamp("1969-06-01").date()),
    ]
    fields = [("id", "bigint"), ("ts", "timestamp"), ("x", "float"),
              ("d", "date")]
    out_fields, back = avro_decode(avro_encode(rows, fields))
    assert [t for _n, t in out_fields] == [
        "long", "timestamp-micros", "float", "date-days",
    ]
    for a, b in zip(rows, back):
        assert a[0] == b[0]
        assert a[1] == b[1] or (a[1] is None and b[1] is None)
        assert a[3] == b[3] or (a[3] is None and b[3] is None)
        if a[2] is None:
            assert b[2] is None
        else:
            assert abs(a[2] - b[2]) < 1e-7  # float32 round-trip


# -- nested types (round 11) ------------------------------------------------

NESTED_FIELDS = [
    ("id", "bigint"),
    ("meta", ("union", ("record", [
        ("a", ("union", "long")),
        ("s", ("union", "string")),
    ]))),
    ("items", ("union", ("array", ("union", ("record", [
        ("v", ("union", "long")),
    ]))))),
    ("tags", ("union", ("map", ("union", "long")))),
]


def test_nested_record_array_map_roundtrip():
    rows = [
        (1, {"a": 7, "s": "x"}, [{"v": 1}, {"v": None}], {"k": 9}),
        (2, None, [], {}),
        (3, {"a": None, "s": None}, [{"v": -5}], {"a": 1, "b": None}),
        (4, {"a": 2**62, "s": "naïve ✓"}, None, None),
    ]
    fields, back = avro_decode(
        avro_encode(rows, NESTED_FIELDS, codec="deflate", block_records=2)
    )
    assert back == rows
    # flat primitives still display as bare tokens; nested as nodes
    assert fields[0] == ("id", "long")
    assert fields[1][1][0] == "union" and fields[1][1][1][0] == "record"


def test_plain_nonnull_nested_slots():
    """Non-union nested slots (a foreign writer's shape) encode without
    a branch prefix and the reader follows the file's schema."""
    fields = [("xs", ("union", ("array", "long"))),
              ("m", ("union", ("map", "string")))]
    rows = [([1, 2, 3], {"k": "v"}), ([], {}), (None, None)]
    _f, back = avro_decode(avro_encode(rows, fields, codec="null"))
    assert back == rows


def test_negative_array_block_count_decodes():
    """Spec: a negative item count is followed by the block's byte size
    — readers must accept both forms."""
    import json as _json

    from national_caseload_data_ingest_spark.sources.avro import (
        _write_long,
    )

    # take a conformant single-row file and rebuild its one data block
    fields = [("xs", ("union", ("array", "long")))]
    payload = bytearray(avro_encode([([5, 6],)], fields, codec="null"))
    # locate the block: header ends after the 16-byte sync that follows
    # the metadata map; simplest robust route: re-encode the body by hand
    body = bytearray()
    _write_long(body, 1)   # union branch 1 (array present)
    items = bytearray()
    _write_long(items, 5)
    _write_long(items, 6)
    _write_long(body, -2)  # NEGATIVE count
    _write_long(body, len(items))
    body.extend(items)
    _write_long(body, 0)   # terminator
    # splice: find old block (count=1, size=len) before trailing sync
    sync = bytes(payload[-16:])
    head_end = payload.index(sync) + 16
    out = bytearray(payload[:head_end])
    _write_long(out, 1)          # one record
    _write_long(out, len(body))  # block byte size
    out.extend(body)
    out.extend(sync)
    _f, back = avro_decode(bytes(out))
    assert back == [([5, 6],)]


def test_nested_gates_are_loud():
    from national_caseload_data_ingest_spark.sources.avro import (
        _node_from_json,
    )

    # named-type references (not inline definitions) stay gated
    with pytest.raises(NotImplementedError, match="avro type"):
        _node_from_json("some_named_ref")
    # enum / fixed / multi-branch unions PARSE now (round-11 second sweep)
    assert _node_from_json(["null", "long", "int"]) == (
        "munion", ("null", "long", "int"))
    assert _node_from_json(["long", "string"]) == (
        "munion", ("long", "string"))
    assert _node_from_json(
        {"type": "enum", "name": "e", "symbols": ["A", "B"]}
    ) == ("enum", ("A", "B"))
    assert _node_from_json({"type": "fixed", "name": "f", "size": 4}) == (
        "fixed", 4)


def test_union_branch_order_follows_file():
    """[T, "null"] (null NOT first) must NOT take the nullable fast path:
    wire branch 0 is T, branch 1 is null."""
    from national_caseload_data_ingest_spark.sources.avro import (
        _node_from_json,
    )

    assert _node_from_json(["null", "long"]) == ("union", "long")
    assert _node_from_json(["string", "null"]) == (
        "munion", ("string", "null"))

    fields = [("v", ("munion", ("string", "null")))]
    payload = avro_encode(
        [({"member0": "x"},), (None,), ({"member0": "yy"},)], fields,
        codec="null",
    )
    # the embedded schema must declare the order the node declared
    schema = _embedded_schema(payload)
    assert schema["fields"][0]["type"] == ["string", "null"]
    _f, rows = avro_decode(payload)
    assert rows == [({"member0": "x"},), (None,), ({"member0": "yy"},)]


def _embedded_schema(payload: bytes) -> dict:
    from national_caseload_data_ingest_spark.sources.avro import _Reader

    r = _Reader(payload)
    assert r.raw(4) == MAGIC
    meta = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()
        for _ in range(n):
            k = r.str_()
            meta[k] = r.bytes_()
    return json.loads(meta["avro.schema"])


def test_enum_roundtrip_and_wire_form():
    """Enums encode as the varint SYMBOL INDEX — pin the exact byte."""
    fields = [("c", ("enum", ("RED", "GREEN", "BLUE")))]
    payload = avro_encode([("GREEN",), ("BLUE",), ("RED",)], fields,
                          codec="null")
    schema = _embedded_schema(payload)
    assert schema["fields"][0]["type"]["symbols"] == [
        "RED", "GREEN", "BLUE"]
    _f, rows = avro_decode(payload)
    assert rows == [("GREEN",), ("BLUE",), ("RED",)]
    # wire form: a 1-record null-codec file ends with the 1-byte body
    # (zigzag varint of the symbol index) + the 16-byte sync marker
    one = avro_encode([("GREEN",)], fields, codec="null")
    # last 17 bytes = 1-byte body + 16-byte sync
    assert one[-17] == 2  # zigzag varint of index 1


def test_enum_unknown_symbol_and_bad_index_raise():
    fields = [("c", ("enum", ("A", "B")))]
    with pytest.raises(ValueError, match="enum symbols"):
        avro_encode([("C",)], fields)
    payload = bytearray(avro_encode([("B",)], fields, codec="null"))
    payload[-17] = 4  # index 2: out of range
    with pytest.raises(ValueError, match="out of range"):
        avro_decode(bytes(payload))


def test_fixed_roundtrip_and_length_validation():
    fields = [("fp", ("fixed", 4)), ("tail", ("union", "string"))]
    rows = [(b"\x00\xffab", "x"), (b"1234", None)]
    _f, back = avro_decode(avro_encode(rows, fields, codec="deflate"))
    assert back == rows
    with pytest.raises(ValueError, match="fixed"):
        avro_encode([(b"123", "x")], fields)


def test_multibranch_union_roundtrip():
    """[null, long, string, record] — all four branch kinds exercised,
    struct mapping has one member per NON-NULL branch."""
    rec = ("record", [("a", ("union", "long"))])
    fields = [("u", ("munion", ("null", "long", "string", rec)))]
    rows = [
        (None,),
        ({"member0": 7, "member1": None, "member2": None},),
        ({"member0": None, "member1": "hi", "member2": None},),
        ({"member0": None, "member1": None, "member2": {"a": 3}},),
    ]
    _f, back = avro_decode(avro_encode(rows, fields, codec="null"))
    assert back == rows


def test_multibranch_union_encode_validation():
    fields = [("u", ("munion", ("long", "string")))]
    with pytest.raises(ValueError, match="no null branch"):
        avro_encode([(None,)], fields)
    with pytest.raises(ValueError, match="exactly one member"):
        avro_encode([({"member0": 1, "member1": "x"},)], fields)
    with pytest.raises(ValueError, match="exactly one member"):
        avro_encode([({"member0": None, "member1": None},)], fields)


def test_enum_fixed_inside_containers():
    """Complex types compose: array<enum>, map<fixed>, enum in a record."""
    fields = [
        ("arr", ("array", ("enum", ("X", "Y", "Z")))),
        ("m", ("map", ("fixed", 2))),
        ("r", ("record", [("e", ("enum", ("P", "Q")))])),
    ]
    rows = [
        (["Z", "X", "X"], {"k1": b"ab", "k2": b"cd"}, {"e": "Q"}),
        ([], {}, {"e": "P"}),
    ]
    _f, back = avro_decode(avro_encode(rows, fields, codec="deflate"))
    assert back == rows


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["S0", "S1", "S2", "S3"]),
            st.binary(min_size=3, max_size=3),
            st.one_of(
                st.none(),
                st.builds(
                    lambda v: {"member0": v, "member1": None},
                    st.integers(-(2**63), 2**63 - 1),
                ),
                st.builds(
                    lambda s: {"member0": None, "member1": s},
                    st.text(max_size=12),
                ),
            ),
        ),
        max_size=25,
    ),
    st.sampled_from(["null", "deflate"]),
)
def test_property_union_enum_fixed_roundtrip(rows, codec):
    fields = [
        ("e", ("enum", ("S0", "S1", "S2", "S3"))),
        ("fp", ("fixed", 3)),
        ("u", ("munion", ("null", "long", "string"))),
    ]
    _f, back = avro_decode(
        avro_encode(rows, fields, codec=codec, block_records=4)
    )
    assert back == rows


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-(2**31), 2**31),
            # union-of-record
            st.one_of(
                st.none(),
                st.fixed_dictionaries(
                    {"a": st.one_of(st.none(),
                                    st.integers(-(2**63), 2**63 - 1)),
                     "s": st.one_of(st.none(), st.text(max_size=20))}
                ),
            ),
            # array-of-record (nullable elements)
            st.one_of(
                st.none(),
                st.lists(
                    st.one_of(
                        st.none(),
                        st.fixed_dictionaries(
                            {"v": st.one_of(st.none(), st.integers(
                                -(2**63), 2**63 - 1))}
                        ),
                    ),
                    max_size=6,
                ),
            ),
            # map of nullable longs
            st.one_of(
                st.none(),
                st.dictionaries(st.text(max_size=8), st.one_of(
                    st.none(), st.integers(-(2**63), 2**63 - 1)),
                    max_size=5),
            ),
        ),
        max_size=20,
    ),
    st.sampled_from(["null", "deflate"]),
)
def test_property_nested_roundtrip(rows, codec):
    fields = [
        ("id", "int"),
        ("meta", ("union", ("record", [
            ("a", ("union", "long")), ("s", ("union", "string")),
        ]))),
        ("items", ("union", ("array", ("union", ("record", [
            ("v", ("union", "long")),
        ]))))),
        ("tags", ("union", ("map", ("union", "long")))),
    ]
    _f, back = avro_decode(
        avro_encode(rows, fields, codec=codec, block_records=3)
    )
    assert back == rows


def test_distributed_nested_roundtrip(spark, tmp_path):
    """write_avro/read_avro with struct + array<struct> + map columns."""
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.operators.registry import load_tables

    o = load_tables(spark, "/root/testdata/sf0.001", "orders")["orders"]
    nested = o.select(
        F.col("o_orderkey").alias("id"),
        F.struct(
            F.col("o_orderpriority").alias("p"),
            F.col("o_totalprice").alias("t"),
        ).alias("meta"),
        F.array(
            F.struct((F.col("o_orderkey") % 5).cast("long").alias("v"))
        ).alias("items"),
        F.create_map(
            F.lit("k"), (F.col("o_orderkey") % 3).cast("long")
        ).alias("tags"),
    ).repartition(3)
    path = str(tmp_path / "nested_avro")
    write_avro(nested, path)
    back = read_avro(
        spark, path,
        "id bigint, meta struct<p:string,t:double>, "
        "items array<struct<v:bigint>>, tags map<string,bigint>",
    )
    a = {(r["id"], r["meta"]["p"], r["meta"]["t"], r["items"][0]["v"],
          r["tags"]["k"]) for r in nested.collect()}
    b = {(r["id"], r["meta"]["p"], r["meta"]["t"], r["items"][0]["v"],
          r["tags"]["k"]) for r in back.collect()}
    assert a == b and len(a) > 0


def test_map_nonstring_key_gates(spark):
    from pyspark.sql import functions as F

    from national_caseload_data_ingest_spark.sources.avro import (
        fields_from_spark_schema,
    )

    df = spark.range(1).select(
        F.create_map(F.lit(1), F.lit("x")).alias("m")
    )
    with pytest.raises(NotImplementedError, match="string keys"):
        fields_from_spark_schema(df.schema)

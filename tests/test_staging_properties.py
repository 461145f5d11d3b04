"""Property-based tests (hypothesis) for ``data_zip.stage_members``: staging
streams each member in ``STAGE_CHUNK_CHARS`` chunks, and the result must be
byte-identical to transcoding the whole member at once
(``raw.replace(b"\\r", b" ").decode(encoding)`` re-encoded as UTF-8), for
latin-1 members and for the UTF-8 global file, whatever the chunk size.

Pattern follows ``test_ruler_properties.py``: generate inputs, run the
parser, compare to the reference behaviour bit for bit.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from national_caseload_data_ingest_spark.sources import data_zip
from national_caseload_data_ingest_spark.sources.globals import GLOBAL_MEMBER_NAME

# The raw reads under io.TextIOWrapper are 8 KiB; a UTF-8 character that
# starts just before this offset is split across two of them.
_RAW_READ_BYTES = 8192

_latin1_members = st.lists(
    st.one_of(st.binary(max_size=16), st.sampled_from([b"\r", b"\r\n", b"\n"])),
    max_size=30,
).map(b"".join)

_no_surrogates = st.characters(blacklist_categories=("Cs",))
_utf8_text = st.lists(
    st.one_of(st.text(_no_surrogates, max_size=8), st.sampled_from(["\r", "\r\n"])),
    max_size=20,
).map("".join)


def _whole_member(payload: bytes, encoding: str) -> bytes:
    return payload.replace(b"\r", b" ").decode(encoding).encode("utf-8")


def _staged_bytes(member: str, payload: bytes, chunk: int) -> bytes:
    with tempfile.TemporaryDirectory() as d:
        zip_path = os.path.join(d, "ncd.zip")
        with zipfile.ZipFile(zip_path, "w", compression=zipfile.ZIP_DEFLATED) as zf:
            zf.writestr(member, payload)
        with mock.patch.object(data_zip, "STAGE_CHUNK_CHARS", chunk):
            staged = data_zip.stage_members(zip_path)
        try:
            with open(staged.members[member], "rb") as fh:
                return fh.read()
        finally:
            staged.cleanup()


@settings(max_examples=80, deadline=None)
@given(payload=_latin1_members, chunk=st.integers(1, 7))
def test_latin1_chunked_staging_matches_whole_member(payload, chunk):
    assert _staged_bytes("gs_case_FLM.txt", payload, chunk) == _whole_member(
        payload, "latin-1"
    )


@settings(max_examples=40, deadline=None)
@given(
    wide=st.characters(min_codepoint=0x80, blacklist_categories=("Cs",)),
    text=_utf8_text,
    chunk=st.integers(1, 7),
    data=st.data(),
)
def test_utf8_chunked_staging_matches_whole_member(wide, text, chunk, data):
    # Pad with ASCII so that `wide` straddles the first raw-read boundary.
    width = len(wide.encode("utf-8"))
    pad = _RAW_READ_BYTES - data.draw(st.integers(1, width - 1))
    payload = ("a" * pad + wide + text).encode("utf-8")
    assert _staged_bytes(GLOBAL_MEMBER_NAME, payload, chunk) == _whole_member(
        payload, "utf-8"
    )


def test_invalid_utf8_global_file_raises_and_leaves_no_stage_dir(
    monkeypatch, tmp_path
):
    zip_path = str(tmp_path / "bad.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(GLOBAL_MEMBER_NAME, b"GS_DISTRICT\n\nCode\n----\n\xff\n")
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    with pytest.raises(UnicodeDecodeError):
        data_zip.stage_members(zip_path)
    assert os.listdir(scratch) == []

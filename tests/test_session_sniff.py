"""Parquet timestamp-unit sniffing (``operators.registry.parquet_nanos_columns``).

The testdata's events table changed physical encoding across driver rounds
(INT64 nanos → INT64 micros; Spark's own writer emits INT96), so the
reader sniffs the physical footer type.  Round-6 advice hardened the
sniff: empty dirs warn before defaulting, multiple footers are checked,
and a directory whose part files DISAGREE (a mixed-era rewrite) raises
instead of silently converting half the files wrong.
"""

import datetime
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from national_caseload_data_ingest_spark.operators.registry import (
    parquet_nanos_columns,
)

TS = [datetime.datetime(2024, 1, 1, 12, 0, 0), datetime.datetime(2024, 6, 1)]


def _write(path, unit, int96=False):
    t = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array(TS, type=pa.timestamp(unit)),
        }
    )
    if int96:
        pq.write_table(t, path, use_deprecated_int96_timestamps=True)
    else:
        pq.write_table(t, path, coerce_timestamps=None, version="2.6")


@pytest.mark.parametrize(
    ("unit", "int96", "expect"),
    [
        ("ns", False, ["ts"]),  # INT64 TIMESTAMP(NANOS) → needs conversion
        ("us", False, []),  # INT64 micros → native read
        ("ms", False, []),
        ("ns", True, []),  # INT96 presents as ns via arrow but reads natively
    ],
)
def test_single_file_sniff(tmp_path, unit, int96, expect):
    f = tmp_path / "x.parquet"
    _write(str(f), unit, int96=int96)
    assert parquet_nanos_columns(str(f)) == expect


def test_directory_uniform_nanos(tmp_path):
    d = tmp_path / "events.parquet"
    d.mkdir()
    for i in range(12):
        _write(str(d / f"part-{i:05d}.parquet"), "ns")
    assert parquet_nanos_columns(str(d)) == ["ts"]


def test_empty_directory_warns_and_defaults(tmp_path):
    d = tmp_path / "events.parquet"
    d.mkdir()
    with pytest.warns(UserWarning, match="no part files"):
        assert parquet_nanos_columns(str(d)) == []


@pytest.mark.parametrize("mixed_at", ["first", "last"])
def test_mixed_encoding_directory_raises(tmp_path, mixed_at):
    """A directory mixing nanos-era and micros-era part files must raise —
    wherever in the listing the odd file sits (the old sniff read only
    footer 0 and would silently misread the rest)."""
    d = tmp_path / "events.parquet"
    d.mkdir()
    for i in range(10):
        _write(str(d / f"part-{i:05d}.parquet"), "us")
    odd = "part-00000.parquet" if mixed_at == "first" else "part-00009.parquet"
    _write(str(d / odd), "ns")
    with pytest.raises(ValueError, match="mixed parquet timestamp encodings"):
        parquet_nanos_columns(str(d))


def test_mixed_encoding_not_detectable_beyond_sniff_budget_is_documented(
    tmp_path,
):
    """The sniff reads a bounded number of footers (first/last/spread); a
    single odd file hiding between sampled indices can evade it — this
    test pins the BUDGET semantics rather than pretending full coverage:
    first and last files are always checked."""
    from national_caseload_data_ingest_spark.operators.registry import _SNIFF_FOOTERS

    d = tmp_path / "events.parquet"
    d.mkdir()
    n = _SNIFF_FOOTERS * 3
    for i in range(n):
        _write(str(d / f"part-{i:05d}.parquet"), "us")
    _write(str(d / f"part-{n - 1:05d}.parquet"), "ns")  # last → always sampled
    with pytest.raises(ValueError, match="mixed"):
        parquet_nanos_columns(str(d))


def test_real_testdata_events_sniff_runs_clean():
    """The shipped events tables sniff without warning or error at every
    scale present on this machine."""
    import os

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/events.parquet"
        if not os.path.exists(p):
            continue
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            cols = parquet_nanos_columns(p)
        assert isinstance(cols, list)

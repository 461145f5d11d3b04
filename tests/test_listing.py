"""Offline tests for the bulk loader in ``sources/listing.py``: the network
calls are monkeypatched, the temp files are real."""

import os
import tempfile

import pytest

from national_caseload_data_ingest_spark.sources import listing


def test_load_all_removes_temp_files_when_a_load_raises(monkeypatch, tmp_path):
    urls = [f"https://example.invalid/ncd_{i}.zip" for i in range(6)]
    monkeypatch.setattr(listing, "get_file_urls", lambda _: urls)

    def fake_download(url):
        fd, path = tempfile.mkstemp(suffix=".zip", dir=tmp_path)
        os.close(fd)
        return path

    monkeypatch.setattr(listing, "download_to_tempfile", fake_download)

    class FailingLoader:
        def __init__(self, path):
            self.path = path

        def load(self):
            raise RuntimeError(f"load failed: {self.path}")

    with pytest.raises(RuntimeError, match="load failed"):
        listing.load_all("https://example.invalid/", FailingLoader)
    assert os.listdir(tmp_path) == []


def test_load_all_loads_in_listing_order_and_removes_files(monkeypatch, tmp_path):
    urls = [f"https://example.invalid/ncd_{i}.zip" for i in range(3)]
    monkeypatch.setattr(listing, "get_file_urls", lambda _: urls)

    def fake_download(url):
        path = tmp_path / os.path.basename(url)
        path.write_bytes(b"zip")
        return str(path)

    monkeypatch.setattr(listing, "download_to_tempfile", fake_download)
    seen = []

    class RecordingLoader:
        def __init__(self, path):
            self.path = path

        def load(self):
            seen.append(os.path.basename(self.path))

    loaded = listing.load_all("https://example.invalid/", RecordingLoader)
    assert seen == ["ncd_0.zip", "ncd_1.zip", "ncd_2.zip"]
    assert [os.path.basename(p) for p in loaded] == seen
    assert os.listdir(tmp_path) == []


def test_extract_zip_urls_absolutizes_and_forces_https():
    html = (
        '<a href="/ncd/2018/fy18_jan.zip">Jan</a>'
        '<A HREF="http://example.invalid/ncd/fy18_feb.ZIP">Feb</A>'
        '<a href="readme.pdf">not a zip</a>'
    )
    assert listing.extract_zip_urls(html, "https://example.invalid/ncd/list") == [
        "https://example.invalid/ncd/2018/fy18_jan.zip",
        "https://example.invalid/ncd/fy18_feb.ZIP",
    ]

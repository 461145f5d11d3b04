"""DOJ listing-page scraper + bulk zip loader (SURVEY.md §2.1 A23-A24).

The reference scrapes ``a[href$=".zip"]`` links from the DOJ listing page,
rewrites them to https, then downloads and loads each zip **sequentially**
despite its README claiming async (``/root/reference/import_all.py:38-108``).
This implementation:

- uses only the stdlib (``html.parser`` + ``urllib``) so no undeclared
  dependencies; network calls are isolated behind this module for testing;
- overlaps downloads with a thread pool — zips are independent, and while
  one zip's Spark jobs run, the next zips stream down (fixing the
  reference's aspiration);
- streams downloads in 32 KiB chunks to a temp file (same bound-memory
  tactic, ``/root/reference/import_all.py:81-86``).
"""

from __future__ import annotations

import os
import tempfile
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from html.parser import HTMLParser

DOWNLOAD_CHUNK_BYTES = 32 * 1024


class _ZipLinkParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs: list) -> None:
        if tag.lower() != "a":
            return
        for key, value in attrs:
            if key.lower() == "href" and value and value.lower().endswith(".zip"):
                self.hrefs.append(value)


def extract_zip_urls(html: str, base_url: str) -> list[str]:
    """All ``.zip`` anchor targets, absolutized and forced to https
    (the reference rewrites the scheme, ``/root/reference/import_all.py:43-50``)."""
    parser = _ZipLinkParser()
    parser.feed(html)
    urls = []
    for href in parser.hrefs:
        absolute = urllib.parse.urljoin(base_url, href)
        parts = urllib.parse.urlsplit(absolute)
        if parts.scheme != "https":
            parts = parts._replace(scheme="https")
        urls.append(urllib.parse.urlunsplit(parts))
    return urls


def get_file_urls(listing_url: str) -> list[str]:
    """GET the listing page and scrape zip URLs."""
    with urllib.request.urlopen(listing_url) as resp:  # noqa: S310 — https
        html = resp.read().decode("utf-8", errors="replace")
    return extract_zip_urls(html, listing_url)


def download_to_tempfile(url: str) -> str:
    """Stream one zip to a temp file; returns the local path."""
    fd, path = tempfile.mkstemp(suffix=".zip", prefix="ncd_dl_")
    try:
        with os.fdopen(fd, "wb") as out, urllib.request.urlopen(url) as resp:  # noqa: S310
            while True:
                chunk = resp.read(DOWNLOAD_CHUNK_BYTES)
                if not chunk:
                    break
                out.write(chunk)
    except BaseException:
        os.unlink(path)
        raise
    return path


def load_all(
    listing_url: str,
    loader_factory,
    max_parallel_downloads: int = 4,
) -> list[str]:
    """Scrape, download (overlapped), and load every zip of a dump.

    ``loader_factory(zip_path)`` must return an object with ``.load()`` —
    normally an ``NcdZipLoader`` bound to a SparkCatalog.  Downloads run
    ahead in a pool; loads run in listing order for deterministic catalogs
    (A25 ordering parity).  Every downloaded file is deleted, also when a
    download or a load raises: queued downloads are cancelled, and running
    ones are awaited and their files removed.
    """
    urls = get_file_urls(listing_url)
    loaded: list[str] = []
    with ThreadPoolExecutor(max_workers=max_parallel_downloads) as pool:
        pending = [pool.submit(download_to_tempfile, u) for u in urls]
        try:
            while pending:
                path = pending.pop(0).result()
                try:
                    loader_factory(path).load()
                    loaded.append(path)
                finally:
                    os.unlink(path)
        except BaseException:
            pool.shutdown(cancel_futures=True)
            for fut in pending:
                if not fut.cancelled() and fut.exception() is None:
                    os.unlink(fut.result())
            raise
    return loaded

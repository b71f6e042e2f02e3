"""HTTP file-download driver (reference S1-S3: etl/download_http.py).

Driver-side landing of source files into the downloads directory — the
step BEFORE distributed parsing (`read_feature_files` takes over from the
landing dir). Kept deliberately driver-side like the reference: these are
a handful of archive/file URLs per source, not the high-volume paginated
feeds (those go through the partitioned REST/OGC/WFS connectors).

Parity:
 - retry/backoff on transient failures   (download_http.py:164-189)
 - timestamp suffix on name collision    (download_http.py:158-161, F5)
 - response validation: non-empty, size cap, HTML-error-page sniff
                                         (http_utils.py:477-497, F13)
 - multi-layer index sources: base_url + layer + ext per configured
   layer                                 (download_http.py:73-132, S2)
 - ZIP auto-extract after download       (download_http.py:103-128, S3)
"""

from __future__ import annotations

import os
import time
import zipfile
from collections.abc import Callable

from op_etl_spark.functions.naming import slug_py

MAX_DOWNLOAD_BYTES = 5000 * 1024 * 1024  # http_utils.py:40

BytesFetcher = Callable[[str], bytes]


def _default_bytes_fetcher(url: str) -> bytes:
    from .fetchers import _fetch_bytes

    return _fetch_bytes(url, {})


def validate_content(body: bytes, url: str = "") -> None:
    """F13: reject empty responses, oversized bodies, and HTML error pages
    served with 200 (portal sign-in/error screens)."""
    if not body:
        raise ValueError(f"empty response: {url}")
    if len(body) > MAX_DOWNLOAD_BYTES:
        raise ValueError(f"download exceeds size cap: {url}")
    head = body[:256].lstrip().lower()
    if head.startswith((b"<!doctype html", b"<html")):
        raise ValueError(f"HTML error page instead of data: {url}")


def _dest_path(out_dir: str, name: str, now: Callable[[], float] = time.time) -> str:
    """Timestamp-suffix on collision (F5) instead of overwrite; a counter
    breaks same-second ties (three downloads of one basename within a
    second must land as three files, never overwrite)."""
    path = os.path.join(out_dir, name)
    if not os.path.exists(path):
        return path
    stem, ext = os.path.splitext(name)
    stamp = time.strftime("%Y%m%d-%H%M%S", time.gmtime(now()))
    candidate = os.path.join(out_dir, f"{stem}_{stamp}{ext}")
    k = 1
    while os.path.exists(candidate):
        candidate = os.path.join(out_dir, f"{stem}_{stamp}-{k}{ext}")
        k += 1
    return candidate


def download_file(
    url: str,
    out_dir: str,
    hint: str | None = None,
    fetch_bytes: BytesFetcher = _default_bytes_fetcher,
) -> str:
    """Download one file into `out_dir`; returns the landed path.
    Name = slug of the hint or the URL basename; validated content only."""
    os.makedirs(out_dir, exist_ok=True)
    base = hint or url.rstrip("/").rsplit("/", 1)[-1] or "download"
    stem, ext = os.path.splitext(base)
    name = slug_py(stem) + (ext.lower() or "")
    body = fetch_bytes(url)
    validate_content(body, url)
    path = _dest_path(out_dir, name)
    with open(path, "wb") as f:
        f.write(body)
    return path


def safe_zip_members(z: zipfile.ZipFile, path: str) -> list[zipfile.ZipInfo]:
    """The file members of an untrusted archive, checked BEFORE anything
    is extracted: the declared expansion size is capped (zip-bomb guard)
    and no member may be absolute or escape the extraction root. Raises
    ValueError otherwise. Both the driver's `extract_zip` and the
    executor's ZIP parser extract only what this returns."""
    infos = z.infolist()
    if sum(i.file_size for i in infos) > MAX_DOWNLOAD_BYTES:
        raise ValueError(f"archive declares expansion over size cap: {path}")
    for i in infos:
        name = i.filename
        if name.startswith(("/", "\\")) or ".." in name.split("/"):
            raise ValueError(f"archive member escapes extraction root: {name}")
    return [i for i in infos if not i.filename.endswith("/")]


def extract_zip(path: str) -> list[str]:
    """S3: expand an archive next to itself; returns extracted paths."""
    out_root = os.path.splitext(path)[0]
    with zipfile.ZipFile(path) as z:
        return [z.extract(i, out_root) for i in safe_zip_members(z, path)]


def select_candidates(paths: list[str]) -> list[str]:
    """S14 priority + stem-dedup over landed/extracted files: one file per
    stem, best extension wins (.gpkg > .geojson > .json > .shp) — a zip
    shipping the same layer as both .gpkg and .shp must not be parsed
    twice (duplicated features under one source_name)."""
    prio = {".gpkg": 0, ".geojson": 1, ".json": 2, ".shp": 3, ".zip": 4}
    best: dict[str, str] = {}
    for p in paths:
        stem, ext = os.path.splitext(os.path.basename(p))
        e = ext.lower()
        if e not in prio:
            continue
        cur = best.get(stem)
        if cur is None or prio[e] < prio[os.path.splitext(cur)[1].lower()]:
            best[stem] = p
    return sorted(best.values())


def process_http_source(
    source: dict,
    downloads_dir: str,
    fetch_bytes: BytesFetcher = _default_bytes_fetcher,
) -> list[str]:
    """S2 multi-layer index source: `url + layer + ext` per configured
    layer (single-file sources just use `url`). ZIPs auto-extract; the
    returned paths feed `read_feature_files` for distributed parsing."""
    raw = source.get("raw") or {}
    out_dir = os.path.join(downloads_dir, source.get("authority", ""))
    layers = raw.get("layers")
    ext = raw.get("ext", "")
    urls = (
        [f"{source['url'].rstrip('/')}/{layer}{ext}" for layer in layers]
        if layers
        else [source["url"]]
    )
    landed: list[str] = []
    for u in urls:
        path = download_file(u, out_dir, fetch_bytes=fetch_bytes)
        if path.endswith(".zip"):
            landed.extend(select_candidates(extract_zip(path)))
        else:
            landed.append(path)
    return landed

"""Media fetch operator (reference ``util/image_downloader.py`` S3/S4).

At web scale media bytes are table-resident (the join in
operators/extract.py), but ingestion still needs the fetch stage: given a
DataFrame of (media_ref, url), download bytes with the reference's
semantics — streamed 8 KB chunks, hard size cap (20 MB), connect/read
timeouts, per-item fault isolation (an error yields a null-content row +
error string, never a task failure).

Parallelism note (S4): the reference fans out a 10-thread pool per
request batch; here Spark task parallelism IS the pool — one partition
per concurrent stream of downloads, so cluster-wide concurrency =
#tasks, throttled by repartitioning the input.

The HTTP client is stdlib urllib; tests inject a fake ``fetcher`` (this
sandbox has no network), which also keeps the operator unit-testable
without sockets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.items import map_items

FETCH_SCHEMA = "media_ref string, url string, content binary, n_bytes int, error string"

CHUNK = 8192


def default_fetcher(url: str, connect_timeout: float, read_timeout: float,
                    max_bytes: int) -> bytes:
    """Streamed stdlib download with a hard size cap (reference
    ``image_downloader.py:15-96`` semantics)."""
    import socket
    import urllib.request

    req = urllib.request.Request(url, headers={"User-Agent": "red-seal-ocr-spark"})
    with urllib.request.urlopen(req, timeout=connect_timeout) as resp:
        resp.fp.raw._sock.settimeout(read_timeout) if hasattr(resp, "fp") else None  # noqa: B018
        buf = bytearray()
        while True:
            try:
                chunk = resp.read(CHUNK)
            except socket.timeout as exc:
                raise TimeoutError("read timeout") from exc
            if not chunk:
                break
            buf.extend(chunk)
            if len(buf) > max_bytes:
                raise ValueError(f"exceeds {max_bytes} byte cap")
        return bytes(buf)


def fetch_media(
    refs: DataFrame,
    fetcher=None,
    max_size_mb: int = 20,
    connect_timeout: float = 5.0,
    read_timeout: float = 10.0,
    parallelism: int | None = None,
) -> DataFrame:
    """(media_ref, url) -> (media_ref, url, content, n_bytes, error).

    ``fetcher(url, connect_timeout, read_timeout, max_bytes) -> bytes``
    defaults to the stdlib streamed downloader.
    """
    max_bytes = max_size_mb * 1024 * 1024
    fn = fetcher or default_fetcher

    def item(url):
        # per-item fault isolation: the error text is part of the row
        try:
            data = fn(url, connect_timeout, read_timeout, max_bytes)
        except Exception as exc:
            return [(None, None, f"{type(exc).__name__}: {exc}")]
        return [(data, len(data), None)]

    if parallelism:
        refs = refs.repartition(parallelism)
    return map_items(refs, item, FETCH_SCHEMA, keys=("media_ref", "url"),
                     values=("url",))

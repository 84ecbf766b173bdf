"""WARC ingestion: read Common-Crawl-style WARC(.gz) archives into the
engine's canonical pages table ``(url, warc_ts, html, text, lang)``.

Reference parity: document_extraction_tools reads loose per-document files
(``base/file_lister/base_file_lister.py:49-64`` lists, ``base/reader/
base_reader.py:51-64`` reads one path); web corpora actually arrive as WARC
archives bundling thousands of responses per file. This module is the
source adapter: ``spark.read.format("binaryFile")`` scans the archive set,
and ONE ``mapInPandas`` stage parses records out of each archive — the
same Arrow-batched, zero-row-Python discipline as the extraction stage.

Scale notes:
- A .warc.gz is UNSPLITTABLE (gzip members; no mid-file sync points), so
  one archive = one task at read time. That is precisely why the engine's
  salted url-hash repartition exists (BENCH/SKEW.md): re-key the parsed
  rows before extraction so a giant or domain-clustered archive cannot
  skew downstream stages.
- Memory per task: ``binaryFile`` materializes the WHOLE archive's raw
  bytes in the input row (and caps files at 2 GB) — that allocation is
  inherent to the source, so size executors for raw-archive + one parsed
  batch. The parse itself is bounded: records stream out of gzip's
  concatenated-member reader and are emitted in 256-row Arrow batches,
  never the whole decompressed archive at once. For multi-GB archives,
  split upstream or register a custom streaming datasource.
- ``binaryFile`` carries (path, length, content); predicate pushdown on
  pathGlobFilter prunes archives before any byte is read.

The writer half (``write_warc``) exists for fixtures and tests: it emits
standards-shaped WARC/1.0 response records so the reader is exercised
against real record framing (headers, exact Content-Length payloads, CRLF
separators, optional gzip).
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, types as T

WARC_PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

_CRLF = b"\r\n"


def write_warc(path: str, records: list[tuple[str, datetime, bytes]],
               *, compress: bool | None = None) -> None:
    """Write (url, ts, html_bytes) triples as WARC/1.0 response records.

    ``compress=None`` infers from the ``.gz`` suffix. Each record carries a
    minimal HTTP response block (the shape Common-Crawl stores), so the
    reader's HTTP-header stripping is exercised.
    """
    if compress is None:
        compress = path.endswith(".gz")
    buf = io.BytesIO()
    for url, ts, html in records:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Length: " + str(len(html)).encode() + b"\r\n\r\n"
                + html)
        ts_s = ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ") \
            if ts.tzinfo else ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        hdr = (b"WARC/1.0\r\n"
               b"WARC-Type: response\r\n"
               b"WARC-Target-URI: " + url.encode() + _CRLF +
               b"WARC-Date: " + ts_s.encode() + _CRLF +
               b"Content-Type: application/http; msgtype=response\r\n"
               b"Content-Length: " + str(len(http)).encode() + _CRLF + _CRLF)
        buf.write(hdr + http + _CRLF + _CRLF)
    data = buf.getvalue()
    if compress:
        data = gzip.compress(data)
    with open(path, "wb") as f:
        f.write(data)


def iter_warc_records(raw: bytes) -> Iterator[tuple[str, datetime | None, bytes]]:
    """Yield (url, warc_ts, html_bytes) from one WARC(.gz) archive's bytes.

    Streaming over a file-like: gzip's reader transparently concatenates
    members (Common-Crawl gzips each record as its own member), and each
    record's payload is sliced by its exact Content-Length — one record in
    memory at a time. Non-response records (warcinfo, request, metadata)
    are skipped; malformed trailing bytes terminate the archive cleanly
    rather than raising (a truncated tail loses that tail only).
    """
    f: io.BufferedIOBase
    if raw[:2] == b"\x1f\x8b":
        f = gzip.GzipFile(fileobj=io.BytesIO(raw))  # type: ignore[assignment]
    else:
        f = io.BytesIO(raw)
    while True:
        # --- WARC header block ---
        line = f.readline()
        while line in (_CRLF, b"\n"):  # tolerate inter-record padding
            line = f.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            return  # framing lost — stop at the damage, keep prior records
        headers: dict[bytes, bytes] = {}
        while True:
            line = f.readline()
            if line in (_CRLF, b"\n", b""):
                break
            k, _, v = line.rstrip(b"\r\n").partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            return
        payload = f.read(length)
        if len(payload) < length:
            return  # truncated archive
        if headers.get(b"warc-type") == b"response":
            url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
            ts_raw = headers.get(b"warc-date", b"").decode("ascii", "replace")
            # unparseable/missing WARC-Date → NULL, not a sentinel epoch:
            # latest-crawl resolution orders warc_ts DESC (nulls last), so a
            # malformed date is VISIBLY unknown instead of silently oldest
            ts = None
            for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
                try:
                    ts = datetime.strptime(ts_raw, fmt)
                    break
                except ValueError:
                    continue
            # strip the stored HTTP response header block if present
            html = payload
            if payload[:5] in (b"HTTP/",):
                sep = payload.find(b"\r\n\r\n")
                if sep >= 0:
                    html = payload[sep + 4:]
            yield url, ts, html


def read_warc(spark: SparkSession, path: str, *,
              glob: str = "*.warc*") -> DataFrame:
    """Scan WARC archives into the canonical pages table.

    ``binaryFile`` lists + reads whole archives (unsplittable by nature);
    the parse fans each archive out to its records inside one mapInPandas
    stage. Feed the result to ``sparkjob.extract_df`` on its default path —
    the salted url-hash rebalance is exactly the skew defense WARC input
    needs: one archive arrives as one task, and AQE spreads its records over
    tasks of bounded bytes.
    """
    import pandas as pd

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", glob)
             .load(path)
             .select("content"))

    cols = ["url", "warc_ts", "html", "text", "lang"]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw in pdf["content"]:
                rows = []
                for u, ts, h in iter_warc_records(bytes(raw)):
                    rows.append((u, ts, bytes(h), None, None))
                    if len(rows) >= 256:  # bound resident parsed rows
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse, schema=WARC_PAGES_SCHEMA)

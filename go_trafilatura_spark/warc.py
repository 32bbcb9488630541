"""WARC source: parse Common-Crawl-style WARC files (ISO 28500) into
(url, warc_ts, html) page rows — the binary container the `pages`
table is materialized from.

Spark shape: ``spark.read.format("binaryFile")`` over a path glob →
``mapInArrow`` batches (``kernel.map_rows``), one task per file (WARC
files are written at ~1 GB exactly so that file-granular parallelism
works; Common Crawl ships ~64k files per crawl, far above any executor
count). Records are per-member gzip (the Common Crawl convention) and
the reader walks member boundaries with ``zlib.decompressobj`` — each
record decompresses independently, so a future split-by-offset source
(WARC.gz offsets from the CDX index) reuses the same record parser.

Out of scope here as everywhere in this repo: the network fetch. The
reference's CLI downloads pages (cmd/go-trafilatura/main.go:157-182);
in the Spark design the crawl is a table, and this module is the
bytes→table edge for the standard container format.
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Iterator

_GZIP_MAGIC = b"\x1f\x8b"
_CRLF2 = b"\r\n\r\n"


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a concatenated-member gzip stream member by member
    (the per-record layout of Common Crawl WARCs). Truncated or corrupt
    trailing members are dropped, not fatal."""
    pos = 0
    n = len(data)
    while pos < n and data[pos:pos + 2] == _GZIP_MAGIC:
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(data[pos:])
        except zlib.error:
            return
        if not d.eof:
            return  # truncated final member
        yield out
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:
            return
        pos += consumed


def _parse_record(chunk: bytes, offset: int = 0):
    """Parse ONE WARC record starting at ``offset``. Returns
    (headers: dict, payload: bytes, next_offset) or None on malformed
    input."""
    if not chunk[offset:offset + 5] == b"WARC/":
        return None
    head_end = chunk.find(_CRLF2, offset)
    if head_end < 0:
        return None
    headers: dict[str, str] = {}
    lines = chunk[offset:head_end].split(b"\r\n")
    for line in lines[1:]:  # line 0 is the WARC/1.x version
        k, _, v = line.partition(b":")
        if _:
            headers[k.strip().decode("latin-1").lower()] = \
                v.strip().decode("latin-1")
    try:
        length = int(headers.get("content-length", ""))
    except ValueError:
        return None
    body_start = head_end + 4
    payload = chunk[body_start:body_start + length]
    if len(payload) < length:
        return None  # truncated
    # records are separated by two CRLFs after the payload
    return headers, payload, body_start + length + 4


def iter_warc_records(data: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (headers, payload) for every well-formed record; handles
    per-member gzip, whole-stream gzip and plain WARC bytes. Malformed
    records are skipped (one bad record must never kill a task)."""
    if data[:2] == _GZIP_MAGIC:
        members = list(_iter_gzip_members(data))
        if len(members) <= 1:
            # whole-stream gzip (non-Common-Crawl writers): records are
            # concatenated inside one member
            try:
                data = gzip.decompress(data)
            except OSError:
                data = members[0] if members else b""
            members = None
        if members is not None:
            for member in members:
                rec = _parse_record(member)
                if rec is not None:
                    yield rec[0], rec[1]
            return
    pos = 0
    n = len(data)
    while pos < n:
        rec = _parse_record(data, pos)
        if rec is None:
            # resync at the next record marker
            nxt = data.find(b"WARC/", pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        headers, payload, pos = rec
        yield headers, payload


def _http_body(payload: bytes) -> bytes | None:
    """Strip the HTTP response envelope of a WARC response record.
    Returns None for non-2xx statuses."""
    split = payload.find(_CRLF2)
    if split < 0 or not payload[:5] == b"HTTP/":
        return payload  # some writers store the bare document
    status_line = payload[:payload.find(b"\r\n")]
    parts = status_line.split()
    if len(parts) >= 2 and not parts[1].startswith(b"2"):
        return None
    return payload[split + 4:]


def warc_record_rows(data: bytes):
    """(url, warc_ts, html) tuples for the response records of one WARC
    file's bytes — the schema of the `pages` table."""
    rows = []
    for headers, payload in iter_warc_records(data):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        if not url:
            continue
        body = _http_body(payload)
        if body is None:
            continue
        ts = headers.get("warc-date", "")  # ISO-8601 Z
        rows.append((url, ts, body))
    return rows


def read_warc_pages(spark, path: str):
    """WARC files → pages DataFrame (url, warc_ts, html binary).

    One input file per task via binaryFile (WARC files are sized for
    exactly this parallelism); record parsing streams inside the task
    through mapInArrow, so no file's records ever collect anywhere
    central. At 100 TB the downstream extraction repartitions on
    xxhash64(url) anyway (pipeline.extract_pages), which also evens out
    per-file skew."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from .kernel import map_rows

    rows = map_rows(
        spark.read.format("binaryFile").load(path), ["content"],
        StructType.fromDDL("url string, warc_ts string, html binary"),
        warc_record_rows)
    return rows.select(
        "url",
        F.to_timestamp(F.col("warc_ts")).alias("warc_ts"),
        "html",
    )


# -- deterministic writer (test/fixture twin) --------------------------------

def build_warc(records, per_record_gzip: bool = True) -> bytes:
    """Serialize (url, iso_ts, html_bytes) triples as WARC response
    records wrapped in HTTP envelopes — the reader's fixture twin."""
    out = io.BytesIO()
    for i, (url, ts, html) in enumerate(records):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Length: " + str(len(html)).encode() + _CRLF2 + html)
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Record-ID: <urn:uuid:rec-" + str(i).encode() + b">\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"WARC-Date: " + ts.encode() + b"\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n"
        )
        record = head + b"\r\n" + http + _CRLF2
        if per_record_gzip:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            out.write(buf.getvalue())
        else:
            out.write(record)
    return out.getvalue()

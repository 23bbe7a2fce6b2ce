"""WARC source: read Common-Crawl-style WARC files into the pages table.

WARC/1.0 per ISO 28500 (public spec): records = header block (CRLF-
terminated header lines, blank-line separator) + Content-Length payload
bytes + CRLF CRLF. Common Crawl ships each record as its own gzip member in
a concatenated-gzip .warc.gz; both plain and gzipped forms are supported.

Spark shape: ``spark.read.format("binaryFile")`` (one row per WARC file)
→ the record parser as a ``pipeline.relation`` emitter over ``(path,
content)`` → the standard pages schema. At 10^12 docs the files (~1GB
each) are the natural parallel unit, exactly how Common Crawl distributes.
A record with a malformed Content-Length or WARC-Date is skipped and the
rest of its file is kept; a file that cannot be read at all (a corrupt gzip
member) gives no rows, under the driver's one failure policy.
"""

from __future__ import annotations

import gzip
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..pipeline import relation

CRLF = b"\r\n"

WARC_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
    ]
)


# ------------------------------------------------------------- writing ----

def build_record(url: str, ts: datetime, payload: bytes) -> bytes:
    """One WARC response record wrapping an HTTP response."""
    http = (
        b"HTTP/1.1 200 OK" + CRLF
        + b"Content-Type: application/octet-stream" + CRLF
        + b"Content-Length: %d" % len(payload) + CRLF + CRLF
        + payload
    )
    date = ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode()
    header = (
        b"WARC/1.0" + CRLF
        + b"WARC-Type: response" + CRLF
        + b"WARC-Target-URI: " + url.encode() + CRLF
        + b"WARC-Date: " + date + CRLF
        + b"Content-Type: application/http; msgtype=response" + CRLF
        + b"Content-Length: %d" % len(http) + CRLF
    )
    return header + CRLF + http + CRLF + CRLF


def build_warc(records: list[tuple[str, datetime, bytes]], gz: bool = False) -> bytes:
    """Concatenate records; gz=True emits one gzip member per record
    (the Common Crawl layout)."""
    if not gz:
        return b"".join(build_record(u, t, p) for u, t, p in records)
    out = bytearray()
    for u, t, p in records:
        out += gzip.compress(build_record(u, t, p))
    return bytes(out)


# ------------------------------------------------------------- parsing ----

def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members."""
    out = bytearray()
    rest = data
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out += d.decompress(rest)
        rest = d.unused_data
    return bytes(out)


def parse_warc(data: bytes) -> list[tuple[str, datetime, bytes]]:
    """WARC bytes → [(target_uri, date, http_payload_body)]."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    out: list[tuple[str, datetime, bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        hdr_end = data.find(CRLF + CRLF, start)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[start:hdr_end].split(CRLF)[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode("latin-1")
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = -1
        if length < 0:  # record extent unknown: skip it, resync on the next marker
            pos = hdr_end + 4
            continue
        body = data[hdr_end + 4 : hdr_end + 4 + length]
        pos = hdr_end + 4 + length
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        try:
            ts = datetime.strptime(
                headers.get("warc-date", "1970-01-01T00:00:00Z"), "%Y-%m-%dT%H:%M:%SZ"
            ).replace(tzinfo=timezone.utc)
        except ValueError:  # a malformed record is skipped, not its whole file
            continue
        # strip the HTTP response header block
        split = body.find(CRLF + CRLF)
        payload = body[split + 4 :] if split >= 0 else body
        out.append((url, ts, payload))
    return out


# --------------------------------------------------------------- source ---

def _warc_rows(_path: str, blob: bytes) -> Iterator[tuple]:
    for url, ts, payload in parse_warc(blob):
        yield (url, ts.replace(tzinfo=None), payload)


def read_warc_pages(spark: SparkSession, warc_dir: str) -> DataFrame:
    """WARC files → (url, warc_ts, html) pages DataFrame."""
    files = spark.read.format("binaryFile").load(warc_dir)
    return relation(files, _warc_rows, WARC_PAGES_SCHEMA, ("path", "content"))

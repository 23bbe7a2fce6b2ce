"""WARC source: read Common-Crawl-style WARC files into the pages table.

WARC/1.0 per ISO 28500 (public spec): records = header block (CRLF-
terminated header lines, blank-line separator) + Content-Length payload
bytes + CRLF CRLF. Common Crawl ships each record as its own gzip member in
a concatenated-gzip .warc.gz; both plain and gzipped forms are supported.

Spark shape: ``spark.read.format("binaryFile")`` (one row per WARC file)
→ mapInPandas record parser → the standard pages schema. At 10^12 docs the
files (~1GB each) are the natural parallel unit, exactly how Common Crawl
distributes.
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import drop_zip_finders

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
        length = int(headers.get("content-length", "0"))
        body = data[hdr_end + 4 : hdr_end + 4 + length]
        pos = hdr_end + 4 + length
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        ts = datetime.strptime(
            headers.get("warc-date", "1970-01-01T00:00:00Z"), "%Y-%m-%dT%H:%M:%SZ"
        ).replace(tzinfo=timezone.utc)
        # strip the HTTP response header block
        split = body.find(CRLF + CRLF)
        payload = body[split + 4 :] if split >= 0 else body
        out.append((url, ts, payload))
    return out


# --------------------------------------------------------------- source ---

def read_warc_pages(spark: SparkSession, warc_dir: str) -> DataFrame:
    """WARC files → (url, warc_ts, html) pages DataFrame."""
    files = spark.read.format("binaryFile").load(warc_dir).select("content")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in it:
            urls, tss, payloads = [], [], []
            for blob in pdf["content"]:
                for url, ts, payload in parse_warc(bytes(blob)):
                    urls.append(url)
                    tss.append(ts.replace(tzinfo=None))
                    payloads.append(payload)
            yield pd.DataFrame({"url": urls, "warc_ts": tss, "html": payloads})

    return files.mapInPandas(batches, schema=WARC_PAGES_SCHEMA)

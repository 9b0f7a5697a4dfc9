"""WARC ingestion: Common-Crawl container files -> the pages table.

The north star's input is "an Iceberg table of Common-Crawl-style pages";
the crawl itself ships as WARC files (ISO 28500): a sequence of records,
each `WARC/1.0` header block + payload, conventionally one gzip MEMBER per
record (multi-member .warc.gz — seekable per record). This module gives
the engine a real ingestion edge:

- ``parse_warc(blob)``: pure-Python record iterator handling both
  per-record-gzip and plain concatenated WARC bytes; for ``response``
  records the HTTP envelope is stripped (status line + headers up to the
  first CRLFCRLF), ``conversion`` (WET) and ``resource`` payloads pass
  through; request/metadata records are skipped.
- ``read_warc_pages(spark, path)``: Spark scan of ``binaryFile`` rows ->
  one ``mapInPandas`` stage emitting the BASELINE.json pages schema
  (url, warc_ts, html, text, lang). Parallelism is per WARC file — the
  Common-Crawl layout (thousands of ~1 GB files per crawl) gives the scan
  its splits, exactly like the reference corpus layout note in
  BENCH/BASELINE.md lesson 3. ``lang``/``text`` are unknown at ingest
  (empty) and are filled downstream (langid / extraction).
- ``write_warc(records)``: deterministic writer (fixed gzip mtime) used by
  tests and demos.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import io
import re
import zlib

_WARC_VERSION_RE = re.compile(rb"WARC/\d+\.\d+\r?\n")
_CRLF2 = b"\r\n\r\n"


def _split_gzip_members(blob: bytes):
    """Yield decompressed gzip members of a multi-member stream (the
    Common-Crawl per-record convention); non-gzip input yields itself.

    Works on a memoryview: a per-member ``blob[pos:]`` byte copy would make
    a 1 GB 50k-record .warc.gz cost O(members x size) in memcpy alone."""
    if blob[:2] != b"\x1f\x8b":
        yield blob
        return
    view = memoryview(blob)
    pos = 0
    n = len(blob)
    while pos < n and bytes(view[pos : pos + 2]) == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        yield d.decompress(view[pos:])
        consumed = n - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed


def _parse_records(raw: bytes):
    """Yield (headers dict, payload bytes) for each WARC record in raw."""
    pos = 0
    n = len(raw)
    while pos < n:
        m = _WARC_VERSION_RE.search(raw, pos)
        if m is None:
            return
        head_end = raw.find(_CRLF2, m.end())
        if head_end < 0:
            # tolerate bare-LF header blocks
            head_end = raw.find(b"\n\n", m.end())
            if head_end < 0:
                return
            body_at = head_end + 2
        else:
            body_at = head_end + 4
        headers = {}
        for line in raw[m.end() : head_end].splitlines():
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                    "latin-1"
                )
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = 0
        payload = raw[body_at : body_at + length]
        yield headers, payload
        pos = body_at + length


def _dechunk(body: bytes) -> bytes:
    """Decode a Transfer-Encoding: chunked body (size-line in hex, CRLF,
    chunk bytes, CRLF, ... 0-size terminator). Malformed framing returns
    the bytes decoded so far plus nothing — never raises."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            break
        size_tok = body[pos:eol].split(b";", 1)[0].strip()  # drop extensions
        try:
            size = int(size_tok, 16)
        except ValueError:
            break
        if size == 0:
            break
        out += body[eol + 2 : eol + 2 + size]
        pos = eol + 2 + size + 2  # skip chunk + trailing CRLF
    return bytes(out)


def _decode_http_body(body: bytes, headers: dict) -> bytes:
    """Apply Transfer-Encoding / Content-Encoding (real crawls store the
    wire bytes: ~gzip on most text responses). Decode failures degrade to
    the raw bytes — extraction's junk guard handles the rest."""
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    enc = headers.get("content-encoding", "").strip().lower()
    try:
        if enc in ("gzip", "x-gzip"):
            return zlib.decompress(body, wbits=16 + zlib.MAX_WBITS)
        if enc == "deflate":
            try:
                return zlib.decompress(body)  # zlib-wrapped (RFC-correct)
            except zlib.error:
                return zlib.decompress(body, wbits=-zlib.MAX_WBITS)  # raw
    except zlib.error:
        return body
    return body


def _strip_http_envelope(payload: bytes) -> bytes:
    """response records carry the full HTTP message; the page bytes start
    after the first blank line. Transfer-Encoding: chunked is de-chunked
    and Content-Encoding: gzip/deflate decompressed (the crawler stores
    wire bytes; a compressed body passed through as 'html' would dispatch
    as binary junk)."""
    if payload[:5] not in (b"HTTP/", b"http/"):
        return payload
    cut = payload.find(_CRLF2)
    if cut >= 0:
        head, body = payload[:cut], payload[cut + 4 :]
    else:
        cut = payload.find(b"\n\n")
        if cut < 0:
            return payload
        head, body = payload[:cut], payload[cut + 2 :]
    headers = {}
    for line in head.splitlines()[1:]:
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode("latin-1")
    return _decode_http_body(body, headers)


def parse_warc(blob: bytes):
    """WARC bytes (.warc or multi-member .warc.gz) -> list of dicts
    (url, warc_ts, html) for response/conversion/resource records."""
    out = []
    for member in _split_gzip_members(blob):
        for headers, payload in _parse_records(member):
            rtype = headers.get("warc-type", "")
            if rtype not in ("response", "conversion", "resource"):
                continue
            url = headers.get("warc-target-uri", "")
            ts_raw = headers.get("warc-date", "")
            ts = None
            if ts_raw:
                try:
                    ts = _dt.datetime.fromisoformat(ts_raw.replace("Z", "+00:00")).replace(
                        tzinfo=None
                    )
                except ValueError:
                    ts = None
            html = _strip_http_envelope(payload) if rtype == "response" else payload
            out.append({"url": url, "warc_ts": ts, "html": html})
    return out


def _warc_pages_gen(batches):
    """Shared mapInPandas body for the batch and streaming WARC readers:
    binaryFile content rows -> pages rows."""
    import pandas as pd

    for pdf in batches:
        rows = []
        for blob in pdf["content"]:
            for rec in parse_warc(bytes(blob)):
                rows.append(
                    {
                        "url": rec["url"],
                        "warc_ts": rec["warc_ts"],
                        "html": rec["html"],
                        "text": "",
                        "lang": "",
                    }
                )
        yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def read_warc_pages(spark, path: str):
    """WARC file(s) -> pages DataFrame (BASELINE.json input_hint schema).

    One Arrow batch per binaryFile row; at crawl scale parallelism = number
    of WARC files (Common Crawl: ~64k files/crawl), so the stage saturates
    any executor count without a shuffle.
    """
    from ..sources.pages import PAGES_SCHEMA

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(_warc_pages_gen, schema=PAGES_SCHEMA)


def write_warc(
    records,
    *,
    per_record_gzip: bool = True,
    with_http: bool = True,
    body_encoding: str | None = None,
    chunked: bool = False,
) -> bytes:
    """records of (url, warc_ts, html_bytes) -> deterministic WARC bytes
    (fixed gzip mtime so tests are byte-stable). ``body_encoding='gzip'``
    compresses each HTTP body (Content-Encoding header set); ``chunked``
    wraps the (possibly compressed) body in Transfer-Encoding chunking —
    both wire shapes real crawls store verbatim."""
    out = bytearray()
    for i, (url, ts, html) in enumerate(records):
        if with_http:
            body = html
            extra = b""
            if body_encoding == "gzip":
                buf = io.BytesIO()
                with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                    gz.write(body)
                body = buf.getvalue()
                extra += b"Content-Encoding: gzip\r\n"
            if chunked:
                mid = max(len(body) // 2, 1)
                chunks = [body[:mid], body[mid:]] if body else []
                body = (
                    b"".join(
                        b"%x\r\n" % len(c) + c + b"\r\n" for c in chunks if c
                    )
                    + b"0\r\n\r\n"
                )
                extra += b"Transfer-Encoding: chunked\r\n"
            payload = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + extra
                + b"Content-Length: %d\r\n\r\n" % len(body)
                + body
            )
        else:
            payload = html
        ts_s = (ts or _dt.datetime(2026, 1, 1)).strftime("%Y-%m-%dT%H:%M:%SZ")
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + b"WARC-Record-ID: <urn:uuid:%08d>\r\n" % i
            + b"WARC-Target-URI: " + url.encode() + b"\r\n"
            + b"WARC-Date: " + ts_s.encode() + b"\r\n"
            + b"Content-Type: application/http; msgtype=response\r\n"
            + b"Content-Length: %d\r\n\r\n" % len(payload)
        )
        record = head + payload + b"\r\n\r\n"
        if per_record_gzip:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            out += buf.getvalue()
        else:
            out += record
    return bytes(out)


def stream_warc_pages(spark, warc_dir: str):
    """Streaming form of WARC ingestion: new .warc/.warc.gz files appearing
    under ``warc_dir`` become pages rows continuously (the S6 continuous-
    crawl-drop shape). Offsets/exactly-once come from the file-source
    checkpoint; parallelism is per WARC file, like the batch reader."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from ..sources.pages import PAGES_SCHEMA

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    files = spark.readStream.format("binaryFile").schema(schema).load(warc_dir)
    return files.select("content").mapInPandas(_warc_pages_gen, schema=PAGES_SCHEMA)


def run_streaming_warc_extract(spark, warc_dir: str, table_root: str, checkpoint_dir: str):
    """WARC drop-directory -> streaming extraction -> ManifestTable catalog:
    each micro-batch of new WARC files becomes catalog commit ``batchId``
    (see ``plans.pipeline.run_streaming_extract_to_catalog``).

    Returns the ManifestTable (drained with availableNow)."""
    from ..plans.pipeline import _start_catalog_stream
    from .catalog import ManifestTable

    tbl = ManifestTable(table_root)
    pages = stream_warc_pages(spark, warc_dir)
    _start_catalog_stream(pages, tbl, checkpoint_dir, availableNow=True).awaitTermination()
    return tbl

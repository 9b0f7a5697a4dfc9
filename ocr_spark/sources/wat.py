"""WAT export — Common Crawl's standard per-page metadata derivative.

``export_wat`` turns a pages table (url, warc_ts, html) into
``*.warc.wat.gz`` files: WARC/1.0 ``metadata`` records whose payload is a
deterministic JSON envelope (head metadata + outgoing links + payload
length), the sidecar downstream link-graph / indexing tooling consumes
instead of re-parsing page bytes. With sources/wet.py (extracted text)
and sources/cdx.py (url index) this completes the WARC/WAT/WET/CDX
derivative set a Common Crawl user expects.

Same execution shape as the WET sink: ONE mapInPandas pass, files written
FROM THE EXECUTORS (no collect), content-addressed shard names (sha256 of
member bytes) for idempotent re-runs, fixed gzip mtime +
sortWithinPartitions(url) for byte-determinism. The returned manifest
DataFrame (path, n_records, n_bytes) is what the caller commits.

The envelope reuses the SAME kernels as the page_meta / page_links
queries (operators/page_meta._page_meta, operators/link_graph._page_links)
on the text of one ``dom_query.html_text`` call per page (the page
reader those queries use), so the sidecar always agrees with the
queryable tables; JSON is canonicalized (sort_keys, tight separators) so
records are reproducible byte-for-byte.

Round-trip guarantee: ``read_wat`` parses the metadata records back into
(url, warc_ts, envelope) rows — pinned by tests/test_wat.py.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import hashlib
import io
import json
import os

from pyspark.sql import DataFrame

WAT_SCHEMA = "path string, n_records long, n_bytes long"


def wat_envelope(url: str, ts_s: str, blob: bytes) -> str:
    """Canonical JSON envelope for one page (sorted keys, no whitespace)."""
    from ..operators.dom_query import html_text
    from ..operators.link_graph import _page_links
    from ..operators.page_meta import _page_meta

    text = html_text(blob) or ""  # not html: NULL head, no links
    meta = _page_meta(url, text)
    links = [
        {"pos": pos, "text": anchor, "url": dst}
        for dst, anchor, pos in _page_links(url, text)
    ]
    env = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Date": ts_s,
                "WARC-Target-URI": url,
                "WARC-Type": "response",
            },
            "Payload-Metadata": {
                "Actual-Content-Length": len(blob),
                "Block-Digest": "sha256:" + hashlib.sha256(blob).hexdigest(),
                "HTML-Metadata": {
                    "Head": {
                        "Canonical": meta["canonical_url"],
                        "Description": meta["description"],
                        "Lang": meta["html_lang"],
                        "N-Hreflang": meta["n_hreflang"],
                        "Title": meta["title"],
                    },
                    "Links": links,
                },
            },
        }
    }
    return json.dumps(env, sort_keys=True, separators=(",", ":"))


def _ts_str(ts) -> str:
    # NaT is truthy and strftime-hostile; treat it like None (wet.py parity)
    if ts is None or ts != ts:
        ts = _dt.datetime(2026, 1, 1)
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def wat_record(url: str, ts, blob: bytes) -> bytes:
    """One WARC/1.0 ``metadata`` record carrying the JSON envelope."""
    ts_s = _ts_str(ts)
    body = wat_envelope(url, ts_s, blob).encode("utf-8")
    # name-based deterministic UUID from the record identity (wet.py parity)
    d = hashlib.sha256(url.encode() + b"\x01" + ts_s.encode() + b"\x01" + body)
    h = bytearray(d.digest()[:16])
    h[6] = (h[6] & 0x0F) | 0x50
    h[8] = (h[8] & 0x3F) | 0x80
    x = h.hex()
    rid = f"{x[:8]}-{x[8:12]}-{x[12:16]}-{x[16:20]}-{x[20:32]}"
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: metadata\r\n"
        + b"WARC-Record-ID: <urn:uuid:" + rid.encode() + b">\r\n"
        + b"WARC-Target-URI: " + url.encode() + b"\r\n"
        + b"WARC-Date: " + ts_s.encode() + b"\r\n"
        + b"Content-Type: application/json\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(body)
    )
    return head + body + b"\r\n\r\n"


def export_wat(df: DataFrame, out_dir: str) -> DataFrame:
    """(url, warc_ts, html) -> .wat.gz files under ``out_dir``; returns the
    manifest (path, n_records, n_bytes). One python stage; empty partitions
    write nothing."""
    os.makedirs(out_dir, exist_ok=True)

    def gen(batches):
        import pandas as pd

        os.makedirs(out_dir, exist_ok=True)
        members = bytearray()
        n = 0
        for pdf in batches:
            for url, ts, blob in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
                rec = wat_record(str(url), ts, bytes(blob) if blob is not None else b"")
                buf = io.BytesIO()
                with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                    gz.write(rec)
                members += buf.getvalue()
                n += 1
        if n:
            blob = bytes(members)
            name = f"part-{hashlib.sha256(blob).hexdigest()[:16]}.warc.wat.gz"
            path = os.path.join(out_dir, name)
            with open(path, "wb") as f:
                f.write(blob)
            yield pd.DataFrame(
                {"path": [path], "n_records": [n], "n_bytes": [len(blob)]}
            )

    return (
        df.select("url", "warc_ts", "html")
        .sortWithinPartitions("url")
        .mapInPandas(gen, schema=WAT_SCHEMA)
    )


def read_wat(spark, path: str) -> DataFrame:
    """WAT file(s) -> (url, warc_ts, envelope) rows; the round-trip reader
    for the export above (metadata records only)."""
    from .warc import _parse_records, _split_gzip_members

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for member in _split_gzip_members(bytes(blob)):
                    for headers, payload in _parse_records(member):
                        if headers.get("warc-type") != "metadata":
                            continue
                        ts_raw = headers.get("warc-date", "")
                        ts = None
                        if ts_raw:
                            try:
                                ts = _dt.datetime.fromisoformat(
                                    ts_raw.replace("Z", "+00:00")
                                ).replace(tzinfo=None)
                            except ValueError:
                                ts = None
                        rows.append(
                            {
                                "url": headers.get("warc-target-uri", ""),
                                "warc_ts": ts,
                                "envelope": payload.decode("utf-8", errors="replace"),
                            }
                        )
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "envelope"])

    files = spark.read.format("binaryFile").load(path).select("content")
    return files.mapInPandas(gen, schema="url string, warc_ts timestamp, envelope string")

"""WARC ingestion source: Common-Crawl container -> pages table -> the
same byte-identical extraction."""

import datetime as dt

import pytest

from ocr_spark.sources.warc import parse_warc, read_warc_pages, write_warc


def _records(n=6):
    from ocr_spark.sources.pages import synth_page

    text = "alpha beta gamma delta epsilon zeta eta theta " * 8
    out = []
    for doc_id in range(0, n * 5, 5):  # mixes payload/pdf/md/html flavors
        p = synth_page(doc_id, text, "en")
        out.append((p["url"], p["warc_ts"], p["html"], p["expected_text"]))
    return out


def test_parse_warc_round_trip_gzip_and_plain():
    recs = _records()
    for gz in (True, False):
        blob = write_warc([(u, t, h) for u, t, h, _ in recs], per_record_gzip=gz)
        got = parse_warc(blob)
        assert [r["url"] for r in got] == [u for u, *_ in recs]
        assert [r["html"] for r in got] == [h for _, _, h, _ in recs]
        assert got[0]["warc_ts"] == recs[0][1].replace(microsecond=0)


def test_http_envelope_stripped_only_for_responses():
    html = b"<p>hello</p>"
    blob = write_warc(
        [("https://x.example/a", dt.datetime(2026, 1, 2, 3, 4, 5), html)]
    )
    rec = parse_warc(blob)[0]
    assert rec["html"] == html  # HTTP headers stripped
    # without the HTTP envelope the payload passes through untouched
    blob2 = write_warc(
        [("https://x.example/b", None, html)], with_http=False
    )
    assert parse_warc(blob2)[0]["html"] == html


def test_non_response_records_skipped():
    body = b"abc"
    raw = (
        b"WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: u1\r\n"
        b"Content-Length: 3\r\n\r\nabc\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: u2\r\n"
        b"Content-Length: 3\r\n\r\n" + body + b"\r\n\r\n"
    )
    got = parse_warc(raw)
    assert len(got) == 1 and got[0]["url"] == "u2" and got[0]["html"] == body


def test_warc_to_extraction_byte_identical(spark, tmp_path):
    """WARC file -> binaryFile scan -> pages -> extract: every flavor in
    the container comes out byte-identical to its by-construction golden."""
    recs = _records(10)
    # two WARC files: parallelism is per file
    half = len(recs) // 2
    for i, chunk in enumerate((recs[:half], recs[half:])):
        (tmp_path / f"part-{i}.warc.gz").write_bytes(
            write_warc([(u, t, h) for u, t, h, _ in chunk])
        )

    pages = read_warc_pages(spark, str(tmp_path / "*.warc.gz"))
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]

    from ocr_spark.operators.extract import extract_pages

    out = {r.url: r.text for r in extract_pages(pages).collect()}
    assert len(out) == len(recs)
    for url, _, _, expected in recs:
        assert out[url] == expected, url


def test_warc_scan_single_python_stage(spark, tmp_path):
    (tmp_path / "a.warc.gz").write_bytes(
        write_warc([(u, t, h) for u, t, h, _ in _records(3)])
    )
    pages = read_warc_pages(spark, str(tmp_path / "a.warc.gz"))
    plan = pages._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_truncated_warc_tolerated():
    recs = _records(2)
    blob = write_warc([(u, t, h) for u, t, h, _ in recs], per_record_gzip=False)
    got = parse_warc(blob[: len(blob) - len(blob) // 3])
    assert 1 <= len(got) <= 2  # keeps the complete records, drops the torn one


def test_streaming_warc_extraction_exactly_once(spark, tmp_path):
    """WARC files dropped into a directory stream through the SAME
    extraction into catalog commits exactly once; a restart adds no
    commit; a NEW file commits alone."""
    from ocr_spark.sources.warc import run_streaming_warc_extract, write_warc

    warc_dir = tmp_path / "drop"
    warc_dir.mkdir()
    recs = _records(8)
    half = len(recs) // 2
    (warc_dir / "crawl-0.warc.gz").write_bytes(
        write_warc([(u, t, h) for u, t, h, _ in recs[:half]])
    )
    table_root, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")

    tbl = run_streaming_warc_extract(spark, str(warc_dir), table_root, ck)
    assert tbl.read(spark).count() == half
    commits1 = [s["commit_id"] for s in tbl.snapshots]

    # restart over the same directory: checkpoint replays nothing
    tbl = run_streaming_warc_extract(spark, str(warc_dir), table_root, ck)
    assert [s["commit_id"] for s in tbl.snapshots] == commits1
    assert tbl.read(spark).count() == half

    # a new crawl file lands: only its records process, as one new commit
    (warc_dir / "crawl-1.warc.gz").write_bytes(
        write_warc([(u, t, h) for u, t, h, _ in recs[half:]])
    )
    tbl = run_streaming_warc_extract(spark, str(warc_dir), table_root, ck)
    commits2 = [s["commit_id"] for s in tbl.snapshots]
    assert len(commits2) == len(commits1) + 1
    new_rows = tbl.read_changes(spark, since=max(commits1))
    assert sorted(r.url for r in new_rows.collect()) == sorted(u for u, _, _, _ in recs[half:])
    final = tbl.read(spark)
    assert final.count() == len(recs)
    texts = {r.url: r.text for r in final.collect()}
    for url, _, _, expected in recs:
        assert texts[url] == expected


def test_warc_parse_fuzz_never_crashes():
    """Random bytes, lying content-lengths, and header mutations parse to
    a (possibly empty) record list — never an exception."""
    import numpy as np

    from ocr_spark.sources.warc import parse_warc

    rng = np.random.RandomState(7)
    base = write_warc(
        [("https://x.example/a", None, b"<p>a</p>")], per_record_gzip=False
    )
    lying = base.replace(b"Content-Length:", b"Content-Length: 99999 #", 1)
    cases = [
        bytes(rng.randint(0, 256, 300, dtype=np.uint8)),
        b"WARC/1.0\r\nContent-Length: -5\r\n\r\nxxx",
        b"WARC/1.0\r\nWARC-Type: response\r\n\r\n",  # no length
        lying,
        base[: len(base) // 2],
        b"\x1f\x8b" + bytes(rng.randint(0, 256, 50, dtype=np.uint8)),  # torn gzip
    ]
    for blob in cases:
        try:
            recs = parse_warc(blob)
        except Exception as e:
            # torn gzip may legitimately raise zlib.error; nothing else may
            import zlib as _z

            assert isinstance(e, _z.error), (blob[:20], e)
            continue
        assert isinstance(recs, list)


def test_wet_export_roundtrip(spark, tmp_path):
    """export_wet -> our own WARC reader returns the identical (url, text)
    set; filenames are content-addressed (re-export writes byte-identical
    files); records per file match the manifest."""
    import pandas as pd

    from ocr_spark.sources.warc import read_warc_pages
    from ocr_spark.sources.wet import export_wet

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://h.example/p/{i}" for i in range(20)],
                "warc_ts": [None] * 20,
                "text": [f"extracted text {i}\nsecond line {i}" for i in range(20)],
            }
        )
    ).repartition(3)
    out = str(tmp_path / "wet")
    m1 = sorted((r.path, r.n_records) for r in export_wet(df, out).collect())
    assert sum(n for _, n in m1) == 20
    back = read_warc_pages(spark, out + "/*.warc.wet.gz").collect()
    got = {(r.url, bytes(r.html).decode()) for r in back}
    exp = {
        (f"https://h.example/p/{i}", f"extracted text {i}\nsecond line {i}")
        for i in range(20)
    }
    assert got == exp
    # idempotent: second export produces the same content-addressed files
    m2 = sorted((r.path, r.n_records) for r in export_wet(df, out).collect())
    assert m1 == m2
    # record IDs are globally unique across files (WARC requirement) and
    # valid urn:uuid form — a per-partition counter would collide
    import gzip
    import re

    ids = []
    for p, _ in m1:
        with gzip.open(p, "rb") as f:
            ids += re.findall(rb"WARC-Record-ID: <urn:uuid:([0-9a-f-]{36})>", f.read())
    assert len(ids) == 20 and len(set(ids)) == 20


def test_wet_record_nat_timestamp():
    """pandas NaT is truthy but strftime-hostile — must fall back like None."""
    import pandas as pd

    from ocr_spark.sources.wet import wet_record

    rec = wet_record("https://x.example/", pd.NaT, "body")
    assert b"WARC-Date: 2026-01-01T00:00:00Z" in rec

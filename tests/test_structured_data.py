"""JSON-LD structured-data extraction (operators/structured_data.py)."""

import pytest

from ocr_spark.operators.structured_data import (
    _jsonld_rows,
    _microdata_rows,
    extract_jsonld,
    extract_microdata,
)
from tests.conftest import run_stage

URL = "https://h.example/p/1"


def _page(*scripts):
    body = "".join(scripts)
    return f"<html><head>{body}</head><body><p>x</p></body></html>"


def _ld(payload):
    return f'<script type="application/ld+json">{payload}</script>'


def test_scalar_fields_types_and_rendering():
    rows = _jsonld_rows(
        URL,
        _page(_ld('{"@context":"c","@type":"Product","name":"N","price":7,'
                  '"ratio":0.5,"ok":true,"bad":null,"nested":{"a":1},"arr":[1]}')),
    )
    got = {(r[3], r[4]) for r in rows}
    # scalars kept with deterministic rendering; null/nested/array skipped
    assert got == {("name", "N"), ("price", "7"), ("ratio", "0.5"), ("ok", "true")}
    assert all(r[2] == "Product" and r[0] == 0 and r[1] == 0 for r in rows)


def test_graph_envelope_and_top_level_array():
    rows = _jsonld_rows(
        URL,
        _page(_ld('{"@graph":[{"@type":"A","x":"1"},{"@type":"B","y":"2"}]}'),
              _ld('[{"@type":"C","z":"3"}]')),
    )
    assert {(r[0], r[1], r[2], r[3]) for r in rows} == {
        (0, 0, "A", "x"), (0, 1, "B", "y"), (1, 0, "C", "z"),
    }


def test_malformed_block_skipped_later_blocks_survive():
    rows = _jsonld_rows(
        URL,
        _page(_ld('{"@type":"P","name":'),  # malformed
              "<script>var decoy = 1;</script>",
              _ld('{"@type":"Event","name":"E"}')),
    )
    # the Event block keeps its DOCUMENT block index (1), decoys don't count
    assert rows == [(1, 0, "Event", "name", "E")]


def test_attribute_order_and_quoting_tolerated():
    blob = _page(
        "<script async type='application/ld+json' id=\"a\">"
        '{"@type":"T","k":"v"}</script>'
    )
    assert _jsonld_rows(URL, blob) == [(0, 0, "T", "k", "v")]


def test_non_html_and_missing_type():
    assert run_stage(extract_jsonld, [(URL, b"\x00\x01binary")]) == []
    rows = _jsonld_rows(URL, _page(_ld('{"k":"v"}')))
    assert rows == [(0, 0, None, "k", "v")]


def test_utf16_bom_page():
    html = _page('<meta charset="windows-1252">', _ld('{"@type":"Café","n":"é"}'))
    blob = b"\xff\xfe" + html.encode("utf-16-le")
    assert run_stage(extract_jsonld, [(URL, blob)]) == [
        {"url": URL, "block_idx": 0, "entity_idx": 0, "jtype": "Café",
         "key": "n", "value": "é"}
    ]


def test_spark_stage_schema_and_resilience(spark):
    pages = spark.createDataFrame(
        [
            ("u1", _page(_ld('{"@type":"P","n":"1"}')).encode()),
            ("u2", None),
            ("u3", b"not html at all"),
        ],
        "url string, html binary",
    )
    out = extract_jsonld(pages)
    assert [tuple(r) for r in out.collect()] == [("u1", 0, 0, "P", "n", "1")]
    assert out.schema.simpleString() == (
        "struct<url:string,block_idx:int,entity_idx:int,"
        "jtype:string,key:string,value:string>"
    )


# ------------------------------------------------------------- microdata

MD_URL = "https://h.example/md"


def _md_page(body: str) -> str:
    return "<!DOCTYPE html><html><body>" + body + "</body></html>"


def test_microdata_value_sources_and_collapse():
    rows = _microdata_rows(
        MD_URL,
        _md_page(
            '<div itemscope itemtype="https://schema.org/Product">'
            "<span itemprop='name'>Widget   <b>7</b> x</span>"
            '<meta itemprop="sku" content="SKU-1">'
            '<a itemprop="url" href="/p/7">link text ignored</a>'
            '<time itemprop="when" datetime="2024-01-05">jan five</time>'
            "</div>"
        ),
    )
    assert rows == [
        (0, "https://schema.org/Product", "name", "Widget 7 x"),
        (0, "https://schema.org/Product", "sku", "SKU-1"),
        (0, "https://schema.org/Product", "url", "/p/7"),
        (0, "https://schema.org/Product", "when", "2024-01-05"),
    ]


def test_microdata_nested_item_link_and_numbering():
    rows = _microdata_rows(
        MD_URL,
        _md_page(
            '<div itemscope itemtype="T0"><span itemprop="a">A</span>'
            '<div itemprop="child" itemscope itemtype="T1">'
            '<span itemprop="b">B</span></div></div>'
            '<div itemscope itemtype="T2"><span itemprop="c">C</span></div>'
        ),
    )
    assert (0, "T0", "child", "item:1") in rows
    assert (1, "T1", "b", "B") in rows
    assert (2, "T2", "c", "C") in rows


def test_microdata_stray_prop_junk_and_unclosed():
    assert run_stage(extract_microdata, [(MD_URL, b"\x00\x01binary")]) == []
    assert _microdata_rows(
        MD_URL, _md_page('<span itemprop="stray">ignored</span>')
    ) == []
    # unclosed text prop at EOF keeps its collected text
    rows = _microdata_rows(
        MD_URL, '<div itemscope itemtype="T"><span itemprop="p">tail text'
    )
    assert rows == [(0, "T", "p", "tail text")]


def test_microdata_utf16_bom_page():
    blob = b"\xff\xfe" + _md_page(
        '<div itemscope itemtype="T"><span itemprop="n">Crème</span></div>'
    ).encode("utf-16-le")
    assert run_stage(extract_microdata, [(MD_URL, blob)]) == [
        {"url": MD_URL, "item_idx": 0, "item_type": "T", "prop": "n",
         "value": "Crème"}
    ]


def test_microdata_unmatched_close_tags_time_is_linear():
    """A close tag with no open element of its name is skipped without
    scanning the open stack: 4x the repeats may cost at most 6x the CPU
    (the stack scan measured ~15x)."""
    import time

    def cpu_s(n):
        text = _md_page("<section>x" * n + "</em>" * n)
        best = float("inf")
        for _ in range(5):
            t0 = time.process_time()
            _microdata_rows(MD_URL, text)
            best = min(best, time.process_time() - t0)
        return best

    n = 5000
    small, large = cpu_s(n), cpu_s(4 * n)
    assert large / small < 6, f"{n}: {small:.3f} s, {4 * n}: {large:.3f} s"


def test_microdata_spark_stage_schema_and_resilience(spark):
    pages = spark.createDataFrame(
        [
            ("u1", (_md_page('<div itemscope itemtype="T">'
                                  '<span itemprop="n">1</span></div>')).encode()),
            ("u2", None),
            ("u3", b"not html at all"),
        ],
        "url string, html binary",
    )
    out = extract_microdata(pages)
    assert [tuple(r) for r in out.collect()] == [("u1", 0, "T", "n", "1")]
    assert out.schema.simpleString() == (
        "struct<url:string,item_idx:int,item_type:string,"
        "prop:string,value:string>"
    )

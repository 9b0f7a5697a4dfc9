"""Page-head metadata parser: quoting/order variants, first-wins,
relative canonical resolution, non-HTML degradation, plan shape."""

import collections

from ocr_spark.operators.page_meta import _page_meta, extract_page_meta
from tests.conftest import run_stage

#: a UTF-16-LE page with a BOM whose <meta charset> names another codec:
#: the BOM decides how it decodes
_UTF16_PAGE = b"\xff\xfe" + (
    '<!DOCTYPE html><html lang="fr"><head><meta charset="windows-1252">'
    "<title>Café crème</title>"
    '<meta property="og:title" content="Crème brûlée">'
    '<script type="application/ld+json">{"@type":"Recipe"}</script>'
    '<link rel="next" href="/p/2">'
    "</head><body><p>x</p></body></html>"
).encode("utf-16-le")


def test_page_meta_full_head():
    html = (
        '<!DOCTYPE html><html lang="en-US"><head>'
        "<title>  A\n  Title </title>"
        '<link href="/canon/1" rel="canonical">'
        '<meta content="Hello  world" name="description">'
        "<link rel='alternate' hreflang='fr' href='https://fr.x/p'>"
        "</head><body></body></html>"
    )
    m = _page_meta("https://a.example/p/1?q=2", html)
    assert m == {
        "title": "A Title",
        "canonical_url": "https://a.example/canon/1",
        "description": "Hello world",
        "html_lang": "en-us",
        "n_hreflang": 1,
    }


def test_page_meta_first_occurrence_wins_and_missing_fields():
    html = (
        "<html><head><title>first</title><title>second</title>"
        '<link rel="canonical" href="https://c.x/1">'
        '<link rel="canonical" href="https://c.x/2">'
        "</head></html>"
    )
    m = _page_meta("https://a.example/", html)
    assert m["title"] == "first"
    assert m["canonical_url"] == "https://c.x/1"
    assert m["description"] is None and m["html_lang"] is None
    assert m["n_hreflang"] == 0


def test_page_meta_non_html_and_empty():
    rows = run_stage(
        extract_page_meta,
        [("https://a.example/x", b"%PDF-1.7 junk"), ("https://a.example/y", b"")],
    )
    assert [(r["title"], r["n_hreflang"]) for r in rows] == [(None, 0), (None, 0)]
    assert _page_meta("https://a.example/x", "")["n_hreflang"] == 0


def test_page_meta_utf16_bom_page():
    (row,) = run_stage(extract_page_meta, [("https://a.example/", _UTF16_PAGE)])
    assert (row["title"], row["html_lang"]) == ("Café crème", "fr")


def test_page_meta_bare_attr_quoting():
    html = "<html lang=fr><head><link rel=canonical href=https://c.x/b></head></html>"
    m = _page_meta("https://a.example/", html)
    assert m["html_lang"] == "fr"
    assert m["canonical_url"] == "https://c.x/b"


def test_page_meta_plan_single_python_stage(spark):
    pages = spark.createDataFrame(
        [("u", b"<html><head><title>t</title></head></html>")],
        "url string, html binary",
    )
    plan = (
        extract_page_meta(pages)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# OpenGraph + JSON-LD (extract_og_meta)
# ---------------------------------------------------------------------------

from ocr_spark.operators.page_meta import _og_meta, extract_og_meta


def test_og_meta_first_wins_and_quoting():
    html = (
        "<html><head>"
        "<meta content='T1' property='og:title'>"  # single quotes, attr order
        '<meta property="og:title" content="T2-loses">'
        '<meta property="og:image" content="  https://i.x/a.jpg ">'
        "</head></html>"
    )
    m = _og_meta(html)
    assert m["og_title"] == "T1"
    assert m["og_image"] == "https://i.x/a.jpg"
    assert m["og_type"] is None and m["og_url"] is None


def test_og_meta_jsonld_variants():
    html = (
        "<html><head>"
        '<script type="application/ld+json">{"@type": broken</script>'
        '<script type="application/ld+json">'
        '{"@graph":[{"@type":["NewsArticle","Article"]},{"@type":"x"}]}'
        "</script>"
        '<script type="application/ld+json">{"@type":"WebSite"}</script>'
        "</head></html>"
    )
    m = _og_meta(html)
    # malformed block skipped; first parseable wins; list @type -> first
    assert m["n_ld"] == 2
    assert m["ld_type"] == "NewsArticle"


def test_og_meta_non_html():
    (m,) = run_stage(extract_og_meta, [("u", b"%PDF-1.7 junk")])
    assert m["og_title"] is None and m["n_ld"] == 0


def test_og_meta_utf16_bom_page():
    (m,) = run_stage(extract_og_meta, [("u", _UTF16_PAGE)])
    assert (m["og_title"], m["ld_type"], m["n_ld"]) == ("Crème brûlée", "Recipe", 1)


def test_og_meta_plan_single_python_stage(spark):
    pages = spark.createDataFrame(
        [("u", b'<html><head><meta property="og:type" content="article">'
               b"</head></html>")],
        "url string, html binary",
    )
    df = extract_og_meta(pages)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert df.collect()[0].og_type == "article"


# ---------------------------------------------------------------------------
# pagination (extract_pagination)
# ---------------------------------------------------------------------------

from ocr_spark.operators.page_meta import _pagination, extract_pagination


def test_pagination_link_and_anchor_forms():
    html = (
        "<html><head>"
        '<link rel="next" href="/part-2">'
        "</head><body>"
        "<a href='/part-0' rel='nofollow previous'>back</a>"
        '<a rel="next" href="/part-9-loses">decoy second next</a>'
        "</body></html>"
    )
    p = _pagination("https://s.example/art/part-1", html)
    # relative hrefs resolve against the page url; FIRST next wins
    assert p["next_url"] == "https://s.example/part-2"
    assert p["prev_url"] == "https://s.example/part-0"


def test_pagination_rel_token_list_and_prev_alias():
    p = _pagination(
        "https://s.example/a",
        '<html><a href="/p" rel="prev">x</a><a href="/n" rel="NEXT">y</a></html>',
    )
    assert p["prev_url"] == "https://s.example/p"
    assert p["next_url"] == "https://s.example/n"
    # rel-less anchors and non-html are ignored
    assert _pagination("u", '<html><a href="/x">y</a></html>')["next_url"] is None
    (row,) = run_stage(extract_pagination, [("u", b"%PDF-junk")])
    assert row["next_url"] is None


def test_pagination_plan_zero_exchange(spark):
    pages = spark.createDataFrame(
        [("https://s.example/1",
          b'<html><link rel="next" href="/2"></html>')],
        "url string, html binary",
    )
    df = extract_pagination(pages)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "Exchange" not in plan
    assert df.collect()[0].next_url == "https://s.example/2"


# ---------------------------------------------------------------------------
# provenance (extract_provenance)
# ---------------------------------------------------------------------------

from ocr_spark.operators.page_meta import _provenance


def test_provenance_cc_license_link():
    html = (
        "<html><body><a rel='license' "
        "href='https://creativecommons.org/licenses/by-nc-sa/3.0/'>cc</a>"
        "</body></html>"
    )
    p = _provenance("https://s.example/a", html)
    assert p["license_url"].endswith("/by-nc-sa/3.0/")
    assert p["cc_variant"] == "by-nc-sa" and p["cc_version"] == "3.0"


def test_provenance_relative_license_and_body_cc0():
    p = _provenance(
        "https://s.example/a",
        '<html><link rel="license" href="/LICENSE"></html>',
    )
    assert p["license_url"] == "https://s.example/LICENSE"
    assert p["cc_variant"] is None
    # CC0 url in the body without rel=license still yields the variant
    p = _provenance(
        "https://s.example/a",
        '<html><a href="https://creativecommons.org/publicdomain/zero/1.0/">'
        "CC0</a></html>",
    )
    assert p["license_url"] is None
    assert p["cc_variant"] == "zero" and p["cc_version"] == "1.0"


def test_provenance_published_time_fallback_chain():
    # meta wins over time tag
    html = (
        '<html><head><meta property="article:published_time" '
        'content="2026-01-02T03:04:05Z"></head>'
        '<body><time datetime="2020-01-01T00:00:00Z">old</time></body></html>'
    )
    p = _provenance("u", html)
    assert p["published_ms"] == 1767323045000
    # invalid meta falls through to the time tag
    html = (
        '<html><meta property="article:published_time" content="yesterday">'
        '<time datetime="2026-01-02T03:04:05Z">t</time></html>'
    )
    assert _provenance("u", html)["published_ms"] == 1767323045000
    # neither -> None; non-html -> all None
    assert _provenance("u", "<html><p>x</p></html>")["published_ms"] is None
    from ocr_spark.operators.page_meta import extract_provenance

    (row,) = run_stage(extract_provenance, [("u", b"%PDF-junk")])
    assert row["license_url"] is None and row["published_ms"] is None


def test_meta_sidecar_fused_single_stage(spark):
    from ocr_spark.operators.page_meta import extract_meta_sidecar

    pages = spark.createDataFrame(
        [
            ("https://s.example/1",
             b'<html lang="fr"><head><title>T1</title>'
             b'<meta property="og:title" content="OT">'
             b'<link rel="next" href="/2">'
             b'<meta property="article:published_time" '
             b'content="2026-01-02T03:04:05Z"></head><body>'
             b'<a rel="license" '
             b'href="https://creativecommons.org/licenses/by/4.0/">c</a>'
             b"</body></html>"),
            ("https://s.example/bin", b"%PDF-1.7 not html"),
        ],
        "url string, html binary",
    )
    df = extract_meta_sidecar(pages)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ONE fused python stage, no shuffle: the scan is shared by all four
    # metadata families
    assert plan.count("MapInPandas") == 1 and "Exchange" not in plan
    rows = {r.url: r for r in df.collect()}
    r = rows["https://s.example/1"]
    assert (r.title, r.og_title, r.html_lang) == ("T1", "OT", "fr")
    assert r.next_url == "https://s.example/2"
    assert r.cc_variant == "by" and r.published_ms == 1767323045000
    b = rows["https://s.example/bin"]
    assert b.title is None and b.n_ld == 0 and b.license_url is None


def test_meta_sidecar_decodes_each_page_once(monkeypatch):
    """The sidecar's four parsers share one routed, decoded text per page:
    ``decode_bytes`` runs once per page, whichever module calls it, and
    each parser runs once per html page (never once per output column)."""
    import ocr_spark.kernels.encoding as encoding
    import ocr_spark.operators.extract as extract
    import ocr_spark.operators.page_meta as page_meta

    calls = []
    real = encoding.decode_bytes

    def counting(blob):
        calls.append(len(blob))
        return real(blob)

    monkeypatch.setattr(encoding, "decode_bytes", counting)
    monkeypatch.setattr(extract, "decode_bytes", counting)
    parsed = []
    for name in ("_page_meta", "_og_meta", "_pagination", "_provenance"):
        real_parser = getattr(page_meta, name)

        def counted(*args, _name=name, _real=real_parser):
            parsed.append(_name)
            return _real(*args)

        monkeypatch.setattr(page_meta, name, counted)
    pages = [
        ("https://s.example/1", b'<html><head><title>T1</title></head></html>'),
        ("https://s.example/2", "<html><title>Café</title></html>".encode("cp1252")),
        ("https://s.example/3", _UTF16_PAGE),
    ]
    pdf = ("https://s.example/pdf", b"%PDF-1.4")
    rows = run_stage(page_meta.extract_meta_sidecar, pages + [pdf])
    assert len(calls) == len(pages)
    assert collections.Counter(parsed) == {
        name: len(pages)
        for name in ("_page_meta", "_og_meta", "_pagination", "_provenance")
    }
    assert [r["title"] for r in rows] == ["T1", "Café", "Café crème", None]
    assert rows[2]["next_url"] == "https://s.example/p/2"

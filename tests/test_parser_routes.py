"""S5 dispatch routes (the page router and the docx / python / java
parsers) + the ADVICE round-1 fixes (html sniff breadth, dice blank-frame
parity, RepetitionGate eviction parity, IVF empty-table guard)."""

import numpy as np
import pytest

from ocr_spark.kernels.doc_parsers import (
    build_docx,
    looks_like_docx,
    parse_docx,
    parse_java_source,
    parse_python_source,
    sniff_code_lang,
)
from ocr_spark.kernels.md_extract import looks_like_html


def test_parse_docx_paragraph_shape():
    blob = build_docx(["Title here", "", "body one", "body & <two>"])
    assert looks_like_docx(blob)
    paras = parse_docx(blob)
    # empties kept at kernel level (python-docx Document.paragraphs parity)
    assert [p["text"] for p in paras] == ["Title here", "", "body one", "body & <two>"]


def test_parse_docx_tabs_and_breaks():
    import io
    import zipfile

    # handcrafted document.xml with w:tab / w:br inside runs
    doc = (
        b'<?xml version="1.0"?><w:document xmlns:w="x"><w:body>'
        b"<w:p><w:r><w:t>a</w:t><w:tab/><w:t>b</w:t><w:br/><w:t>c</w:t></w:r></w:p>"
        b"</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
    assert parse_docx(buf.getvalue())[0]["text"] == "a\tb\nc"


def _docx_of(document_xml: bytes) -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("word/document.xml", document_xml)
    return buf.getvalue()


def test_docx_unclosed_tags_time_is_linear():
    """An unclosed <w:p> or <w:t> must not scan to the end of document.xml:
    through extract_batch, 4x the repeats (half closed, then half
    unclosed) may cost at most 6x the CPU (the lazy spans measured
    ~14x)."""
    import time

    import pandas as pd

    from ocr_spark.operators.extract import extract_batch

    def cpu_s(xml):
        chunk = pd.DataFrame(
            {"url": ["u"], "warc_ts": [None], "lang": ["en"], "html": [_docx_of(xml)]}
        )
        best = float("inf")
        for _ in range(5):
            t0 = time.process_time()
            extract_batch(chunk)
            best = min(best, time.process_time() - t0)
        return best

    def doc(n, closed, unclosed, head=b"", tail=b""):
        return b"<w:body>" + head + closed * n + unclosed * n + tail

    n = 5000
    for args in (
        (b"<w:p><w:t>x</w:t></w:p>", b"<w:p><w:t>x</w:t>"),  # unclosed w:p
        (b"<w:t>x</w:t>", b"<w:t>x", b"<w:p>", b"</w:p>"),  # unclosed w:t
    ):
        small, large = cpu_s(doc(n, *args)), cpu_s(doc(4 * n, *args))
        assert large / small < 6, f"{args[1]!r}: {small:.3f} s, {large:.3f} s"


def test_docx_scans_match_unbounded_regexes():
    """The linear w:p / w:t scans find the same matches as the plain lazy
    regexes on random tag soups, self-closing tags after the last closer
    included."""
    import random
    import re

    from ocr_spark.kernels import doc_parsers as dp
    from ocr_spark.kernels.textproc import finditer_closed

    w_p = re.compile(rb"<w:p[ >].*?</w:p>|<w:p/>", re.S)
    w_t = re.compile(rb"<w:t(?: [^>]*)?>(.*?)</w:t>|<w:tab/>|<w:br/>", re.S)
    assert (dp._W_P_RE.pattern, dp._W_T_RE.pattern) == (w_p.pattern, w_t.pattern)
    tokens = [b"<w:p>", b'<w:p w:x="1">', b"</w:p>", b"<w:p/>", b"<w:t>",
              b'<w:t xml:space="preserve">', b"</w:t>", b"<w:tab/>", b"<w:br/>",
              b"<w:r>", b"x", b" ", b">", b"<"]
    rng = random.Random(3)
    for _ in range(3000):
        data = b"".join(rng.choice(tokens) for _ in range(rng.randint(0, 30)))
        for pattern, close, empty in (
            (dp._W_P_RE, dp._W_P_CLOSE_RE, dp._W_P_EMPTY_RE),
            (dp._W_T_RE, dp._W_T_CLOSE_RE, dp._W_T_EMPTY_RE),
        ):
            want = [m.span() for m in pattern.finditer(data)]
            got = [m.span() for m in finditer_closed(pattern, close, data, empty)]
            assert got == want, data


def test_python_split_rejoin_identity():
    src = (
        "import os\n\n# comment block\n\ndef f():\n    return 1\n\n"
        "class C:\n    pass\n\n@deco\ndef g():\n    pass\n"
    )
    parts = parse_python_source(src)
    assert all(p["type"] == "code" and p["language"] == "python" for p in parts)
    assert len(parts) == 5
    assert "\n\n".join(p["text"] for p in parts) == src
    # blank line NOT followed by def/#/class/@ does not split
    src2 = "def f():\n    x = 1\n\n    return x\n"
    assert len(parse_python_source(src2)) == 1


def test_java_single_paragraph():
    src = "package a.b;\n\npublic class X {}\n"
    parts = parse_java_source(src)
    assert len(parts) == 1 and parts[0]["language"] == "java"
    assert parts[0]["text"] == src


def test_code_sniff():
    assert sniff_code_lang("import os\n\ndef f():\n    pass\n") == "python"
    assert sniff_code_lang("package a.b;\nimport java.util.List;\nclass X {}") == "java"
    assert sniff_code_lang("# Notes\n\nplain markdown prose\n") is None
    # java import has the ';' that python lacks — ordering must not confuse
    assert sniff_code_lang("from x import y\n") == "python"
    assert sniff_code_lang("Just prose mentioning import taxes here") is None


def test_html_sniff_close_tag_breadth():
    # ADVICE r01: span/li/td-only pages must route to the HTML parser
    page = b"<span>alpha</span><li>beta</li><td>gamma</td>"
    assert looks_like_html(page)
    # prose and generics still do not match
    assert not looks_like_html(b"if x < a then stop")
    assert not looks_like_html(b"List<String> xs = new ArrayList<>();")
    assert not looks_like_html(b"i<a.length && j</b")  # '</b' has no '>'


def test_ivf_empty_and_tiny_tables(spark):
    from ocr_spark.operators import similarity as sim_ops

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        sim_ops.ivf_topk(empty, empty, k=3)
    # tiny table: centroids clamp to sample size, query still answers
    rows = [(i, [float(i), 1.0, 0.0]) for i in range(4)]
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim_ops.ivf_topk(tiny, tiny.where("vec_id = 0"), k=2, n_centroids=16, n_probe=16)
    got = out.collect()
    assert len(got) == 2 and all(r.query_id == 0 for r in got)


def test_docx_and_code_pages_byte_identical(spark):
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.sources.pages import synth_page

    rows = []
    for doc_id in (15, 12, 32):
        p = synth_page(doc_id, "alpha beta gamma delta epsilon zeta " * 10, "en")
        rows.append((p["url"], None, p["html"], "t", "en", p["expected_text"]))
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string, expected string",
    )
    out = extract_pages(pages.drop("expected"))
    j = out.join(pages.select("url", "expected"), "url")
    assert j.where("text = expected").count() == 3
    kinds = {s.kind for r in out.collect() for s in r.spans}
    assert "code" in kinds and "text" in kinds


def _stored_zip(name: str, data: bytes) -> bytes:
    """A zip archive whose one member is stored uncompressed (not a docx)."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        zf.writestr(name, data)
    return buf.getvalue()


_PY_SRC = "import os\n\ndef f():\n    return 1\n"
_JAVA_SRC = "package a.b;\nimport java.util.List;\npublic class X {}\n"
_MD_SRC = "# Notes\n\nplain markdown prose\n"
_ZIP_PAGE = _stored_zip("chapter.html", b"<p>chapter one text</p>")


def _route_cases():
    from ocr_spark.kernels.imagecodec import jpeg_encode, png_encode
    from ocr_spark.sources.pages import PAYLOAD_MAGIC

    img = np.full((8, 8), 255, dtype=np.uint8)
    docx = build_docx(["body one"])
    payload = PAYLOAD_MAGIC + b'{"lines": []}'
    html = b"<html><body><p>hello</p></body></html>"
    junk = bytes(range(256)) * 4
    return [
        ("pdf", b"%PDF-1.4\n%junk", "pdf", b"%PDF-1.4\n%junk"),
        ("png", png_encode(img), "image", (png_encode(img), "png")),
        ("jpeg", jpeg_encode(img), "image", (jpeg_encode(img), "jpeg")),
        ("docx", docx, "docx", docx),
        ("payload", payload, "payload", payload),
        ("html", html, "html", html.decode()),
        ("utf16_bom_html", b"\xff\xfe" + html.decode().encode("utf-16-le"), "html", html.decode()),
        ("python", _PY_SRC.encode(), "code", (_PY_SRC, "python")),
        ("java", _JAVA_SRC.encode(), "code", (_JAVA_SRC, "java")),
        ("markdown", _MD_SRC.encode(), "md", _MD_SRC),
        ("binary", junk, "binary", junk),
        ("empty", b"", "binary", b""),
        ("none", None, "binary", b""),
        # no charset and not UTF-8: the cp1252 fallback decode
        ("stored_zip_html", _ZIP_PAGE, "html", _ZIP_PAGE.decode("cp1252")),
    ]


@pytest.mark.parametrize(
    "blob,route,payload",
    [case[1:] for case in _route_cases()],
    ids=[case[0] for case in _route_cases()],
)
def test_page_route(blob, route, payload):
    from ocr_spark.operators.extract import page_route

    assert page_route(blob) == (route, payload)


def test_css_select_follows_the_page_router(spark):
    """A page is DOM-queried iff the extraction job reads it as HTML: the
    stored non-docx zip extracts its paragraph, so css_select sees it too."""
    import pandas as pd

    from ocr_spark.operators.dom_query import css_select_table
    from ocr_spark.operators.extract import extract_batch

    rows = [("zip", _ZIP_PAGE), ("pdf", b"%PDF-1.4 <p>not html</p>")]
    extracted = extract_batch(
        pd.DataFrame(
            {"url": [u for u, _ in rows], "warc_ts": [None] * 2,
             "lang": ["en"] * 2, "html": [h for _, h in rows]}
        )
    )
    assert extracted["text"].tolist()[0] == "chapter one text"
    df = spark.createDataFrame(rows, "url string, html binary")
    got = css_select_table(df, ["p"]).collect()
    assert [(r.url, r.tag, r.text) for r in got] == [("zip", "p", "chapter one text")]


_META_1252_PAGE = (
    '<html><head><meta charset="windows-1252"><title>Café</title></head>'
    "<body><p>Crème brûlée à la carte</p></body></html>"
)
_BOM_PAGES = {
    "utf16_le_bom": b"\xff\xfe" + _META_1252_PAGE.encode("utf-16-le"),
    "utf8_bom": b"\xef\xbb\xbf" + _META_1252_PAGE.encode("utf-8"),
}


@pytest.mark.parametrize("name", sorted(_BOM_PAGES))
def test_bom_wins_over_meta_charset(name):
    """A BOM page is decoded once, by the router: the kernel must not decode
    its UTF-8 re-encoding again under the page's <meta charset>."""
    import pandas as pd

    from ocr_spark.operators.extract import extract_batch

    out = extract_batch(
        pd.DataFrame(
            {"url": ["u"], "warc_ts": [None], "lang": ["fr"], "html": [_BOM_PAGES[name]]}
        )
    )
    assert out["title"].tolist() == ["Café"]
    assert out["text"].tolist()[0] == "Crème brûlée à la carte"


def test_css_select_reads_the_routers_decode(spark):
    from ocr_spark.operators.dom_query import css_select_table

    df = spark.createDataFrame(sorted(_BOM_PAGES.items()), "url string, html binary")
    got = css_select_table(df, ["p"]).collect()
    assert sorted((r.url, r.text) for r in got) == [
        ("utf16_le_bom", "Crème brûlée à la carte"),
        ("utf8_bom", "Crème brûlée à la carte"),
    ]

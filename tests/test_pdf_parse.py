"""Byte-level PDF parser tests: kernels/pdf_parse.py + sources/pdf_synth.py.

Covers the round-1 VERDICT item 1: the synthetic payload boundary is now a
real PDF scanner — classic xref, xref streams + object streams + PNG
predictors, Flate/ASCIIHex filters, the content-stream text machinery, and
degradation on malformed bytes.
"""

import zlib

import pytest

from ocr_spark.kernels.pdf_parse import (
    Document,
    PdfError,
    Ref,
    parse_pdf_pages,
    parse_value,
)
from ocr_spark.operators.extract import _extract_pdf_doc
from ocr_spark.sources.pdf_synth import build_pdf

TEXT = (
    "the quick brown fox jumps over a lazy dog while seventeen yellow owls "
    "watch quietly from tall trees near old stone bridges "
) * 4


# -- object lexer -----------------------------------------------------------

def test_parse_value_primitives():
    assert parse_value(b" 42 ", 0)[0] == 42
    assert parse_value(b"-1.5", 0)[0] == -1.5
    assert parse_value(b"/Name#20x", 0)[0] == "/Name x"
    assert parse_value(b"true", 0)[0] is True
    assert parse_value(b"null", 0)[0] is None
    assert parse_value(b"[1 2 /A (s)]", 0)[0] == [1, 2, "/A", b"s"]
    assert parse_value(b"3 0 R", 0)[0] == Ref(3, 0)
    d, _ = parse_value(b"<< /A 1 /B [2 0 R] >>", 0)
    assert d == {"/A": 1, "/B": [Ref(2, 0)]}


def test_literal_string_escapes():
    assert parse_value(rb"(a\(b\)c)", 0)[0] == b"a(b)c"
    assert parse_value(rb"(tab\there)", 0)[0] == b"tab\there"
    assert parse_value(rb"(\101\102)", 0)[0] == b"AB"  # octal
    assert parse_value(b"(nest(ed)ok)", 0)[0] == b"nest(ed)ok"
    assert parse_value(b"(line\\\ncont)", 0)[0] == b"linecont"  # continuation


def test_hex_string():
    assert parse_value(b"<48 65 6C6C 6F>", 0)[0] == b"Hello"
    assert parse_value(b"<486>", 0)[0] == b"H`"  # odd length pads 0


# -- round trip over every writer variant -----------------------------------

@pytest.mark.parametrize("doc_id", [5, 25, 45, 65])
def test_round_trip_byte_identical(doc_id):
    pdf, expected = build_pdf(doc_id, TEXT)
    variant = (doc_id // 20) % 4
    if variant == 2:
        assert pdf.startswith(b"%PDF-1.5") and b"/ObjStm" in pdf
    else:
        assert b"\nxref\n" in pdf
    title, text, spans = _extract_pdf_doc(pdf)
    assert text == expected
    assert title == f"Pdf Document {doc_id}"
    # page-1 title+2 paras+footnote, page-2 heading+2 paras
    assert len(spans) == 7
    assert spans[3]["kind"] == "footnote"
    assert all(0.0 <= s["x0"] <= s["x1"] <= 1.0 for s in spans)
    assert all(0.0 <= s["y0"] <= s["y1"] <= 1.0 for s in spans)


def test_blocks_carry_font_size_and_order():
    pdf, _ = build_pdf(5, TEXT)
    pages = parse_pdf_pages(pdf)
    assert [p["page"] for p in pages] == [0, 1]
    assert pages[0]["width"] == 612.0 and pages[0]["height"] == 792.0
    sizes = [b["font_size"] for b in pages[0]["blocks"]]
    assert sizes[0] == 8 and sizes[1] == 18 and sizes[-1] == 9
    # header block is in the top 10% band (is_header precondition)
    assert pages[0]["blocks"][0]["box"][1] <= 0.1
    # page 2 superscript run is font 6 and raised above its line's tops
    sup = [b for b in pages[1]["blocks"] if b["text"] == "z"]
    assert len(sup) == 1 and sup[0]["font_size"] == 6


def test_xref_stream_and_objstm():
    pdf, _ = build_pdf(45, TEXT)  # variant 2
    doc = Document(pdf)
    # objects 1-5 live in the object stream, content streams are top-level
    assert set(doc.in_objstm) == {1, 2, 3, 4, 5}
    assert all(num in doc.offsets for num in (6, 7, 8, 9))
    root = doc.resolve(doc.trailer["/Root"])
    assert root["/Type"] == "/Catalog"


def test_fallback_scan_on_broken_xref():
    pdf, expected = build_pdf(5, TEXT)
    # corrupt the startxref offset: parser must fall back to object scan
    broken = pdf.replace(b"startxref\n", b"startxref\n9999999 %", 1)
    _, text, _ = _extract_pdf_doc(broken)
    assert text == expected


def test_malformed_pdfs_degrade_not_crash(spark):
    from ocr_spark.operators.extract import extract_pages

    rows = [
        ("p1", None, b"%PDF-1.4\ngarbage no objects", "t", "en"),
        ("p2", None, b"%PDF-", "t", "en"),
        ("p3", None, build_pdf(5, TEXT)[0][:200], "t", "en"),  # truncated
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r.url: r for r in extract_pages(pages).collect()}
    assert len(out) == 3
    assert all(r.text == "" for r in out.values())


def test_contents_array_and_widths_font():
    """Handcrafted PDF: /Contents as an array of two streams, a /Widths
    font (Helvetica), and an indirect /Length — none produced by our
    writer, all legal in the wild."""
    c1 = b"BT /F1 12 Tf 72 700 Td (Hello) Tj ET"
    c2 = b"BT /F1 12 Tf 72 650 Td (World) Tj ET"
    widths = "[" + " ".join(["500"] * 224) + "]"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] "
            b"/Resources << /Font << /F1 6 0 R >> >> >>"
        ),
        4: b"<< /Length 8 0 R >>\nstream\n" + c1 + b"\nendstream",
        5: b"<< /Length %d >>\nstream\n" % len(c2) + c2 + b"\nendstream",
        6: (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/FirstChar 32 /Widths " + widths.encode() + b" >>"
        ),
        8: b"%d" % len(c1),
    }
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    nmax = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % nmax
    for num in range(1, nmax):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (nmax, xref_at)

    pages = parse_pdf_pages(bytes(out))
    assert len(pages) == 1
    texts = [b["text"] for b in pages[0]["blocks"]]
    assert texts == ["Hello", "World"]
    hello = pages[0]["blocks"][0]
    # Helvetica defaults: ascent 718 -> top = 700 + 12*0.718 = 708.6
    assert hello["box"][1] == pytest.approx((792 - 708.616) / 792, abs=1e-3)
    # /Widths 500 per glyph: width = 5 chars * 12 * 0.5 = 30pt
    assert (hello["box"][2] - hello["box"][0]) * 612 == pytest.approx(30.0, abs=0.01)


def test_flate_predictor_roundtrip():
    from ocr_spark.kernels.pdf_parse import _png_unpredict

    rows = [bytes([i, i * 2 % 256, 7]) for i in range(5)]
    # encode with Up predictor
    enc = bytearray()
    prev = bytes(3)
    for r in rows:
        enc += b"\x02" + bytes((r[i] - prev[i]) & 0xFF for i in range(3))
        prev = r
    assert _png_unpredict(bytes(enc), 3) == b"".join(rows)


def test_not_a_pdf_raises():
    with pytest.raises(PdfError):
        parse_pdf_pages(b"<html>nope</html>")


def test_pdf_pages_in_flagship_corpus(spark):
    """sf0.001 corpus routes doc_id%20==5 through the real-PDF path and the
    by-construction golden stays byte-identical (done-criterion of
    VERDICT.md next-item 1)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.sources.pages import pages_df
    from tests.conftest import SF_SMOKE

    golden = pages_df(spark, SF_SMOKE, with_expected=True).where(
        F.col("url").rlike("/p/\\d*5$")
    )
    pdf_pages = golden.where(F.expr("substring(html, 1, 5) = X'255044462D'"))  # %PDF-
    n_pdf = pdf_pages.count()
    assert n_pdf == 25
    out = extract_pages(pdf_pages.drop("expected_text"))
    j = out.join(golden.select("url", "expected_text"), "url")
    assert j.where("text = expected_text").count() == n_pdf


def _mini_pdf(objs: dict) -> bytes:
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    nmax = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % nmax
    for num in range(1, nmax):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        nmax, xref_at,
    )
    return bytes(out)


def test_form_xobject_text_extracted():
    """Text living inside a /Form XObject (common in generator output) must
    surface, positioned through the invocation CTM x /Matrix."""
    form = b"BT /F1 10 Tf 10 20 Td (inside form) Tj ET"
    page_content = (
        b"BT /F1 12 Tf 72 700 Td (on page) Tj ET\n"
        b"q 1 0 0 1 100 300 cm /Fm1 Do Q"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> /XObject << /Fm1 6 0 R >> >> >>"
        ),
        4: b"<< /Length %d >>\nstream\n" % len(page_content) + page_content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        6: (
            b"<< /Type /XObject /Subtype /Form /Matrix [1 0 0 1 50 0] "
            b"/Resources << /Font << /F1 5 0 R >> >> /Length %d >>\nstream\n"
            % len(form) + form + b"\nendstream"
        ),
    }
    pages = parse_pdf_pages(_mini_pdf(objs))
    texts = {b["text"]: b for b in pages[0]["blocks"]}
    assert set(texts) == {"on page", "inside form"}
    # form origin: (10,20) + /Matrix (50,0) + cm (100,300) = (160, 320)
    blk = texts["inside form"]
    assert blk["box"][0] * 612 == pytest.approx(160.0, abs=0.5)
    assert (792 - blk["box"][3] * 792) == pytest.approx(320 - 1.57, abs=0.5)


def test_inline_image_skipped():
    content = (
        b"BT /F1 12 Tf 72 700 Td (before) Tj ET\n"
        b"BI /W 2 /H 2 /CS /RGB /BPC 8 ID \xff\x00(Tj)\x11\x22\x33\x44\x55\x66\x77\x88\x99 EI\n"
        b"BT /F1 12 Tf 72 650 Td (after) Tj ET"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> >>"
        ),
        4: b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    }
    pages = parse_pdf_pages(_mini_pdf(objs))
    assert [b["text"] for b in pages[0]["blocks"]] == ["before", "after"]


def test_encrypted_pdf_clear_error():
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [] /Count 0 >>",
        7: b"<< /Filter /Standard /V 1 >>",
    }
    blob = _mini_pdf(objs).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 7 0 R"
    )
    with pytest.raises(PdfError, match="encrypted"):
        parse_pdf_pages(blob)


def test_tounicode_cmap_subset_font():
    """Subset/CID fonts emit glyph ids; /ToUnicode maps them back to text
    (the dominant real-crawl PDF flavor)."""
    import zlib

    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"2 beginbfchar\n<0041> <0048>\n<0042> <0069>\nendbfchar\n"  # A->H, B->i
        b"1 beginbfrange\n<0050> <0052> <0061>\nendbfrange\n"        # P,Q,R -> a,b,c
        b"endcmap end\n"
    )
    enc = zlib.compress(cmap)
    # Type0 font: 2-byte codes in hex strings
    content = b"BT /F1 12 Tf 72 700 Td <00410042> Tj 1 0 0 1 72 650 Tm <005000510052> Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> >>"
        ),
        4: b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream",
        5: (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /ABCDEF+Custom "
            b"/ToUnicode 6 0 R >>"
        ),
        6: b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(enc) + enc + b"\nendstream",
    }
    pages = parse_pdf_pages(_mini_pdf(objs))
    texts = [b["text"] for b in pages[0]["blocks"]]
    assert texts == ["Hi", "abc"]


def test_bfrange_array_form_and_one_byte_tounicode():
    from ocr_spark.kernels.pdf_parse import _parse_tounicode

    cmap = (
        b"1 beginbfrange\n<10> <12> [<0058> <0059> <005A>]\nendbfrange\n"
        b"1 beginbfchar\n<20> <0020>\nendbfchar\n"
    )
    m = _parse_tounicode(cmap)
    assert m[0x10] == "X" and m[0x11] == "Y" and m[0x12] == "Z"
    assert m[0x20] == " "


def test_cid_without_tounicode_is_unreadable_not_crash():
    content = b"BT /F1 12 Tf 72 700 Td <00410042> Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> >>"
        ),
        4: b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /NoMap >>",
    }
    pages = parse_pdf_pages(_mini_pdf(objs))
    # two 2-byte codes -> two replacement glyphs, still positioned
    assert pages[0]["blocks"][0]["text"] == "��"


def test_degenerate_mediabox_raises_pdferror():
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 0 0] >>",
        3: b"<< /Type /Page /Parent 2 0 R >>",
    }
    with pytest.raises(PdfError, match="MediaBox"):
        parse_pdf_pages(_mini_pdf(objs))


def test_corrupt_flate_and_hex_raise_pdferror():
    bad_stream = b"<< /Length 8 /Filter /FlateDecode >>\nstream\nnotflate\nendstream"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: bad_stream,
    }
    with pytest.raises(PdfError, match="Flate"):
        parse_pdf_pages(_mini_pdf(objs))
    with pytest.raises(PdfError, match="hex"):
        parse_value(b"<48656", 0)


def test_q_restores_text_state():
    """q/Q must save the TEXT state too: a font change inside q..Q may not
    leak into later runs (self-review find)."""
    content = (
        b"BT /F1 10 Tf 72 700 Td (ten) Tj ET\n"
        b"q BT /F1 24 Tf 72 650 Td (twentyfour) Tj ET Q\n"
        b"BT 72 600 Td (stillten) Tj ET"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> >>"
        ),
        4: b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    }
    blocks = parse_pdf_pages(_mini_pdf(objs))[0]["blocks"]
    sizes = {b["text"]: b["font_size"] for b in blocks}
    assert sizes == {"ten": 10, "twentyfour": 24, "stillten": 10}


def test_content_tokenizer_time_is_linear():
    """Tokenizing a content stream of many short operators takes time
    linear in its length: matching an operator must not copy the rest of
    the stream. 4x the bytes may cost at most 6x the CPU (a copy per
    operator measured ~8-10x)."""
    import time

    from ocr_spark.kernels.pdf_parse import _tokenize_content

    unit = b"1 0 0 1 10 10 Tm (ab) Tj\n"

    def cpu_s(n_bytes):
        data = unit * (n_bytes // len(unit))
        best = float("inf")
        for _ in range(2):
            t0 = time.process_time()
            for _tok in _tokenize_content(data):
                pass
            best = min(best, time.process_time() - t0)
        return best

    n = 256_000
    small, large = cpu_s(n), cpu_s(4 * n)
    assert large / small < 6, f"{n} B: {small:.3f} s, {4 * n} B: {large:.3f} s"

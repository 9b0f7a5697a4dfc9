"""The flagship extraction operator: pages -> (url, title, text, spans).

Architecture (SURVEY.md §3.1 "Spark lifecycle equivalent"): the whole
detect -> recognize -> order -> assemble chain for one document is a pure
function of one input row, so it runs in a SINGLE ``mapInPandas`` stage —
one Arrow batch in, one batch of extracted documents out, **zero shuffles**.

Every page goes through one router, :func:`page_route` (the reference's
``parse_document`` dispatch, parsers/__init__.py:53-201), which names its
route: html | pdf | image | docx | payload | code | md | binary.
``extract_batch`` groups a chunk's rows by route and calls each route's
kernel once, list in and list out; the payload kernel decodes every line
of its pages in one padded CTC batch (the analog of the reference's
pad_batch at base_ocr.py:210-211).

Reference path reproduced (behavior only):
- HTML pages: prepare_html + extract_paragraphs
  (/root/reference/utils/text/parsers/html_parser.py:26-227) — kernel D8.
- payload pages (embedded PDF/image analog): word boxes -> combine_boxes
  (/root/reference/utils/image/bounding_box/combination.py:339-361) ->
  per-line CTC decode (/root/reference/utils/text/ctc_decoder.py:14-36) ->
  reading-order sort (processing.py:20-96 'top') -> ' \\n'-joined paragraphs
  (/root/reference/models/ocr/base_ocr.py:229-236).

The char vocab is broadcast-once-per-executor via a module-level lazy
singleton inside the UDF closure (north_rule: "broadcasts decoder tables /
model weights once per executor — no per-row Python").
"""

from __future__ import annotations

import json

import numpy as np

from ..kernels import ctc as ctc_kernel
from ..kernels.boxes import convert_boxes
from ..kernels.combine import combine_boxes
from ..kernels.html_extract import extract_page
from ..kernels.md_extract import (
    looks_like_html,
    mostly_text,
    parse_markdown,
    render_md_document,
    render_md_paragraph,
)
from ..kernels.doc_parsers import looks_like_docx, sniff_code_lang
from ..kernels.encoding import decode_bytes, detect_bom
from ..kernels.sort import sort_boxes_xywh
from ..sources.pages import PAYLOAD_MAGIC

SPAN_STRUCT = (
    "struct<seq:int,kind:string,section:string,text:string,"
    "x0:double,y0:double,x1:double,y1:double,score:double>"
)
EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, title string, "
    f"text string, spans array<{SPAN_STRUCT}>, n_spans int"
)

# lazy per-worker decoder table (ship once per executor, not per row)
_VOCAB: list[str] | None = None
_VOCAB_INDEX: dict | None = None


def _get_vocab():
    global _VOCAB, _VOCAB_INDEX
    if _VOCAB is None:
        _VOCAB = ctc_kernel.make_vocab()
        _VOCAB_INDEX = {c: i for i, c in enumerate(_VOCAB)}
    return _VOCAB, _VOCAB_INDEX


def _extract_html_doc(text_in: str):
    from ..kernels.html_extract import render_paragraph

    title, paragraphs, text = extract_page(text_in)
    spans = _banded_spans(
        [
            (para["type"], " > ".join(para.get("section", [])), render_paragraph(para))
            for para in paragraphs
        ]
    )
    return title or "", text, spans


def _extract_md_doc(text_in: str):
    """Markdown / plain-text page (S5 dispatch fallback): same span shape
    as the HTML path; title = first heading if any."""
    paragraphs = parse_markdown(text_in)
    spans = _banded_spans(
        [
            (
                para["type"],
                # skipped heading levels pad the stack with "" — drop them
                # from the breadcrumb
                " > ".join(s for s in para.get("section", []) if s),
                render_md_paragraph(para),
            )
            for para in paragraphs
        ]
    )
    title = next(
        (s for para in paragraphs for s in para.get("section", []) if s), ""
    )
    return title, render_md_document(paragraphs), spans


def _span(seq, kind, section, text, box, score=1.0):
    """One SPAN_STRUCT record: a paragraph's text and its (x0, y0, x1, y1)."""
    x0, y0, x1, y1 = (float(v) for v in box)
    return {
        "seq": seq,
        "kind": kind,
        "section": section,
        "text": text,
        "x0": x0,
        "y0": y0,
        "x1": x1,
        "y1": y1,
        "score": score,
    }


def _banded_spans(items):
    """Document-order pseudo-box spans (FIXTURES.md §1): items of
    (kind, section, text) -> span dicts."""
    n = max(len(items), 1)
    return [
        _span(i, kind, section, text, (0.05, i / n, 0.95, (i + 1) / n))
        for i, (kind, section, text) in enumerate(items)
    ]


def _extract_docx_doc(blob: bytes):
    """S5 docx route: one paragraph per w:p (reference docx_parser.py:14-21),
    empty paragraphs dropped at assembly."""
    from ..kernels.doc_parsers import parse_docx

    paragraphs = [p for p in parse_docx(blob) if p["text"].strip()]
    spans = _banded_spans([("text", "", p["text"]) for p in paragraphs])
    return "", "\n\n".join(p["text"] for p in paragraphs), spans


def _extract_code_doc(source: tuple[str, str]):
    """S5 py/java routes: 'type: code' paragraphs (reference
    py_parser.py:15-25 split / java_parser.py:13-18 whole-file);
    ``source`` is the router's (text, lang)."""
    from ..kernels.doc_parsers import parse_java_source, parse_python_source

    text_in, lang = source
    if lang == "python":
        paragraphs = parse_python_source(text_in)
    else:
        paragraphs = parse_java_source(text_in)
    paragraphs = [p for p in paragraphs if p["text"].strip()]
    spans = _banded_spans([("code", p["language"], p["text"]) for p in paragraphs])
    return "", "\n\n".join(p["text"] for p in paragraphs), spans


def _extract_image_doc(image: tuple[bytes, str]):
    """REAL image page (PNG/JPEG of rendered text): decode the codec
    (kernels/imagecodec.py), detect word boxes from ink projections and
    recognize glyph cells by template matching (kernels/pixel_ocr.py) —
    the detect->recognize path on actual pixels, no fixture logits.
    ``image`` is the router's (bytes, codec)."""
    from ..kernels.imagecodec import jpeg_decode, png_decode
    from ..kernels.pixel_ocr import ocr_page

    blob, codec = image
    img = png_decode(blob) if codec == "png" else jpeg_decode(blob)
    if img.ndim == 3:
        img = img.mean(axis=2).astype("uint8")

    # group detected words into lines by their band top (the detector
    # emits reading order: bands top-to-bottom, words left-to-right)
    lines: list[dict] = []
    for (x0, y0, x1, y1), word in ocr_page(img):
        if not lines or abs(y0 - lines[-1]["y0"]) > 1e-9:
            lines.append({"y0": y0, "y1": y1, "x0": x0, "x1": x1, "words": []})
        cur = lines[-1]
        cur["words"].append(word)
        cur["x0"] = min(cur["x0"], x0)
        cur["x1"] = max(cur["x1"], x1)
        cur["y1"] = max(cur["y1"], y1)

    texts = [" ".join(line["words"]) for line in lines]
    spans = [
        _span(i, "ocr", "", text, (line["x0"], line["y0"], line["x1"], line["y1"]))
        for i, (line, text) in enumerate(zip(lines, texts))
    ]
    return "", "\n".join(texts), spans


def _extract_pdf_doc(blob: bytes):
    """Real PDF bytes -> (title, text, spans).

    Byte-level scan via kernels/pdf_parse.py (xref/ObjStm/Flate/content
    interpreter), then the W8/W9 layout kernels (kernels/pdf_layout.py,
    reference pdf_parser.py:180-346 semantics). Running headers and page
    numbers are dropped (reference process_paragraphs behavior); footnotes
    are kept, tagged kind='footnote'. Title = first largest-font paragraph.
    """
    from ..kernels.pdf_layout import process_page
    from ..kernels.pdf_parse import parse_pdf_pages

    paragraphs = []
    for page in parse_pdf_pages(blob):
        for para in process_page(page["blocks"]):
            para["page"] = page["page"]
            paragraphs.append(para)

    kept = [
        p for p in paragraphs
        if p.get("text") and not p.get("is_header") and not p.get("is_page_number")
    ]
    title = ""
    if kept:
        best = max(p["font_size"] for p in kept)
        title = next(p["text"] for p in kept if p["font_size"] == best)

    spans = [
        _span(
            i,
            "footnote" if para.get("is_footnote") else "pdf",
            f"page {para['page']}",
            para["text"],
            para["box"],
        )
        for i, para in enumerate(kept)
    ]
    return title, "\n\n".join(p["text"] for p in kept), spans


def _plan_payload_doc(html: bytes, jobs: list):
    """Parse a payload page and run the detect/order kernels; append one
    (T, V) logits job per text line to the chunk's ``jobs``.

    Returns the page's paragraphs in reading order, each with its box and
    the indices of its lines in ``jobs``; they are assembled once the
    chunk's lines are decoded.
    """
    vocab, index = _get_vocab()
    payload = json.loads(html[len(PAYLOAD_MAGIC) :].decode("utf-8"))

    word_boxes, word_texts = [], []
    for line in payload["lines"]:
        for box, word in zip(line["boxes"], line["words"]):
            word_boxes.append(box)
            word_texts.append(word)

    if not word_boxes:
        return []

    word_boxes = np.asarray(word_boxes, dtype=np.float64)
    para_boxes, para_indices, para_rows = combine_boxes(word_boxes)

    # reading order over paragraph boxes ('top' banding)
    order = sort_boxes_xywh(
        convert_boxes(para_boxes, "xyxy", "xywh"), method="top"
    )

    paragraphs = []
    for p in order:
        rows = para_rows[p]
        idx_groups = para_indices[p]
        if not isinstance(idx_groups, list):
            idx_groups = [idx_groups]
        if idx_groups and not isinstance(idx_groups[0], list):
            idx_groups = [idx_groups]
        # row order: top-to-bottom by y0 (stable)
        row_order = np.argsort(np.asarray(rows)[:, 1], kind="stable")
        line_job_ids = []
        for r in row_order:
            members = idx_groups[r] if r < len(idx_groups) else []
            members = sorted(members, key=lambda i: word_boxes[i, 0])
            words = " ".join(word_texts[i] for i in members)
            line_text = ctc_kernel.sanitize_for_vocab(words, index)
            line_job_ids.append(len(jobs))
            jobs.append(ctc_kernel.synth_logits_for_text(line_text, vocab))
        paragraphs.append({"box": para_boxes[int(p)], "line_job_ids": line_job_ids})
    return paragraphs


def _extract_payload_docs(pages: list, decode_method: str):
    """The payload route kernel: plan every page, decode all their lines in
    one batched CTC decode (the reference's pad_batch, base_ocr.py:210-211),
    then assemble each page. A page that fails mid-plan takes back the
    lines it appended, so only planned pages' lines are decoded."""
    vocab, _ = _get_vocab()
    jobs: list = []
    plans = []
    for page in pages:
        n_jobs = len(jobs)
        plan = _guard(_plan_payload_doc, page, jobs)
        if plan is None:
            del jobs[n_jobs:]
        plans.append(plan)
    line_texts, line_scores = ctc_kernel.decode_batch(jobs, vocab, decode_method)
    out = []
    for plan in plans:
        spans, para_texts = [], []
        for i, para in enumerate(plan or []):
            ids = para["line_job_ids"]
            para_text = " \n".join(line_texts[j] for j in ids)  # base_ocr.py:232
            para_texts.append(para_text)
            score = float(np.mean(line_scores[ids])) if ids else 0.0
            spans.append(_span(i, "ocr", "", para_text, para["box"], score))
        out.append(("", "\n\n".join(para_texts), spans))
    return out


def page_route(blob) -> tuple[str, object]:
    """One page's bytes -> (route, payload): the S5 dispatch, made here only.

    Routes in sniff order: pdf, image (PNG/JPEG), docx, payload
    (%OCRPAYLOAD%), html; a text page without markup is code (python/java)
    or md, and anything else is binary. BOM-marked text (UTF-16/32 pages)
    is decoded and re-encoded as UTF-8 first: the byte sniffers cannot see
    through NUL-interleaved encodings. The payload is what the route's
    kernel reads: the (re-encoded) bytes, except an image's
    ``(bytes, "png"|"jpeg")``, a code page's ``(text, lang)`` and an html
    or markdown page's text. A text page is decoded once, here, so a BOM
    wins over any ``<meta charset>`` in the page.
    """
    blob = bytes(blob) if blob is not None else b""
    text = None
    if detect_bom(blob) is not None:
        text = decode_bytes(blob)[0]
        blob = text.encode("utf-8")
    if blob.startswith(b"%PDF-"):
        return "pdf", blob
    if blob[:4] == b"\x89PNG":
        return "image", (blob, "png")
    if blob[:2] == b"\xff\xd8":
        return "image", (blob, "jpeg")
    if looks_like_docx(blob):
        return "docx", blob
    if blob.startswith(PAYLOAD_MAGIC):
        return "payload", blob
    is_html = looks_like_html(blob)
    if not (is_html or mostly_text(blob)):
        return "binary", blob
    if text is None:
        text = decode_bytes(blob)[0]
    if is_html:
        return "html", text
    lang = sniff_code_lang(text)
    return ("code", (text, lang)) if lang else ("md", text)


def _guard(fn, *args):
    """The per-document guard: at 10^12-doc scale one malformed page must
    degrade to an empty extraction (``None`` here), never fail the task. Its
    lineage row still commits, so the url is not retried forever."""
    try:
        return fn(*args)
    except Exception:
        return None


def _per_doc(kernel):
    """Lift a one-page kernel to a route kernel: a failing page comes out
    empty and the other pages of its route are unaffected."""
    return lambda pages, _decode_method: [
        _guard(kernel, page) or ("", "", []) for page in pages
    ]


# route -> kernel: the route's payloads of one chunk in, one
# (title, text, spans) per payload out, in order. Each kernel looks its
# own kernels up by name when it runs, so a patched module attribute
# (extract_page, decode_bytes, the lazily imported codecs, the
# kernels.ctc decoders) is the one that gets called.
_ROUTE_KERNELS = {
    "html": _per_doc(_extract_html_doc),
    "pdf": _per_doc(_extract_pdf_doc),
    "image": _per_doc(_extract_image_doc),
    "docx": _per_doc(_extract_docx_doc),
    "payload": _extract_payload_docs,
    "code": _per_doc(_extract_code_doc),
    "md": _per_doc(_extract_md_doc),
    "binary": _per_doc(lambda _junk: ("", "", [])),
}


def extract_batch(pdf, decode_method: str = "greedy"):
    """pandas chunk of pages -> pandas chunk of extracted documents: route
    every page, call each route's kernel once on its pages, and put the
    results back in row order."""
    import pandas as pd

    groups: dict[str, tuple[list, list]] = {}
    for row, html in enumerate(pdf["html"]):
        route, payload = _guard(page_route, html) or ("binary", b"")
        rows, payloads = groups.setdefault(route, ([], []))
        rows.append(row)
        payloads.append(payload)

    results: list = [None] * len(pdf)
    for route, (rows, payloads) in groups.items():
        kernel = _ROUTE_KERNELS[route]
        for row, result in zip(rows, kernel(payloads, decode_method), strict=True):
            results[row] = result

    return pd.DataFrame(
        {
            "url": pdf["url"].tolist(),
            "warc_ts": pdf["warc_ts"].tolist(),
            "lang": pdf["lang"].tolist(),
            "title": [title for title, _, _ in results],
            "text": [text for _, text, _ in results],
            "spans": [spans for _, _, spans in results],
            "n_spans": [len(spans) for _, _, spans in results],
        }
    )


CHARSET_SCHEMA = "url string, encoding string, source string, n_chars int"


def sniff_charsets(pages_df):
    """Per-page charset detection report: (url, encoding, source, n_chars).

    ``source`` is bom|meta|utf8|fallback (kernels/encoding.py order);
    ``n_chars`` is the decoded-character count. One narrow mapInPandas
    stage, zero shuffles — the same single-python-stage shape as the
    flagship, so it composes into ingest audits at crawl scale."""

    def gen(batches):
        import pandas as pd

        from ..kernels.encoding import decode_bytes

        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                blob = bytes(html) if html is not None else b""
                text, codec, source = decode_bytes(blob)
                rows.append(
                    {
                        "url": url,
                        "encoding": codec,
                        "source": source,
                        "n_chars": len(text),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["url", "encoding", "source", "n_chars"]
            )

    return pages_df.select("url", "html").mapInPandas(gen, schema=CHARSET_SCHEMA)


def extract_pages(pages_df, *, decode_method: str = "greedy"):
    """pages DataFrame -> extracted documents DataFrame (single mapInPandas,
    no shuffle; Catalyst prunes unused page columns from the scan)."""

    def gen(batches):
        for pdf in batches:
            yield extract_batch(pdf, decode_method)

    return pages_df.mapInPandas(gen, schema=EXTRACT_SCHEMA)

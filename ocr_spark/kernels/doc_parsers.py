"""S5 parser-dispatch routes beyond html/md/pdf: docx, python, java.

Reference semantics (behavior only, re-implemented on stdlib):
- docx: one paragraph dict per ``w:p`` element of word/document.xml, text =
  concatenated ``w:t`` runs (tabs/breaks normalized) — the shape python-docx
  yields in /root/reference/utils/text/parsers/docx_parser.py:14-21.
- python: split source on blank lines that precede a top-level
  ``def``/``#``/``class``/``@`` and emit ``type: code`` paragraphs
  (/root/reference/utils/text/parsers/py_parser.py:15-25).
- java: the whole file as ONE ``type: code`` paragraph
  (/root/reference/utils/text/parsers/java_parser.py:13-18).
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.sax.saxutils import unescape

from .textproc import finditer_closed

_W_P_RE = re.compile(rb"<w:p[ >].*?</w:p>|<w:p/>", re.S)
_W_T_RE = re.compile(rb"<w:t(?: [^>]*)?>(.*?)</w:t>|<w:tab/>|<w:br/>", re.S)
# last closer and self-closing alternatives of each (textproc.finditer_closed)
_W_P_CLOSE_RE = re.compile(rb".*</w:p>", re.S)
_W_P_EMPTY_RE = re.compile(rb"<w:p/>")
_W_T_CLOSE_RE = re.compile(rb".*</w:t>", re.S)
_W_T_EMPTY_RE = re.compile(rb"<w:tab/>|<w:br/>")

_PY_SPLIT_RE = re.compile(r"\n\s*\n(?=def|\#|class|\@)")  # py_parser.py:16


def parse_docx(blob: bytes) -> list[dict]:
    """docx bytes -> [{'text': ...}, ...] — one dict per w:p, empties kept
    (parity with python-docx's Document.paragraphs)."""
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        xml = zf.read("word/document.xml")
    paragraphs = []
    for pm in finditer_closed(_W_P_RE, _W_P_CLOSE_RE, xml, _W_P_EMPTY_RE):
        parts = []
        w_p = pm.group(0)
        for tm in finditer_closed(_W_T_RE, _W_T_CLOSE_RE, w_p, _W_T_EMPTY_RE):
            if tm.group(0) == b"<w:tab/>":
                parts.append("\t")
            elif tm.group(0) == b"<w:br/>":
                parts.append("\n")
            else:
                parts.append(unescape(tm.group(1).decode("utf-8", errors="replace")))
        paragraphs.append({"type": "text", "text": "".join(parts)})
    return paragraphs


def parse_python_source(text: str) -> list[dict]:
    return [
        {"type": "code", "language": "python", "text": part}
        for part in _PY_SPLIT_RE.split(text)
    ]


def parse_java_source(text: str) -> list[dict]:
    return [{"type": "code", "language": "java", "text": text}]


def looks_like_docx(blob: bytes) -> bool:
    return blob[:4] == b"PK\x03\x04" and b"word/document.xml" in blob


_PY_SNIFF_RE = re.compile(
    r"^(?:def [A-Za-z_]\w*\s*\(|class [A-Za-z_]\w*[:(]|import [A-Za-z_]|from [.\w]+ import )",
    re.M,
)
_JAVA_SNIFF_RE = re.compile(
    r"^\s*(?:package [\w.]+;|import [\w.]+;|public (?:final )?(?:class|interface|enum) )",
    re.M,
)


def sniff_code_lang(text: str) -> str | None:
    """Best-effort language sniff for extension-less crawl pages; the
    reference dispatches on file extension (parsers/__init__.py:53-201),
    which a (url, html) crawl row does not have."""
    head = text[:4096]
    if _JAVA_SNIFF_RE.search(head) and ";" in head:
        return "java"
    if _PY_SNIFF_RE.search(head):
        return "python"
    return None


# -- deterministic docx writer (for the synthetic corpus) --------------------

_DOCX_CONTENT_TYPES = (
    b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    b'<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    b'<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    b'<Default Extension="xml" ContentType="application/xml"/>'
    b'<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    b"</Types>"
)
_DOCX_RELS = (
    b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    b'<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    b'<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    b"</Relationships>"
)


def build_docx(paragraph_texts: list[str]) -> bytes:
    """Minimal real .docx (zip of OOXML parts) with one w:p per text;
    deterministic bytes (fixed zip timestamps, stored entries)."""
    body = []
    for t in paragraph_texts:
        esc = (
            t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )
        body.append(f'<w:p><w:r><w:t xml:space="preserve">{esc}</w:t></w:r></w:p>')
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        "<w:body>" + "".join(body) + "</w:body></w:document>"
    ).encode("utf-8")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, payload in [
            ("[Content_Types].xml", _DOCX_CONTENT_TYPES),
            ("_rels/.rels", _DOCX_RELS),
            ("word/document.xml", doc),
        ]:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, payload)
    return buf.getvalue()

"""HTML main-content extraction — the rebuild's "detect" stage (D8).

Semantics parity (reference citations, behavior only — new implementation):
- prepare_html regex boilerplate strip (remove head/script/style and
  aside/form/nav/noscript/template/svg, first header, last footer, <li><a>
  link items, unwrap div/span, drop self-closing tags, space before
  closing tags):
  /root/reference/utils/text/parsers/html_parser.py:56-110,161-180
- paragraph extraction over p/ul/ol/h1-h5/table in document order with
  nested-tag decomposition, section (h1-h5) stack tracking, whitespace
  collapse, table parsing with constant-column dedup, list parsing:
  html_parser.py:118-159,183-227
- title extraction: html_parser.py:52-54

The reference uses BeautifulSoup/lxml; this implementation is a from-scratch
DOM walk over a one-regex tokenizer (``parse_dom``; no third-party parser),
differential-tested against a stdlib ``html.parser`` tree builder and with
identical outputs pinned by golden tests on the synthesized pages corpus.

Additionally (BASELINE.json north_star): per-paragraph text-density and
link-density are computed so boilerplate can be classified analytically —
exposed as span metadata, not applied to the golden text path.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser as _StdHTMLParser

_TITLE_RE = re.compile(r"\<title\>(.*?)\<\/title\>", re.DOTALL)
_WHITESPACE_RE = re.compile(r"\s+")
_LINK_ITEM_RE = re.compile(r"<li\b[^>]*?>\s*<a\b[^>]*?>.*?</a>\s*</li>", re.DOTALL)
_DIV_SPAN_RE = re.compile(r"</?(?:div|span)[^>]*?>")
_SELF_CLOSING_RE = re.compile(r"<[^>]+?/>")

_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# elements dropped whole with their content. The reference strips
# head/script/style (html_parser.py:74); aside/form/nav are boilerplate,
# and noscript/template/svg are content the browser never renders as page
# text (fallback "enable javascript" notes, inert DOM fragments, chart
# labels), which would otherwise leak verbatim into extraction.
_STRIP_TAGS = (
    "head", "script", "style", "aside", "form", "nav", "noscript", "template", "svg"
)

_TARGET_TAGS = ("p", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "table")


def extract_title(html: str):
    match = _TITLE_RE.search(html)
    return match.group(1).strip() if match is not None else None


def _remove_tags(html: str, tags, mode: str = "all") -> str:
    pattern = r"<({})\b[^>]*>.*?</\1>".format("|".join(tags))
    flags = re.DOTALL | re.IGNORECASE
    if mode == "all":
        return re.sub(pattern, "", html, flags=flags)
    if mode == "first":
        return re.sub(pattern, "", html, count=1, flags=flags)
    # last
    matches = list(re.finditer(pattern, html, flags=flags))
    if matches:
        return html[: matches[-1].start()] + html[matches[-1].end() :]
    return html


def prepare_html(html: str):
    """Strip boilerplate; returns (title, cleaned_html) (html_parser.py:56-93):
    the _STRIP_TAGS elements, the first <header>, the last <footer> and
    <li><a> link items go, div/span are unwrapped, self-closing tags
    dropped."""
    title = extract_title(html)
    html = _remove_tags(html, _STRIP_TAGS)
    html = _remove_tags(html, ["header"], mode="first")
    html = _remove_tags(html, ["footer"], mode="last")
    html = _LINK_ITEM_RE.sub("", html)
    html = _DIV_SPAN_RE.sub("", html)
    html = _SELF_CLOSING_RE.sub("", html)
    html = html.replace("</", " </")
    return title, html


class _Node:
    __slots__ = ("name", "_attrs", "_attrs_raw", "children", "parent")

    def __init__(self, name, attrs=None, parent=None, attrs_raw=None):
        self.name = name
        self._attrs = dict(attrs) if attrs is not None else None
        self._attrs_raw = attrs_raw  # unparsed attr blob (fast tokenizer path)
        self.children = []  # _Node or str
        self.parent = parent

    @property
    def attrs(self):
        # lazy parse: most tags never have their attributes read
        if self._attrs is None:
            raw = self._attrs_raw
            self._attrs = _parse_attr_blob(raw) if raw else {}
        return self._attrs


_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)


def _parse_attr_blob(blob: str) -> dict:
    import html as _html

    attrs = {}
    for m in _ATTR_RE.finditer(blob):
        name = m.group(1).lower()
        val = m.group(2)
        if val is not None:
            if len(val) >= 2 and val[0] in "\"'" and val[-1] == val[0]:
                val = val[1:-1]
            if "&" in val:
                val = _html.unescape(val)
        attrs[name] = val  # duplicate attr: LAST wins, like dict(stdlib attrs)
    return attrs


class _TreeBuilder(_StdHTMLParser):
    """Minimal forgiving DOM builder over stdlib HTMLParser."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _Node("[document]")
        self._stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, attrs, parent=self._stack[-1])
        self._stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            self._stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self._stack[-1].children.append(_Node(tag, attrs, parent=self._stack[-1]))

    def handle_endtag(self, tag):
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].name == tag:
                del self._stack[i:]
                return
        # unmatched closing tag: ignored (forgiving parse)

    def handle_data(self, data):
        if data:
            self._stack[-1].children.append(data)


def _stdlib_parse_dom(html: str) -> _Node:
    """The stdlib state-machine parse: the tree parse_dom must reproduce."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


# fast tokenizer: one compiled scan over the markup instead of the stdlib
# HTMLParser state machine (~3x faster on this corpus); produces the same
# _Node tree — differential-tested against _stdlib_parse_dom in
# tests/test_kernels_html.py
_TAG_RE = re.compile(
    r"""<(?:
        (?P<comment>!--.*?(?:-->|$))
      | (?P<decl>[!?][^>]*>?)
      | (?P<close>/)?(?P<name>[a-zA-Z][-a-zA-Z0-9:_.]*)
        (?P<attrs>(?:[^>"']+|"[^"]*"|'[^']*')*)
        >?
    )""",
    re.VERBOSE | re.DOTALL,
)
# stdlib HTMLParser CDATA_CONTENT_ELEMENTS — keep in lockstep
_RAWTEXT_TAGS = frozenset(("script", "style"))


def parse_dom(html: str) -> _Node:
    import html as _html

    root = _Node("[document]")
    stack = [root]
    # open elements per tag name: an unmatched close tag is dropped in O(1)
    # instead of a scan of the whole open stack
    n_open: dict[str, int] = {}
    pos = 0
    n = len(html)
    while pos < n:
        m = _TAG_RE.search(html, pos)
        if m is None:
            text = html[pos:]
            if text:
                stack[-1].children.append(
                    _html.unescape(text) if "&" in text else text
                )
            break
        if m.start() > pos:
            text = html[pos : m.start()]
            stack[-1].children.append(_html.unescape(text) if "&" in text else text)
        pos = m.end()
        # one group probe instead of three: comments and declarations are
        # exactly the alternatives with no captured tag name
        raw_name = m.group("name")
        if raw_name is None:
            continue
        name = raw_name.lower()
        if m.group("close"):
            if n_open.get(name):
                while True:
                    closed = stack.pop().name
                    n_open[closed] -= 1
                    if closed == name:
                        break
            continue
        blob = m.group("attrs")
        node = _Node(name, parent=stack[-1], attrs_raw=blob)
        stack[-1].children.append(node)
        # self-closing iff the trailing '/' is NOT part of an unquoted
        # attribute value. stdlib: attrfind consumes 'href=http://x.com/'
        # whole (unquoted =value eats the slash), but a bare attribute name
        # stops before '/' ('<div checked/>' IS a startend tag).
        stripped = blob.rstrip()
        if not stripped.endswith("/"):
            self_closing = False
        elif len(stripped) == 1 or stripped[-2] in " \t\n\r\"'":
            self_closing = True
        else:
            parts = stripped[:-1].split()
            # '=' in the last token => the '/' belonged to its unquoted value
            self_closing = "=" not in (parts[-1] if parts else "")
        if name in _RAWTEXT_TAGS and not self_closing:
            # raw-text elements: everything until the matching close tag is
            # one text child (the stdlib parser's CDATA mode)
            close = re.compile(rf"</{name}\s*>", re.IGNORECASE)
            cm = close.search(html, pos)
            if cm:
                if cm.start() > pos:
                    node.children.append(html[pos : cm.start()])
                pos = cm.end()
            else:
                # unterminated script/style (truncated page): stdlib discards
                # the trailing CDATA rather than emitting it as text — a leak
                # here would pollute extracted text with raw JS/CSS
                pos = n
        elif name not in _VOID_TAGS and not self_closing:
            stack.append(node)
            n_open[name] = n_open.get(name, 0) + 1
    return root


def _iter_nodes(node):
    """Document-order traversal of element nodes. Iterative: the
    recursive yield-from form re-yields every node through each ancestor
    level (O(depth) per node), which dominated the DOM walk."""
    todo = node.children[::-1]
    while todo:
        child = todo.pop()
        if isinstance(child, _Node):
            yield child
            todo.extend(child.children[::-1])


def _find_all(node, names):
    names = set(names)
    return [n for n in _iter_nodes(node) if n.name in names]


def _raw_text(node) -> str:
    parts = []
    todo = node.children[::-1]
    while todo:
        child = todo.pop()
        if isinstance(child, str):
            parts.append(child)
        else:
            todo.extend(child.children[::-1])
    return "".join(parts)


def collapse_whitespace(text: str) -> str:
    return _WHITESPACE_RE.sub(" ", text)


def _extract_text(node) -> str:
    """get_text().strip() + whitespace collapse; falls back to joining
    ``title`` attributes of descendants (html_parser.py:221-227)."""
    text = _raw_text(node).strip()
    if text:
        return collapse_whitespace(text)
    return " ".join(
        n.attrs["title"] for n in _iter_nodes(node) if n.attrs.get("title")
    )


def _link_char_count(node) -> int:
    total = 0
    for n in _iter_nodes(node):
        if n.name == "a":
            total += len(collapse_whitespace(_raw_text(n).strip()))
    return total


_EXIT_A = object()  # traversal sentinel: an <a> subtree just closed


def _subtree_text_stats(node) -> tuple[str, int]:
    """(collapsed subtree text, link char count) in ONE walk — the fused
    form of collapse_whitespace(_raw_text(node).strip()) plus
    _link_char_count(node), which each re-walked the same subtree (and
    _extract_text walked it a third time). Nested <a> inside <a> counts
    its text once per enclosing anchor, exactly as the per-<a>
    _raw_text sum does; per-<a> strip+collapse happens at its close
    sentinel, byte-identical to the unfused path (digest-pinned)."""
    parts: list[str] = []
    link_total = 0
    open_accs: list[list[str]] = []
    todo = node.children[::-1]
    while todo:
        child = todo.pop()
        if child is _EXIT_A:
            acc = open_accs.pop()
            link_total += len(collapse_whitespace("".join(acc).strip()))
        elif isinstance(child, str):
            parts.append(child)
            for acc in open_accs:
                acc.append(child)
        else:
            if child.name == "a":
                open_accs.append([])
                todo.append(_EXIT_A)
            todo.extend(child.children[::-1])
    return collapse_whitespace("".join(parts).strip()), link_total


def _parse_table(node):
    """thead/th else first-row td headers; constant columns dropped
    (html_parser.py:183-207)."""
    header = next((n for n in _iter_nodes(node) if n.name == "thead"), None)
    if header is not None:
        columns = [_raw_text(t).strip() for t in _find_all(header, ["th"])]
        tbody = next((n for n in _iter_nodes(node) if n.name == "tbody"), None)
        body_tags = _find_all(tbody if tbody is not None else node, ["tr"])
    else:
        row_tags = _find_all(node, ["tr"])
        if not row_tags:
            return []
        columns = [_raw_text(t).strip() for t in _find_all(row_tags[0], ["td"])]
        body_tags = row_tags[1:]

    rows = []
    for row_tag in body_tags:
        rows.append(
            {col: _extract_text(t) for col, t in zip(columns, _find_all(row_tag, ["td"]))}
        )

    if len(rows) > 1:
        for col in columns:
            ref = rows[0].get(col, None)
            if all(row.get(col, None) == ref for row in rows[1:]):
                for row in rows:
                    row.pop(col, None)
    return rows


def _parse_list(node):
    items = [_extract_text(t) for t in _find_all(node, ["li"])]
    return [it for it in items if it]


def _parse_title_stack(node, titles):
    level = int(node.name[1]) - 1
    titles = titles[:level]
    if len(titles) != level:
        titles.extend([""] * (level - len(titles)))
    titles.append(_extract_text(node))
    return titles


def extract_paragraphs(html: str, *, title: str = "html"):
    """Walk target tags in document order, skipping tags nested inside an
    already-consumed one (html_parser.py:118-159 decompose semantics)."""
    root = parse_dom(html)
    targets = _find_all(root, _TARGET_TAGS)
    consumed: set[int] = set()

    titles: list[str] = []
    parsed = []
    for tag in targets:
        anc = tag.parent
        nested = False
        while anc is not None:
            if id(anc) in consumed:
                nested = True
                break
            anc = anc.parent
        if nested:
            continue

        collapsed, link_len = _subtree_text_stats(tag)
        raw_len = len(collapsed)
        density = {
            "text_len": raw_len,
            "link_density": (link_len / raw_len) if raw_len else 0.0,
        }

        if tag.name == "table":
            rows = _parse_table(tag)
            if rows and rows[0]:
                parsed.append({"type": "table", "section": list(titles), "rows": rows, **density})
        elif tag.name in ("ul", "ol"):
            items = _parse_list(tag)
            if items:
                parsed.append({"type": "list", "section": list(titles), "items": items, **density})
        elif tag.name[0] == "h" and tag.name[1].isdigit():
            titles = _parse_title_stack(tag, titles)
        else:
            # the fused walk already produced collapse(raw.strip()) ==
            # _extract_text's main case; only the empty-text title-attr
            # fallback still needs a walk
            text = collapsed or " ".join(
                n.attrs["title"] for n in _iter_nodes(tag) if n.attrs.get("title")
            )
            if text:
                parsed.append({"type": "text", "section": list(titles), "text": text, **density})

        consumed.add(id(tag))

    if title:
        for para in parsed:
            para["title"] = title
    return parsed


def render_paragraph(para: dict) -> str:
    """Deterministic text rendering of one paragraph (the golden contract)."""
    if para["type"] == "text" or para["type"] == "code":
        return para["text"]
    if para["type"] == "list":
        return "\n".join("- " + item for item in para["items"])
    if para["type"] == "table":
        return "\n".join(
            " | ".join(f"{col}: {val}" for col, val in row.items()) for row in para["rows"]
        )
    raise ValueError(f"unknown paragraph type: {para['type']}")


def render_document(paragraphs) -> str:
    """Document text = double-newline join of rendered paragraphs in order."""
    return "\n\n".join(render_paragraph(p) for p in paragraphs)


def extract_page(html: str | bytes, *, max_link_density: float | None = None):
    """Full detect stage over one page: text or bytes -> (title, paragraphs,
    text). Bytes are decoded BOM/meta-charset aware (crawl pages are ~10-20%
    non-UTF-8); valid UTF-8 decodes exactly as before.

    ``max_link_density`` optionally drops high-link-density paragraphs (the
    north_star boilerplate classifier); None keeps the pure structural-strip
    golden semantics.
    """
    if not isinstance(html, str):
        from .encoding import decode_bytes

        html = decode_bytes(html)[0]
    title, cleaned = prepare_html(html)
    paragraphs = extract_paragraphs(cleaned, title=title or "html")
    if max_link_density is not None:
        paragraphs = [p for p in paragraphs if p["link_density"] <= max_link_density]
    return title, paragraphs, render_document(paragraphs)

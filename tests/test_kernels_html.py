"""Tests for the HTML main-content extraction kernel (detect stage, D8).

Semantics under test mirror /root/reference/utils/text/parsers/html_parser.py:
boilerplate strip (head/script/style/nav/aside/form, first header, last
footer, <li><a> items), paragraph extraction over p/ul/ol/h1-h5/table,
section tracking, whitespace collapse, table constant-column dedup.
"""

from ocr_spark.kernels.html_extract import (
    extract_page,
    extract_paragraphs,
    extract_title,
    prepare_html,
)

PAGE = """<!DOCTYPE html>
<html>
<head><title>My  Page</title><script>var x = 1;</script>
<style>p { color: red }</style></head>
<body>
<header><h1>Site Banner</h1><p>slogan text here</p></header>
<nav><ul><li><a href="/a">Home</a></li><li><a href="/b">About</a></li></ul></nav>
<div class="main">
  <h1>Main   Title</h1>
  <p>First paragraph with
     some    wrapped text.</p>
  <h2>Section A</h2>
  <p>Second <b>bold</b> paragraph.</p>
  <ul><li>item one</li><li>item two</li><li><a href="/x">link item</a></li></ul>
  <table>
    <tr><td>name</td><td>value</td><td>const</td></tr>
    <tr><td>a</td><td>1</td><td>same</td></tr>
    <tr><td>b</td><td>2</td><td>same</td></tr>
  </table>
</div>
<aside><p>advert advert</p></aside>
<form><p>subscribe now</p></form>
<footer><p>copyright 2026</p></footer>
</body></html>"""


def test_title():
    assert extract_title(PAGE) == "My  Page"


def test_prepare_strips_boilerplate():
    title, cleaned = prepare_html(PAGE)
    assert title == "My  Page"
    for gone in ("var x = 1", "color: red", "Site Banner", "Home", "About",
                 "advert", "subscribe", "copyright"):
        assert gone not in cleaned
    assert "First paragraph" in cleaned
    # div/span unwrapped
    assert "<div" not in cleaned


def test_extract_paragraphs_structure():
    title, cleaned = prepare_html(PAGE)
    paras = extract_paragraphs(cleaned, title=title)
    kinds = [p["type"] for p in paras]
    assert kinds == ["text", "text", "list", "table"]

    # whitespace collapse (html_parser.py:221-227)
    assert paras[0]["text"] == "First paragraph with some wrapped text."
    assert paras[0]["section"] == ["Main Title"]
    # nested inline tags contribute text with the ' </' spacing rule
    assert paras[1]["text"] == "Second bold paragraph."
    assert paras[1]["section"] == ["Main Title", "Section A"]
    # <li><a> removed, plain items kept
    assert paras[2]["items"] == ["item one", "item two"]
    # constant column dropped (html_parser.py:201-206)
    assert paras[3]["rows"] == [{"name": "a", "value": "1"}, {"name": "b", "value": "2"}]
    assert all(p["title"] == "My  Page" for p in paras)


def test_extract_page_end_to_end():
    title, paras, text = extract_page(PAGE.encode("utf-8"))
    assert title == "My  Page"
    assert text.startswith("First paragraph with some wrapped text.")
    assert "item one" in text and "copyright" not in text


def test_section_stack_reset():
    html = "<h1>A</h1><h2>B</h2><p>x y</p><h1>C</h1><p>z w</p>"
    paras = extract_paragraphs(html)
    assert paras[0]["section"] == ["A", "B"]
    assert paras[1]["section"] == ["C"]


def test_nested_table_paragraph_consumed_once():
    html = "<table><tr><td>h</td></tr><tr><td><p>inner text</p></td></tr></table><p>after it</p>"
    paras = extract_paragraphs(html)
    # the table consumes its inner <p> (decompose semantics html_parser.py:135-154)
    assert [p["type"] for p in paras] == ["table", "text"]
    assert paras[1]["text"] == "after it"


def test_link_density_classifier():
    html = '<p><a href="/x">all link text</a></p><p>real content sentence here</p>'
    paras = extract_paragraphs(html)
    assert paras[0]["link_density"] > 0.9
    assert paras[1]["link_density"] == 0.0
    # north_star boilerplate gate drops the linkful paragraph
    _, kept, text = extract_page(html.encode(), max_link_density=0.5)
    assert len(kept) == 1 and text == "real content sentence here"


def test_malformed_html_is_forgiving():
    html = "<p>unclosed first<p>second one</p><li>stray</li>"
    paras = extract_paragraphs(html)
    texts = [p.get("text", "") for p in paras]
    assert any("second one" in t for t in texts)


def test_fast_parser_matches_stdlib_on_corpus():
    """Differential gate: the regex tokenizer and the stdlib state machine
    must yield identical extractions over the whole sf0.01 pages corpus."""
    import ocr_spark.kernels.html_extract as hx
    from ocr_spark.sources.pages import synth_page

    import duckdb

    docs = duckdb.sql(
        "select * from '/root/testdata/sf0.01/documents.parquet'"
    ).df()
    checked = 0
    for _, row in docs.iterrows():
        html = synth_page(int(row["doc_id"]), row["text"], row["lang"])["html"]
        # only HTML-flavored pages: payload/pdf/docx/code/md pages route to
        # their own parsers, not the DOM tokenizer under test here
        if not html.startswith(b"<!DOCTYPE html>"):
            continue
        fast = hx.extract_page(html)
        text = html.decode("utf-8", errors="replace")
        title, cleaned = hx.prepare_html(text)
        root_slow = hx._stdlib_parse_dom(cleaned)
        root_fast = hx.parse_dom(cleaned)

        def flatten(node):
            out = []
            for c in node.children:
                if isinstance(c, str):
                    out.append(("#text", c))
                else:
                    out.append((c.name, dict(c.attrs)))
                    out.extend(flatten(c))
            return out

        assert flatten(root_fast) == flatten(root_slow), row["doc_id"]
        checked += 1
    assert checked > 100


def test_fast_parser_junk_inputs():
    import ocr_spark.kernels.html_extract as hx

    for junk in [b"", b"\x00\xff\xfe junk <", b"<p>a < b</p>", b"<<<>>>",
                 b"<script>if (a<b) {x}</script><p>ok</p>",
                 b"<!-- unterminated", b"<p title='q&amp;a'>t</p>"]:
        title, paragraphs, text = hx.extract_page(junk)
        assert isinstance(text, str)


def test_fast_parser_edge_parity_with_stdlib():
    """Targeted parity probes the corpus differential can't reach: unquoted
    attr values ending in '/', bare-attr self-closing, duplicate attrs."""
    import ocr_spark.kernels.html_extract as hx

    cases = [
        "<a href=http://x.com/>anchor</a>",        # '/' is part of the value
        "<div foo/>text</div>",                    # bare attr + '/': startend
        '<img src="x"/><p>t</p>',                  # quoted value + '/'
        '<td title="a" title="b">t</td>',          # duplicate attr: last wins
        "<p title=q&amp;a></p>",                   # entity in unquoted value
        "<br/><br />nested <b>deep</b>",
    ]

    def flatten(node):
        out = []
        for c in node.children:
            if isinstance(c, str):
                out.append(("#text", c))
            else:
                out.append((c.name, dict(c.attrs)))
                out.extend(flatten(c))
        return out

    for html in cases:
        fast = flatten(hx.parse_dom(html))
        slow = flatten(hx._stdlib_parse_dom(html))
        assert fast == slow, (html, fast, slow)


def _adversarial_closes(n_bytes):
    """n <section> opens, then n close tags that match none of them."""
    n = n_bytes // 15
    return "<section>x" * n + "</em>" * n


def test_unmatched_close_tags_time_is_linear():
    """A close tag that matches no open element must not scan the open
    stack: 4x the bytes may cost at most 6x the CPU (the scan measured
    ~17x)."""
    import time

    def cpu_s(n_bytes):
        page = _adversarial_closes(n_bytes)
        best = float("inf")
        for _ in range(3):
            t0 = time.process_time()
            extract_page(page)
            best = min(best, time.process_time() - t0)
        return best

    n = 30_000
    small, large = cpu_s(n), cpu_s(4 * n)
    assert large / small < 6, f"{n} B: {small:.3f} s, {4 * n} B: {large:.3f} s"


def test_unmatched_close_tags_match_stdlib():
    import ocr_spark.kernels.html_extract as hx

    def flatten(node):
        out = []
        for c in node.children:
            if isinstance(c, str):
                out.append(("#text", c))
            else:
                out.append((c.name, dict(c.attrs)))
                out.extend(flatten(c))
                out.append(("/", c.name))
        return out

    cases = [
        _adversarial_closes(6_000),
        "<p><b>x</i>y</b>z</p>tail</p>after",       # stray close inside a match
        "<ul><li>a<li>b</ul><li>c</ul></li>",        # closes an outer element
        "<b><i><b>x</b>y</i>z</b>w</br></img>",      # same name twice; void closes
        "<script>a</b></script><p>q</script></p>",   # raw-text element never opens
        "<div/><div>x</div></div>y",                 # self-closed element never opens
    ]
    for html in cases:
        assert flatten(hx.parse_dom(html)) == flatten(hx._stdlib_parse_dom(html)), html


def test_unterminated_script_not_leaked():
    import ocr_spark.kernels.html_extract as hx

    html = b"<p>keep</p><script>var secret = 1;"
    _, _, text = hx.extract_page(html)
    assert "secret" not in text and "keep" in text
    # parity with stdlib on the raw fragment too
    frag = "<p>keep</p><script>var secret = 1;"
    fast = hx.parse_dom(frag)
    slow = hx._stdlib_parse_dom(frag)
    assert hx._raw_text(fast) == hx._raw_text(slow)


def test_inert_content_stripped():
    """<template>/<noscript>/<svg> text must not leak into extraction
    (browser-inert content)."""
    from ocr_spark.kernels.html_extract import extract_page

    html = (
        "<html><body><p>real article text here</p>"
        "<noscript>please enable javascript</noscript>"
        "<template><p>inert row template</p></template>"
        "<svg><text>chart label</text></svg>"
        "<p>more real text</p></body></html>"
    )
    _, paras, text = extract_page(html.encode("utf-8"))
    joined = text
    assert "real article text here" in joined and "more real text" in joined
    assert "enable javascript" not in joined
    assert "inert row template" not in joined
    assert "chart label" not in joined


def test_fused_walk_matches_unfused_helpers():
    """_subtree_text_stats (one walk) must equal the three-walk form it
    replaced — collapse(raw.strip()), per-<a> link chars (nested <a>
    counted per enclosing anchor), on adversarial nesting."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_spark.kernels.html_extract import (
        _link_char_count,
        _raw_text,
        _subtree_text_stats,
        collapse_whitespace,
        parse_dom,
    )

    tag = st.sampled_from(["p", "div", "a", "span", "li", "b"])
    texts = st.text(
        alphabet=" \t\nabcdef<>&;", min_size=0, max_size=12
    ).map(lambda s: s.replace("<", " ").replace(">", " "))

    @st.composite
    def markup(draw, depth=0):
        if depth >= 4:
            return draw(texts)
        n = draw(st.integers(0, 3))
        parts = []
        for _ in range(n):
            if draw(st.booleans()):
                t = draw(tag)
                parts.append(f"<{t}>{draw(markup(depth + 1))}</{t}>")
            else:
                parts.append(draw(texts))
        return "".join(parts)

    @settings(max_examples=120, deadline=None)
    @given(markup())
    def check(body):
        root = parse_dom(f"<html><body><div id=t>{body}</div></body></html>")
        target = next(
            n for n in root.children[0].children[0].children if n.name == "div"
        )
        collapsed, link_len = _subtree_text_stats(target)
        assert collapsed == collapse_whitespace(_raw_text(target).strip())
        assert link_len == _link_char_count(target)

    check()

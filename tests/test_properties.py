"""Property-based tests (hypothesis) over the pure kernels.

The reference has no property testing (SURVEY.md §5); these pin the
algebraic invariants the golden fixtures can't sweep: box-format
round-trips, IoU bounds/symmetry, union coverage, connected-component
partition laws, CTC encode→synth→decode round-trips on arbitrary text,
edit-distance metric axioms, and chunker budget guarantees.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from ocr_spark.kernels.boxes import compute_iou, compute_union, convert_boxes
from ocr_spark.kernels.combine import combine_boxes, compute_groups
from ocr_spark.kernels import ctc as ctc_kernel
from ocr_spark.kernels.textproc import edit_distance

# boxes as (x0, y0, w, h) with positive extent, normalized-ish coords
_box = st.tuples(
    st.floats(0, 0.9, allow_nan=False),
    st.floats(0, 0.9, allow_nan=False),
    st.floats(0.01, 0.5, allow_nan=False),
    st.floats(0.01, 0.5, allow_nan=False),
)


def _xyxy(raw):
    a = np.array([[x, y, x + w, y + h] for x, y, w, h in raw], dtype=np.float64)
    return a


@given(st.lists(_box, min_size=1, max_size=24))
@settings(max_examples=60, deadline=None)
def test_convert_roundtrip(raw):
    boxes = _xyxy(raw)
    back = convert_boxes(convert_boxes(boxes, "xyxy", "xywh"), "xywh", "xyxy")
    assert np.allclose(back, boxes, atol=1e-9)


@given(st.lists(_box, min_size=1, max_size=24))
@settings(max_examples=60, deadline=None)
def test_iou_bounds_symmetry_diagonal(raw):
    boxes = _xyxy(raw)
    iou = compute_iou(boxes, boxes, as_matrix=True)
    assert iou.shape == (len(boxes), len(boxes))
    assert np.all(iou >= -1e-12) and np.all(iou <= 1 + 1e-9)
    assert np.allclose(iou, iou.T, atol=1e-9)
    assert np.allclose(np.diag(iou), 1.0, atol=1e-9)


@given(st.lists(_box, min_size=1, max_size=24))
@settings(max_examples=60, deadline=None)
def test_union_covers_members(raw):
    boxes = _xyxy(raw)
    u = compute_union(boxes)
    assert np.all(u[0] <= boxes[:, 0] + 1e-12)
    assert np.all(u[1] <= boxes[:, 1] + 1e-12)
    assert np.all(u[2] >= boxes[:, 2] - 1e-12)
    assert np.all(u[3] >= boxes[:, 3] - 1e-12)


@given(
    st.integers(1, 12).flatmap(
        lambda n: st.lists(
            st.lists(st.booleans(), min_size=n, max_size=n), min_size=n, max_size=n
        )
    )
)
@settings(max_examples=60, deadline=None)
def test_connected_components_partition(adj):
    n = len(adj)
    mask = np.array(adj, dtype=bool)
    mask |= mask.T  # undirected
    np.fill_diagonal(mask, True)
    groups = compute_groups(mask)
    flat = sorted(i for g in groups for i in g)
    assert flat == list(range(n))  # a partition: every node exactly once
    # connectivity: directly-adjacent nodes end up in the same group
    gid = {}
    for k, g in enumerate(groups):
        for i in g:
            gid[i] = k
    for i in range(n):
        for j in range(n):
            if mask[i, j]:
                assert gid[i] == gid[j]


@given(st.lists(_box, min_size=1, max_size=20))
@settings(max_examples=40, deadline=None)
def test_combine_boxes_partitions_indices(raw):
    boxes = _xyxy(raw)
    para_boxes, para_indices, para_rows = combine_boxes(boxes)

    def flatten(x):
        out = []
        stack = [x]
        while stack:
            v = stack.pop()
            if isinstance(v, (list, tuple)):
                stack.extend(v)
            else:
                out.append(int(v))
        return out

    members = sorted(i for grp in para_indices for i in flatten(grp))
    assert members == list(range(len(boxes)))  # every word in exactly one para
    assert len(para_boxes) == len(para_indices) == len(para_rows)


_text = st.text(alphabet=" abcdefghijklmnopqrstuvwxyz0123456789.,!?-'\"", max_size=40)


@given(_text)
@settings(max_examples=80, deadline=None)
def test_ctc_synth_decode_roundtrip(text):
    vocab = ctc_kernel.make_vocab()
    logits = ctc_kernel.synth_logits_for_text(text, vocab)
    if logits.shape[0] == 0:
        assert text == ""
        return
    tokens, scores = ctc_kernel.ctc_greedy_decode_batch(logits[None])
    assert ctc_kernel.decode_tokens(tokens[0], vocab) == text
    assert np.all(scores <= 0.0)  # log-prob scores


@given(_text, _text)
@settings(max_examples=80, deadline=None)
def test_edit_distance_metric_axioms(a, b):
    d_ab = edit_distance(a, b, normalize=False)
    d_ba = edit_distance(b, a, normalize=False)
    assert d_ab == d_ba  # symmetric under unit costs
    assert (d_ab == 0) == (a == b)  # identity of indiscernibles
    assert d_ab <= max(len(a), len(b))  # upper bound


@given(st.lists(_text.filter(lambda t: t.strip()), min_size=1, max_size=6))
@settings(max_examples=40, deadline=None)
def test_chunker_respects_budget(texts):
    from ocr_spark.operators.chunking import chunk_spans

    spans = [{"section": "s", "text": t} for t in texts]
    chunks = chunk_spans(spans, max_length=30)
    assert all(len(c["text"]) <= 30 for c in chunks)
    # no content loss for short spans: every input text appears in order
    joined = "\n\n".join(c["text"] for c in chunks)
    for t in texts:
        if len(t.strip(" ")) <= 30 and t.strip():
            assert t.strip(" ") in joined


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(0, 7),
)
@settings(max_examples=40, deadline=None)
def test_pdf_round_trip_fuzz(words, variant_seed):
    """Property: ANY printable-ASCII word list round-trips byte-identically
    through build_pdf -> parse -> layout for every encoding variant."""
    from ocr_spark.operators.extract import _extract_pdf_doc
    from ocr_spark.sources.pdf_synth import build_pdf

    doc_id = 5 + 20 * variant_seed  # cycles all four encoding variants
    pdf, expected = build_pdf(doc_id, " ".join(words))
    _, text, _ = _extract_pdf_doc(pdf)
    assert text == expected


@given(
    st.lists(
        st.text(alphabet="abcdefgh ", min_size=0, max_size=40), min_size=1, max_size=20
    )
)
@settings(max_examples=30, deadline=None)
def test_bpe_encode_lossless_fuzz(lines):
    """Property: BPE encode is lossless — stripping end-of-word markers
    reconstructs the whitespace-normalized input."""
    from ocr_spark.kernels.bpe import encode_text_bpe, train_bpe

    corpus = " ".join(lines)
    counts = {}
    for w in corpus.split():
        counts[w] = counts.get(w, 0) + 1
    ranks = train_bpe(counts, n_merges=20)
    toks = encode_text_bpe(corpus, ranks)
    assert "".join(toks).replace("</w>", " ").strip() == " ".join(corpus.split())


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_sitemap_parse_never_raises(blob):
    from ocr_spark.operators.crawl_edge import parse_sitemap

    for e in parse_sitemap(blob):
        assert e["kind"] in ("url", "sitemap") and e["loc"]


@given(st.text(max_size=400))
@settings(max_examples=200, deadline=None)
def test_robots_parse_never_raises(txt):
    from ocr_spark.operators.robots import parse_robots_directives

    rules, delay, sitemaps = parse_robots_directives(txt, agent="anybot")
    assert all(isinstance(a, bool) and p for (a, p, _) in rules)
    assert delay is None or isinstance(delay, int)


_SM_LOC = st.from_regex(r"https://[a-z]{1,8}\.example/[a-z0-9/]{0,20}", fullmatch=True)


@given(
    st.lists(
        st.tuples(
            _SM_LOC,
            st.one_of(st.none(), st.from_regex(r"20[0-9]{2}-[01][0-9]-[0-3][0-9]", fullmatch=True)),
            st.one_of(st.none(), st.sampled_from(["daily", "weekly", "monthly"])),
            st.one_of(st.none(), st.integers(min_value=0, max_value=10)),
        ),
        min_size=0,
        max_size=8,
    )
)
@settings(max_examples=100, deadline=None)
def test_sitemap_build_parse_roundtrip(entries):
    """Structured round trip: build a urlset from entry tuples, parse it
    back, recover every field (priority in exact milli-units)."""
    from ocr_spark.operators.crawl_edge import parse_sitemap

    parts = ["<urlset>"]
    for loc, lastmod, freq, prio10 in entries:
        parts.append("<url>")
        parts.append(f"<loc>{loc}</loc>")
        if lastmod:
            parts.append(f"<lastmod>{lastmod}</lastmod>")
        if freq:
            parts.append(f"<changefreq>{freq}</changefreq>")
        if prio10 is not None:
            parts.append(f"<priority>{prio10 / 10:.1f}</priority>")
        parts.append("</url>")
    parts.append("</urlset>")
    got = parse_sitemap("".join(parts))
    assert [
        (e["loc"], e["lastmod"], e["changefreq"], e["priority_milli"]) for e in got
    ] == [
        (loc, lastmod, freq, prio10 * 100 if prio10 is not None else None)
        for (loc, lastmod, freq, prio10) in entries
    ]


# ---------------------------------------------------------------------------
# crawl-side byte parsers: NEVER raise, whatever the bytes (the repo-wide
# degradation contract — a parse error must yield fewer rows/NULL fields,
# not a task failure)
# ---------------------------------------------------------------------------

_junk = st.binary(max_size=400)


@given(_junk)
@settings(max_examples=150, deadline=None)
def test_parse_feed_never_raises(blob):
    from ocr_spark.operators.feeds import parse_feed

    for e in parse_feed(blob):
        assert e["entry_id"] is not None or e["link"] is not None


@given(_junk)
@settings(max_examples=150, deadline=None)
def test_parse_http_headers_never_raises(blob):
    from ocr_spark.operators.http_headers import parse_http_headers

    h = parse_http_headers(blob)
    assert h["strategy"] in ("refetch", "etag", "last-modified", "none")


@given(st.text(max_size=60))
@settings(max_examples=150, deadline=None)
def test_parse_date_ms_total_function(s):
    from ocr_spark.operators.feeds import parse_date_ms

    ms = parse_date_ms(s)
    assert ms is None or isinstance(ms, int)


def _routed_texts(blob: bytes) -> list[str]:
    """What the shared page reader hands its parsers for ``blob``: the
    router's text on the html route; the bytes' latin-1 reading too, so
    junk that is not routed as html still reaches the parsers."""
    from ocr_spark.operators.extract import page_route

    route, payload = page_route(blob)
    return ([payload] if route == "html" else []) + [blob.decode("latin-1")]


@given(st.text(max_size=200), _junk)
@settings(max_examples=100, deadline=None)
def test_meta_extractors_never_raise(url, blob):
    from ocr_spark.operators.page_meta import _sidecar

    for text in _routed_texts(blob):
        _sidecar(url, text)


@given(st.text(max_size=200), _junk)
@settings(max_examples=100, deadline=None)
def test_structured_data_extractors_never_raise(url, blob):
    """jsonld / microdata / html-table parsers obey the degradation
    contract: junk -> fewer rows, never a task failure."""
    from ocr_spark.operators.html_tables import _html_tables
    from ocr_spark.operators.link_graph import _page_links
    from ocr_spark.operators.structured_data import _jsonld_rows, _microdata_rows

    for text in _routed_texts(blob):
        for row in _jsonld_rows(url, text):
            assert len(row) == 5
        for row in _microdata_rows(url, text):
            assert len(row) == 4
        for (t, r, c, v) in _html_tables(url, text):
            assert isinstance(v, str)
        for dst, anchor, pos in _page_links(url, text):
            assert isinstance(anchor, str) and isinstance(pos, int)


# a structure-biased generator: raw junk plus junk wrapped in the syntactic
# markers each parser keys on, so the fuzz reaches past the cheap sniff
_marked_junk = st.one_of(
    _junk,
    _junk.map(lambda b: b'<script type="application/ld+json">' + b + b"</script>"),
    _junk.map(lambda b: b"<div itemscope itemtype=x><span itemprop=y>" + b),
    _junk.map(lambda b: b"<table><tr><td>" + b + b"</td></tr></table>"),
)


@given(_marked_junk)
@settings(max_examples=150, deadline=None)
def test_structured_data_marked_junk_never_raises(blob):
    from ocr_spark.operators.html_tables import _html_tables
    from ocr_spark.operators.structured_data import _jsonld_rows, _microdata_rows

    for text in _routed_texts(blob):
        _jsonld_rows("u", text)
        _microdata_rows("u", text)
        _html_tables("u", text)


@given(st.one_of(_junk, st.text(max_size=400)))
@settings(max_examples=150, deadline=None)
def test_parse_vtt_never_raises(body):
    """WebVTT cue parser: cue rows are well-typed (integer ms, start<=end)
    for ANY input."""
    from ocr_spark.kernels.vtt import parse_vtt

    for cue in parse_vtt(body):
        assert isinstance(cue["start_ms"], int) and isinstance(cue["end_ms"], int)
        assert cue["start_ms"] <= cue["end_ms"]

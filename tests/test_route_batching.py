"""extract_batch groups a chunk's rows by route, calls each route kernel
once and scatters the results back: the output must not depend on how the
rows are chunked, and a page that fails inside a route group must come out
empty without touching the rest of its group."""

import random

import pandas as pd

_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _chunk(pages):
    return pd.DataFrame(
        {
            "url": [url for url, _ in pages],
            "warc_ts": [None] * len(pages),
            "lang": ["en"] * len(pages),
            "html": [html for _, html in pages],
        }
    )


def _mixed_pages():
    """(pages, malformed urls): three pages of every synthesized route, a
    binary page, and a truncated or corrupt page for each guarded route."""
    from ocr_spark.operators.extract import page_route
    from ocr_spark.sources.pages import PAYLOAD_MAGIC, synth_page

    pages, malformed = [], set()
    for doc_id in range(60):
        page = synth_page(doc_id, _TEXT, "en")
        pages.append((page["url"], page["html"]))
        if page_route(page["html"])[0] in ("pdf", "image"):
            url = f"{page['url']}#truncated"
            pages.append((url, page["html"][: len(page["html"]) // 2]))
            malformed.add(url)
    pages.append(("binary", bytes(range(256)) * 4))
    bad_payloads = {
        "bad_json": PAYLOAD_MAGIC + b'{"lines": [',
        "short_boxes": PAYLOAD_MAGIC
        + b'{"lines": [{"boxes": [[1, 2]], "words": ["ab"]}]}',
    }
    pages += bad_payloads.items()
    malformed |= set(bad_payloads)
    random.Random(12).shuffle(pages)
    return pages, malformed


def test_route_groups_scatter_back_in_row_order():
    from ocr_spark.operators.extract import extract_batch, page_route

    pages, malformed = _mixed_pages()
    routes = {page_route(html)[0] for _, html in pages}
    assert routes == {"html", "pdf", "image", "docx", "payload", "code", "md", "binary"}
    assert len(malformed) == 8

    out = extract_batch(_chunk(pages))
    row_by_row = pd.concat(
        [extract_batch(_chunk([page])) for page in pages], ignore_index=True
    )
    assert out["url"].tolist() == [url for url, _ in pages]
    assert out.to_dict("records") == row_by_row.to_dict("records")

    for row in out.itertuples():
        if row.url in malformed:
            assert (row.text, row.n_spans) == ("", 0), row.url
        elif row.url != "binary":
            assert row.text and row.n_spans > 0, row.url


def test_tracer_sees_every_wrapped_kernel():
    """perfbench's span tracer patches module attributes; every kernel it
    wraps must still be called through one of them."""
    import perfbench.inputs as inp
    from ocr_spark.operators import extract
    from ocr_spark.sources.pages import synth_page
    from perfbench.tracer import WRAPPED, SpanTracer

    rows = inp.documents(inp.doc_ids(inp.ALL_RESIDUES, 8), "resume_commit", 1)
    pages = [synth_page(d, text, lang) for d, text, lang in rows]
    chunk = _chunk([(p["url"], p["html"]) for p in pages])

    tracer = SpanTracer()
    tracer.install()
    try:
        out = extract.extract_batch(chunk)
    finally:
        tracer.uninstall()

    assert len(out) == len(pages)
    assert {name for name, _, _ in tracer.spans} == {name for _, _, name in WRAPPED}
    assert extract.extract_page.__name__ == "extract_page"  # originals restored


def test_failed_payload_page_lines_are_not_decoded(monkeypatch):
    """A payload page that fails mid-plan takes its appended lines back:
    the chunk's one CTC decode gets only the good page's lines, and the
    good page's text does not change."""
    import json

    from ocr_spark.kernels import ctc
    from ocr_spark.operators.extract import extract_batch
    from ocr_spark.sources.pages import PAYLOAD_MAGIC

    def payload(words):
        lines = [
            {"boxes": [[10, 10 + 30 * i, 60, 30 + 30 * i]], "words": [w]}
            for i, w in enumerate(words)
        ]
        return PAYLOAD_MAGIC + json.dumps({"lines": lines}).encode()

    good = ("good", payload(["alpha", "beta"]))
    bad = ("bad", payload(["gamma", 7]))  # the second word is not a string
    alone = extract_batch(_chunk([good]))

    batches = []
    real = ctc.decode_batch

    def recording(jobs, vocab, method):
        batches.append(len(jobs))
        return real(jobs, vocab, method)

    monkeypatch.setattr(ctc, "decode_batch", recording)
    out = extract_batch(_chunk([good, bad]))
    assert batches == [2]  # the good page's two lines only
    assert out["text"].tolist() == [alone["text"][0], ""]
    assert alone["text"][0]

"""The one page reader for operators that query HTML pages, and the CSS
``select()`` operator built on it.

Every side operator that reads ``pages.html`` as HTML (CSS queries, page
metadata and its sidecar, anchors, web tables, JSON-LD, microdata) is one
call to :func:`html_page_stage`, and the WAT envelope (sources/wat.py)
reads its pages through the same :func:`html_text`. A page is parsed iff
the extraction job's router (``operators.extract.page_route``) sends it
down the html route, so the sniff and the charset decode (a BOM wins over
``<meta charset>``) are the extractor's own and happen once per page, over
the whole page; PDF/image/docx/%OCRPAYLOAD%/plain-text pages and pages
whose parse raises yield the operator's empty rows, never a task failure.

Reference parity: the reference parses HTML with BeautifulSoup
(/root/reference/utils/text/parsers/html_parser.py:119-159) and its users
reach for ``soup.select(...)`` for anything beyond the built-in paragraph
extraction. ``css_select_table`` is that capability as a Spark stage: one
DOM parse per page, N selectors evaluated against the same tree ->
(url, selector, match_idx, tag, text) rows. Selectors are parsed once,
when the query is built.

Plan shape: ONE narrow Arrow stage (mapInPandas), zero exchanges.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame

SELECT_SCHEMA = "url string, selector string, match_idx int, tag string, text string"


def html_text(blob) -> str | None:
    """One page's decoded text if ``page_route`` sends it down the html
    route, else None: the one rule for "this page is HTML"."""
    from .extract import page_route

    route, text = page_route(blob)
    return text if route == "html" else None


def html_page_stage(
    pages: DataFrame, schema: str, parse: Callable, empty: Iterable[tuple] = ()
) -> DataFrame:
    """pages (url, html) -> ``schema`` rows in one mapInPandas stage.
    ``parse(url, text)`` returns the rows of an html page's decoded text
    (:func:`html_text`); any other page, or a parse that raises, gives the
    ``empty`` rows. Each row is prefixed with its url, ``schema``'s first
    column."""
    columns = [field.split()[0] for field in schema.split(",")]
    empty = list(empty)

    def gen(batches):
        import pandas as pd

        from .extract import _guard

        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                text = _guard(html_text, html)
                rows = None if text is None else _guard(parse, url, text)
                out.extend((url, *row) for row in (empty if rows is None else rows))
            yield pd.DataFrame(out, columns=columns)

    return pages.select("url", "html").mapInPandas(gen, schema=schema)


def css_select_table(pages: DataFrame, selectors: Iterable[str]) -> DataFrame:
    """Evaluate ``selectors`` on every HTML page; matched elements come out
    as rows in document order (``match_idx`` counts per url x selector).
    ``text`` is the element's collapsed subtree text (the same
    ``_extract_text`` semantics the extraction pipeline uses)."""
    from ..kernels.css_select import parse_selector

    parsed = [(s, parse_selector(s)) for s in selectors]

    def select(_url, text):
        from ..kernels.css_select import css_select
        from ..kernels.html_extract import _extract_text, parse_dom

        root = parse_dom(text)
        return [
            (sel, k, node.name, _extract_text(node))
            for sel, groups in parsed
            for k, node in enumerate(css_select(root, groups))
        ]

    return html_page_stage(pages, SELECT_SCHEMA, select)

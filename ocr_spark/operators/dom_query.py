"""DOM query operator: CSS ``select()`` over raw crawl page bytes.

Reference parity: the reference parses HTML with BeautifulSoup
(/root/reference/utils/text/parsers/html_parser.py:119-159) and its users
reach for ``soup.select(...)`` for anything beyond the built-in paragraph
extraction. This operator is that capability as a Spark stage: charset-
aware decode of ``html:binary`` -> one DOM parse -> N selectors evaluated
against the same tree -> (url, selector, match_idx, tag, text) rows.

Plan shape: ONE narrow Arrow stage (mapInPandas), zero exchanges. Each
page's DOM is parsed once no matter how many selectors are evaluated;
selectors are parsed once per executor (closure), not per row. A page is
queried iff the extraction job's router (``operators.extract.page_route``)
sends it down the html route; PDF/image/docx/%OCRPAYLOAD%/plain-text pages
yield no rows.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame

SELECT_SCHEMA = "url string, selector string, match_idx int, tag string, text string"


def css_select_table(pages: DataFrame, selectors: Iterable[str]) -> DataFrame:
    """Evaluate ``selectors`` on every HTML page; matched elements come out
    as rows in document order (``match_idx`` counts per url x selector).
    ``text`` is the element's collapsed subtree text (the same
    ``_extract_text`` semantics the extraction pipeline uses)."""
    sels = list(selectors)

    def gen(batches):
        import pandas as pd

        from ..kernels.css_select import css_select, parse_selector
        from ..kernels.html_extract import _extract_text, parse_dom
        from .extract import page_route

        parsed = [(s, parse_selector(s)) for s in sels]
        for pdf in batches:
            out = {"url": [], "selector": [], "match_idx": [], "tag": [], "text": []}
            for url, html in zip(pdf["url"], pdf["html"]):
                try:
                    route, text = page_route(html)
                    if route != "html":
                        continue
                    root = parse_dom(text)
                    for sel, groups in parsed:
                        for k, node in enumerate(css_select(root, groups)):
                            out["url"].append(url)
                            out["selector"].append(sel)
                            out["match_idx"].append(k)
                            out["tag"].append(node.name)
                            out["text"].append(_extract_text(node))
                except Exception:
                    continue  # malformed page -> no rows, never a task failure
            yield pd.DataFrame(out)

    return pages.select("url", "html").mapInPandas(gen, schema=SELECT_SCHEMA)

"""Relational lift of HTML tables: page bytes -> one row per cell.

Web tables are the densest structured data a crawl carries (entity/
attribute mining, table-QA training sets — WDC Web Table Corpus style);
this operator turns every ``<table>`` in ``html:binary`` into
``(url, table_idx, row_idx, col_idx, cell)`` rows so downstream work is
plain SQL instead of re-parsing page bytes.

Shape: ONE narrow MapInPandas stage, zero exchanges, through the shared
page reader (:func:`ocr_spark.operators.dom_query.html_page_stage`, like
link_graph.extract_page_links): the extraction router sniffs and decodes
each page (a BOM wins over ``<meta charset>``), then a regex cell scan
runs over the text. Each table/row/cell scan stops at its last closing
tag, so unclosed openers cost linear time. A non-HTML or malformed page
gives zero rows, never a task failure.

The flagship extractor renders tables as text lines (kernels/
html_extract _parse_table — reference analog utils/text/parsers/
html_parser.py:201-206); this operator is the sibling that PRESERVES the
grid. Nested tables are flattened to the outer cell scan (the non-greedy
span ends at the first ``</table>``) — noted, not hidden: crawl-scale
table mining normally drops nested layout tables anyway.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..kernels.textproc import finditer_closed
from .dom_query import html_page_stage

_TABLE_RE = re.compile(r"<table\b[^>]*>(.*?)</table\s*>", re.I | re.S)
_TR_RE = re.compile(r"<tr\b[^>]*>(.*?)</tr\s*>", re.I | re.S)
_TD_RE = re.compile(r"<t[dh]\b[^>]*>(.*?)</t[dh]\s*>", re.I | re.S)
_LAST_TABLE_CLOSE_RE = re.compile(r".*</table\s*>", re.I | re.S)
_LAST_TR_CLOSE_RE = re.compile(r".*</tr\s*>", re.I | re.S)
_LAST_TD_CLOSE_RE = re.compile(r".*</t[dh]\s*>", re.I | re.S)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")

TABLE_CELLS_SCHEMA = (
    "url string, table_idx int, row_idx int, col_idx int, cell string"
)


def _html_tables(_url: str, text: str) -> list[tuple[int, int, int, str]]:
    """(table_idx, row_idx, col_idx, cell) cells of one page's text."""
    out = []
    tables = finditer_closed(_TABLE_RE, _LAST_TABLE_CLOSE_RE, text)
    for ti, t in enumerate(tables):
        rows = finditer_closed(_TR_RE, _LAST_TR_CLOSE_RE, t.group(1))
        for ri, r in enumerate(rows):
            cells = finditer_closed(_TD_RE, _LAST_TD_CLOSE_RE, r.group(1))
            for ci, c in enumerate(cells):
                cell = _WS_RE.sub(" ", _TAG_RE.sub(" ", c.group(1))).strip()
                out.append((ti, ri, ci, cell))
    return out


def extract_html_tables(pages_df: DataFrame) -> DataFrame:
    """pages (url, html) -> one row per table cell. Single narrow python
    stage; no shuffle — the relational table corpus materializes at scan
    parallelism."""
    return html_page_stage(pages_df, TABLE_CELLS_SCHEMA, _html_tables)

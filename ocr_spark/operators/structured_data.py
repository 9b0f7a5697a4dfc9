"""JSON-LD structured-data extraction (schema.org entities in web pages).

Modern sites embed machine-readable entities as
``<script type="application/ld+json">`` blocks (schema.org Product /
Article / BreadcrumbList / ...); search engines and web-mining pipelines
treat these as the canonical structured payload of a page — richer and
better-typed than OpenGraph meta (operators/page_meta.py og_* sibling).

``extract_jsonld`` lifts every block into flat entity/field rows:
``(url, block_idx, entity_idx, jtype, key, value)``:

- blocks are located with a tolerant script-tag scan (attribute order /
  quoting / whitespace free), bodies parsed with strict ``json.loads``;
- a top-level ``@graph`` array is unwrapped (one entity_idx per member,
  the standard multi-entity envelope); a top-level array likewise; a
  single object is entity 0;
- only SCALAR fields are emitted (string / int / bool / float), with a
  deterministic string rendering (bools as 'true'/'false', numbers via
  repr) — nested objects/arrays are a different query's job;
- ``@type`` becomes the row's jtype (missing -> NULL), ``@context`` and
  other ``@``-keys are envelope, not data;
- a malformed block, a non-JSON-LD script, or non-HTML bytes degrade to
  zero rows for that block/page, never a task failure (codec-parser
  policy).

Shape: ONE narrow MapInPandas stage over the pages scan — zero
exchanges: both operators are
:func:`ocr_spark.operators.dom_query.html_page_stage` calls, like
link_graph.extract_page_links / html_tables, so the parsers read the
text the extraction router decoded.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame

from .dom_query import html_page_stage

_LD_BLOCK_RE = re.compile(
    r"<script[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>(.*?)</script\s*>",
    re.I | re.S,
)

JSONLD_SCHEMA = (
    "url string, block_idx int, entity_idx int, jtype string,"
    " key string, value string"
)


def _render(v) -> str | None:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return repr(v)
    return None  # nested object/array: skipped


def _entities(obj):
    if isinstance(obj, list):
        return [e for e in obj if isinstance(e, dict)]
    if isinstance(obj, dict):
        g = obj.get("@graph")
        if isinstance(g, list):
            return [e for e in g if isinstance(e, dict)]
        return [obj]
    return []


def _jsonld_rows(_url: str, text: str) -> list[tuple]:
    """(block_idx, entity_idx, jtype, key, value) rows of one page's text."""
    rows = []
    for bi, m in enumerate(_LD_BLOCK_RE.finditer(text)):
        try:
            obj = json.loads(m.group(1))
        except (ValueError, RecursionError):
            continue
        for ei, ent in enumerate(_entities(obj)):
            jtype = ent.get("@type")
            jtype = jtype if isinstance(jtype, str) else None
            for k in ent:
                if k.startswith("@"):
                    continue
                v = _render(ent[k])
                if v is not None:
                    rows.append((bi, ei, jtype, k, v))
    return rows


MICRODATA_SCHEMA = (
    "url string, item_idx int, item_type string, prop string, value string"
)

_MD_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>", re.S
)
_MD_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+))?"
)
_MD_VOID = {"meta", "img", "link", "br", "hr", "input", "source", "area", "embed"}
#: itemprop value source per the HTML microdata spec's element table;
#: everything else takes its collapsed descendant text
_MD_ATTR_VALUE = {
    "meta": "content",
    "a": "href",
    "link": "href",
    "area": "href",
    "img": "src",
    "audio": "src",
    "video": "src",
    "embed": "src",
    "iframe": "src",
    "source": "src",
    "data": "value",
    "time": "datetime",
}


def _md_attrs(attrstr: str) -> dict:
    attrs = {}
    for m in _MD_ATTR_RE.finditer(attrstr):
        name = m.group(1).lower()
        val = m.group(2)
        if val is not None and len(val) >= 2 and val[0] in "\"'" and val[-1] == val[0]:
            val = val[1:-1]
        attrs.setdefault(name, val if val is not None else "")
    return attrs


def _microdata_rows(_url: str, text: str) -> list[tuple]:
    """HTML microdata (itemscope/itemtype/itemprop — the third schema.org
    channel next to JSON-LD and OpenGraph) of one page's text -> flat rows
    (item_idx, item_type, prop, value).

    Items number in document order; a nested itemscope that also carries
    itemprop contributes a link row ``value = 'item:<child_idx>'`` to its
    enclosing item (how the spec nests, flattened relationally). Property
    values follow the spec's element table (meta->content, a/link->href,
    img->src, time->datetime, data->value); other elements take their
    whitespace-collapsed descendant text. A stray itemprop outside any
    itemscope is ignored; malformed nesting closes tolerantly: a close tag
    pops up to the nearest open element of its name, and one with no open
    element of its name is skipped in O(1) (open elements are counted per
    tag name), so the scan is linear in the page."""
    rows: list[tuple] = []
    next_idx = 0
    # stack entries: {tag, item: (idx, type) scoping descendants, collector}
    stack: list[dict] = []
    open_tags: dict[str, int] = {}  # tag -> open elements of that name
    collectors: list[dict] = []

    def pop() -> str:
        ent = stack.pop()
        open_tags[ent["tag"]] -= 1
        c = ent.get("collector")
        if c is not None:
            collectors.pop()  # stack order: c is the innermost collector
            rows.append(
                (
                    c["item_idx"],
                    c["item_type"],
                    c["prop"],
                    " ".join("".join(c["parts"]).split()),
                )
            )
        return ent["tag"]

    pos = 0
    for m in _MD_TAG_RE.finditer(text):
        seg = text[pos : m.start()]
        if seg:
            for c in collectors:
                c["parts"].append(seg)
        pos = m.end()
        closing, tag, attrstr = m.groups()
        tag = tag.lower()
        if closing:
            if open_tags.get(tag):
                while pop() != tag:
                    pass
            continue
        attrs = _md_attrs(attrstr)
        is_void = tag in _MD_VOID or attrstr.rstrip().endswith("/")
        enclosing = stack[-1]["item"] if stack else None
        item_for_children = enclosing
        collector = None
        if "itemscope" in attrs:
            idx = next_idx
            next_idx += 1
            itype = attrs.get("itemtype") or None
            if "itemprop" in attrs and enclosing is not None:
                rows.append(
                    (enclosing[0], enclosing[1], attrs["itemprop"], f"item:{idx}")
                )
            item_for_children = (idx, itype)
        elif attrs.get("itemprop") and enclosing is not None:
            prop = attrs["itemprop"]
            src = _MD_ATTR_VALUE.get(tag)
            if src is not None and attrs.get(src) is not None:
                rows.append((enclosing[0], enclosing[1], prop, attrs[src]))
            elif is_void:
                rows.append((enclosing[0], enclosing[1], prop, ""))
            else:
                collector = {
                    "item_idx": enclosing[0],
                    "item_type": enclosing[1],
                    "prop": prop,
                    "parts": [],
                }
        if not is_void:
            stack.append({"tag": tag, "item": item_for_children, "collector": collector})
            open_tags[tag] = open_tags.get(tag, 0) + 1
            if collector is not None:
                collectors.append(collector)
    # tolerate unclosed text-prop elements at EOF: feed the trailing text
    # segment, then flush what was collected
    tail = text[pos:]
    if tail:
        for c in collectors:
            c["parts"].append(tail)
    while stack:
        pop()
    return rows


def extract_microdata(pages_df: DataFrame) -> DataFrame:
    """pages (url, html) -> one row per microdata property / nested-item
    link. Single narrow python stage; no shuffle (same contract as
    extract_jsonld / html_tables)."""
    return html_page_stage(pages_df, MICRODATA_SCHEMA, _microdata_rows)


def extract_jsonld(pages_df: DataFrame) -> DataFrame:
    """pages (url, html) -> one row per scalar JSON-LD entity field.
    Single narrow python stage; no shuffle."""
    return html_page_stage(pages_df, JSONLD_SCHEMA, _jsonld_rows)

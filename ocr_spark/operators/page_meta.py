"""Page-head metadata extraction: title, rel=canonical, description,
html lang, hreflang alternates.

These five fields drive curation decisions the body text cannot:
``rel=canonical`` is the site's OWN dedup key (fold parameterized /
mirrored urls before any content hashing), ``hreflang`` alternates are
publisher-declared bitext pairs (stronger than URL-pattern mining),
``html lang`` seeds language routing before model-based langid, and
title/description feed search snippets and quality features.

Parsing contract (pinned by the closed-form oracle and unit tests):
the parsers read a page's decoded text, of which only the first
``HEAD_BYTES`` characters are scanned (the head region; pagination and
provenance scan ``PAGINATION_BYTES`` characters). The caps bound the
regex scans; the router decodes the whole page, as it does for the
extractor. Attributes match in any order with any quoting, the FIRST
occurrence of title/canonical/description wins, canonical hrefs resolve
RFC-3986-relative against the page url, and a non-HTML or malformed page
yields one all-NULL row, never a task failure — the same degradation
policy as every byte parser in this repo.

Each operator is one :func:`ocr_spark.operators.dom_query.html_page_stage`
call: one Arrow-batched python stage, zero exchanges (plan-asserted), in
which ``page_route`` sniffs and decodes each page once — the sidecar's
four parsers share that one decoded text.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from pyspark.sql import DataFrame

from .dom_query import html_page_stage

# head-region caps, in characters of the decoded text
HEAD_BYTES = 65536

META_SCHEMA = (
    "url string, title string, canonical_url string, description string,"
    " html_lang string, n_hreflang int"
)

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title\s*>", re.IGNORECASE | re.DOTALL)
_HTML_TAG_RE = re.compile(r"<html\b[^>]*>", re.IGNORECASE)
_LINK_RE = re.compile(r"<link\b[^>]*>", re.IGNORECASE)
_META_RE = re.compile(r"<meta\b[^>]*>", re.IGNORECASE)
_ATTR_RE = re.compile(
    r"([a-zA-Z-]+)\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]+))"
)
_WS_RE = re.compile(r"\s+")


def _attrs(tag: str) -> dict[str, str]:
    return {
        m.group(1).lower(): (
            m.group(3) if m.group(3) is not None
            else m.group(4) if m.group(4) is not None
            else m.group(5)
        )
        for m in _ATTR_RE.finditer(tag)
    }


def _page_meta(url: str, text: str) -> dict:
    """Head-region metadata of one page's decoded text."""
    out = {
        "title": None,
        "canonical_url": None,
        "description": None,
        "html_lang": None,
        "n_hreflang": 0,
    }
    text = text[:HEAD_BYTES]
    m = _TITLE_RE.search(text)
    if m:
        title = _WS_RE.sub(" ", m.group(1)).strip()
        out["title"] = title or None
    m = _HTML_TAG_RE.search(text)
    if m:
        lang = _attrs(m.group(0)).get("lang")
        out["html_lang"] = lang.strip().lower() if lang and lang.strip() else None
    n_alt = 0
    for m in _LINK_RE.finditer(text):
        a = _attrs(m.group(0))
        rel = (a.get("rel") or "").strip().lower()
        href = (a.get("href") or "").strip()
        if rel == "canonical" and href and out["canonical_url"] is None:
            try:
                out["canonical_url"] = urljoin(url, href)
            except ValueError:
                pass
        elif rel == "alternate" and a.get("hreflang") and href:
            n_alt += 1
    out["n_hreflang"] = n_alt
    for m in _META_RE.finditer(text):
        a = _attrs(m.group(0))
        if (a.get("name") or "").strip().lower() == "description":
            content = _WS_RE.sub(" ", a.get("content") or "").strip()
            if content:
                out["description"] = content
                break
    return out


OG_SCHEMA = (
    "url string, og_title string, og_type string, og_url string,"
    " og_image string, ld_type string, n_ld int"
)

_LD_SCRIPT_RE = re.compile(
    r"<script\b[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>(.*?)"
    r"</script\s*>",
    re.IGNORECASE | re.DOTALL,
)

_OG_KEYS = ("og:title", "og:type", "og:url", "og:image")


def _ld_first_type(obj) -> str | None:
    """@type of a parsed JSON-LD payload: dict -> its @type (first item
    when a list), top-level list or @graph -> the first node's @type."""
    if isinstance(obj, list):
        return _ld_first_type(obj[0]) if obj else None
    if not isinstance(obj, dict):
        return None
    t = obj.get("@type")
    if t is None and "@graph" in obj:
        return _ld_first_type(obj["@graph"])
    if isinstance(t, list):
        t = t[0] if t else None
    return t if isinstance(t, str) and t.strip() else None


def _og_meta(text: str) -> dict:
    """OpenGraph + JSON-LD structured metadata of one page's head region.

    FIRST occurrence wins for each og:* property (the page_meta policy);
    ``ld_type`` is the @type of the first *parseable* JSON-LD block and
    ``n_ld`` counts parseable blocks — unparseable JSON degrades to
    fewer counted blocks, never a task failure."""
    import json

    out: dict = {k.replace(":", "_"): None for k in _OG_KEYS}
    out["ld_type"] = None
    out["n_ld"] = 0
    text = text[:HEAD_BYTES]
    for m in _META_RE.finditer(text):
        a = _attrs(m.group(0))
        prop = (a.get("property") or "").strip().lower()
        if prop in _OG_KEYS:
            key = prop.replace(":", "_")
            if out[key] is None:
                content = _WS_RE.sub(" ", a.get("content") or "").strip()
                out[key] = content or None
    for m in _LD_SCRIPT_RE.finditer(text):
        try:
            obj = json.loads(m.group(1))
        except (ValueError, RecursionError):
            continue
        out["n_ld"] += 1
        if out["ld_type"] is None:
            out["ld_type"] = _ld_first_type(obj)
    return out


PAGINATION_SCHEMA = "url string, next_url string, prev_url string"

# rel=next/prev lives on <link> in the head but ALSO on body <a> anchors
# (the common CMS pattern), so pagination scans further than the head-only
# extractors — still bounded, 4x the head region.
PAGINATION_BYTES = 4 * HEAD_BYTES

_LINK_OR_A_RE = re.compile(r"<(?:link|a)\b[^>]*>", re.IGNORECASE)


def _pagination(url: str, text: str) -> dict:
    """rel=next / rel=prev(ious) targets of one page. ``rel`` is a
    space-separated token list per HTML spec; FIRST occurrence wins per
    direction; hrefs resolve RFC-3986-relative against the page url."""
    out = {"next_url": None, "prev_url": None}
    text = text[:PAGINATION_BYTES]
    for m in _LINK_OR_A_RE.finditer(text):
        a = _attrs(m.group(0))
        rel = set((a.get("rel") or "").strip().lower().split())
        href = (a.get("href") or "").strip()
        if not href or not rel:
            continue
        try:
            if "next" in rel and out["next_url"] is None:
                out["next_url"] = urljoin(url, href)
            if rel & {"prev", "previous"} and out["prev_url"] is None:
                out["prev_url"] = urljoin(url, href)
        except ValueError:
            continue
        if out["next_url"] and out["prev_url"]:
            break
    return out


def extract_pagination(pages_df: DataFrame) -> DataFrame:
    """pages (url, html) -> (url, next_url, prev_url); one narrow python
    stage, zero exchanges. Feed the non-null ``next_url`` edges to
    :func:`ocr_spark.operators.crawl_edge.resolve_redirects` to assemble
    multi-page articles into series (see contract ``pagination_chains``)
    — stitching paginated articles BEFORE extraction is what keeps one
    logical document from being sharded into quality-filter fragments."""
    return _meta_stage(pages_df, PAGINATION_SCHEMA, _pagination)


def extract_og_meta(pages_df: DataFrame) -> DataFrame:
    """pages (url, html) -> one OpenGraph/JSON-LD row per page (all pages
    kept; non-HTML payloads carry NULL fields). Single narrow python
    stage, zero exchanges — same shape as :func:`extract_page_meta`."""
    return _meta_stage(pages_df, OG_SCHEMA, lambda _url, text: _og_meta(text))


def extract_page_meta(pages_df: DataFrame) -> DataFrame:
    """pages (url, html) -> one metadata row per page (all pages kept;
    non-HTML payloads carry NULL fields). Single narrow python stage."""
    return _meta_stage(pages_df, META_SCHEMA, _page_meta)


PROVENANCE_SCHEMA = (
    "url string, license_url string, cc_variant string, cc_version string,"
    " published_ms bigint"
)

_CC_RE = re.compile(
    r"creativecommons\.org/(?:licenses|publicdomain)/([a-z][a-z0-9-]*)"
    r"(?:/(\d+(?:\.\d+)?))?",
    re.IGNORECASE,
)
_TIME_TAG_RE = re.compile(r"<time\b[^>]*>", re.IGNORECASE)


def _provenance(url: str, text: str) -> dict:
    """License + publication-time provenance of one page.

    - ``license_url``: first ``<link rel=license>`` / ``<a rel=license>``
      href (rel is a token list), resolved RFC-3986-relative.
    - ``cc_variant``/``cc_version``: parsed from a creativecommons.org
      license path anywhere in the scanned region (e.g. ``by-sa`` /
      ``4.0``, ``zero`` / ``1.0``) — openly-licensed-corpus mining needs
      the variant, not just a flag.
    - ``published_ms``: first of ``<meta property="article:published_time">``
      or ``<time datetime=...>``, through the SAME ISO-8601/RFC-822 path
      as feeds/headers (:func:`ocr_spark.operators.feeds.parse_date_ms`).
    """
    from .feeds import parse_date_ms

    out = {
        "license_url": None,
        "cc_variant": None,
        "cc_version": None,
        "published_ms": None,
    }
    text = text[:PAGINATION_BYTES]
    for m in _LINK_OR_A_RE.finditer(text):
        a = _attrs(m.group(0))
        rel = set((a.get("rel") or "").strip().lower().split())
        href = (a.get("href") or "").strip()
        if "license" in rel and href and out["license_url"] is None:
            try:
                out["license_url"] = urljoin(url, href)
            except ValueError:
                pass
    cc = _CC_RE.search(out["license_url"] or "") or _CC_RE.search(text)
    if cc:
        out["cc_variant"] = cc.group(1).lower()
        out["cc_version"] = cc.group(2)
    for m in _META_RE.finditer(text):
        a = _attrs(m.group(0))
        if (a.get("property") or "").strip().lower() == "article:published_time":
            out["published_ms"] = parse_date_ms((a.get("content") or "").strip())
            if out["published_ms"] is not None:
                break
    if out["published_ms"] is None:
        for m in _TIME_TAG_RE.finditer(text):
            a = _attrs(m.group(0))
            dt = (a.get("datetime") or "").strip()
            if dt:
                out["published_ms"] = parse_date_ms(dt)
                if out["published_ms"] is not None:
                    break
    return out


def extract_provenance(pages_df: DataFrame) -> DataFrame:
    """pages (url, html) -> (url, license_url, cc_variant, cc_version,
    published_ms); one narrow python stage, zero exchanges — the
    provenance companion to :func:`extract_page_meta`."""
    return _meta_stage(pages_df, PROVENANCE_SCHEMA, _provenance)


SIDECAR_SCHEMA = (
    META_SCHEMA
    + ", og_title string, og_type string, og_url string, og_image string"
    + ", ld_type string, n_ld int, next_url string, prev_url string"
    + ", license_url string, cc_variant string, cc_version string"
    + ", published_ms bigint"
)


def _sidecar(url: str, text: str) -> dict:
    """All four metadata families of one page's decoded text."""
    return (
        _page_meta(url, text)
        | _og_meta(text)
        | _pagination(url, text)
        | _provenance(url, text)
    )


def extract_meta_sidecar(pages_df: DataFrame) -> DataFrame:
    """ALL page-metadata families (head meta + OpenGraph/JSON-LD +
    pagination + provenance) in ONE Arrow-batched python stage — one
    scan of the pages table produces the whole sidecar, instead of four
    independent scan->parse jobs. At 100 TB the scan IS the cost; each
    page is routed and decoded once and the four parsers share its
    text. Wired into the production CLI as ``run_job.py --sidecar-meta
    <dir>``."""
    return _meta_stage(pages_df, SIDECAR_SCHEMA, _sidecar)


def _meta_stage(pages_df: DataFrame, schema: str, parse) -> DataFrame:
    """One row per page: ``parse(url, text)``'s dict, in ``schema`` order;
    a non-HTML or failing page gets NULL fields and zero counts."""
    columns = [field.split()[0] for field in schema.split(",")][1:]
    null_row = tuple(0 if c.startswith("n_") else None for c in columns)

    def row(url, text):
        fields = parse(url, text)
        return [tuple(fields[c] for c in columns)]

    return html_page_stage(pages_df, schema, row, [null_row])

"""robots.txt compliance filtering — the crawl-edge gate every fetch list
passes through before politeness scheduling.

Two pieces:

- :func:`parse_robots` — RFC 9309 (REP) parser for one robots.txt body:
  group selection by user-agent (the MOST SPECIFIC matching token wins;
  ``*`` is the fallback; EVERY group carrying the winning token
  contributes rules, per §2.2.1 "matching groups' rules MUST be
  combined"), Allow/Disallow directives, comments, blank-line group ends.
  Plain-prefix, ``*``-wildcard (§2.2.3) and ``$``-anchored rules are
  matched; empty Disallow means "no restriction" and is dropped.

- :func:`robots_filter` — distributed longest-match evaluation: robots
  bodies parse once per host in an Arrow-batched UDF into ONE rules array
  per host; the url table equi-joins that on host (the only exchange) and
  the winner folds JVM-side in an aggregate lambda by (rule length DESC,
  allow DESC) — RFC tie-break: the longest rule wins, Allow wins
  equal-length ties. No window, no sort, duplicate url rows preserved.
  Urls whose host has no rules (or no matching rule) are allowed.
  Wildcard matching runs as SQL LIKE with escaped metacharacters
  (``*`` -> ``%``).

Scale shape: the rule join is a hash equi-join on host; each url meets
only its host's rules (robots files are small, so fan-out per url is the
host's rule count, typically < 100). No broadcast of a global robots
map — millions of hosts stay distributed; AQE handles mega-host skew the
same way the extraction job does.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf


def parse_robots_directives(
    txt: str, agent: str = "*"
) -> tuple[list[tuple[bool, str, bool]], int | None, list[str]]:
    """Full directive extraction from one robots.txt body for ``agent``:
    ``(rules, crawl_delay_ms, sitemaps)``.

    - rules: [(allow, prefix, anchored), ...] from the winning group only.
      Group selection per RFC 9309: the longest user-agent token that is a
      case-insensitive substring match of ``agent`` wins; ``*`` is the
      fallback; only the winning group's rules apply.
    - crawl_delay_ms: the winning group's ``Crawl-delay`` (seconds, may be
      fractional) rounded to integer milliseconds; None when absent or
      unparsable. De-facto extension honored by major crawlers.
    - sitemaps: every ``Sitemap:`` value in the file, in order — the
      directive is file-global, independent of group selection (RFC 9309
      treats unknown records as other records; sitemaps.org defines it).
    """
    groups: list[tuple[list[str], list[tuple[bool, str]], int | None]] = []
    sitemaps: list[str] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    cur_delay: int | None = None
    in_group_body = False

    def _close():
        nonlocal cur_agents, cur_rules, cur_delay, in_group_body
        groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], None
        in_group_body = False

    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_group_body:
                _close()
            cur_agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_group_body = True
            if not value:
                # empty Disallow = no restriction (RFC 9309 §2.2.2)
                continue
            anchored = value.endswith("$")
            prefix = value[:-1] if anchored else value
            cur_rules.append((field == "allow", prefix, anchored))
        elif field == "crawl-delay":
            in_group_body = True
            try:
                # OverflowError: 'inf'/'1e400' must degrade, not fail the
                # task (never-a-task-failure parser policy)
                cur_delay = int(round(float(value) * 1000.0))
            except (ValueError, OverflowError):
                pass
        elif field == "sitemap":
            # file-global; does not open or close a group body
            if value:
                sitemaps.append(value)
        # other fields end nothing and are ignored
    if cur_agents or cur_rules or cur_delay is not None:
        _close()

    agent_l = agent.lower()

    def _score(agents: list[str]) -> int | None:
        s = None
        for a in agents:
            if a == "*":
                s = max(s, 0) if s is not None else 0
            elif a and a in agent_l:
                s = max(s or 0, len(a))
        return s

    scored = [(_score(agents), rules, delay) for agents, rules, delay in groups]
    best_score = max((s for s, _, _ in scored if s is not None), default=None)
    if best_score is None:
        return [], None, sitemaps
    # RFC 9309 §2.2.1: EVERY group matching the winning token contributes
    # (concatenated robots files repeat 'User-agent: *' routinely)
    merged_rules: list[tuple[bool, str, bool]] = []
    merged_delay: int | None = None
    for s, rules, delay in scored:
        if s != best_score:
            continue
        merged_rules.extend(tuple(r) for r in rules)
        if merged_delay is None:
            merged_delay = delay
    return merged_rules, merged_delay, sitemaps


def parse_robots(txt: str, agent: str = "*") -> list[tuple[bool, str, bool]]:
    """Allow/Disallow rules for ``agent`` — see
    :func:`parse_robots_directives` for group-selection semantics."""
    return parse_robots_directives(txt, agent)[0]


def _like_pattern(prefix: str, anchored: bool) -> str:
    """RFC 9309 path pattern -> SQL LIKE pattern: escape LIKE
    metacharacters, ``*`` -> ``%``; non-anchored rules get a trailing
    ``%`` (prefix match). LIKE is a full-string match, so '^' is
    implicit."""
    esc = prefix.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    pat = esc.replace("*", "%")
    return pat if anchored else pat + "%"


def _rules_udf(agent: str):
    @pandas_udf(
        "array<struct<allow:boolean,prefix:string,anchored:boolean,"
        "like_pat:string,prefix_len:int>>"
    )
    def parse(txts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [
                    {
                        "allow": a,
                        "prefix": p,
                        "anchored": anch,
                        "like_pat": _like_pattern(p, anch),
                        "prefix_len": len(p),
                    }
                    for (a, p, anch) in parse_robots(str(t), agent)
                ]
                for t in txts
            ]
        )

    return parse


# name must be EXACTLY 'robots' (quoted, or unquoted followed by a
# delimiter — 'robots-verification' must not match); content accepts
# quoted or unquoted (legal HTML) values
_META_ROBOTS_RE = re.compile(
    rb"<meta\s+[^>]*name\s*=\s*([\"']robots[\"']|robots(?=[\s/>]))[^>]*>",
    re.IGNORECASE | re.DOTALL,
)
_CONTENT_RE = re.compile(
    rb"content\s*=\s*(?:([\"'])(.*?)\1|([^\s\"'/>]+))", re.IGNORECASE | re.DOTALL
)

META_ROBOTS_FLAGS = ("noindex", "nofollow", "noarchive", "nosnippet", "noai")


def parse_meta_robots(html: bytes, *, scan_bytes: int = 16384) -> dict[str, bool]:
    """Opt-out directives from ``<meta name="robots" content="...">`` tags
    in the first ``scan_bytes`` of a page. Multiple tags union their
    directives; ``none`` implies noindex+nofollow. Directive names are
    ASCII by spec, so a latin-1 view of the byte prefix is charset-safe."""
    flags = dict.fromkeys(META_ROBOTS_FLAGS, False)
    head = html[:scan_bytes]
    for tag in _META_ROBOTS_RE.finditer(head):
        m = _CONTENT_RE.search(tag.group(0))
        if not m:
            continue
        value = m.group(2) if m.group(2) is not None else m.group(3)
        directives = {
            d.strip().lower() for d in value.decode("latin-1").split(",")
        }
        if "none" in directives:
            flags["noindex"] = flags["nofollow"] = True
        for name in META_ROBOTS_FLAGS:
            if name in directives:
                flags[name] = True
    return flags


def meta_robots_flags(
    pages: DataFrame, *, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Per-page opt-out flag columns from raw html bytes — the page-level
    complement of the host-level robots.txt gate (crawlers honor both).
    ONE Arrow-batched stage over the byte prefix, zero exchanges; a
    training pipeline filters ``~noindex & ~noai`` before any content
    work, so the flags must be a free column on the scan."""
    schema = ",".join(f"{n}:boolean" for n in META_ROBOTS_FLAGS)

    @pandas_udf(f"struct<{schema}>")
    def parse(blobs: pd.Series) -> pd.DataFrame:
        rows = [
            parse_meta_robots(bytes(b) if b is not None else b"") for b in blobs
        ]
        return pd.DataFrame(rows, columns=list(META_ROBOTS_FLAGS))

    parsed = pages.withColumn("_m", parse(html_col))
    for name in META_ROBOTS_FLAGS:
        parsed = parsed.withColumn(name, F.col(f"_m.{name}"))
    return parsed.drop("_m")


# scheme://host capture (same shape as plans/pipeline._HOST_RE, kept local
# to avoid an operators -> plans import cycle) and the path remainder
_URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/]+)"
_URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]+(/[^#]*)?"


def gate_pages(
    pages: DataFrame, robots: DataFrame, *, agent: str = "*", url_col: str = "url"
) -> DataFrame:
    """Production-surface robots gate for a pages table: evaluate
    :func:`robots_filter` on the (url, host, path) PROJECTION only — never
    windowing over the html payload — then left-semi join the allowed urls
    back. Both joins are url/host equi-joins (the lineage anti-join's
    partitioning reuses the url side downstream). Urls with no path get
    '/'; fragment-only tails are stripped per RFC 9309 §2.2.2."""
    # hostnames are case-insensitive and may carry userinfo/port in the
    # url authority — normalize before the equi-join against the robots
    # table's bare lowercase hosts, or disallowed pages slip through
    raw_host = F.regexp_extract(url_col, _URL_HOST_RE, 1)
    host = F.lower(
        F.regexp_replace(F.regexp_replace(raw_host, "^.*@", ""), ":\\d+$", "")
    )
    u = pages.select(
        F.col(url_col).alias("url"),
        host.alias("host"),
        F.coalesce(
            F.nullif(F.regexp_extract(url_col, _URL_PATH_RE, 1), F.lit("")),
            F.lit("/"),
        ).alias("path"),
    )
    allowed = robots_filter(u, robots, agent=agent).where("allowed").select("url")
    return pages.join(allowed, pages[url_col] == allowed["url"], "left_semi")


def robots_directives(robots: DataFrame, *, agent: str = "*") -> DataFrame:
    """(host, robots_txt) -> (host, crawl_delay_ms:long nullable,
    sitemaps:array<string>). One Arrow-batched parse per host row, zero
    exchanges — the politeness input table."""

    @pandas_udf("struct<crawl_delay_ms:long,sitemaps:array<string>>")
    def parse(txts: pd.Series) -> pd.DataFrame:
        delays, maps = [], []
        for t in txts:
            _, delay, sm = parse_robots_directives(str(t), agent)
            delays.append(delay)
            maps.append(sm)
        return pd.DataFrame({"crawl_delay_ms": delays, "sitemaps": maps})

    return robots.select("host", parse("robots_txt").alias("d")).select(
        "host",
        F.col("d.crawl_delay_ms").alias("crawl_delay_ms"),
        F.col("d.sitemaps").alias("sitemaps"),
    )


def robots_filter(
    urls: DataFrame,
    robots: DataFrame,
    *,
    agent: str = "*",
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Longest-match robots evaluation. Input urls(host, path, ...),
    robots(host, robots_txt); output = urls columns + ``allowed``."""
    # rules ride as ONE array per host (no explode): the host equi-join is
    # then the ONLY exchange, and the longest-match/Allow-ties fold runs
    # JVM-side inside an aggregate lambda — no window, no per-row shuffle,
    # duplicate input rows trivially preserved
    parse = _rules_udf(agent)
    # merge multiple robots rows per host (re-fetched/concatenated
    # sources): the join must stay 1 row per host or probe rows duplicate
    # and a permissive fragment could override the longest-match verdict.
    # The tiny host-keyed agg only touches the robots side; flatten order
    # cannot change a verdict (the fold is order-independent up to exact
    # (len, allow) ties, which share a verdict).
    per_host = (
        robots.select("host", parse("robots_txt").alias("_r"))
        .groupBy("host")
        .agg(F.flatten(F.collect_list("_r")).alias("_rules"))
        .withColumnRenamed("host", host_col)
    )
    matched = urls.join(per_host, on=[host_col], how="left")
    best = F.expr(
        f"""aggregate(_rules,
              named_struct('len', -1, 'allow', true),
              (acc, r) -> CASE
                  WHEN `{path_col}` LIKE r.like_pat ESCAPE '\\\\'
                       AND (r.prefix_len > acc.len
                            OR (r.prefix_len = acc.len AND r.allow
                                AND NOT acc.allow))
                  THEN named_struct('len', r.prefix_len, 'allow', r.allow)
                  ELSE acc END)"""
    )
    return matched.withColumn("_best", best).select(
        *urls.columns,
        F.when(F.col("_best.len") >= 0, F.col("_best.allow"))
        .otherwise(F.lit(True))
        .alias("allowed"),
    )

"""Web link-graph operators: anchor extraction, host graph, PageRank.

The other half of a crawl corpus besides page text is its LINK STRUCTURE —
frontier scheduling, spam/host authority, and quality signals (Gopher uses
inlink counts; Common Crawl publishes a host-level web graph). Three
first-class operators:

- :func:`extract_page_links` — anchor extraction from the raw ``html``
  column through the shared page reader
  (:func:`ocr_spark.operators.dom_query.html_page_stage`): the
  extraction router's sniff and charset decode (non-HTML payloads emit
  nothing; a BOM wins over ``<meta charset>``), a linear-time ``<a
  href>`` scan, and RFC-3986 relative-reference resolution against the
  page url. One narrow mapInPandas stage, zero shuffles — the same
  single-python-stage shape as the flagship extractor, so it pipelines
  with extraction per partition.
- :func:`host_graph` — the inter-host edge rollup (src_host, dst_host,
  n_links): one hash exchange on the edge key; intra-host links are
  dropped (the standard host-graph construction — nav/self links carry no
  authority signal).
- :func:`pagerank_hosts` — damped PageRank over the distinct inter-host
  edges in FIXED-POINT INTEGER arithmetic: ranks are scaled longs and
  every step uses integral ``div``, so the result is bit-identical under
  any summation order / partitioning — reproducible across engines
  (the DuckDB oracle replays the same recurrence) and across cluster
  sizes, which floating-point PageRank is not.

Scale notes:

- extract_page_links inherits the flagship's partitioning (hash(url));
  its output is already distributed by src page, so host_graph's groupBy
  is the FIRST exchange in the chain.
- pagerank_hosts: edges are distinct (src,dst) pairs with a precomputed
  out-degree; each iteration is join(ranks, edges on src) -> groupBy(dst).
  Both sides hash-partition on the same host key, so AQE reuses the
  exchange; per-iteration state is one long per node. Hot hosts (every
  page links to a few hubs) skew the groupBy — the per-key state is a
  single running sum (no row buffering), so skew costs network balance,
  not memory; the edges DataFrame is cached once, not per iteration.
- Dangling hosts (no out-links) leak their rank mass — the classic
  simplified recurrence (Page et al. 1999 §2.5 note); the oracle replays
  the same choice so the comparison is exact.

Reference analog: the predicted-boxes adjacency used by combine_boxes
(/root/reference/utils/image/bounding_box/combination.py) is the same
"build edges, then iterate a per-node fold" shape; here nodes are hosts
and the fold is the PageRank sum.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlparse

from pyspark.sql import DataFrame, Window, functions as F

from ..kernels.textproc import finditer_closed
from .dom_query import html_page_stage

LINKS_SCHEMA = "url string, dst_url string, anchor string, pos int"

#: tolerant anchor scanner: double/single/un-quoted href, attrs in any
#: order, anchor body may span lines and contain inline tags
_ANCHOR_RE = re.compile(
    r"<a\s[^>]*?href\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]+))[^>]*>(.*?)</a>",
    re.IGNORECASE | re.DOTALL,
)
_LAST_ANCHOR_CLOSE_RE = re.compile(r".*</a>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")


def _page_links(url: str, text: str) -> list[tuple[str, str, int]]:
    """(dst_url, anchor, pos) anchors of one page's decoded text."""
    out = []
    anchors = finditer_closed(_ANCHOR_RE, _LAST_ANCHOR_CLOSE_RE, text)
    for pos, m in enumerate(anchors):
        href = m.group(2) if m.group(2) is not None else (
            m.group(3) if m.group(3) is not None else m.group(4)
        )
        href = (href or "").strip()
        if not href or href.startswith(("#", "javascript:", "mailto:")):
            continue
        anchor = _WS_RE.sub(" ", _TAG_RE.sub(" ", m.group(5))).strip()
        try:
            dst = urljoin(url, href)
        except ValueError:
            continue
        out.append((dst, anchor, pos))
    return out


def extract_page_links(pages_df: DataFrame) -> DataFrame:
    """pages (url, html) -> one row per anchor (url, dst_url, anchor, pos).

    Single narrow python stage; a non-HTML or malformed page gives zero
    links (never fails the task), mirroring extract_batch."""
    return html_page_stage(pages_df, LINKS_SCHEMA, _page_links)


#: host component of an http(s) url, JVM-side (for the rollup after the
#: python extraction stage)
_URL_HOST_RE = r"^https?://([^/:]+)"


def host_graph(links_df: DataFrame) -> DataFrame:
    """links -> inter-host edges (src_host, dst_host, n_links).

    Intra-host edges (nav bars, self-links) are dropped. One hash
    exchange (the groupBy); host parsing is a codegen'd regexp."""
    e = links_df.select(
        F.regexp_extract("url", _URL_HOST_RE, 1).alias("src_host"),
        F.regexp_extract("dst_url", _URL_HOST_RE, 1).alias("dst_host"),
    ).where(
        (F.col("src_host") != "")
        & (F.col("dst_host") != "")
        & (F.col("src_host") != F.col("dst_host"))
    )
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links")
    )


PAGERANK_SCALE = 1_000_000
PAGERANK_DAMPING_NUM = 85  # 0.85 as a ratio of longs
PAGERANK_DAMPING_DEN = 100


def pagerank_hosts(edges_df: DataFrame, n_iters: int = 5) -> DataFrame:
    """Fixed-point integer PageRank over distinct (src_host, dst_host)
    edges -> (host, rank:long).

    Recurrence (all integral, order-independent):
        r0(v)   = SCALE
        r_k(v)  = BASE + (85 * sum_{(u,v) in E} (r_{k-1}(u) div outdeg(u))) div 100
    with BASE = SCALE*15/100. Integral ``div`` at both steps makes every
    intermediate a long, so the shuffle's reduction order cannot change
    the result — the determinism the north_rule's byte-identity bar
    demands, which double-precision PageRank does not provide."""
    edges = edges_df.select("src_host", "dst_host").distinct()
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    outdeg = edges.groupBy("src_host").agg(F.count(F.lit(1)).alias("outdeg"))
    e = edges.join(outdeg, "src_host").select("src_host", "dst_host", "outdeg")
    # fixed iteration count: cache the static sides once
    e = e.persist()
    nodes = nodes.persist()
    base = PAGERANK_SCALE * (PAGERANK_DAMPING_DEN - PAGERANK_DAMPING_NUM) // PAGERANK_DAMPING_DEN
    ranks = nodes.select("host", F.lit(PAGERANK_SCALE).cast("long").alias("rank"))
    for _ in range(n_iters):
        inflow = (
            e.join(ranks, e.src_host == ranks.host)
            .select(
                F.col("dst_host").alias("host"),
                F.expr("rank div outdeg").alias("contrib"),
            )
            .groupBy("host")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = nodes.join(inflow, "host", "left").select(
            "host",
            (
                F.lit(base)
                + F.expr(
                    f"({PAGERANK_DAMPING_NUM} * coalesce(s, 0L)) div {PAGERANK_DAMPING_DEN}"
                )
            )
            .cast("long")
            .alias("rank"),
        )
    return ranks


def trustrank_hosts(edges_df, seed_pred, n_iters: int = 5) -> DataFrame:
    """Fixed-point integer TrustRank (Gyongyi et al. 2004) over distinct
    (src_host, dst_host) edges -> (host, trust:long, is_seed:boolean).

    Same integral recurrence as :func:`pagerank_hosts`, but the teleport
    mass lands ONLY on the seed set selected by ``seed_pred`` (a Column
    predicate over ``host``):

        t0(v)  = SCALE * seed(v)
        t_k(v) = BASE * seed(v)
               + (85 * sum_{(u,v) in E} (t_{k-1}(u) div outdeg(u))) div 100

    Unnormalized trust mass (no 1/|S| teleport split): rank-order
    equivalent to the paper's normalized form, and it keeps every step a
    long so the shuffle's reduction order cannot change a bit. Spam hosts
    far from any seed decay toward 0 — the inverse-PageRank seed
    *selection* step of the paper is an input policy (a curated
    whitelist in production), not re-derived here.

    Scale shape: identical to pagerank_hosts — static edge/node sides
    persisted once, each iteration ONE join + ONE dst groupBy, state
    bounded by |hosts|. The seed flag rides the node table; no extra
    exchange."""
    edges = edges_df.select("src_host", "dst_host").distinct()
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .select("host", seed_pred.alias("is_seed"))
    )
    outdeg = edges.groupBy("src_host").agg(F.count(F.lit(1)).alias("outdeg"))
    e = edges.join(outdeg, "src_host").select("src_host", "dst_host", "outdeg")
    e = e.persist()
    nodes = nodes.persist()
    base = PAGERANK_SCALE * (PAGERANK_DAMPING_DEN - PAGERANK_DAMPING_NUM) // PAGERANK_DAMPING_DEN
    seed_long = F.col("is_seed").cast("long")
    ranks = nodes.select(
        "host", "is_seed", (F.lit(PAGERANK_SCALE) * seed_long).cast("long").alias("trust")
    )
    for _ in range(n_iters):
        inflow = (
            e.join(ranks, e.src_host == ranks.host)
            .select(
                F.col("dst_host").alias("host"),
                F.expr("trust div outdeg").alias("contrib"),
            )
            .groupBy("host")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = nodes.join(inflow, "host", "left").select(
            "host",
            "is_seed",
            (
                F.lit(base) * seed_long
                + F.expr(
                    f"({PAGERANK_DAMPING_NUM} * coalesce(s, 0L)) div {PAGERANK_DAMPING_DEN}"
                )
            )
            .cast("long")
            .alias("trust"),
        )
    return ranks


def anchor_summary(links_df: DataFrame, *, k: int = 3) -> DataFrame:
    """Per-target anchor-text profile: the top-``k`` distinct anchor texts
    pointing at each ``dst_url``, ranked by reference count -> one row per
    (dst_url, anchor) with (n_refs, n_hosts, rk <= k).

    The "anchor text describes the target" aggregation every web corpus
    ships (search indexing, query-document training pairs, link-spam
    features).  Scale shape: state is bounded everywhere — a
    (dst_url, anchor) groupBy (ONE exchange, map-side partial agg; per-key
    reducer rows are bounded by DISTINCT anchor texts, never by reference
    count) followed by a per-target window that only ranks those distinct
    anchors.  No collect_set of unbounded reference lists, so a mega-hub
    target costs network balance, not executor memory; the hot-key rows
    are split across the composite (dst_url, anchor) key and AQE covers
    the remainder.  The distinct-host count uses the same composite key
    (partial distinct-agg expand), not a second self-join."""
    src_host = F.regexp_extract("url", _URL_HOST_RE, 1)
    per = (
        links_df.where(F.trim(F.col("anchor")) != "")
        .select(
            "dst_url",
            F.trim(F.col("anchor")).alias("anchor"),
            src_host.alias("src_host"),
        )
        .groupBy("dst_url", "anchor")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_refs"),
            F.countDistinct("src_host").cast("long").alias("n_hosts"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("dst_url").orderBy(F.desc("n_refs"), F.asc("anchor"))
    return per.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


HITS_SCALE = 1_000_000


def hits_hosts(edges_df: DataFrame, n_iters: int = 4) -> DataFrame:
    """Kleinberg HITS hubs/authorities over the host graph -> (host, hub,
    auth), the link-analysis complement of :func:`pagerank_hosts`
    (PageRank ranks endorsement flow; HITS separates directories/link
    hubs from endorsed content — both standard crawl-prioritization and
    spam-feature inputs).

    Same determinism contract as PageRank: every step is integral and
    order-independent. Instead of the usual L2 normalization (a sqrt per
    round — engine-dependent libm), each half-step rescales by the
    GLOBAL MAX via integral div:

        a_k(v) = (sum_{(u,v)} h_{k-1}(u)) * SCALE div max_raw
        h_k(u) = (sum_{(u,v)} a_k(v))     * SCALE div max_raw

    L-infinity normalization preserves the HITS ranking fixpoint (power
    iteration converges under any norm) and keeps every value a long in
    [0, SCALE]. The global max is a 1-row aggregate broadcast back — two
    bounded reduces per round next to the two edge joins, the same
    exchange count as a PageRank round.

    Each half-step's raw score table feeds BOTH the max aggregate and the
    rescale projection, so without lineage truncation the plan TREE
    doubles per half-step — a 2^(2*iters) blow-up that OOMs Catalyst's
    tree printer on a toy graph. Every half-step is persisted (so the two
    references share one InMemoryRelation and execute once) and every
    SECOND half-step is localCheckpoint'ed eagerly (truncating the tree
    before the doubling compounds). Checkpointing every half-step also
    works but pays an eager job per half-step — measured 2.3x slower at
    sf0.1/local[32] (3.5 s vs 8.2 s) because per-job scheduling dominates
    the tiny score table; every 4th half-step lets 16x duplicated
    plan/execution segments creep back in and is slower again. The
    checkpointed state is the bounded score-table-per-superstep footprint
    GraphX/Pregel carry: one (host, long) row per host."""
    edges = edges_df.select("src_host", "dst_host").distinct().persist()
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .persist()
    )

    step = 0
    cached: list[DataFrame] = []

    def _half(scores: DataFrame, score_col: str, src: str, dst: str, out: str):
        nonlocal step
        raw = (
            edges.join(scores, edges[src] == scores["host"])
            .select(F.col(dst).alias("host"), F.col(score_col).alias("v"))
            .groupBy("host")
            .agg(F.sum("v").alias("raw"))
        )
        raw = nodes.join(raw, "host", "left").select(
            "host", F.coalesce("raw", F.lit(0).cast("long")).alias("raw")
        )
        step += 1
        if step % 2 == 0:
            raw = raw.localCheckpoint(eager=True)
            # the eager checkpoint consumed the older persisted half-steps
            # — release all but the newest (the final result still joins
            # the LAST odd half-step) so repeated hits_hosts calls in a
            # long session don't accumulate dead storage
            while len(cached) > 1:
                cached.pop(0).unpersist(blocking=False)
        else:
            raw = raw.persist()
            cached.append(raw)
        mx = raw.agg(F.max("raw").alias("mx"))
        # raw*SCALE through decimal(38,0): a Common-Crawl-sized host graph
        # can push max raw past 2^63/SCALE (~9.2e12), where a long multiply
        # wraps silently under non-ANSI arithmetic. div is exact integral
        # division on decimals; the result is back in [0, SCALE].
        return raw.crossJoin(F.broadcast(mx)).select(
            "host",
            F.expr(
                f"(cast(raw as decimal(38,0)) * {HITS_SCALE})"
                " div greatest(mx, 1)"
            )
            .cast("long")
            .alias(out),
        )

    hubs = nodes.select("host", F.lit(HITS_SCALE).cast("long").alias("hub"))
    auths = None
    # round state is one (host, long) row per host: derive the loop's
    # shuffle partitioning from that cardinality, not the session's
    # scan-sized setting (anti-scaling otherwise — see iteration_shuffle)
    from ..plans.session import iteration_shuffle

    with iteration_shuffle(edges_df.sparkSession, nodes.count()) as it:
        # rebase the loop inputs into the clone; _half's closure reads the
        # reassigned edges/nodes, so every round plans under it.n
        edges = it.bind(edges)
        nodes = it.bind(nodes)
        hubs = it.bind(hubs)
        for _ in range(n_iters):
            auths = _half(hubs, "hub", "src_host", "dst_host", "auth")
            hubs = _half(auths, "auth", "dst_host", "src_host", "hub")
        out = hubs.join(auths, "host").select("host", "hub", "auth")
        out = out.localCheckpoint(eager=True)
    return out


def host_reciprocity(edges_df: DataFrame) -> DataFrame:
    """Per-host outlink reciprocity -> (host, n_out, n_recip,
    recip_milli): the share of a host's distinct out-neighbors that link
    back. Organic linking is mostly one-directional (reciprocity near 0
    for reference sites); link farms and paid-exchange rings approach
    1000 milli — the classic TrustRank-era spam feature, and a cheap
    input to crawl prioritization next to pagerank/hits.

    Scale shape: ONE edge-key self-join (left-semi against the reversed
    edge set — no payload columns, both sides are the same deduped edge
    table) sharing its exchange with the per-src groupBy; integer milli
    ratio via div, so the feature is byte-deterministic."""
    e = edges_df.select("src_host", "dst_host").distinct()
    rev = e.select(
        F.col("dst_host").alias("src_host"), F.col("src_host").alias("dst_host")
    )
    out = e.groupBy("src_host").agg(F.count(F.lit(1)).cast("long").alias("n_out"))
    recip = (
        e.join(rev, ["src_host", "dst_host"], "left_semi")
        .groupBy("src_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_recip"))
    )
    return (
        out.join(recip, "src_host", "left")
        .select(
            F.col("src_host").alias("host"),
            "n_out",
            F.coalesce("n_recip", F.lit(0).cast("long")).alias("n_recip"),
            F.expr("(coalesce(n_recip, 0) * 1000) div n_out")
            .cast("long")
            .alias("recip_milli"),
        )
    )


def seed_distance_hosts(edges_df, seed_pred, max_hops: int = 4) -> DataFrame:
    """Multi-source BFS distance from a seed whitelist over the host graph
    -> (host, is_seed, dist): the "hop count from trusted seeds" feature
    (the discrete complement of trustrank_hosts — trust mass decays
    smoothly, dist counts link hops; both flag far-from-any-seed spam).
    Hosts unreached within ``max_hops`` report dist = NULL.

    Min-plus relaxation, unit steps:
        d_0(v) = 0 if seed(v) else NULL
        d_i(v) = min(d_{i-1}(v), 1 + min_{(u,v) in E} d_{i-1}(u))
    Integer mins are associative/commutative, so any partitioning or
    reduction order yields bit-identical distances, and the DuckDB oracle
    replays the rounds exactly.

    Scale shape: static deduped edge table persisted once; each round is
    ONE src equi-join over the reached frontier + ONE dst min-groupBy +
    a node-table left join — state bounded by |hosts|. max_hops is small
    by design (the feature saturates: anything > ~4 hops from every seed
    is equally suspect), so rounds are unrolled, not pointer-doubled."""
    edges = edges_df.select("src_host", "dst_host").where(
        F.col("src_host") != F.col("dst_host")
    ).distinct()
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .select("host", seed_pred.alias("is_seed"))
    )
    edges = edges.persist()
    nodes = nodes.persist()
    dist = nodes.select(
        "host",
        "is_seed",
        F.when(F.col("is_seed"), F.lit(0)).cast("int").alias("dist"),
    )
    # NOTE deliberately NOT wrapped in iteration_shuffle: max_hops is
    # small and the loop stays LAZY, so the whole relaxation executes as
    # one job tree whose exchanges Catalyst/AQE reuse — measured 0.6 s at
    # sf0.1 against 2.2 s for an eager state-bounded variant (the extra
    # driver actions cost more than the round partitioning saved, at both
    # 8 and 32 cores). The state-sized bound pays off only for loops that
    # must checkpoint eagerly (hits/CC/doubling — lineage doubles there).
    for _ in range(max_hops):
        relax = (
            edges.join(
                dist.where(F.col("dist").isNotNull()).select(
                    F.col("host").alias("src_host"), "dist"
                ),
                "src_host",
            )
            .select(F.col("dst_host").alias("host"), (F.col("dist") + 1).alias("cand"))
            .groupBy("host")
            .agg(F.min("cand").alias("cand"))
        )
        dist = dist.join(relax, "host", "left").select(
            "host",
            "is_seed",
            F.least(F.col("dist"), F.col("cand")).cast("int").alias("dist"),
        )
    return dist


def hyperball_harmonic(
    edges_df: DataFrame, *, m: int = 64, rounds: int = 4
) -> DataFrame:
    """HyperBall harmonic centrality (Boldi & Vigna 2013, "In-Core
    Computation of Geometric Centralities with HyperBall") over distinct
    (src_host, dst_host) edges -> (host, harmonic_milli, ball_est).

    Each node carries an HLL counter of its IN-ball B(v,t) = {u :
    dist(u -> v) <= t}; one round ships every edge's src counter to its
    dst and merges register-wise (the lossless HLL max —
    sketches.hll_union), so B(v,t) = {v} ∪ ⋃_{w->v} B(w,t-1). Harmonic
    centrality is the telescoped sum H(v) = Σ_t (|B(v,t)|-|B(v,t-1)|)/t
    over the integer-exact raw estimates (milli-scaled integral div;
    register growth makes the estimator monotone, so every delta >= 0).

    This is THE published way to get centralities at web scale: state is
    m registers per node (not a frontier set), every round is ONE
    edge⋈registers join + ONE (host,register) max-aggregation — both
    hash-partitioned equi-ops — and the estimate never needs the exact
    ball. Fixed ``rounds`` keeps the run DuckDB-replayable; the lineage
    is truncated by localCheckpoint every 2nd round (the LPA pattern).
    """
    from .sketches import (
        _ALPHA_MILLI,
        _R_SCALE,
        _REG_INIT,
        _REG_MULT,
        _poly_hash_m,
        _rho,
    )

    alpha = _ALPHA_MILLI[m]
    edges = (
        edges_df.select("src_host", "dst_host")
        .where(F.col("src_host") != F.col("dst_host"))
        .distinct()
        .persist()
    )
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .persist()
    )
    regs = nodes.select(
        "host",
        (_poly_hash_m(F.col("host"), init=_REG_INIT, mult=_REG_MULT) % m)
        .cast("int")
        .alias("register"),
        _rho(F.col("host")).alias("max_rho"),
    )

    def estimates(r: DataFrame, t: int) -> DataFrame:
        s = (
            F.sum(F.pow(F.lit(2.0), F.lit(_R_SCALE) - F.col("max_rho")).cast("long"))
            + (F.lit(m) - F.count(F.lit(1))) * F.lit(1 << _R_SCALE).cast("long")
        ).alias("s")
        return (
            r.groupBy("host")
            .agg(s)
            .select(
                "host",
                F.lit(t).cast("int").alias("t"),
                F.expr(
                    f"(cast({alpha} as bigint) * {m} * {m}"
                    f" * cast({1 << _R_SCALE} as bigint)) div (1000 * s)"
                ).alias("est"),
            )
        )

    # register state is <= hosts*m small rows; bound the round shuffles by
    # its cardinality (see iteration_shuffle)
    from ..plans.session import iteration_shuffle

    with iteration_shuffle(edges_df.sparkSession, regs.count()) as it:
        edges = it.bind(edges)
        regs = it.bind(regs)
        # built inside the scope so the whole estimate tail (union +
        # window + final groupBy over bounded host rows) stays clone-bound
        ests = [estimates(regs, 0)]
        for t in range(1, rounds + 1):
            shipped = edges.join(regs, edges.src_host == regs.host).select(
                F.col("dst_host").alias("host"), "register", "max_rho"
            )
            regs = (
                regs.unionByName(shipped)
                .groupBy("host", "register")
                .agg(F.max("max_rho").alias("max_rho"))
            )
            if t % 2 == 0:
                regs = regs.localCheckpoint(eager=True)
            ests.append(estimates(regs, t))

    allest = ests[0]
    for e in ests[1:]:
        allest = allest.unionByName(e)
    w = Window.partitionBy("host").orderBy("t")
    harmonic = (
        allest.withColumn("prev", F.lag("est").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            "host",
            F.expr("((est - prev) * 1000) div t").cast("long").alias("term"),
            "t",
            "est",
        )
        .groupBy("host")
        .agg(
            F.sum("term").cast("long").alias("harmonic_milli"),
            F.max_by("est", "t").cast("long").alias("ball_est"),
        )
    )
    return harmonic


def triangle_counts(edges_df: DataFrame) -> DataFrame:
    """Triangle count + local clustering coefficient per host ->
    (host, degree, n_triangles, clustering_milli).

    The node-iterator-with-degree-orientation algorithm (Schank &
    Wagner 2005; the MapReduce variant is Suri & Vassilvitskii 2011's
    web-graph triangle counter): undirected distinct edges are oriented
    from the lower-(degree, host) endpoint to the higher, which turns
    the graph into a DAG where every triangle appears EXACTLY once as
    a -> b, a -> c, b -> c — so counting is two hash equi-joins (wedge
    build + closure probe), never an all-pairs product, and the wedge
    fan-out of a hub is bounded by its ORIENTED out-degree ~ O(sqrt(E))
    instead of its raw degree. That bound is the whole point at crawl
    scale: the mega-host that breaks naive neighborhood intersection
    has almost all its edges oriented INTO it.

    clustering_milli = (1000 * 2 * triangles) div (degree * (degree-1)),
    integral div -> bit-deterministic under any partitioning."""
    und = (
        edges_df.select(
            F.least("src_host", "dst_host").alias("a"),
            F.greatest("src_host", "dst_host").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("host"))
        .unionByName(und.select(F.col("b").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # orient by (degree, host): lo -> hi
    e = (
        und.join(deg.withColumnsRenamed({"host": "a", "degree": "da"}), "a")
        .join(deg.withColumnsRenamed({"host": "b", "degree": "db"}), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("s")
        )
        .select("s.lo", "s.hi")
    ).persist()
    # wedges lo -> (hi1, hi2): closed iff hi1 -> hi2 is itself an oriented
    # edge. Ordered wedge pairs (hi1 != hi2) probe each unordered pair in
    # both orders, and exactly ONE order can exist in the oriented edge
    # set, so every triangle closes exactly once.
    w1 = e.select(F.col("lo").alias("w_lo"), F.col("hi").alias("hi1"))
    w2 = e.select(F.col("lo").alias("w_lo"), F.col("hi").alias("hi2"))
    wedges = w1.join(w2, "w_lo").where(F.col("hi1") != F.col("hi2"))
    tri = wedges.join(
        e, (wedges.hi1 == e.lo) & (wedges.hi2 == e.hi)
    ).select(F.col("w_lo").alias("v1"), F.col("hi1").alias("v2"), F.col("hi2").alias("v3"))
    per_host = (
        tri.select(F.explode(F.array("v1", "v2", "v3")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return deg.join(per_host, "host", "left").select(
        "host",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.expr(
            "case when degree > 1 then (1000 * 2 * coalesce(n_triangles, 0))"
            " div (degree * (degree - 1)) else 0 end"
        )
        .cast("long")
        .alias("clustering_milli"),
    )


def kcore_hosts(edges_df: DataFrame, *, k: int = 2, rounds: int = 4) -> DataFrame:
    """k-core membership by synchronous peeling (Seidman 1983; the
    distributed formulation is Montresor et al. 2013): each round drops
    every node whose degree WITHIN the surviving subgraph is < k, for a
    fixed ``rounds`` — enough when the peeling depth (longest chain of
    cascading removals) is below it, and DuckDB-replayable because the
    round count is data-independent. Returns the survivors with their
    final in-core degree: (host, core_degree).

    Scale shape per round: one semi-join of edges against the surviving
    node set (tiny and monotonically shrinking — AQE broadcasts it) +
    one degree aggregation. State is one bit per node; no frontier
    materialization. The spam-farm use: link rings that inflate
    PageRank sit in dense cores, while legitimate long-tail hosts peel
    out at k=2."""
    und = (
        edges_df.select(
            F.least("src_host", "dst_host").alias("a"),
            F.greatest("src_host", "dst_host").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    alive = (
        und.select(F.col("a").alias("host"))
        .union(und.select(F.col("b").alias("host")))
        .distinct()
    )
    # `alive` feeds TWO joins per round, so an un-truncated lineage
    # doubles every round (2^rounds plan copies — measured 112 s at
    # sf0.1); an EAGER localCheckpoint per round pins the tiny survivor
    # set instead (sub-second jobs). Peeling only ever REMOVES nodes, so an unchanged
    # survivor COUNT means an unchanged set means a fixed point — the
    # remaining rounds are idempotent and are skipped exactly (the
    # fixed-round oracle replays them; they change nothing).
    alive = alive.localCheckpoint(eager=True)
    n_alive = alive.count()
    # survivor state is one row per alive host: bound the peel shuffles by
    # its cardinality (see iteration_shuffle)
    from ..plans.session import iteration_shuffle

    with iteration_shuffle(edges_df.sparkSession, n_alive) as it:
        return _kcore_peel(it.bind(und), it.bind(alive), n_alive, k, rounds)


def _kcore_peel(und, alive, n_alive, k, rounds):
    deg = None
    for _ in range(rounds):
        e = und.join(alive.withColumnRenamed("host", "a"), "a").join(
            alive.withColumnRenamed("host", "b"), "b"
        )
        deg = (
            e.select(F.col("a").alias("host"))
            .unionByName(e.select(F.col("b").alias("host")))
            .groupBy("host")
            .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        )
        alive = (
            deg.where(F.col("core_degree") >= k)
            .select("host")
            .localCheckpoint(eager=True)
        )
        n_now = alive.count()
        if n_now == n_alive:
            break
        n_alive = n_now
    # materialize INSIDE the iteration_shuffle scope: returned lazy, the
    # final deg join/filter would plan after the conf restore at session
    # partitioning (ADVICE r03) — the result is one bounded row per
    # surviving host, so the eager pin costs one sub-second job
    return (
        deg.where(F.col("core_degree") >= k)
        .select("host", "core_degree")
        .localCheckpoint(eager=True)
    )


def random_walks(
    edges_df: DataFrame, *, walk_len: int = 4, walks_per_node: int = 2
) -> DataFrame:
    """DeepWalk-style walk corpus (Perozzi et al. 2014) -> one row per
    walk: (host, walk_no, walk) with ``walk`` the '>'-joined visited
    sequence. The step choice is HASH-derandomized: from node ``cur`` at
    step ``t`` of walk (start, w), the next neighbor is
    ``polyhash(cur#start#w#t) % outdeg(cur)`` over the lexicographically
    indexed adjacency — i.i.d.-looking but a pure function of the graph,
    so walks are byte-identical under any partitioning AND the DuckDB
    oracle replays every step (a seeded RNG would make neither true).
    Dead ends truncate the walk.

    Scale shape: adjacency indexing is ONE row_number window on the edge
    partitioning; each step is two hash equi-joins (degree lookup +
    (node, idx) probe), unrolled ``walk_len - 1`` times — no frontier
    blowup, state is one row per active walk. This is the standard
    pre-embedding stage (DeepWalk/node2vec corpora at graph scale)."""
    edges = (
        edges_df.select("src_host", "dst_host")
        .where(F.col("src_host") != F.col("dst_host"))
        .distinct()
    )
    adj = edges.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("src_host").orderBy("dst_host")) - 1,
    ).persist()
    deg = adj.groupBy("src_host").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    from .sketches import _REG_INIT, _REG_MULT, _poly_hash_m

    wno = F.explode(F.array(*[F.lit(i) for i in range(walks_per_node)])).alias(
        "walk_no"
    )
    state = nodes.select(
        F.col("host"), wno
    ).select(
        "host", "walk_no", F.col("host").alias("cur"), F.col("host").alias("walk")
    )
    for t in range(1, walk_len):
        key = F.concat_ws(
            "#", F.col("cur"), F.col("host"), F.col("walk_no").cast("string"),
            F.lit(str(t)),
        )
        s = state.join(deg, state.cur == deg.src_host, "left").select(
            "host",
            "walk_no",
            "cur",
            "walk",
            F.when(
                F.col("outdeg").isNotNull(),
                _poly_hash_m(key, init=_REG_INIT, mult=_REG_MULT)
                % F.col("outdeg"),
            ).alias("nxt_idx"),
        )
        stepped = s.join(
            adj,
            (s.cur == adj.src_host) & (s.nxt_idx == adj.idx),
            "left",
        ).select(
            "host",
            "walk_no",
            F.col("dst_host").alias("cur"),
            F.when(
                F.col("dst_host").isNotNull(),
                F.concat(F.col("walk"), F.lit(">"), F.col("dst_host")),
            )
            .otherwise(F.col("walk"))
            .alias("walk"),
        )
        state = stepped
    return state.select("host", F.col("walk_no").cast("int").alias("walk_no"), "walk")


def label_propagation(edges_df: DataFrame, n_iters: int = 4) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) made fully deterministic -> (host, community).

    Classic LPA visits nodes in random order and breaks ties randomly;
    here every node updates SIMULTANEOUSLY each round to the label most
    frequent among its undirected neighbors, ties -> lexicographically
    smallest label, initial label = the node's own name. Determinism is
    total (no RNG, no visit order, integer counts), so the DuckDB oracle
    replays every round bit-for-bit and any partitioning gives identical
    communities. Fixed iteration count (diameter-scale rounds flood a
    community's min label through its dense core; sparse bridges lose
    the vote) — the same bounded-rounds policy as pagerank/trustrank.

    Scale shape per round: ONE join of the edge table against the
    bounded (node, label) table + ONE (host, label) groupBy + ONE
    row_number window partitioned by host — all hash-exchanged on host;
    state is |nodes| rows. Static sides persist once. Used for mirror
    families / link-farm rings, the graph-structure complement to the
    reciprocity and trustrank spam features."""
    e = edges_df.select("src_host", "dst_host").distinct()
    und = (
        e.union(e.select(F.col("dst_host"), F.col("src_host")))
        .toDF("src_host", "dst_host")
        .where(F.col("src_host") != F.col("dst_host"))
        .distinct()
        .persist()
    )
    nodes = und.select(F.col("src_host").alias("host")).distinct().persist()
    labels = nodes.select("host", F.col("host").alias("label"))
    w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("label"))
    # label state is one row per host: bound the round shuffles by its
    # cardinality (see iteration_shuffle) — the every-2nd-round eager
    # checkpoints inside the scope carry the bounded partitioning
    from ..plans.session import iteration_shuffle

    with iteration_shuffle(edges_df.sparkSession, nodes.count()) as it:
        labels = _lpa_rounds(it.bind(und), it.bind(labels), w, n_iters)
    return labels


def _lpa_rounds(und, labels, w, n_iters):
    for i in range(n_iters):
        votes = (
            und.join(labels.withColumnRenamed("host", "nb"), und.dst_host == F.col("nb"))
            .select(F.col("src_host").alias("host"), "label")
            .groupBy("host", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("host", "label")
        )
        # truncate lineage every SECOND round (the hits_hosts-measured
        # optimum): the label table is one tiny row per host, and letting
        # 12 rounds of join+agg+window chain into one job pays far more
        # in stage scheduling than the eager checkpoint jobs cost
        if i % 2 == 1 and i + 1 < n_iters:
            labels = labels.localCheckpoint(eager=True)
    # final result pinned INSIDE the iteration_shuffle scope (ADVICE r03):
    # the un-checkpointed tail rounds would otherwise execute after the
    # conf restore at session partitioning; state is one row per host
    return labels.select(
        "host", F.col("label").alias("community")
    ).localCheckpoint(eager=True)

"""Link-graph operators (anchor extraction, host graph, integer PageRank)
and BM25 search: kernel semantics, hand-computed goldens, plan shape, and
parallelism-invariance of the fixed-point arithmetic."""

import pytest
from pyspark.sql import functions as F

from ocr_spark.kernels.textproc import finditer_closed
from ocr_spark.operators.link_graph import (
    _LAST_ANCHOR_CLOSE_RE,
    _page_links,
    extract_page_links,
    host_graph,
    pagerank_hosts,
)
from ocr_spark.operators.search import bm25_topk
from tests.conftest import run_stage


# ---------------------------------------------------------------------------
# anchor extraction kernel
# ---------------------------------------------------------------------------

def test_anchor_extraction_forms():
    html = (
        "<!DOCTYPE html><html><body>"
        '<a href="https://x.example/a">double</a>'
        "<a href='https://x.example/b'>single</a>"
        "<a href=https://x.example/c>bare</a>"
        '<a class="z" href="/rel">rel <b>bold</b> text</a>'
        '<a href="#frag">frag</a>'
        '<a href="javascript:void(0)">js</a>'
        '<a href="mailto:a@b.c">mail</a>'
        "</body></html>"
    )
    links = _page_links("https://site.example/p/1", html)
    assert [(d, a) for d, a, _ in links] == [
        ("https://x.example/a", "double"),
        ("https://x.example/b", "single"),
        ("https://x.example/c", "bare"),
        ("https://site.example/rel", "rel bold text"),
    ]
    # pos preserves document order over ALL anchors scanned
    assert [p for _, _, p in links] == [0, 1, 2, 3]


def _links(url, blob):
    """(dst_url, anchor, pos) rows of extract_page_links for one page."""
    return [
        (r["dst_url"], r["anchor"], r["pos"])
        for r in run_stage(extract_page_links, [(url, blob)])
    ]


def test_anchor_extraction_skips_non_html():
    assert _links("https://s.example/x", b"%PDF-1.7 junk") == []
    assert _links("https://s.example/x", b"\x89PNG\r\n\x1a\n") == []
    assert _links("https://s.example/x", b"plain words only here") == []


def test_anchor_extraction_charset_flavors():
    # utf-16-le with BOM: decode-then-scan must still see the anchors
    html = '<!DOCTYPE html><html><body><a href="https://y.example/q">t</a></body></html>'
    blob = b"\xff\xfe" + html.encode("utf-16-le")
    assert _links("https://s.example/x", blob) == [("https://y.example/q", "t", 0)]
    # a BOM wins over a <meta charset> naming another codec (UTF-16 and
    # UTF-8 BOMs alike)
    html = (
        '<!DOCTYPE html><html><head><meta charset="windows-1252"></head>'
        '<body><a href="/q">Crème brûlée</a></body></html>'
    )
    for blob in (
        b"\xff\xfe" + html.encode("utf-16-le"),
        b"\xef\xbb\xbf" + html.encode("utf-8"),
    ):
        assert _links("https://s.example/x", blob) == [
            ("https://s.example/q", "Crème brûlée", 0)
        ]


def test_unclosed_anchors_time_is_linear():
    """An <a href> with no </a> after it must not scan to the end of the
    page: 4x the anchors (half closed, then half unclosed) may cost at most
    6x the CPU (the scan measured ~18x)."""
    import time

    def cpu_s(n):
        text = "<html><body>" + '<a href="/x">t</a>' * n + '<a href="/y">t' * n
        best = float("inf")
        for _ in range(5):
            t0 = time.process_time()
            links = _page_links("https://s.example/", text)
            best = min(best, time.process_time() - t0)
        assert len(links) == n
        return best

    n = 2000
    small, large = cpu_s(n), cpu_s(4 * n)
    assert large / small < 6, f"{n}: {small:.4f} s, {4 * n}: {large:.4f} s"


def test_anchor_scan_matches_unbounded_regex():
    """Stopping the scan at the last </a> finds the same matches as the
    unbounded scan on random tag soups."""
    import random

    from ocr_spark.operators.link_graph import _ANCHOR_RE

    tokens = ['<a href="/x">', "<A HREF=/y>", "<a name=z>", "</a>", "</A>",
              "<a ", "href=", ">", "<b>", "t", " ", "\n"]
    rng = random.Random(7)
    for _ in range(2000):
        text = "".join(rng.choice(tokens) for _ in range(rng.randint(0, 30)))
        want = [m.group(0) for m in _ANCHOR_RE.finditer(text)]
        got = [m.group(0) for m in finditer_closed(_ANCHOR_RE, _LAST_ANCHOR_CLOSE_RE, text)]
        assert got == want, text


# ---------------------------------------------------------------------------
# host graph
# ---------------------------------------------------------------------------

def _links_df(spark):
    return spark.createDataFrame(
        [
            ("https://a.example/p/1", "https://b.example/x"),
            ("https://a.example/p/1", "https://b.example/y"),
            ("https://a.example/p/2", "https://a.example/nav/0"),  # intra-host
            ("https://b.example/p/3", "https://c.example/z"),
        ],
        "url string, dst_url string",
    ).withColumn("anchor", F.lit("t")).withColumn("pos", F.lit(0))


def test_host_graph_drops_intra_host(spark):
    rows = {
        (r.src_host, r.dst_host): r.n_links
        for r in host_graph(_links_df(spark)).collect()
    }
    assert rows == {
        ("a.example", "b.example"): 2,
        ("b.example", "c.example"): 1,
    }


# ---------------------------------------------------------------------------
# fixed-point integer PageRank
# ---------------------------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_host string, dst_host string")


def test_pagerank_hand_golden(spark):
    """A->B, A->C, B->C, hand-computed 2-iteration fixed-point recurrence
    (see operators/link_graph.pagerank_hosts docstring)."""
    e = _edges(spark, [("A", "B"), ("A", "C"), ("B", "C")])
    got = {r.host: r.rank for r in pagerank_hosts(e, n_iters=2).collect()}
    assert got == {"A": 150_000, "B": 213_750, "C": 702_500}


def test_pagerank_partition_invariance(spark):
    """The north-rule reproducibility bar: integral div + integer sums mean
    ANY partitioning / reduction order gives bit-identical ranks."""
    pairs = [(f"h{i}", f"h{(i * 7 + 3) % 11}") for i in range(11) for _ in (0, 1)]
    a = {r.host: r.rank for r in pagerank_hosts(_edges(spark, pairs)).collect()}
    b = {
        r.host: r.rank
        for r in pagerank_hosts(_edges(spark, pairs).repartition(17)).collect()
    }
    assert a == b


def test_pagerank_dedupes_edges_and_seeds_sources(spark):
    # duplicate edge rows count once; a pure-source node keeps base rank
    e = _edges(spark, [("A", "B"), ("A", "B")])
    got = {r.host: r.rank for r in pagerank_hosts(e, n_iters=1).collect()}
    assert got["A"] == 150_000  # no inlinks -> base
    assert got["B"] == 150_000 + (85 * 1_000_000) // 100


# ---------------------------------------------------------------------------
# TrustRank
# ---------------------------------------------------------------------------

def test_trustrank_hand_golden(spark):
    """Seed S -> A -> B chain, 2 iterations of the integral recurrence
    (operators/link_graph.trustrank_hosts docstring): trust decays with
    distance from the seed, non-seeds get zero teleport mass."""
    from ocr_spark.operators.link_graph import trustrank_hosts

    e = _edges(spark, [("S", "A"), ("A", "B")])
    seed = F.col("host") == "S"
    got = {r.host: r.trust for r in trustrank_hosts(e, seed, n_iters=2).collect()}
    # t1: S=150000, A=(85*1000000)//100=850000, B=0 (A started at 0)
    # t2: S=150000, A=(85*150000)//100=127500, B=(85*850000)//100=722500
    assert got == {"S": 150_000, "A": 127_500, "B": 722_500}


def test_trustrank_spam_host_decays_to_zero(spark):
    """A host unreachable from any seed holds exactly zero trust at every
    iteration — the property that makes TrustRank a spam-demotion signal
    where PageRank gives every page its base rank."""
    from ocr_spark.operators.link_graph import trustrank_hosts

    e = _edges(spark, [("S", "A"), ("spam1", "spam2"), ("spam2", "spam1")])
    seed = F.col("host") == "S"
    got = {r.host: r.trust for r in trustrank_hosts(e, seed, n_iters=4).collect()}
    assert got["spam1"] == 0 and got["spam2"] == 0
    assert got["A"] > 0


def test_seed_distance_hand_golden(spark):
    """Chain S -> A -> B -> C with an off-graph spam cycle: distances are
    exact hop counts, hops beyond max_hops and unreachable hosts are NULL,
    and a second seed reached at a shorter distance wins the min."""
    from ocr_spark.operators.link_graph import seed_distance_hosts

    e = _edges(
        spark,
        [("S", "A"), ("A", "B"), ("B", "C"), ("spam1", "spam2"), ("spam2", "spam1")],
    )
    got = {
        r.host: r.dist
        for r in seed_distance_hosts(e, F.col("host") == "S", max_hops=2).collect()
    }
    assert got == {"S": 0, "A": 1, "B": 2, "C": None, "spam1": None, "spam2": None}
    # two seeds: min over sources; C now reachable within 2 via B
    two = {
        r.host: r.dist
        for r in seed_distance_hosts(
            e, F.col("host").isin("S", "B"), max_hops=2
        ).collect()
    }
    assert two == {"S": 0, "A": 1, "B": 0, "C": 1, "spam1": None, "spam2": None}


def test_trustrank_partition_invariance(spark):
    from ocr_spark.operators.link_graph import trustrank_hosts

    pairs = [(f"h{i}", f"h{(i * 7 + 3) % 11}") for i in range(11) for _ in (0, 1)]
    seed = F.col("host").isin("h0", "h5")
    a = {r.host: r.trust for r in trustrank_hosts(_edges(spark, pairs), seed).collect()}
    b = {
        r.host: r.trust
        for r in trustrank_hosts(_edges(spark, pairs).repartition(17), seed).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

def _docs(spark):
    return spark.createDataFrame(
        [
            (0, "spark spark spark filler filler filler filler filler"),
            (1, "spark rare"),
            (2, "rare filler"),
            (3, "nothing relevant here at all whatsoever in truth"),
        ],
        "doc_id long, text string",
    )


def test_bm25_ranking_semantics(spark):
    # 'rare' (df=2) outscores 'spark' (df=2) at equal tf only via length
    # norm; doc 1 hits both terms and must rank first
    rows = bm25_topk(_docs(spark), ["spark", "rare"], k=4).collect()
    assert rows[0].doc_id == 1
    assert {r.doc_id for r in rows} == {0, 1, 2}  # doc 3 matches nothing
    assert all(r.score_scaled > 0 for r in rows)


def test_bm25_deterministic_across_partitioning(spark):
    d = _docs(spark)
    a = [(r.doc_id, r.score_scaled) for r in bm25_topk(d, ["spark", "rare"]).collect()]
    b = [
        (r.doc_id, r.score_scaled)
        for r in bm25_topk(d.repartition(7), ["spark", "rare"]).collect()
    ]
    assert a == b


# ---------------------------------------------------------------------------
# plan shape (the scale guarantees)
# ---------------------------------------------------------------------------

def test_extract_links_plan_single_python_stage(spark):
    pages = spark.createDataFrame(
        [("u", None, b"<p>a b</p>", "t", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    plan = (
        extract_page_links(pages)._jdf.queryExecution().executedPlan().toString()
    )
    # same shape as the flagship extractor: one python runner, no shuffles
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_bm25_plan_broadcasts_stats_and_filters_before_exchange(spark):
    plan = (
        bm25_topk(_docs(spark), ["spark", "rare"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan  # dfreq + corpus stats broadcast back
    # the query-term IN filter must sit below the first hash exchange so
    # only query-term postings shuffle
    first_ex = plan.find("Exchange hashpartitioning")
    assert first_ex != -1 and "spark" in plan[first_ex:]


def test_anchor_summary_topk_and_host_counts(spark):
    """Top-k anchors per target by (n_refs desc, anchor asc); n_hosts
    counts DISTINCT referring hosts; blank anchors are dropped."""
    from ocr_spark.operators.link_graph import anchor_summary

    rows = []
    # 3 pages on a.example + 1 on b.example all call T "Home"; one page
    # calls it "Start" twice (2 refs, 1 host); one blank-anchor ref
    for i in range(3):
        rows.append((f"https://a.example/p{i}", "https://t.example/x", "Home", 0))
    rows.append(("https://b.example/q", "https://t.example/x", "Home", 0))
    rows.append(("https://a.example/p0", "https://t.example/x", "Start", 1))
    rows.append(("https://a.example/p0", "https://t.example/x", "Start", 2))
    rows.append(("https://a.example/p1", "https://t.example/x", "  ", 3))
    rows.append(("https://a.example/p1", "https://t.example/x", "Alpha", 4))
    rows.append(("https://a.example/p1", "https://t.example/x", "Beta", 5))
    df = spark.createDataFrame(
        rows, "url string, dst_url string, anchor string, pos int"
    )
    out = {
        r.anchor: (r.n_refs, r.n_hosts, r.rk)
        for r in anchor_summary(df, k=3).collect()
    }
    # k=3 keeps Home(4), Start(2), then Alpha beats Beta on the tie
    assert out == {"Home": (4, 2, 1), "Start": (2, 1, 2), "Alpha": (1, 1, 3)}


# ---------------------------------------------------------------------------
# HITS hubs/authorities (integer L-inf fixed point)
# ---------------------------------------------------------------------------

def test_hits_hand_golden(spark):
    """A->B, A->C, B->C, 2 iterations by hand (SCALE=1e6, L-inf integral
    normalization per half-step):

      it1: auth_raw = {B:1e6, C:2e6}        -> auth = {A:0, B:500000, C:1000000}
           hub_raw  = {A:1.5e6, B:1e6}      -> hub  = {A:1000000, B:666666, C:0}
      it2: auth_raw = {B:1e6, C:1666666}    -> auth = {A:0, B:600000, C:1000000}
           hub_raw  = {A:1.6e6, B:1e6}      -> hub  = {A:1000000, B:625000, C:0}
    """
    from ocr_spark.operators.link_graph import hits_hosts

    e = _edges(spark, [("A", "B"), ("A", "C"), ("B", "C")])
    got = {r.host: (r.hub, r.auth) for r in hits_hosts(e, n_iters=2).collect()}
    assert got == {
        "A": (1_000_000, 0),
        "B": (625_000, 600_000),
        "C": (0, 1_000_000),
    }


def test_hits_partition_invariance(spark):
    """Integer sums + integral div: bit-identical under any partitioning."""
    from ocr_spark.operators.link_graph import hits_hosts

    pairs = [(f"h{i}", f"h{(i * 7 + 3) % 11}") for i in range(11) for _ in (0, 1)]
    a = {r.host: (r.hub, r.auth) for r in hits_hosts(_edges(spark, pairs)).collect()}
    b = {
        r.host: (r.hub, r.auth)
        for r in hits_hosts(_edges(spark, pairs).repartition(17)).collect()
    }
    assert a == b


def test_hits_dedupes_edges_and_ignores_self_loops(spark):
    """Duplicate edges count once; a hub pointing only at itself must not
    dominate (self-endorsement is excluded upstream by host_graph, but the
    operator itself also dedupes rows)."""
    from ocr_spark.operators.link_graph import hits_hosts

    e = _edges(spark, [("A", "B"), ("A", "B"), ("C", "B")])
    got = {r.host: (r.hub, r.auth) for r in hits_hosts(e, n_iters=1).collect()}
    # auth_raw = {B: 2e6}; hub_raw = {A: 1e6, C: 1e6}
    assert got == {
        "A": (1_000_000, 0),
        "B": (0, 1_000_000),
        "C": (1_000_000, 0),
    }


# ---------------------------------------------------------------------------
# outlink reciprocity
# ---------------------------------------------------------------------------

def test_host_reciprocity_hand_golden(spark):
    """A<->B reciprocated; A->C one-way; C has no outlinks (absent)."""
    from ocr_spark.operators.link_graph import host_reciprocity

    e = _edges(spark, [("A", "B"), ("B", "A"), ("A", "C"), ("A", "C")])
    got = {
        r.host: (r.n_out, r.n_recip, r.recip_milli)
        for r in host_reciprocity(e).collect()
    }
    assert got == {"A": (2, 1, 500), "B": (1, 1, 1000)}

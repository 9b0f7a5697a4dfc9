"""html_tables: cell-grid extraction from raw page bytes — kernel edge
cases (pure python) + the Spark operator's plan shape."""

from ocr_spark.operators.html_tables import _html_tables, extract_html_tables
from tests.conftest import run_stage


def _cells(blob):
    """(table_idx, row_idx, col_idx, cell) rows of extract_html_tables for
    one page's bytes."""
    return [
        (r["table_idx"], r["row_idx"], r["col_idx"], r["cell"])
        for r in run_stage(extract_html_tables, [("u", blob)])
    ]


def test_cells_grid_and_tag_stripping():
    html = (
        "<html><body><table>"
        "<tr><td>key</td><th> val </th></tr>"
        "<tr><td><b>row0</b> x</td><td>7</td></tr>"
        "</table></body></html>"
    )
    cells = _html_tables("https://h.example/", html)
    assert cells == [
        (0, 0, 0, "key"),
        (0, 0, 1, "val"),
        (0, 1, 0, "row0 x"),
        (0, 1, 1, "7"),
    ]


def test_multiple_tables_indexed_in_order():
    html = (
        "<html><body>"
        "<table><tr><td>a</td></tr></table>"
        "<p>between</p>"
        "<TABLE><TR><TD>b</TD></TR></TABLE>"
        "</body></html>"
    )
    cells = _html_tables("u", html)
    assert [(c[0], c[3]) for c in cells] == [(0, "a"), (1, "b")]


def test_non_html_and_malformed_yield_nothing():
    assert _cells(b"") == []
    assert _cells(b"plain text, no tags at all") == []
    assert _cells(b"%PDF-1.4 binary junk \x00\x01") == []
    # unclosed table: non-greedy span never completes -> no rows, no crash
    assert _html_tables("u", "<html><table><tr><td>x</td></tr>") == []


def test_charset_variants_decode_before_scan():
    inner = "<html><head><meta charset=windows-1252></head><body><table><tr><td>café</td></tr></table></body></html>"
    cells = _cells(inner.encode("cp1252"))
    assert cells == [(0, 0, 0, "café")]
    # a BOM wins over the page's <meta charset>
    utf16 = b"\xff\xfe" + inner.encode("utf-16-le")
    assert _cells(utf16) == [(0, 0, 0, "café")]
    assert _cells(b"\xef\xbb\xbf" + inner.encode("utf-8")) == [(0, 0, 0, "café")]


def test_unclosed_tables_time_is_linear():
    """A <table>, <tr> or <td> with no closer after it must not scan to the
    end of the page: 4x the repeats (half closed, then half unclosed) may
    cost at most 6x the CPU (the scan measured ~16x)."""
    import time

    def cpu_s(n):
        closed = "<table><tr><td>x</td><td>y</td><td>z</td></tr></table>"
        text = "<html><body>" + closed * n + "<table><tr><td>x" * n
        best = float("inf")
        for _ in range(5):
            t0 = time.process_time()
            cells = _html_tables("u", text)
            best = min(best, time.process_time() - t0)
        assert len(cells) == 3 * n
        return best

    n = 2000
    small, large = cpu_s(n), cpu_s(4 * n)
    assert large / small < 6, f"{n}: {small:.4f} s, {4 * n}: {large:.4f} s"


def test_cell_scan_matches_unbounded_regexes():
    """Stopping each table/row/cell scan at its last closer gives the same
    cells as the unbounded scans on random tag soups."""
    import random

    from ocr_spark.operators.html_tables import _TABLE_RE, _TAG_RE, _TD_RE, _TR_RE, _WS_RE

    def unbounded(text):
        return [
            (ti, ri, ci, _WS_RE.sub(" ", _TAG_RE.sub(" ", c.group(1))).strip())
            for ti, t in enumerate(_TABLE_RE.finditer(text))
            for ri, r in enumerate(_TR_RE.finditer(t.group(1)))
            for ci, c in enumerate(_TD_RE.finditer(r.group(1)))
        ]

    tokens = ["<table>", "</table>", "</TABLE >", "<tr>", "</tr>", "<td>",
              "</td>", "<th class=a>", "</th>", "x", " ", "<b>"]
    rng = random.Random(11)
    for _ in range(2000):
        text = "".join(rng.choice(tokens) for _ in range(rng.randint(0, 40)))
        assert _html_tables("u", text) == unbounded(text), text


def test_operator_single_python_stage(spark):
    from ocr_spark.operators.html_tables import extract_html_tables

    df = spark.createDataFrame(
        [("https://h.example/1", b"<html><table><tr><td>z</td></tr></table></html>")],
        "url string, html binary",
    )
    out = extract_html_tables(df)
    assert [tuple(r) for r in out.collect()] == [("https://h.example/1", 0, 0, 0, "z")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow map: scan parallelism end to end

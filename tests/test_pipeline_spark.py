"""End-to-end Spark tests: pages synthesis -> extraction -> golden equality,
resume semantics, determinism across parallelism levels.

Acceptance invariant (BASELINE.json): byte-identical extracted text per url,
exact resume from lineage, identical results at different parallelism.
"""

import pytest

from ocr_spark.operators.extract import extract_pages
from ocr_spark.plans.pipeline import extract_plan, run_extract_job
from ocr_spark.sources.catalog import ManifestTable
from ocr_spark.sources.pages import pages_df
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def golden(spark):
    return pages_df(spark, SF_SMOKE, with_expected=True).cache()


def test_pages_schema(spark, golden):
    pages = pages_df(spark, SF_SMOKE)
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert types["html"] == "binary" and types["warc_ts"] == "timestamp"
    assert pages.count() == 500


def test_extraction_byte_identical(spark, golden):
    out = extract_pages(golden.drop("expected_text"))
    joined = out.join(golden.select("url", "expected_text"), "url")
    n = joined.count()
    n_ok = joined.where("text = expected_text").count()
    assert n == 500
    assert n_ok == n, f"only {n_ok}/{n} byte-identical"


def test_extraction_deterministic_across_parallelism(spark, golden):
    pages = golden.drop("expected_text")
    a = extract_plan(pages, salt_partitions=4)
    b = extract_plan(pages, salt_partitions=13)
    from pyspark.sql import functions as F

    def digest(df):
        return (
            df.select(F.sha2(F.concat_ws("|", "url", "text"), 256).alias("h"))
            .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")))
            .collect()[0][0]
        )

    assert digest(a) == digest(b)


def test_resume_exactly_once(spark, golden, tmp_path):
    out_root = str(tmp_path / "warehouse")
    pages = pages_df(spark, SF_SMOKE)

    # first run over a half of the input (simulated partial failure)
    first_half = pages.where("url like '%/p/1%'")
    commit1, m1 = run_extract_job(spark, first_half, out_root, salt_partitions=4)
    n_first = m1["docs"]
    assert n_first > 0

    # second run over the FULL input: only the remainder is processed
    commit2, m2 = run_extract_job(spark, pages, out_root, salt_partitions=4)
    assert commit2 == commit1 + 1
    assert m2["docs"] == 500 - n_first

    final = ManifestTable(f"{out_root}/extracted").read(spark)
    assert final.count() == 500
    assert final.select("url").distinct().count() == 500  # no double work

    # all byte-identical vs golden
    j = final.join(golden.select("url", "expected_text"), "url")
    assert j.where("text = expected_text").count() == 500

    lineage = ManifestTable(f"{out_root}/lineage").read(spark)
    assert lineage.count() == 500
    cols = set(lineage.columns)
    assert {"url", "partition_id", "commit_id", "n_spans", "out_sha256"} <= cols

    # each commit's metrics row is one file holding the returned counters
    for commit_id, m in ((commit1, m1), (commit2, m2)):
        commit_dir = tmp_path / "warehouse" / "metrics" / "data" / f"commit={commit_id}"
        assert len(list(commit_dir.glob("*.parquet"))) == 1
        rows = spark.read.parquet(str(commit_dir)).collect()
        assert len(rows) == 1
        assert m["gated"] == 0
        assert rows[0].asDict() == {"commit_id": commit_id, **m}


@pytest.mark.parametrize("quality_gate", [False, True])
def test_lineage_partition_id_matches_output(spark, tmp_path, quality_gate):
    """partition_id is stamped once, at extraction: each url's lineage row
    holds the id its output row was written with, with or without the
    gates' joins in between; gated urls get an extraction id too."""
    from pyspark.sql import functions as F

    # the synthetic corpus fails the Gopher rules; prose pages pass them
    prose = "<html><body><p>%s</p></body></html>" % (
        "the reader and the writer walk to the market with a basket of fresh "
        "bread while the city wakes " * 6
    )
    extra = spark.createDataFrame(
        [(f"https://prose.example/{i}", None, prose.encode(), "t", "en") for i in range(40)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    pages = pages_df(spark, SF_SMOKE).unionByName(extra)
    out_root = str(tmp_path / "wh")
    _, m = run_extract_job(
        spark, pages, out_root, salt_partitions=4, quality_gate=quality_gate
    )
    assert m["docs"] >= 40 and m["docs"] + m["gated"] == 540
    assert (m["gated"] > 0) == quality_gate
    out = ManifestTable(f"{out_root}/extracted").read(spark)
    lin = ManifestTable(f"{out_root}/lineage").read(spark)
    j = out.select("url", F.col("partition_id").alias("out_pid")).join(lin, "url")
    assert j.count() == m["docs"]
    assert j.where("out_pid <=> partition_id").count() == m["docs"]
    assert lin.count() == 540
    assert lin.where("partition_id BETWEEN 0 AND 3").count() == 540


def test_extract_plan_runs_no_spark_job(spark):
    """Building the plan is lazy: no counting pass runs before the write."""
    from pyspark.sql import functions as F

    urls = [(f"https://mega.example.com/p/{i}",) for i in range(90)]
    urls += [(f"https://host{i}.example.com/x",) for i in range(10)]
    pages = spark.createDataFrame(urls, "url string").select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(b"<p>w</p>").alias("html"),
        F.lit("w").alias("text"),
        F.lit("en").alias("lang"),
    )
    lineage = spark.createDataFrame(urls[::4], "url string")
    sc = spark.sparkContext
    group = "extract-plan-build"
    sc.setJobGroup(group, "extract_plan build")
    try:
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        extract_plan(pages, lineage=lineage, salt_partitions=4, salt_mode="selective")
        after = len(sc.statusTracker().getJobIdsForGroup(group))
        spark.range(1).collect()  # the tracker does see this group's jobs
        control = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after == before
    assert control > after



def test_resumed_commit_runs_five_spark_jobs(spark, golden, tmp_path):
    """One resumed commit, with the caller's page scan inside it: the page
    schema read, three jobs for the extraction write (the lineage
    broadcast, the url-hash spread and the write) and the lineage write.
    The lineage read and read-back use the manifest's stored schemas, the
    anti-join takes the lineage urls as they are and the metrics row is
    written on the driver, so none of those runs a job."""
    path = str(tmp_path / "pages")
    golden.drop("expected_text").write.parquet(path)
    out_root = str(tmp_path / "wh")
    run_extract_job(
        spark, spark.read.parquet(path).where("url like '%/p/1%'"), out_root,
        salt_partitions=4,
    )
    sc = spark.sparkContext
    group = "resumed-commit"
    sc.setJobGroup(group, "one resumed run_extract_job commit")
    try:
        _, m = run_extract_job(
            spark, spark.read.parquet(path), out_root, salt_partitions=4
        )
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < m["docs"] < 500
    assert jobs <= 5

def test_plan_has_no_shuffle_without_salting(spark, golden, tmp_path):
    # production shape: pages come from storage (a scan, not the synthesis
    # python stage) -> the extraction plan must be exchange-free
    path = str(tmp_path / "pages")
    golden.drop("expected_text").write.parquet(path)
    pages = spark.read.parquet(path)
    plan = extract_plan(pages, salt_partitions=None)
    explained = plan._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in explained


def test_spans_structure(spark, golden):
    out = extract_pages(golden.drop("expected_text"))
    row = out.where("n_spans > 0").first()
    assert row.n_spans == len(row.spans)
    span = row.spans[0]
    assert span.seq == 0 and span.text
    assert 0.0 <= span.x0 <= span.x1


def test_crash_between_output_and_lineage_commits(spark, golden, tmp_path):
    """A run that dies AFTER committing output but BEFORE committing lineage
    must be rolled back on the next run — its urls re-extract exactly once,
    never duplicating in the output table."""
    out_root = str(tmp_path / "warehouse")
    pages = pages_df(spark, SF_SMOKE)

    first_half = pages.where("url like '%/p/1%'")
    commit1, m1 = run_extract_job(spark, first_half, out_root, salt_partitions=4)

    # simulate the crashed second run: output commit lands, lineage doesn't
    out_tbl = ManifestTable(f"{out_root}/extracted")
    orphan_id = out_tbl.next_commit_id()
    out_tbl.append(extract_pages(pages.where("url like '%/p/2%'")), orphan_id)
    n_commits_before = len(out_tbl.snapshots)

    # recovery run over the full input
    commit3, m3 = run_extract_job(spark, pages, out_root, salt_partitions=4)

    final = ManifestTable(f"{out_root}/extracted").read(spark)
    assert final.count() == 500
    assert final.select("url").distinct().count() == 500  # no duplicates
    j = final.join(golden.select("url", "expected_text"), "url")
    assert j.where("text = expected_text").count() == 500
    # the orphan was rolled back, its id reused by the recovery commit
    ids = sorted(s["commit_id"] for s in ManifestTable(f"{out_root}/extracted").snapshots)
    assert len(ids) == n_commits_before and commit3 == orphan_id


def test_salting_balances_mega_host(spark):
    """north_rule skew mitigation: one host owning 90% of urls must still
    spread ~evenly across partitions (salted url-hash repartition)."""
    from pyspark.sql import functions as F

    hot = [(f"https://mega.example.com/p/{i}",) for i in range(900)]
    cold = [(f"https://host{i}.example.com/x",) for i in range(100)]
    urls = spark.createDataFrame(hot + cold, "url string")
    pages = urls.select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(b"<p>w</p>").alias("html"),
        F.lit("w").alias("text"),
        F.lit("en").alias("lang"),
    )
    salted = extract_plan(pages, salt_partitions=8)
    sizes = (
        salted.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == 8
    assert max(counts) < 2 * (1000 / 8), counts


def test_beam_decode_matches_greedy_on_flagship(spark, golden):
    """The reference's flagship callsite uses beam_search (num_beams=10);
    on the synthesized (peaked) logits beam top-1 must equal greedy, so the
    whole extraction stays byte-identical under either decoder."""
    from pyspark.sql import functions as F

    pages = golden.drop("expected_text").where("url like '%/p/1_0'")

    def digest(df):
        return (
            df.select(F.sha2(F.concat_ws("|", "url", "text"), 256).alias("h"))
            .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")))
            .collect()[0][0]
        )

    assert digest(extract_pages(pages)) == digest(
        extract_pages(pages, decode_method="beam")
    )


def test_extraction_never_fails_on_corrupt_pages(spark):
    """At 10^12-doc scale malformed pages are routine: corrupt payload JSON,
    binary junk, empty and NULL html must all degrade to empty extractions,
    never a task failure."""
    rows = [
        ("u1", None, b"%OCRPAYLOAD%{garbage", "t", "en"),
        ("u2", None, b"\x00\xff\xfe binary junk <", "t", "en"),
        ("u3", None, b"", "t", "en"),
        ("u4", None, None, "t", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = extract_pages(pages).collect()
    assert len(out) == 4
    assert all(isinstance(r.text, str) for r in out)
    assert {r.url for r in out} == {"u1", "u2", "u3", "u4"}


def test_manifest_reappend_same_commit_no_duplicates(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "tbl"))
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    tbl.append(df, 0)
    tbl.append(df, 0)  # retry of the same commit id
    assert len(tbl.snapshots) == 1
    assert tbl.read(spark).count() == 5


def test_grouped_map_keeps_null_keys(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators.boxes_ops import grouped_map_in_pandas

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), (None, 3.0), (None, 4.0), ("b", 5.0)],
        "k string, v double",
    )

    def fn(g):
        import pandas as pd

        return pd.DataFrame({"k": [g["k"].iloc[0]], "total": [float(g["v"].sum())]})

    out = grouped_map_in_pandas(df, "k", fn, "k string, total double")
    got = {r.k: r.total for r in out.collect()}
    assert got == {"a": 3.0, None: 7.0, "b": 5.0}


def test_uppercase_corpus_stays_byte_identical(spark):
    """The recognition channel lowercases (CRNN vocab); the by-construction
    golden applies the same transform, so a non-lowercase corpus still
    verifies byte-identical on the payload path."""
    from ocr_spark.sources.pages import synth_page

    page = synth_page(20, "The QUICK Brown: Fox & friends " * 8, "en")  # payload doc
    assert page["html"].startswith(b"%OCRPAYLOAD%")
    pages = spark.createDataFrame(
        [(page["url"], None, page["html"], "t", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = extract_pages(pages).collect()[0]
    assert out.text == page["expected_text"]
    assert "The" not in out.text and "the" in out.text


def test_markdown_page_routed_and_byte_identical(spark):
    from ocr_spark.sources.pages import is_md_doc, synth_page

    page = synth_page(10, "alpha beta gamma delta " * 30, "en")
    assert is_md_doc(10) and page["html"].startswith(b"# Readme")
    pages = spark.createDataFrame(
        [(page["url"], None, page["html"], "t", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = extract_pages(pages).collect()[0]
    assert out.text == page["expected_text"]
    assert out.title == "Readme 10"
    kinds = {s.kind for s in out.spans}
    assert {"text", "list", "code"} <= kinds
    sections = {s.section for s in out.spans}
    assert any("Readme 10 > Part 0" == s for s in sections)


def test_cjk_and_prose_pages_not_lost(spark):
    """Non-ASCII text pages and prose containing '<' must extract their
    content, not route to the binary-junk empty branch."""
    cjk = ("这是测试段落。" * 20).encode("utf-8")
    prose = b"# Notes\n\nif x < a then stop the loop\n"
    pages = spark.createDataFrame(
        [("u1", None, cjk, "t", "zh"), ("u2", None, prose, "t", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = {r.url: r for r in extract_pages(pages).collect()}
    assert "测试" in out["u1"].text
    assert "x < a" in out["u2"].text and out["u2"].title == "Notes"


def test_flagship_digest_pinned(spark):
    """VERDICT r01 item 10: the flagship extraction digest over sf0.001 is a
    COMMITTED fixture (tests/fixtures/flagship_digest.json) — byte-identity
    survives refactors without the driver needing the golden corpus.
    Regenerate ONLY on an intentional semantics/corpus change (rerun the
    snippet in the fixture's git history)."""
    import json
    import os

    from pyspark.sql import functions as F

    fix = json.load(
        open(os.path.join(os.path.dirname(__file__), "fixtures", "flagship_digest.json"))
    )
    out = extract_pages(pages_df(spark, fix["sf_dir"]))
    digest = (
        out.select(F.sha2(F.concat_ws("|", "url", "text"), 256).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")).alias("d"))
        .collect()[0]["d"]
    )
    assert str(digest) == fix["digest"]
    assert out.count() == fix["n_docs"]


def test_adversarial_corpus_completes(spark):
    """Crawl-reality fuzz: 2000 pages of random bytes, truncated real
    formats, mislabeled magics, and pathological sizes must ALL extract
    (possibly empty) without a single task failure."""
    import numpy as np
    import pandas as pd

    from ocr_spark.sources.pages import synth_page
    from ocr_spark.sources.pdf_synth import build_pdf

    rng = np.random.RandomState(99)
    text = "alpha beta gamma delta epsilon zeta " * 10
    real_pdf = build_pdf(5, text)[0]
    real_html = synth_page(1, text, "en")["html"]
    blobs = []
    for i in range(2000):
        k = i % 8
        if k == 0:
            blobs.append(bytes(rng.randint(0, 256, size=rng.randint(1, 4096), dtype=np.uint8)))
        elif k == 1:
            blobs.append(real_pdf[: rng.randint(1, len(real_pdf))])      # torn PDF
        elif k == 2:
            blobs.append(real_html[: rng.randint(1, len(real_html))])    # torn HTML
        elif k == 3:
            blobs.append(b"%PDF-" + bytes(rng.randint(0, 256, 512, dtype=np.uint8)))
        elif k == 4:
            blobs.append(b"PK\x03\x04word/document.xml" + b"\x00" * 64)  # fake docx
        elif k == 5:
            blobs.append(b"")
        elif k == 6:
            blobs.append(("<p>" + "x" * rng.randint(0, 20000) + "</p>").encode())
        else:
            blobs.append(real_html + bytes(rng.randint(0, 256, 64, dtype=np.uint8)))
    pdf = pd.DataFrame(
        {
            "url": [f"https://fuzz.example/{i}" for i in range(len(blobs))],
            "warc_ts": [None] * len(blobs),
            "html": blobs,
            "text": ["t"] * len(blobs),
            "lang": ["en"] * len(blobs),
        }
    )
    pages = spark.createDataFrame(pdf)
    out = extract_pages(pages)
    assert out.count() == len(blobs)
    assert out.where("text IS NULL").count() == 0


def test_quality_and_dedup_gates(spark, tmp_path):
    """Production gates: failing docs never enter the output table but DO
    enter lineage (no re-extraction on resume); near-dups of already-
    committed docs are gated on the second ingest wave."""
    from pyspark.sql import functions as F

    out_root = str(tmp_path / "gated")
    pages = pages_df(spark, SF_SMOKE).where("url like '%/p/1%'")
    n_pages = pages.count()

    c1, m1 = run_extract_job(spark, pages, out_root, quality_gate=True)
    # synthetic docs are short: the Gopher min-word rule gates most of them
    assert m1["gated"] > 0
    assert m1["docs"] + m1["gated"] == n_pages
    out_tbl = ManifestTable(f"{out_root}/extracted")
    assert (out_tbl.read(spark).count() if out_tbl.read(spark) is not None else 0) == m1["docs"]
    # EVERY processed url (kept + gated) is in lineage
    lin = ManifestTable(f"{out_root}/lineage").read(spark)
    assert lin.select("url").distinct().count() == n_pages

    # resume over the same input: nothing left to process OR re-gate
    c2, m2 = run_extract_job(spark, pages, out_root, quality_gate=True)
    assert (m2["docs"] or 0) == 0 and m2["gated"] == 0

    # dedup gate: re-ingesting the SAME pages under shifted urls — every
    # doc is an exact dup of a committed one (Jaccard 1.0) IF anything
    # was committed; gate drops them all
    if m1["docs"]:
        dup_wave = pages.withColumn("url", F.concat(F.col("url"), F.lit("-mirror")))
        c3, m3 = run_extract_job(
            spark, dup_wave, out_root, dedup_threshold=0.9
        )
        assert (m3["docs"] or 0) == 0
        assert m3["gated"] == dup_wave.count()
        # gated mirrors are lineage-recorded too
        lin2 = ManifestTable(f"{out_root}/lineage").read(spark)
        assert lin2.select("url").distinct().count() == 2 * n_pages


def test_gated_commit_frees_cache_and_returns_stored_zeros(spark, tmp_path):
    """A gated commit unpersists the extraction it cached for the gates,
    and a commit that keeps no doc (all gated, or all already covered)
    returns the integer zeros its metrics row stores, not NULL sums."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # drop earlier tests' cached frames
    pages = pages_df(spark, SF_SMOKE)
    out_root = str(tmp_path / "wh")

    def stored(commit_id):
        path = f"{out_root}/metrics/data/commit={commit_id}"
        return spark.read.parquet(path).collect()[0].asDict()

    # the synthetic docs are short: the Gopher rules gate all 500
    c1, m1 = run_extract_job(spark, pages, out_root, quality_gate=True)
    assert cache_manager.isEmpty()
    assert m1 == {"docs": 0, "spans": 0, "chars": 0, "gated": 500}
    assert stored(c1) == {"commit_id": c1, **m1}

    # lineage covers every url now: nothing to extract, nothing to gate
    c2, m2 = run_extract_job(spark, pages, out_root, quality_gate=True)
    assert cache_manager.isEmpty()
    assert m2 == {"docs": 0, "spans": 0, "chars": 0, "gated": 0}
    assert stored(c2) == {"commit_id": c2, **m2}
    assert all(type(v) is int for v in (*m1.values(), *m2.values()))

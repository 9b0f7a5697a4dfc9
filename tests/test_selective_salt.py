"""Selective (stats-driven) skew salting: only mega-host rows shuffle;
the cold tail flows scan -> extract with no exchange (plans/pipeline.py
selective_salt). No job path calls selective_salt any more; extract_plan
spreads every pending row with one url-hash repartition."""

from pyspark.sql import functions as F

from ocr_spark.plans.pipeline import extract_plan, selective_salt


def _pages(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(b"<p>w</p>").alias("html"),
        F.lit("w").alias("text"),
        F.lit("en").alias("lang"),
    )


def _mega_corpus(spark, n_hot=900, n_cold=100):
    hot = [f"https://mega.example.com/p/{i}" for i in range(n_hot)]
    cold = [f"https://host{i}.example.com/x" for i in range(n_cold)]
    return _pages(spark, hot + cold)


def test_selective_salt_balances_mega_host(spark):
    salted = selective_salt(_mega_corpus(spark), 8)
    sizes = (
        salted.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = sorted(r["count"] for r in sizes)
    # the 900 mega-host rows spread across all 8 salt partitions
    assert len(counts) >= 8
    assert max(counts) < 2 * (1000 / 8), counts


def test_selective_salt_plan_has_single_exchange(spark):
    """The whole point: one RoundRobin/hash exchange on the HOT branch
    only — a blanket repartition would put the exchange above the union
    (every row moves)."""
    plan = (
        selective_salt(_mega_corpus(spark), 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Union" in plan


def test_no_hot_hosts_means_no_shuffle_at_all(spark):
    """A well-spread corpus (every host under the per-partition slot)
    returns the input unchanged — zero exchanges."""
    urls = [f"https://host{i}.example.com/x" for i in range(64)]
    pages = _pages(spark, urls)
    out = selective_salt(pages, 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_selective_extraction_matches_blanket_salting(spark):
    """Same extracted rows whichever salting strategy runs (row-level
    extraction is partitioning-independent)."""
    from ocr_spark.sources.pages import pages_df

    pages = pages_df(spark, "/root/testdata/sf0.001")
    a = extract_plan(pages, salt_partitions=8, salt_mode="all")
    b = extract_plan(pages, salt_partitions=8, salt_mode="selective")
    da = {r.url: r.text for r in a.select("url", "text").collect()}
    db = {r.url: r.text for r in b.select("url", "text").collect()}
    assert da == db and len(da) == 500


def test_mega_host_of_synth_corpus_is_detected(spark):
    """The synth corpus routes 30% of urls to host0 by construction — the
    counting pass must flag it hot at 32 salt partitions."""
    from ocr_spark.plans.pipeline import _HOST_RE
    from ocr_spark.sources.pages import pages_df

    pages = pages_df(spark, "/root/testdata/sf0.001")
    host = F.regexp_extract(F.col("url"), _HOST_RE, 1)
    counts = pages.select(host.alias("host")).groupBy("host").count()
    total = counts.agg(F.sum("count")).first()[0]
    top = counts.orderBy(F.desc("count")).first()
    assert top["host"] == "host0.example"
    assert top["count"] > total / 32  # hot under the selective threshold

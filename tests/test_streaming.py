"""The flagship extraction as a Structured Streaming job: page files
stream through the same extraction into the ManifestTable catalog, each
micro-batch committed under its batchId, exactly once across restarts."""


def test_streaming_extraction_byte_identical(spark, tmp_path):
    """The flagship extraction runs unchanged as a Structured Streaming
    job: file-source pages stream -> mapInPandas -> catalog commits, with
    checkpointed exactly-once. Restarting over the same source adds no
    commit."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.pipeline import run_streaming_extract_to_catalog
    from ocr_spark.sources.pages import pages_df
    from tests.conftest import SF_SMOKE

    golden = pages_df(spark, SF_SMOKE, with_expected=True)
    src = str(tmp_path / "pages_stream")
    golden.drop("expected_text").repartition(4).write.parquet(src)
    table_root = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")

    tbl = run_streaming_extract_to_catalog(spark, src, table_root, ckpt)
    result = tbl.read(spark)
    assert result.count() == 500
    j = result.join(golden.select("url", "expected_text"), "url")
    assert j.where(F.col("text") == F.col("expected_text")).count() == 500
    commits = [s["commit_id"] for s in tbl.snapshots]

    # restart over the same source: checkpoint replays nothing
    tbl = run_streaming_extract_to_catalog(spark, src, table_root, ckpt)
    assert [s["commit_id"] for s in tbl.snapshots] == commits
    assert tbl.read(spark).count() == 500


def test_streaming_extract_to_catalog_exactly_once(spark, tmp_path):
    """Micro-batches become catalog commits keyed by batchId: draining the
    same checkpoint twice adds NOTHING (replay protection), new files
    stream as new commits, and read_changes consumes per batch."""
    from ocr_spark.plans.pipeline import run_streaming_extract_to_catalog
    from ocr_spark.sources.pages import pages_df
    from tests.conftest import SF_SMOKE

    pages_dir = str(tmp_path / "pages")
    table_root = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    all_pages = pages_df(spark, SF_SMOKE).limit(40).cache()
    all_pages.where("length(url) % 2 = 0").write.parquet(pages_dir + "/wave1")

    tbl = run_streaming_extract_to_catalog(
        spark, pages_dir + "/wave*", table_root, ckpt
    )
    n1 = tbl.read(spark).count()
    commits1 = [s["commit_id"] for s in tbl.snapshots]
    assert n1 > 0 and commits1

    # drain again with the SAME checkpoint and no new files: no new commits
    tbl = run_streaming_extract_to_catalog(
        spark, pages_dir + "/wave*", table_root, ckpt
    )
    assert [s["commit_id"] for s in tbl.snapshots] == commits1
    assert tbl.read(spark).count() == n1

    # a second wave streams as NEW commits; the old rows are not re-read
    all_pages.where("length(url) % 2 = 1").write.parquet(pages_dir + "/wave2")
    tbl = run_streaming_extract_to_catalog(
        spark, pages_dir + "/wave*", table_root, ckpt
    )
    commits2 = [s["commit_id"] for s in tbl.snapshots]
    assert len(commits2) > len(commits1)
    assert tbl.read(spark).count() == all_pages.count()
    # incremental consumption: the delta window holds exactly wave 2
    delta = tbl.read_changes(spark, since=max(commits1))
    assert delta.count() == all_pages.count() - n1

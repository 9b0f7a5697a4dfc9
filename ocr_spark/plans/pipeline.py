"""The flagship job: pages -> extracted documents, resumable.

Plan (SURVEY.md §3.1):

    scan pages                         <- Catalyst column pruning: only
      |                                   (url, warc_ts, html, lang) read
      | left_anti join lineage.url     <- resume (J4); no-op on first run
      | repartition(xxhash64(url, salt))  <- spreads the anti-join's pending
      |                                     rows evenly over the slots: new
      |                                     urls sit in the few scan files
      |                                     that hold them, and those tasks
      |                                     would straggle
      | mapInPandas(extract_batch)     <- detect+recognize+order+assemble,
      |                                   one Arrow batch at a time, zero
      |                                   further shuffle
      | observe(metrics)               <- docs/spans counters (A8 analog)
      v write commit + lineage         <- manifest snapshot (S3/S4 analog)

At 100 TB the only data movement is the optional url-hash repartition; it
can be dropped (`salt_partitions=None`) when the pending rows are already
spread over the scan's files, turning the whole job into a scan -> map ->
write with no exchange at all.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.observation import Observation

from ..operators.extract import extract_pages
from ..sources.catalog import ManifestTable
from ..sources.lineage import lineage_of, pending_pages

SALT = 0x5CA1AB1E

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/]+)"


def selective_salt(
    pages: DataFrame,
    salt_partitions: int,
    *,
    factor: float = 1.0,
    max_hot_hosts: int = 64,
) -> DataFrame:
    """Two-pass SELECTIVE skew mitigation: shuffle only mega-host rows.

    A blanket ``repartition`` moves every byte of the corpus; at 100 TB
    that is the single largest exchange in the job, paid even when 99% of
    hosts are already well-spread. Instead: a cheap counting pass over the
    url column (parquet column pruning makes this a url-only scan) finds
    hosts whose row count alone would overflow one partition slot
    (count > factor * total / salt_partitions, capped at the
    ``max_hot_hosts`` largest); only THOSE rows are hash-salted across
    ``salt_partitions``, the cold tail keeps its scan partitioning and
    flows scan -> extract with no exchange at all.

    The standard two-job skew pattern: the per-host counts are
    localCheckpoint()ed so the scan+groupBy runs once, then two tiny jobs
    (total, hot list) run against the checkpoint.

    No job path calls this any more: ``extract_plan`` spreads every
    pending row with one url-hash repartition instead.
    """
    host = F.regexp_extract(F.col("url"), _HOST_RE, 1)
    counts = (
        pages.select(host.alias("host")).groupBy("host").count().localCheckpoint()
    )
    total = counts.agg(F.sum("count")).first()[0] or 0
    if not total:
        return pages
    threshold = factor * total / salt_partitions
    hot = [
        r["host"]
        for r in counts.where(F.col("count") > threshold)
        .orderBy(F.desc("count"), "host")
        .limit(max_hot_hosts)
        .collect()
    ]
    if not hot:
        return pages
    is_hot = host.isin(hot)
    salted = pages.where(is_hot).repartition(
        salt_partitions, F.xxhash64(F.col("url"), F.lit(SALT))
    )
    return salted.unionByName(pages.where(~is_hot))


def extract_plan(
    pages: DataFrame,
    *,
    lineage: DataFrame | None = None,
    salt_partitions: int | None = None,
    salt_mode: str = "all",
    decode_method: str = "greedy",
) -> DataFrame:
    """Build the (lazy) extraction DataFrame: resume filter + url-hash
    repartition over ``salt_partitions`` + single-pass extraction. Building
    it runs no Spark job. ``salt_mode`` is accepted and ignored: every
    mode spreads all pending rows the same way."""
    pending = pending_pages(pages, lineage)
    if salt_partitions:
        pending = pending.repartition(
            salt_partitions, F.xxhash64(F.col("url"), F.lit(SALT))
        )
    return extract_pages(pending, decode_method=decode_method)


def run_extract_job(
    spark,
    pages: DataFrame,
    out_root: str,
    *,
    salt_partitions: int | None = None,
    salt_mode: str = "all",
    decode_method: str = "greedy",
    quality_gate: bool = False,
    dedup_threshold: float | None = None,
):
    """Execute one commit: extract pending pages, append output + lineage.

    Returns (commit_id, metrics dict). Re-running after a failure processes
    only pages missing from the lineage table (exactly-once per url).
    ``salt_mode`` is a no-op kept for existing callers (see extract_plan).

    Production gates (both off by default):
    - ``quality_gate``: drop extracted docs failing the Gopher rule set
      (corpus_filters.gopher_rules) before the commit;
    - ``dedup_threshold``: drop new docs whose exact shingle-Jaccard
      against the EXISTING extracted table reaches the threshold
      (dedup.cross_corpus_jaccard_dedup — the R-S prefix join, new x old
      only).
    Gated urls are still written to LINEAGE under the same commit id —
    a gated url is processed work, and without its lineage row every
    future run would re-extract and re-gate it forever. They are counted
    in the metrics row (``gated``) and never enter the output table.
    """
    out_tbl = ManifestTable(f"{out_root}/extracted")
    lin_tbl = ManifestTable(f"{out_root}/lineage")

    # aborted-transaction reconciliation: the job commits output FIRST, then
    # lineage — an output commit with no matching lineage commit means the
    # previous run died in between, and its urls would be re-extracted (the
    # anti-join only sees lineage) producing duplicates in the output table.
    # Single-writer assumption (Iceberg-style): roll orphans back at start.
    # (compaction commits — entries with "replaces" — are maintenance
    # rewrites of already-lineage-covered rows, not extraction transactions:
    # rolling one back after its sources were expired would lose data)
    lin_ids = {s["commit_id"] for s in lin_tbl.snapshots}
    for snap in out_tbl.snapshots:
        if snap["commit_id"] not in lin_ids and not snap.get("replaces"):
            out_tbl.rollback(snap["commit_id"])

    lineage = lin_tbl.read(spark)
    # partition_id is stamped once, in the extraction stage: the gates'
    # joins, the output write and the lineage read-back all carry the
    # column, so a url's output and lineage rows hold the same id
    extracted = extract_plan(
        pages,
        lineage=lineage,
        salt_partitions=salt_partitions,
        decode_method=decode_method,
    ).withColumn("partition_id", F.spark_partition_id())

    # the extraction output feeds the gate predicates AND both the
    # kept/gated splits: persist so the python stage runs once, and drop
    # the cache once the lineage append (its last reader) is done
    cached = None
    if quality_gate or dedup_threshold is not None:
        cached = extracted.persist()
    try:
        gated = None
        n_gated = 0
        if cached is not None:
            kept = cached
            if quality_gate:
                from ..operators.corpus_filters import gopher_rules

                failing = (
                    gopher_rules(kept.select(F.col("url").alias("doc_id"), "text"))
                    .where(~F.col("passes"))
                    .select(F.col("doc_id").alias("url"))
                )
                kept = kept.join(failing, "url", "left_anti")
            if dedup_threshold is not None:
                from ..operators.dedup import cross_corpus_jaccard_dedup

                old = out_tbl.read(spark)
                if old is not None:
                    survivors = cross_corpus_jaccard_dedup(
                        kept.select(F.col("url").alias("doc_id"), "text"),
                        old.select(F.col("url").alias("doc_id"), "text"),
                        threshold=dedup_threshold,
                    ).select(F.col("doc_id").alias("url"))
                    kept = kept.join(survivors, "url", "left_semi")
            gated = cached.join(kept.select("url"), "url", "left_anti")
            n_gated = gated.count()
            extracted = kept

        obs = Observation("extract_metrics")
        extracted = extracted.observe(
            obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_spans").alias("spans"),
            F.sum(F.length("text")).alias("chars"),
        )

        commit_id = out_tbl.next_commit_id()
        out_tbl.append(extracted, commit_id)

        # lineage derives from what was actually committed in THIS snapshot —
        # read it back from the committed files so a mid-write crash can never
        # mark unwritten urls as done. Gated urls join it from the persisted
        # split: processed work that must never be re-extracted.
        committed = out_tbl.read_commit(spark, commit_id)
        new_lineage = lineage_of(committed, commit_id)
        if gated is not None and n_gated:
            new_lineage = new_lineage.unionByName(lineage_of(gated, commit_id))
        lin_tbl.append(new_lineage, commit_id)
    finally:
        if cached is not None:
            cached.unpersist()

    # observe() counters land in a metrics table per commit (A8 analog:
    # the reference's stream counters, base_ocr.py:32-51)
    # an empty commit's sums are NULL: return the zeros the row stores
    metrics = {k: int(v or 0) for k, v in obs.get.items()}
    metrics["gated"] = n_gated
    row = {"commit_id": commit_id, **metrics}
    # one row built on the driver: the catalog writes it with pyarrow, as
    # one file and without a Spark job
    ManifestTable(f"{out_root}/metrics").append(pd.DataFrame([row]), commit_id)

    return commit_id, metrics


def _start_catalog_stream(pages, tbl: ManifestTable, checkpoint_dir: str, **trigger):
    """Start the extraction of a page stream into ``tbl`` — the one stream
    sink, fed by page files, WARC drops and httpmirror frames alike: every
    non-empty micro-batch becomes catalog commit ``batchId``, so a batch
    replayed from the WAL after a crash OVERWRITES its own commit instead
    of duplicating rows."""

    def commit_batch(batch_df, batch_id: int):
        # pin before inspecting: isEmpty + append on the raw plan would
        # evaluate it twice — double the extraction work on a file source,
        # and on a live source a second fetch that could commit different
        # rows than it checked
        batch_df = batch_df.persist()
        try:
            if not batch_df.isEmpty():
                tbl.append(batch_df, commit_id=int(batch_id))
        finally:
            batch_df.unpersist()

    return (
        extract_pages(pages)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


def run_streaming_extract_to_catalog(spark, pages_glob: str, table_root: str, checkpoint_dir: str):
    """Streaming extraction committing each micro-batch into the
    ManifestTable catalog — the Iceberg streaming-sink shape: every
    micro-batch becomes one catalog commit whose id IS the stream's
    batchId, so a batch replayed after a crash (Structured Streaming
    re-runs the last uncommitted batch from the WAL) OVERWRITES its own
    commit instead of duplicating rows. Downstream pipelines then consume
    the table incrementally via ``read_changes(since=last_seen_commit)``
    — checkpointed producer, exactly-once consumer, both keyed on the
    same commit ids.

    Returns the ManifestTable (drained with availableNow)."""
    from ..sources.pages import PAGES_SCHEMA

    tbl = ManifestTable(table_root)
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_glob)
    _start_catalog_stream(pages, tbl, checkpoint_dir, availableNow=True).awaitTermination()
    return tbl


def run_streaming_mirror_extract_to_catalog(
    spark,
    urls: str,
    table_root: str,
    checkpoint_dir: str,
    *,
    min_time: float = 0.02,
    max_frames_per_batch: int = 16,
    trigger_seconds: float = 0.2,
):
    """The LIVE end of the engine (VERDICT r03 next-round #7): camera
    frames flow readStream(httpmirror) -> the flagship decode/detect/
    recognize extraction -> ManifestTable catalog commits, checkpointed.

    Frame rows (camera, frame_ms, content) are mapped onto the pages
    shape — url = ``<camera>#t=<ms>`` (one URL per captured slot, the
    reference's per-frame filename contract,
    models/ocr/http_screen_mirror stream loop), warc_ts = the slot
    timestamp, html = the raw frame bytes — so the SAME single
    mapInPandas extraction the batch job runs (magic-byte dispatch ->
    pixel OCR for PNG/JPEG frames) serves the stream unchanged: one
    python stage, no extra exchange.

    Exactly-once is the catalog form: each micro-batch commits under
    ``commit_id = batchId``; a batch replayed from the WAL after a crash
    or restart OVERWRITES its own commit instead of duplicating rows,
    and the httpmirror per-camera ms-cursor offsets resume from the
    checkpoint so no slot is fetched twice across restarts.

    Returns (StreamingQuery, ManifestTable) — the query is RUNNING (live
    source, processingTime trigger); the caller observes the table and
    stops the query."""
    from ..sources import httpmirror

    httpmirror.register(spark)
    tbl = ManifestTable(table_root)
    frames = (
        spark.readStream.format("httpmirror")
        .option("urls", urls)
        .option("min_time", str(min_time))
        .option("max_frames_per_batch", str(max_frames_per_batch))
        .load()
    )
    pages = frames.selectExpr(
        "concat(camera, '#t=', cast(frame_ms as string)) AS url",
        "timestamp_millis(frame_ms) AS warc_ts",
        "content AS html",
        "cast(null as string) AS text",
        "cast(null as string) AS lang",
    )
    q = _start_catalog_stream(
        pages, tbl, checkpoint_dir, processingTime=f"{trigger_seconds} seconds"
    )
    return q, tbl

"""Production entrypoint: spark-submit --py-files ocr_spark.zip run_job.py

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        scripts/run_job.py --input <pages parquet/iceberg path> \
        --output <warehouse root> [--salt-partitions N] [--decode beam]

Runs one resumable extraction commit: scan -> lineage anti-join ->
(optional url-hash repartition) -> single mapInPandas extraction -> manifest
commit + lineage + metrics. Re-running after any failure processes only
the remainder (exactly-once per url; aborted commits roll back at start).

Inputs: --input (pages parquet/iceberg), --warc (Common-Crawl WARC
file/glob, ingested via sources/warc.py), or --synth-sf (sandbox smoke:
synthesize pages from a testdata sf dir).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages table path (parquet dir)")
    ap.add_argument("--warc", help="WARC file/glob to ingest as the pages table")
    ap.add_argument("--synth-sf", help="synthesize pages from this sf dir instead")
    ap.add_argument("--output", required=True, help="warehouse root for commits")
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--decode", choices=["greedy", "beam"], default="greedy")
    ap.add_argument(
        "--quality-gate",
        action="store_true",
        help="drop extracted docs failing the Gopher rule set before the "
        "commit (gated urls still enter lineage and the metrics row)",
    )
    ap.add_argument(
        "--dedup-gate",
        type=float,
        default=None,
        help="drop new docs whose exact shingle-Jaccard vs the EXISTING "
        "extracted table reaches this threshold (incremental near-dup "
        "ingestion gate)",
    )
    ap.add_argument(
        "--robots",
        help="parquet path of (host, robots_txt) rows: drop disallowed urls "
        "before extraction (RFC 9309 longest-match)",
    )
    ap.add_argument("--agent", default="*", help="user-agent for --robots")
    ap.add_argument(
        "--export-wet",
        help="after the commit, export the extracted table as WET "
        "(.warc.wet.gz conversion records) into this directory",
    )
    ap.add_argument(
        "--export-jsonl",
        help="after the commit, export the extracted table as Dolma-style "
        "training shards (.jsonl.gz, one JSON document per line) into "
        "this directory",
    )
    ap.add_argument(
        "--export-wat",
        help="after the commit, export per-page metadata sidecars as WAT "
        "(.warc.wat.gz metadata records with JSON envelopes: head meta + "
        "outlinks) into this directory",
    )
    ap.add_argument(
        "--export-cdx",
        help="after the commit, export the INPUT pages as a SURT-sorted "
        "CDXJ url index (.cdxj.gz shards + range manifest) into this "
        "directory",
    )
    ap.add_argument(
        "--export-postings",
        help="after the commit, export a term-sorted blocked inverted "
        "index over the EXTRACTED text (.idx.gz shards + range manifest) "
        "into this directory",
    )
    ap.add_argument(
        "--sidecar-meta",
        help="after the commit, write the fused page-metadata sidecar "
        "(head meta + OpenGraph/JSON-LD + pagination + provenance; ONE "
        "scan, one python stage) as parquet into this directory",
    )
    ap.add_argument("--cpus", type=int, default=None, help="local-mode cores")
    ap.add_argument(
        "--compact",
        action="store_true",
        help="maintenance mode: fold the extracted table's commits into one "
        "(time travel preserved) and expire the replaced snapshots",
    )
    ap.add_argument(
        "--compact-partitions",
        type=int,
        default=8,
        help="output file count for --compact",
    )
    ap.add_argument(
        "--save-annotated",
        metavar="DIR",
        help="after the commit, write detection-overlay PNGs for every "
        "image-flavor input page into DIR (executor-written, "
        "content-addressed) — the reference's ImageSaver callback",
    )
    ap.add_argument(
        "--export-vecindex",
        metavar="DIR",
        help="after the commit, build the persisted IVFPQ vector index "
        "over the extracted documents (signed feature-hash text "
        "embeddings -> PQ codes hive-partitioned by coarse list) into "
        "DIR — build once here, reopen and query forever without "
        "retraining (sources/vecindex.py)",
    )
    ap.add_argument(
        "--delete-where",
        metavar="SQL_PRED",
        help="maintenance mode: copy-on-write DELETE from the extracted AND "
        "lineage tables where this SQL predicate holds (e.g. "
        "\"url like 'https://badhost.example/%%'\"), then expire the "
        "replaced snapshots — the hard-removal (GDPR) path; deleted urls "
        "also leave lineage so a re-crawl re-extracts them",
    )
    args = ap.parse_args()

    from pyspark.errors import AnalysisException

    from ocr_spark.plans.pipeline import run_extract_job
    from ocr_spark.plans.session import get_spark
    from ocr_spark.sources.catalog import ManifestTable
    from ocr_spark.sources.pages import pages_df

    spark = get_spark("ocr_spark_job", cpus=args.cpus)
    try:
        if args.compact:
            for name in ("extracted", "lineage"):
                tbl = ManifestTable(os.path.join(args.output, name))
                cid = tbl.compact(spark, target_partitions=args.compact_partitions)
                expired = tbl.expire() if cid is not None else []
                print(f"compacted {name}: commit={cid} expired={expired}")
            return
        if args.delete_where:
            for name in ("extracted", "lineage"):
                tbl = ManifestTable(os.path.join(args.output, name))
                if not tbl.exists():
                    continue
                try:
                    cid = tbl.delete_where(spark, args.delete_where)
                except AnalysisException as ex:  # predicate column absent here
                    print(f"deleted from {name}: skipped ({str(ex).splitlines()[0][:80]})")
                    continue
                expired = tbl.expire() if cid is not None else []
                print(f"deleted from {name}: commit={cid} expired={expired}")
            return
        if args.synth_sf:
            pages = pages_df(spark, args.synth_sf)
        elif args.warc:
            from ocr_spark.sources.warc import read_warc_pages

            pages = read_warc_pages(spark, args.warc)
        elif args.input:
            pages = spark.read.parquet(args.input)
        else:
            ap.error("one of --input / --warc / --synth-sf is required")

        if args.robots:
            from ocr_spark.operators.robots import gate_pages

            pages = gate_pages(
                pages, spark.read.parquet(args.robots), agent=args.agent
            )

        commit_id, metrics = run_extract_job(
            spark,
            pages,
            args.output,
            salt_partitions=args.salt_partitions,
            decode_method=args.decode,
            quality_gate=args.quality_gate,
            dedup_threshold=args.dedup_gate,
        )
        print(f"commit={commit_id} metrics={metrics}")
        if args.export_wet or args.export_jsonl or args.export_vecindex or args.export_postings:
            extracted = ManifestTable(os.path.join(args.output, "extracted")).read(spark)
        if args.export_wet:
            from ocr_spark.sources.wet import export_wet

            manifest = export_wet(extracted, args.export_wet).collect()
            total = sum(r.n_records for r in manifest)
            print(f"wet_export files={len(manifest)} records={total}")
        if args.export_wat:
            from ocr_spark.sources.wat import export_wat

            manifest = export_wat(pages, args.export_wat).collect()
            total = sum(r.n_records for r in manifest)
            print(f"wat_export files={len(manifest)} records={total}")
        if args.export_jsonl:
            from ocr_spark.sources.jsonl import export_jsonl

            manifest = export_jsonl(extracted, args.export_jsonl).collect()
            total = sum(r.n_records for r in manifest)
            print(f"jsonl_export files={len(manifest)} records={total}")
        if args.sidecar_meta:
            from ocr_spark.operators.page_meta import extract_meta_sidecar

            extract_meta_sidecar(pages).write.mode("overwrite").parquet(
                args.sidecar_meta
            )
            n = spark.read.parquet(args.sidecar_meta).count()
            print(f"sidecar_meta rows={n}")
        if args.save_annotated:
            from ocr_spark.operators.multimodal import export_annotated

            manifest = export_annotated(pages, args.save_annotated).collect()
            print(
                f"annotated files={len(manifest)} "
                f"boxes={sum(r.n_boxes for r in manifest)}"
            )
        if args.export_vecindex:
            from ocr_spark.sources.vecindex import build_vector_index, text_embeddings

            emb = text_embeddings(extracted)
            idx = build_vector_index(
                emb, args.export_vecindex, m=8, n_codes=64, n_iters=2, n_lists=8
            )
            n_vec = idx.codes(spark).count()
            print(f"vecindex vectors={n_vec} lists={idx.meta['n_lists']}")
        if args.export_cdx:
            from ocr_spark.sources.cdx import export_cdxj

            manifest = export_cdxj(pages, args.export_cdx).collect()
            total = sum(r.n_records for r in manifest)
            print(f"cdx_export files={len(manifest)} records={total}")
        if args.export_postings:
            from pyspark.sql import functions as F

            from ocr_spark.sources.invindex import export_postings

            docs = extracted.select(
                F.xxhash64("url").alias("doc_id"), "text"
            ).withColumn("doc_id", F.abs(F.col("doc_id")))
            manifest = export_postings(docs, args.export_postings).collect()
            total = sum(r.n_postings for r in manifest)
            print(f"postings_export files={len(manifest)} postings={total}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "docs_per_sec": ..., ...}

The flagship number is extraction throughput (docs/sec) over the pages
table synthesized at the benchmark scale — the BASELINE.json metric.
Its summed wall time is not a speed yardstick: speed claims come from
paired, interleaved perfbench runs (scripts/perfbench_ab.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_spark.contract import QUERIES  # noqa: E402
from ocr_spark.operators.extract import extract_pages  # noqa: E402
from ocr_spark.plans.session import get_spark  # noqa: E402
from ocr_spark.sources.pages import pages_df  # noqa: E402

BENCH_QUERIES = [
    "pdf_extract",
    "markdown_export",
    "dedup_exact",
    "jaccard_pairs",
    "winnow_pairs",
    "incremental_dedup",
    "sa_dups",
    "containment",
    "jaccard_cjk",
    "nb_classifier",
    "script_mix",
    "url_templates",
    "minhash_pairs",
    "simhash_pairs",
    "image_dups",
    "audio_dups",
    "video_dups",
    "cdc_chunks",
    "ann_topk",
    "lsh_ann",
    "ivf_ann",
    "pq_ann",
    "kmeans",
    "embed_centroids",
    "revenue_topk",
    "cube_agg",
    "events_hourly",
    "window_topk",
    "ctc_roundtrip",
    "crnn_read",
    "combine_boxes",
    "training_pipeline",
    "langid",
    "ct_langid",
    "quality",
    "repetition",
    "readability",
    "blocklist",
    "bpe_tokens",
    "unigram_segment",
    "url_canon",
    "line_dedup",
    "host_templates",
    "charset_sniff",
    "mojibake",
    "c4_clean",
    "pii_redact",
    "ngram_spans",
    "hash_embed",
    "bigram_lm",
    "ngram_lm",
    "dup_spans",
    "decontaminate",
    "stratified_sample",
    "shuffle_shards",
    "url_latest",
    "redirects",
    "snapshot_drift",
    "page_meta",
    "mirror_hosts",
    "surt",
    "mirror_clusters",
    "url_changes",
    "token_budget",
    "page_links",
    "link_hosts",
    "pagerank",
    "trustrank",
    "seed_distance",
    "hits",
    "reciprocity",
    "bm25_topk",
    "asof_join",
    "semdedup",
    "quality_classifier",
    "sequence_pack",
    "robots_filter",
    "politeness",
    "dsir",
    "dsir_resample",
    "audio_features",
    "meta_robots",
    "video_frames",
    "domain_split",
    "domain_prior",
    "unimax",
    "vtt_cues",
    "bloom_prefilter",
    "bitext",
    "bitext_align",
    "ccnet_buckets",
    "refresh_schedule",
    "feed_entries",
    "og_meta",
    "http_headers",
    "frontier_plan",
    "anchor_summary",
    "gopher_rules",
    "dedup_keep_best",
    "heavy_hitters",
    "hll_distinct",
    "length_quantiles",
    "sitemap_gap",
    "host_communities",
    "phrase_topk",
    "jsonld_entities",
    "microdata",
    "crawl_overlap",
    "wordpiece",
    "css_select",
    "snapshot_diff",
    "hyperball",
    "triangles",
    "zorder",
    "homograph",
    "kcore",
    "textrank",
    "walks",
    "ip_asn",
    "profile",
    "annotate_meta",
    "phash_dups",
    "lr_trained",
    "text_tiles",
    "kn_lm",
    "alpha_mix",
    "soft404_html",
    "line_langid",
    # round 4: persisted vector-index artifact + code-space semantic dedup
    "ann_index_build",
    "ann_index_query",
    "ann_index_ivf_query",
    "semdedup_pq",
    # round 5: zero-collect batch probe, container metadata, spectral
    # fingerprint, two-font trained CRNN
    "ann_index_batch_query",
    "video_meta",
    "audio_spectral",
    "crnn_multifont",
    "audio_gate",
    "srt_align",
    "audio_mel",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = get_spark("ocr_spark_bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/Arrow warmup (not timed)
    spark.range(1000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}

    # headline: flagship extraction throughput over a pages table read from
    # parquet — the production data path (scan -> single mapInPandas ->
    # sink). The corpus is replicated to a fixed size so the measurement is
    # CPU-bound and identical at every cpu count.
    # The synthesized pages parquet is materialized once and reused
    # (measured separately as pages_synth); chaining the synthesis python
    # stage into the extraction would serialize the pipeline — see
    # BENCH/BASELINE.md "chained mapInPandas" note.
    bench_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "40000"))
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    replicate = max(1, bench_docs // base)
    pages_path = f"/tmp/ocr_spark_bench/pages_sf{sf}_n{base * replicate}"
    if not os.path.exists(pages_path + "/_SUCCESS"):
        t0 = time.time()
        pages_df(spark, sf_dir, replicate=replicate, partitions=cpus * 3).write.mode(
            "overwrite"
        ).parquet(pages_path)
        timings["pages_synth"] = round(time.time() - t0, 3)
    pages = spark.read.parquet(pages_path)
    n_docs = pages.count()  # warm the scan metadata
    # full warm pass spins up ALL python workers; its count doubles as n_out
    n_out = extract_pages(pages).count()

    def timed(fn):
        # best-of-2: wall timings on a shared box are noisy; min is the
        # closest to the true cost
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
            # drop orphaned persist() blocks: every call builds NEW
            # DataFrames, so a previous call's cache is never reused and
            # only accumulates in executor storage memory. A fresh-vs-
            # dirty-session A/B showed no measurable bleed into later
            # queries at sf0.1 (suite-context inflation turned out to be
            # co-tenant bursts), so this is hygiene, not a speedup.
            spark.catalog.clearCache()
        return round(best, 3)

    timings["flagship_extract"] = timed(lambda: extract_pages(pages).count())
    t_extract = timings["flagship_extract"]

    # the r01-comparable number: pages minus the real-image docs (5% of the
    # corpus runs REAL pixel OCR at ~5 ms/doc single-thread — decode +
    # projection-profile detect + template recognize; the text-only slice
    # isolates the markup-extraction throughput)
    text_pages = pages.where(
        "NOT (substring(html,1,4) = X'89504E47' OR substring(html,1,2) = X'FFD8')"
    )
    n_text = text_pages.count()
    timings["flagship_extract_text_only"] = timed(
        lambda: extract_pages(text_pages).count()
    )

    # beam decoder variant (VERDICT r01 item 9 target: within 3x of greedy)
    timings["flagship_extract_beam"] = timed(
        lambda: extract_pages(pages, decode_method="beam").count()
    )

    # the full crawl edge: WARC container files -> pages -> extraction
    # (one-time WARC materialization of the same corpus, 32 files)
    warc_dir = f"/tmp/ocr_spark_bench/warc_sf{sf}_n{n_docs}"
    if not os.path.exists(warc_dir + "/_DONE"):
        from ocr_spark.sources.warc import write_warc

        os.makedirs(warc_dir, exist_ok=True)
        rows = pages.select("url", "warc_ts", "html").collect()
        shard = max(1, len(rows) // 32)
        for i in range(0, len(rows), shard):
            blob = write_warc([(r.url, r.warc_ts, bytes(r.html)) for r in rows[i : i + shard]])
            with open(f"{warc_dir}/crawl-{i // shard:05d}.warc.gz", "wb") as f:
                f.write(blob)
        open(warc_dir + "/_DONE", "w").close()
    from ocr_spark.sources.warc import read_warc_pages

    timings["warc_ingest_extract"] = timed(
        lambda: extract_pages(read_warc_pages(spark, warc_dir + "/*.warc.gz")).count()
    )

    # extraction + parquet write (the full scan -> extract -> sink job)
    timings["flagship_extract_write"] = timed(
        lambda: extract_pages(pages).write.mode("overwrite").parquet("/tmp/ocr_spark_bench/out")
    )

    for name in BENCH_QUERIES:
        timings[name] = timed(lambda: QUERIES[name](spark, sf_dir).count())

    total = round(sum(v for k, v in timings.items() if k != "pages_synth"), 3)
    result = {
        "metric": "extraction+ops wall time (flagship docs/sec in docs_per_sec)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_docs": n_docs,
        "n_extracted": n_out,
        "docs_per_sec": round(n_out / t_extract, 1) if t_extract else None,
    }

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()

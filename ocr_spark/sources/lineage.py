"""Lineage / resume: per-url completion records + anti-join resume.

Reference analog (behavior only): the predicted-map skip — inputs already in
``map.json`` are not recomputed (/root/reference/models/ocr/base_ocr.py:142-144,
/root/reference/models/detection/base_detector.py:170-207). Here it is the
only true equi-join of the system (SURVEY.md §2.3 J4): completed work is a
small table of urls, so Catalyst broadcasts it into a left_anti join against
the pages scan — no shuffle of the big side.

Each lineage row records the extraction partition id, span count, and the
sha256 of the emitted text (north_rule: "per-partition lineage + metrics",
determinism check for exactly-once resume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def lineage_of(extracted: DataFrame, commit_id: int) -> DataFrame:
    """Lineage rows of ``extracted``, whose ``partition_id`` column the job
    stamped at extraction time."""
    return extracted.select(
        "url",
        "partition_id",
        F.lit(commit_id).alias("commit_id"),
        F.col("n_spans"),
        F.sha2(F.col("text").cast("binary"), 256).alias("out_sha256"),
        F.current_timestamp().alias("ts"),
    )


def pending_pages(pages: DataFrame, lineage: DataFrame | None) -> DataFrame:
    """pages minus already-completed urls (left_anti on url).

    Join strategy is left to Catalyst/AQE: after a partial failure the
    lineage side is small relative to the scan and broadcasts; on a full
    re-run it can be large and AQE falls back to a shuffled join — both are
    correct, and the common resume case never shuffles the pages scan.
    The lineage urls are not deduplicated first: an anti-join's result does
    not depend on duplicate keys on its right side, and a ``distinct``
    would shuffle every lineage url."""
    if lineage is None:
        return pages
    return pages.join(lineage.select("url"), "url", "left_anti")

"""Per-layer metrics of the traced run, from its rounds.

Kernel metrics come from the worker spans of the traced jobs: a per-call
figure is the spans' total duration over their count, summed over every
traced job of the run; a per-job count is the median over those jobs. Plan
prefix figures (scan, Arrow boundary, anti-join, salting, commit) are
medians over rounds of the difference between nested prefixes. A layer that
does no work on a workload reports 0.

Slot-time accounting of a traced job of wall W on N task slots: the worker
spans' total (= the sum of every span's self time) is the Python busy time;
``(scan.s + arrow.s) * N`` is what moving the same table through the JVM and
across the Arrow boundary costs. Their share of W * N is
``trace.accounted_frac``; the rest (``trace.idle_frac``) is slot time no
traced layer used: stragglers, scheduling and untraced JVM work.
"""

from __future__ import annotations

import statistics

from .tracer import ROOT_SPAN, percentile, tail_percentile

#: metric name -> unit; the order BENCHMARK.json lists them in
UNITS = {
    "session.start_s": "s",
    "pages.synth_s": "s",
    "scan.s": "s",
    "arrow.s": "s",
    "extract.batch_ms": "ms",
    "extract.batch_ms.tail": "ms",
    "extract.batch_ms.tail_pct": "%",
    "extract.batches": "count",
    "extract.busy_frac": "ratio",
    "extract.task_skew": "ratio",
    "extract.guard_fallbacks": "count",
    "extract.self_us_per_doc": "us",
    "encoding.decode_bytes.us_per_call": "us",
    "encoding.decode_bytes.calls": "count",
    "html_extract.extract_page.us_per_doc": "us",
    "combine.combine_boxes.us_per_doc": "us",
    "sort.sort_boxes_xywh.us_per_doc": "us",
    "ctc.lines": "count",
    "ctc.synth_logits.us_per_line": "us",
    "ctc.greedy_decode.us_per_line": "us",
    "pdf_parse.parse_pdf_pages.ms_per_doc": "ms",
    "pdf_layout.process_page.ms_per_page": "ms",
    "imagecodec.png_decode.ms_per_doc": "ms",
    "imagecodec.jpeg_decode.ms_per_doc": "ms",
    "pixel_ocr.ocr_page.ms_per_doc": "ms",
    "lineage.anti_join.s": "s",
    "lineage.skip_frac": "ratio",
    "pipeline.selective_salt.s": "s",
    "pipeline.salted_rows_frac": "ratio",
    "catalog.write_s": "s",
    "catalog.bytes_written_per_input_byte": "ratio",
    "catalog.files_written": "count",
    "trace.accounted_frac": "ratio",
    "trace.idle_frac": "ratio",
    "trace.docs_per_s": "1/s",
    "trace.overhead_docs_per_s": "1/s",
    "trace.overhead_frac": "ratio",
}

#: span name -> (metric, scale to the metric's unit from ns)
_PER_CALL = {
    "encoding.decode_bytes": ("encoding.decode_bytes.us_per_call", 1e-3),
    "html_extract.extract_page": ("html_extract.extract_page.us_per_doc", 1e-3),
    "combine.combine_boxes": ("combine.combine_boxes.us_per_doc", 1e-3),
    "sort.sort_boxes_xywh": ("sort.sort_boxes_xywh.us_per_doc", 1e-3),
    "ctc.synth_logits": ("ctc.synth_logits.us_per_line", 1e-3),
    "pdf_parse.parse_pdf_pages": ("pdf_parse.parse_pdf_pages.ms_per_doc", 1e-6),
    "pdf_layout.process_page": ("pdf_layout.process_page.ms_per_page", 1e-6),
    "imagecodec.png_decode": ("imagecodec.png_decode.ms_per_doc", 1e-6),
    "imagecodec.jpeg_decode": ("imagecodec.jpeg_decode.ms_per_doc", 1e-6),
    "pixel_ocr.ocr_page": ("pixel_ocr.ocr_page.ms_per_doc", 1e-6),
}

#: per-round plan-prefix figures (trace_round keys) -> metric
_PER_ROUND = {
    "scan_s": "scan.s",
    "arrow_s": "arrow.s",
    "anti_join_s": "lineage.anti_join.s",
    "skip_frac": "lineage.skip_frac",
    "selective_salt_s": "pipeline.selective_salt.s",
    "salted_rows_frac": "pipeline.salted_rows_frac",
    "catalog_write_s": "catalog.write_s",
    "catalog_bytes_per_input_byte": "catalog.bytes_written_per_input_byte",
    "catalog_files": "catalog.files_written",
}


def per_layer_metrics(rounds: list[dict], ctx) -> dict[str, tuple[float, str]]:
    m = {name: 0.0 for name in UNITS}
    med = statistics.median
    for key, name in _PER_ROUND.items():
        if key in rounds[0]:
            m[name] = med(r[key] for r in rounds)

    jobs = [r["trace"] for r in rounds]
    totals: dict[str, list[int]] = {}
    for job in jobs:
        for name, (calls, dur, self_ns) in job.by_name().items():
            t = totals.setdefault(name, [0, 0, 0])
            t[0] += calls
            t[1] += dur
            t[2] += self_ns
    for span, (metric, scale) in _PER_CALL.items():
        calls, dur, _ = totals.get(span, (0, 0, 0))
        m[metric] = dur * scale / calls if calls else 0.0

    lines = totals.get("ctc.synth_logits", (0, 0, 0))[0]
    greedy = totals.get("ctc.greedy_decode", (0, 0, 0))[1]
    m["ctc.greedy_decode.us_per_line"] = greedy * 1e-3 / lines if lines else 0.0

    def per_job(span: str) -> float:
        return med(j.by_name().get(span, (0, 0, 0))[0] for j in jobs)

    m["ctc.lines"] = per_job("ctc.synth_logits")
    m["encoding.decode_bytes.calls"] = per_job("encoding.decode_bytes")
    m["extract.batches"] = per_job(ROOT_SPAN)
    m["extract.guard_fallbacks"] = med(sum(t.fallbacks for t in j.tasks) for j in jobs)
    docs = sum(t.rows for j in jobs for t in j.tasks)
    m["extract.self_us_per_doc"] = totals[ROOT_SPAN][2] * 1e-3 / docs

    batch_ms = [b for j in jobs for b in j.batch_ms()]
    m["extract.batch_ms"] = med(batch_ms)
    m["extract.batch_ms.tail_pct"] = tail_percentile(len(batch_ms))
    m["extract.batch_ms.tail"] = percentile(batch_ms, m["extract.batch_ms.tail_pct"])
    m["extract.task_skew"] = med(j.task_skew() for j in jobs)

    slots = ctx.cpus
    busy = [sum(j.batch_ms()) / 1e3 / (j.wall_s * slots) for j in jobs]
    moved = [(r["scan_s"] + r["arrow_s"]) / r["trace"].wall_s for r in rounds]
    m["extract.busy_frac"] = med(busy)
    m["trace.accounted_frac"] = med(b + v for b, v in zip(busy, moved))
    m["trace.idle_frac"] = 1.0 - m["trace.accounted_frac"]

    untraced = med(r["untraced"].docs / r["untraced"].wall_s for r in rounds)
    traced = med(r["traced"].docs / r["traced"].wall_s for r in rounds)
    m["trace.docs_per_s"] = traced
    m["trace.overhead_docs_per_s"] = untraced - traced
    m["trace.overhead_frac"] = (untraced - traced) / untraced
    return {name: (value, UNITS[name]) for name, value in m.items()}

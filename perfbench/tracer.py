"""Worker-side span tracer for the traced run.

The benchmark's own ``mapInPandas`` function installs wrappers in the Python
worker, calls the public ``operators.extract.extract_batch`` (the function
``extract_pages`` runs) once per Arrow batch, and restores the originals
when the task ends, so a reused worker never leaks tracing into an untraced
job. Names are wrapped where they are called: the top-level imports of
``ocr_spark.operators.extract`` and the module attributes that its lazy
imports (and ``html_extract.extract_page``'s lazy ``decode_bytes`` import)
resolve at call time.

Spans stay in worker memory, tagged with the task's partition id, and reach
the driver once per task through a list accumulator. A span's self time is
its duration minus the time of the spans it encloses.
"""

from __future__ import annotations

import importlib
import statistics
import time
from dataclasses import dataclass, field

from pyspark.accumulators import AccumulatorParam

ROOT_SPAN = "extract.extract_batch"

#: (module, attribute, span name); one span name may cover several call sites
WRAPPED = (
    ("ocr_spark.operators.extract", "extract_page", "html_extract.extract_page"),
    ("ocr_spark.operators.extract", "decode_bytes", "encoding.decode_bytes"),
    ("ocr_spark.kernels.encoding", "decode_bytes", "encoding.decode_bytes"),
    ("ocr_spark.operators.extract", "combine_boxes", "combine.combine_boxes"),
    ("ocr_spark.operators.extract", "sort_boxes_xywh", "sort.sort_boxes_xywh"),
    ("ocr_spark.kernels.ctc", "synth_logits_for_text", "ctc.synth_logits"),
    ("ocr_spark.kernels.ctc", "pad_batch", "ctc.pad_batch"),
    ("ocr_spark.kernels.ctc", "ctc_greedy_decode_batch", "ctc.greedy_decode"),
    ("ocr_spark.kernels.ctc", "decode_tokens", "ctc.decode_tokens"),
    ("ocr_spark.kernels.pdf_parse", "parse_pdf_pages", "pdf_parse.parse_pdf_pages"),
    ("ocr_spark.kernels.pdf_layout", "process_page", "pdf_layout.process_page"),
    ("ocr_spark.kernels.imagecodec", "png_decode", "imagecodec.png_decode"),
    ("ocr_spark.kernels.imagecodec", "jpeg_decode", "imagecodec.jpeg_decode"),
    ("ocr_spark.kernels.pixel_ocr", "ocr_page", "pixel_ocr.ocr_page"),
)


class ListParam(AccumulatorParam):
    """Accumulator of lists: workers append, the driver concatenates."""

    def zero(self, value):
        return []

    def addInPlace(self, value1, value2):
        value1.extend(value2)
        return value1


@dataclass
class TaskTrace:
    """What one task ships to the driver."""

    partition: int
    wall_ns: int
    rows: int
    fallbacks: int
    spans: list = field(default_factory=list)  # (name, duration_ns, self_ns)


class SpanTracer:
    def __init__(self):
        self.spans: list[tuple[str, int, int]] = []
        self._open: list[int] = []  # child time accumulated by each open span
        self._patched: list = []

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            self._open.append(0)
            t0 = time.perf_counter_ns()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = time.perf_counter_ns() - t0
                child = self._open.pop()
                if self._open:
                    self._open[-1] += dur
                self.spans.append((name, dur, dur - child))

        return traced

    def install(self):
        wrappers = {}
        for module, attr, name in WRAPPED:
            mod = importlib.import_module(module)
            orig = getattr(mod, attr)
            # one wrapper per function object, so a name imported in two
            # modules is not traced twice
            wrapper = wrappers.setdefault((id(orig), name), self.wrap(name, orig))
            self._patched.append((mod, attr, orig))
            setattr(mod, attr, wrapper)

    def uninstall(self):
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()


def traced_extract(acc):
    """``mapInPandas`` function: extract_batch per batch under the tracer."""

    def gen(batches):
        from pyspark import TaskContext

        from ocr_spark.operators.extract import extract_batch

        tracer = SpanTracer()
        task = TaskTrace(TaskContext.get().partitionId(), 0, 0, 0)
        t0 = time.perf_counter_ns()
        tracer.install()
        try:
            batch = tracer.wrap(ROOT_SPAN, extract_batch)
            for pdf in batches:
                out = batch(pdf)
                task.rows += len(out)
                # the per-document guard's signature: an empty extraction
                task.fallbacks += int(((out["text"] == "") & (out["n_spans"] == 0)).sum())
                yield out
        finally:
            tracer.uninstall()
            task.wall_ns = time.perf_counter_ns() - t0
            task.spans = tracer.spans
            acc.add([task])

    return gen


def identity_batches(batches):
    """``mapInPandas`` function that only crosses the Arrow/Python boundary."""
    yield from batches


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of a non-empty list."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * pct // 100))
    return ordered[int(rank) - 1]


def tail_percentile(n: int) -> float:
    """Highest of p99/p90/p75/p50 with at least ten samples beyond it."""
    for pct in (99.0, 90.0, 75.0, 50.0):
        if n * (100 - pct) / 100 >= 10:
            return pct
    return 100.0


@dataclass
class JobTrace:
    """Spans of one traced job, aggregated on the driver."""

    wall_s: float
    tasks: list

    def by_name(self) -> dict[str, list[int]]:
        """span name -> [calls, total ns, self ns]"""
        agg: dict[str, list[int]] = {}
        for task in self.tasks:
            for name, dur, self_ns in task.spans:
                a = agg.setdefault(name, [0, 0, 0])
                a[0] += 1
                a[1] += dur
                a[2] += self_ns
        return agg

    def batch_ms(self) -> list[float]:
        return [
            dur / 1e6
            for task in self.tasks
            for name, dur, _ in task.spans
            if name == ROOT_SPAN
        ]

    def task_skew(self) -> float:
        walls = [t.wall_ns for t in self.tasks]
        return max(walls) / statistics.median(walls) if walls else 0.0

"""The benchmark's three workloads and the jobs they time.

Every job is a batch over a fixed input table, run closed-loop by the
harness: the next job starts when the previous one has finished. Each timed
job checks its output against the by-construction golden: it joins the
extracted rows to ``(url, expected_text)`` on url and counts rows and
byte-identical texts.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ocr_spark.operators.extract import EXTRACT_SCHEMA, extract_pages
from ocr_spark.plans.pipeline import run_extract_job, selective_salt
from ocr_spark.sources.catalog import ManifestTable
from ocr_spark.sources.lineage import pending_pages
from ocr_spark.sources.pages import url_of

from . import inputs as inp
from .procmon import cpu_delta
from .tracer import JobTrace, ListParam, identity_batches, traced_extract

#: untimed jobs before timing starts: job times still fell through the
#: second job after a cold start (JIT, lazy imports in each Python worker)
WARM_JOBS = 2


@dataclass
class JobResult:
    wall_s: float
    docs: int        # docs extracted, or newly committed
    attempted: int   # urls the job had to produce
    identical: int   # urls whose text is byte-identical to the golden
    rows: int        # rows the job produced
    cpu_s: float = 0.0

    @property
    def failed(self) -> int:
        return self.attempted - min(self.identical, self.attempted)

    @property
    def correct(self) -> bool:
        return self.rows == self.attempted == self.identical


def noop(df, count: bool = False):
    """Run ``df`` into the ``noop`` sink; returns wall seconds (and rows)."""
    obs = Observation()
    if count:
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    return (wall, int(obs.get["rows"])) if count else wall


def golden_counts(extracted, golden_path: str) -> tuple[int, int]:
    """Run ``extracted`` (url, text, ...) into the ``noop`` sink, joined to
    the golden; returns (rows, byte-identical texts)."""
    golden = extracted.sparkSession.read.parquet(golden_path)
    obs = Observation()
    same = (F.col("text") == F.col("expected_text")).cast("long")
    (
        extracted.join(F.broadcast(golden), "url", "left")
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(same), F.lit(0)).alias("identical"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return int(obs.get["rows"]), int(obs.get["identical"])


class Meter:
    """Wall and process-tree CPU time of one job."""

    def __init__(self, tree):
        self.tree = tree

    def __enter__(self):
        self._cpu0 = self.tree.cpu_seconds()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = cpu_delta(self._cpu0, self.tree.cpu_seconds())
        return False


@dataclass
class Context:
    inputs: inp.Inputs
    cpus: int
    root: str = ""             # resume_commit: catalog root
    n_new: int = 0             # resume_commit: urls not yet in the lineage
    snapshot: dict | None = None


class ExtractWorkload:
    """scan -> ``extract_pages`` -> golden join -> ``noop`` sink."""

    def __init__(self, name: str, residues: tuple[int, ...], per_residue: int):
        self.name = name
        self.residues = residues
        self.per_residue = per_residue

    def rows(self, seed: int):
        return inp.documents(inp.doc_ids(self.residues, self.per_residue), self.name, seed)

    def prepare(self, spark, inputs, rows, work_dir: str, cpus: int) -> Context:
        return Context(inputs, cpus)

    def warm(self, spark, ctx: Context, meter: Meter) -> list[JobResult]:
        return [self.job(spark, ctx, meter) for _ in range(WARM_JOBS)]

    def job(self, spark, ctx: Context, meter: Meter) -> JobResult:
        with meter:
            pages = spark.read.parquet(ctx.inputs.pages)
            rows, identical = golden_counts(extract_pages(pages), ctx.inputs.golden)
        n = ctx.inputs.n_docs
        return JobResult(meter.wall_s, rows, n, identical, rows, meter.cpu_s)

    def trace_round(self, spark, ctx: Context, meter: Meter) -> dict:
        """One round of the traced run: nested plan prefixes into ``noop``,
        then the extraction untraced and traced."""
        read = lambda: spark.read.parquet(ctx.inputs.pages)  # noqa: E731
        scan_s = noop(read())
        pages = read()
        ident_s = noop(pages.mapInPandas(identity_batches, schema=pages.schema))
        untraced = self.job(spark, ctx, meter)
        traced, traced_job = _traced_job(spark, read(), ctx, meter)
        return {
            "scan_s": scan_s,
            "arrow_s": ident_s - scan_s,
            "untraced": untraced,
            "traced": traced,
            "trace": traced_job,
        }


def _traced_job(spark, pages, ctx: Context, meter: Meter):
    acc = spark.sparkContext.accumulator([], ListParam())
    with meter:
        extracted = pages.mapInPandas(traced_extract(acc), schema=EXTRACT_SCHEMA)
        rows, identical = golden_counts(extracted, ctx.inputs.golden)
    n = ctx.n_new or ctx.inputs.n_docs
    result = JobResult(meter.wall_s, rows, n, identical, rows, meter.cpu_s)
    return result, JobTrace(meter.wall_s, list(acc.value))


_TABLES = ("extracted", "lineage", "metrics")


class ResumeWorkload:
    """Full crawl mix through ``run_extract_job(salt_mode="selective")`` into
    a catalog whose lineage already covers 3/4 of the urls."""

    name = "resume_commit"

    def __init__(self, per_residue: int):
        self.per_residue = per_residue

    def rows(self, seed: int):
        return inp.documents(inp.doc_ids(inp.ALL_RESIDUES, self.per_residue), self.name, seed)

    def prepare(self, spark, inputs, rows, work_dir: str, cpus: int) -> Context:
        """Commit the first 3/4 of the seeded row order: the pre-state, and
        the workload's warm pass."""
        covered = [(url_of(d),) for d, _, _ in rows[: len(rows) * 3 // 4]]
        covered_path = os.path.join(work_dir, "covered")
        spark.read.parquet(inputs.pages).join(
            F.broadcast(spark.createDataFrame(covered, "url string")), "url", "left_semi"
        ).coalesce(inp.N_FILES).write.mode("overwrite").parquet(covered_path)
        root = os.path.join(work_dir, "catalog")
        run_extract_job(
            spark, spark.read.parquet(covered_path), root,
            salt_partitions=cpus, salt_mode="selective",
        )
        snapshot = {t: ManifestTable(os.path.join(root, t)).snapshots for t in _TABLES}
        return Context(inputs, cpus, root, len(rows) - len(covered), snapshot)

    @staticmethod
    def restore(ctx: Context):
        """Put the catalog back to its pre-state (untimed)."""
        for t, manifest in ctx.snapshot.items():
            tbl = ManifestTable(os.path.join(ctx.root, t))
            keep = {os.path.basename(s["path"]) for s in manifest}
            for d in os.listdir(tbl.data_dir):
                if d not in keep:
                    shutil.rmtree(os.path.join(tbl.data_dir, d))
            with open(tbl.manifest_path, "w") as f:
                json.dump(manifest, f)

    def warm(self, spark, ctx: Context, meter: Meter) -> list[JobResult]:
        """Golden check of the pre-state commit, then the warm jobs."""
        committed = spark.read.parquet(
            os.path.join(ctx.root, "extracted", "data", "commit=0")
        )
        rows, identical = golden_counts(committed.select("url", "text"), ctx.inputs.golden)
        n = ctx.inputs.n_docs - ctx.n_new
        pre = JobResult(0.0, rows, n, identical, rows)
        return [pre] + [self.job(spark, ctx, meter) for _ in range(WARM_JOBS)]

    def _run(self, spark, ctx: Context, meter: Meter):
        self.restore(ctx)
        with meter:
            commit_id, _ = run_extract_job(
                spark, spark.read.parquet(ctx.inputs.pages), ctx.root,
                salt_partitions=ctx.cpus, salt_mode="selective",
            )
        committed = spark.read.parquet(
            os.path.join(ctx.root, "extracted", "data", f"commit={commit_id}")
        )
        rows, identical = golden_counts(committed.select("url", "text"), ctx.inputs.golden)
        result = JobResult(meter.wall_s, rows, ctx.n_new, identical, rows, meter.cpu_s)
        return result, commit_id

    def job(self, spark, ctx: Context, meter: Meter) -> JobResult:
        return self._run(spark, ctx, meter)[0]

    def trace_round(self, spark, ctx: Context, meter: Meter) -> dict:
        """Nested plan prefixes, each into ``noop``: scan, + Arrow identity,
        + lineage anti-join, + selective salting, + extraction (untraced and
        traced); then the whole job with ``ManifestTable.append`` timed."""
        self.restore(ctx)
        read = lambda: spark.read.parquet(ctx.inputs.pages)  # noqa: E731
        scan_s = noop(read())
        pages = read()
        ident_s = noop(pages.mapInPandas(identity_batches, schema=pages.schema))

        lineage = ManifestTable(os.path.join(ctx.root, "lineage")).read(spark)
        pending_s, n_pending = noop(pending_pages(read(), lineage), count=True)
        pending = pending_pages(read(), lineage)
        t0 = time.perf_counter()
        salted = selective_salt(pending, ctx.cpus)  # runs its counting jobs
        salt_call_s = time.perf_counter() - t0
        salted_s = noop(salted)

        with meter:
            rows, identical = golden_counts(extract_pages(salted), ctx.inputs.golden)
        untraced = JobResult(meter.wall_s, rows, ctx.n_new, identical, rows, meter.cpu_s)
        traced, traced_job = _traced_job(spark, salted, ctx, meter)

        appends: list[float] = []
        orig_append = ManifestTable.append

        def timed_append(tbl, *args, **kwargs):
            t = time.perf_counter()
            try:
                return orig_append(tbl, *args, **kwargs)
            finally:
                appends.append(time.perf_counter() - t)

        ManifestTable.append = timed_append
        try:
            full, commit_id = self._run(spark, ctx, meter)
        finally:
            ManifestTable.append = orig_append
        written = _commit_files(ctx.root, commit_id)
        return {
            "scan_s": scan_s,
            "arrow_s": ident_s - scan_s,
            "anti_join_s": pending_s - scan_s,
            "skip_frac": 1 - n_pending / ctx.inputs.n_docs,
            "selective_salt_s": salt_call_s + salted_s - pending_s,
            "salted_rows_frac": _hot_rows(pending, ctx.cpus) / max(n_pending, 1),
            # the first append executes the extraction plan: take off the
            # same plan's run into noop
            "catalog_write_s": appends[0] - untraced.wall_s + sum(appends[1:]),
            "catalog_bytes_per_input_byte": sum(written.values()) / ctx.inputs.input_bytes,
            "catalog_files": len(written),
            "untraced": untraced,
            "traced": traced,
            "trace": traced_job,
            "full": full,
        }


def _hot_rows(pending, salt_partitions: int) -> int:
    """Rows ``selective_salt`` moves through its exchange, by its documented
    rule and defaults: hosts with more than total / salt_partitions rows,
    at most the 64 largest."""
    host = F.regexp_extract(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/]+)", 1)
    counts = [r["count"] for r in pending.groupBy(host.alias("h")).count().collect()]
    threshold = sum(counts) / salt_partitions
    hot = sorted((c for c in counts if c > threshold), reverse=True)[:64]
    return sum(hot)


def _commit_files(root: str, commit_id: int) -> dict[str, int]:
    """Parquet files (path -> bytes) the commit wrote into every table."""
    out = {}
    for t in _TABLES:
        d = os.path.join(root, t, "data", f"commit={commit_id}")
        for dirpath, _, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getsize(p)
    return out


WORKLOADS = {
    "html_crawl": ExtractWorkload("html_crawl", inp.HTML_RESIDUES, per_residue=250),
    "ocr_payloads": ExtractWorkload("ocr_payloads", inp.OCR_RESIDUES, per_residue=200),
    "resume_commit": ResumeWorkload(per_residue=100),
}


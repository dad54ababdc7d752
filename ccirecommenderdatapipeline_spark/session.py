"""SparkSession construction, tuned for the scale envelope.

The reference parallelizes per-symbol with ProcessPoolExecutor(cpu_count-1)
(/root/reference/daily_function.py:974-975); here parallelism is native
partition parallelism, so the only knobs that matter are shuffle sizing and
adaptive execution. Settings chosen for local[32] testing but written so the
same code runs on a 1000-executor cluster:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting means
  the static ``spark.sql.shuffle.partitions`` is a ceiling, not a fixed cost.
- Arrow on: every Pandas-UDF boundary (MAD fallback, multimodal decode) moves
  columnar batches, not pickled rows.
- broadcast threshold left at default 10 MB; dimension tables (conditions
  grid, symbol list, holiday calendar) are broadcast explicitly at call sites
  so intent survives statistics loss at 100 TB.
- codegen cache of 1000 classes (Spark's default is 100):
  one daily batch (12 tables plus the 4,860-combo grid) cycles 152-158
  distinct generated classes through that LRU (a cold day's compile
  count), so at 100 nearly every class was evicted before the next day
  reused it and a warm day recompiled ~138 of them. At 1000 a warm day
  compiles none, and spends less in GC. The cache is JVM-wide and sized
  once, by the first session's conf.
- persisted views sized by their bytes
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``): Spark's
  default pins a cached plan's final shuffle at
  ``spark.sql.shuffle.partitions`` partitions whatever its size, so on 4
  cores a day's two simulator stages (``agged_years_view`` and
  ``best_return_full_grid``, each reading the symbol-partitioned cci cache
  with no shuffle) ran 4 Python tasks each, and every Python task pays
  0.12-0.23 s of CPU for its worker set-up. With AQE coalescing the
  cache's shuffle like any other, ``cci_view`` and ``agged_years_view``
  are 1 partition at sf0.001 and 2 at sf0.01, and stay 4 at sf0.1. On a
  4-core host a traced perfbench day ran 48 tasks instead of 102 (45
  jobs either way), and ``daily_batch`` ``pass_cpu_s`` went from a
  median 11.32 s to 8.23 s over 10 seeds.
  Lowering ``spark.sql.shuffle.partitions`` or coalescing the kernel's
  input would cap sf0.1's parallelism; this does not.
- WindowExec logs at ERROR: its "No Partition Defined for Window" warning
  fires for every unpartitioned window, each of which
  ``tools/audit_plans.py``'s ``bounded_window`` check already adjudicates.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def get_spark(app_name: str = "ccirecommenderdatapipeline-spark") -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    $SPARK_GRAFT_CPUS (default 32) sizes both ``local[]`` and the shuffle
    partition count. Master resolution: $SPARK_GRAFT_MASTER wins (so
    `--master yarn` deployments export it and the builder does not
    silently pin the job to the driver node with a hardcoded local[]),
    else local[$CPUS]. NB getOrCreate(): if a session already exists in
    this process, its conf wins and this call's app_name is ignored —
    Spark semantics, relied on by the shared-session test fixture."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .getOrCreate()
    )
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec", log4j.Level.ERROR)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled in this JVM so far (Spark's
    ``CodegenMetrics``); a delta over a warm pass shows codegen-cache
    thrash."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _in_job_group(spark: SparkSession, label: str, fn: Callable[[], T]) -> tuple[T, str]:
    """``fn()`` under a job group of its own, and that group's id; the
    caller's group and description are restored after."""
    sc = spark.sparkContext
    group = f"{label.replace(' ', '-')}-{uuid.uuid4().hex}"
    props = ("spark.jobGroup.id", "spark.job.description")
    outer = [sc.getLocalProperty(p) for p in props]
    sc.setJobGroup(group, label)
    try:
        out = fn()
    finally:
        for p, v in zip(props, outer):
            sc.setLocalProperty(p, v)
    return out, group


def build_jobs(spark: SparkSession, build: Callable[[], T]) -> tuple[T, int]:
    """``build()`` and the number of Spark jobs it ran, counted under a
    job group of its own. A lazy plan build runs none; each job is an
    eager site that a plan build pays before the query executes."""
    out, group = _in_job_group(spark, "plan build", build)
    return out, len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def run_tasks(spark: SparkSession, run: Callable[[], T]) -> tuple[T, int]:
    """``run()`` and the number of tasks its Spark jobs ran, counted under
    a job group of its own. A stage skipped because its shuffle output
    was reused runs none. The listener bus is drained first, since the
    status store counts a task only once its end event is processed."""
    sc = spark.sparkContext
    out, group = _in_job_group(spark, "execution", run)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    tasks = 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            stage_info = tracker.getStageInfo(stage)
            tasks += stage_info.numCompletedTasks if stage_info else 0
    return out, tasks

"""SparkSession factory with scale-aware defaults.

Local-mode testing, cluster-shaped configuration: every knob here is one we
would also set on a 1000-executor cluster (AQE, skew-join handling, Arrow
batch sizing for MB-scale ``html`` rows), plus local-only conveniences
(driver memory, UI off).

Python workers fork from the ``feast_spark.pydaemon`` daemon
(``spark.python.daemon.module``). It keeps PySpark's per-task
``importlib.invalidate_caches()`` from re-reading unchanged zip archives
such as ``pyspark.zip``, a fixed cost of 0.1-0.3 CPU-s on every Python
task (text kernel, dedupe, similarity, ODFVs). It is a local-mode
setting: ``get_spark`` always builds a ``local[...]`` master and puts the
package root on the workers' ``PYTHONPATH`` before the JVM starts.
``BENCH/run.sh`` does not set it: there the engine ships with
``--py-files``, a zip that joins the executors' ``sys.path`` only per task,
so ``python -m feast_spark.pydaemon`` would fail when the daemon starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS_PER_CORE = 4

# html rows are 1-64 KiB; bound Python-worker memory on the Arrow boundary
# (SURVEY.md §4.2.4). 2048 rows * 64 KiB ≈ 128 MiB worst-case per batch.
ARROW_MAX_RECORDS_PER_BATCH = 2048


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``FEAST_SPARK_DRIVER_MEM`` is unset:
    half of physical RAM, at most 32g. In local mode the driver JVM is
    the whole cluster, and a heap sized past the host's memory lets it
    grow until the kernel OOM-kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "feast_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cores=None`` uses ``local[*]``. On a real cluster this function is
    bypassed — ``spark-submit`` provides the session and these configs move
    to ``spark-defaults.conf`` / submit args; see BENCH/run.sh.
    """
    # make the package importable in Python workers regardless of cwd —
    # local-mode equivalent of `spark-submit --py-files fx.zip` (workers
    # inherit the driver process env, including PYTHONPATH)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root

    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    n_cores = cores or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = n_cores * DEFAULT_SHUFFLE_PARTITIONS_PER_CORE

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("FEAST_SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # INT64 micros, not legacy INT96: the Iceberg parquet spec forbids
        # INT96, and pyarrow round-trips (compaction) preserve micros
        # exactly while INT96 resurfaces as unreadable-nanos
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Spark sizes Tungsten memory pages up to 64 MiB from (heap /
        # cores); on-heap pages are zero-initialized Java arrays, so with
        # many-core executors + high shuffle-partition counts every small
        # sort/window task pays ~100 MiB of memset + GC churn before
        # touching a row. Measured here (32 threads, 128 partitions,
        # 135k-row window stage): 366 CPU-s with default paging vs 9
        # CPU-s at 4 MiB pages. Large partitions at 100 TB amortize page
        # count, so 4 MiB stays safe cluster-side too.
        .config("spark.buffer.pageSize", "4m")
        .config("spark.python.daemon.module", "feast_spark.pydaemon")
        # off: each Column/functions call would fetch the session, a conf
        # and a JVM class and set PySparkCurrentOrigin, 4-6 py4j calls
        # that record a feast_spark frame, not the user's. PySpark errors
        # then lose their DataFrame query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

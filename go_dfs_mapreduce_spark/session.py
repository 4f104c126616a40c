"""SparkSession factory.

Tuned for the 100 TB design point while remaining test-friendly on
``local[N]``: AQE on (runtime coalescing, skew-join splitting), Arrow for
any Python exchange, sort-merge-join fallback with broadcast for small dims.

The reference hand-rolls the physical layer these configs replace: bounded
~16-task admission windows (cl/dfs_actions.go:143-151), locality+load mapper
placement (cn/mr_actions.go:29-52), and sort-based shuffle with spill
(sn/mr_actions.go:425-485). Spark provides all of it natively.

Python workers fork from ``pydaemon`` instead of ``pyspark.daemon``. On
CPython 3.11 every task starts with ``importlib.invalidate_caches()``,
which makes each of a worker's zipimporters re-read ``pyspark.zip``'s
whole directory; on a 4-vCPU VM that was a median 236-260 ms of worker CPU
per task before any user code ran. ``pydaemon`` re-reads an archive only
when it changed, which brought it to 23-25 ms. The daemon is set through
the static conf ``spark.python.daemon.module``, so it applies only to
sessions ``get_spark`` builds, never to one another caller created. On
Python >= 3.12 it installs nothing and is the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# directory holding the package, so workers can import the daemon module
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "go_dfs_mapreduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    At cluster scale the same configs apply unchanged; only ``master`` and
    memory sizing come from the deployment. AQE re-plans shuffle partition
    counts at runtime, so ``shuffle_partitions`` is an upper bound for the
    small-SF test runs, not a hand-tuned constant.

    A session built here starts its Python workers from ``pydaemon`` and
    appends the package root to ``spark.executorEnv.PYTHONPATH`` (after
    any value in ``extra_conf``), so the workers import it from any cwd.
    An existing session is returned as it is, with its own daemon.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        # local[N, 2]: allow one task retry like a real cluster (bare
        # local[N] pins maxFailures=1 and ignores spark.task.maxFailures)
        SparkSession.builder.master(f"local[{cpus},2]")
        .appName(app_name)
        # --- determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime coalesce, skew-join split, ---
        # --- dynamic join-strategy switch (sort-merge -> broadcast) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Python exchange is Arrow-batched, never row-at-a-time ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: 128 MiB splits, like the reference's 64 MiB ---
        # --- chunks but matched to parquet row-group economics ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # static config — settable only here; used by bucketed saveAsTable
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        # cluster semantics for task failure: retries are the F14 story —
        # the reference *reports* failed mappers/reducers and degrades;
        # Spark re-runs the task and the progress watcher reports it
        # (actual retry count comes from the local[N,2] master above)
        .config("spark.task.maxFailures", "2")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # the driver's events.parquet stores TIMESTAMP(NANOS) which Spark
        # rejects by default; read as long and convert in tables.table()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    extra_conf = dict(extra_conf or {})
    paths = [p for p in extra_conf.pop(WORKER_PYTHONPATH, "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        paths.append(PACKAGE_ROOT)
    builder = (
        # workers fork from pydaemon, which stops per-task zip re-reads;
        # the package root on the workers' path keeps it importable
        # whatever the cwd
        builder.config("spark.python.daemon.module", "go_dfs_mapreduce_spark.pydaemon")
        .config(WORKER_PYTHONPATH, os.pathsep.join(paths))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

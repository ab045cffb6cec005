"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the configs below are the ones that
also matter on a real multi-executor cluster (AQE, shuffle partition sizing,
Arrow for pandas UDFs).

One setting is for local masters only (``local_worker_conf``): the Python
worker daemon. Every ``mapInArrow``/``applyInPandas`` task runs in a
PySpark worker, and before each task PySpark calls
``importlib.invalidate_caches()``. With pyspark imported from
``$SPARK_HOME/python/lib/pyspark.zip`` and the spark-core jar on the path,
that call re-reads the zip's directory once per imported sub-package and
the 15 MB jar's twice: 0.12-0.23 CPU-s per task on Python 3.11 (4-core
machine) before any engine code runs. The daemon ``similaripy_spark.pyworker``
imports pyspark from the unpacked ``$SPARK_HOME/python`` of the same
install instead, drops the jar from the path and then runs the stock
``pyspark.daemon``; the call then costs under 1 ms. Local workers can
import the package when the daemon starts because its root is put on
their ``PYTHONPATH``. Other masters keep the stock daemon: their executors
may get the package only through ``--py-files``, which a worker adds to
its path per task, after the daemon has started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_worker_conf(master: str, repo_root: str, py_path: str) -> dict:
    """Worker settings for ``master``: for ``local[...]`` and
    ``local-cluster[...]`` (the executors run on the driver's machine and
    see its files) the package root goes first on the workers' ``PYTHONPATH``
    and the Python daemon is ``similaripy_spark.pyworker``; any other
    master gets none and keeps ``pyspark.daemon``."""
    if not master.startswith(("local[", "local-cluster[")):
        return {}
    return {
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            p for p in (repo_root, py_path) if p
        ),
        "spark.python.daemon.module": "similaripy_spark.pyworker",
    }


def get_spark(
    app_name: str = "similaripy_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local core count (``local[N]``); default from
    ``$SPARK_GRAFT_CPUS`` or all cores.
    shuffle_partitions: defaults to ``2 * parallelism`` — small enough to avoid
    tiny-task overhead at test scale, and AQE coalesces further at runtime; on
    a real cluster you would size this to cluster cores instead.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * parallelism, 8)

    # SPARK_GRAFT_MASTER overrides the master URL verbatim — e.g.
    # ``local-cluster[4,2,12288]`` runs a real multi-JVM standalone
    # mini-cluster (4 worker JVMs x 2 cores), the structurally faithful
    # stand-in for a multi-executor cluster on one box: shuffles cross
    # JVM boundaries over netty and each executor owns its own heap/GC,
    # unlike local[N]'s single shared JVM.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{parallelism}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # 128 MB: the similarity kernel's whole no-shuffle-pair-stream plan
        # hinges on the m2 side broadcasting; the default 10 MB (and the
        # previous 64 MB) dropped it back to a sort-merge join one data-size
        # step up. A ~10^2 MB broadcast is well inside executor budgets
        # (guide §3.1); override per deployment via extra_conf.
        .config("spark.sql.autoBroadcastJoinThreshold", str(128 * 1024 * 1024))
        # let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold (guide §3.1/§9): no sort of either side; every
        # join key here is fine-grained (term, doc, (row,col)) so a build-
        # side partition fitting memory is the common case, and AQE still
        # falls back per-partition when it does not.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_conf = local_worker_conf(
        master, repo_root, os.environ.get("PYTHONPATH", "")
    )
    for k, v in {**worker_conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

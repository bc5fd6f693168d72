"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the configs below are the ones that
also matter on a real multi-executor cluster (AQE, shuffle partition sizing,
Arrow for pandas UDFs). Nothing here is local-mode-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    # unlike local[N]'s single shared JVM. Executors import the package
    # themselves, so PYTHONPATH must reach them via executorEnv.
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
        # 128 MB: also the similarity kernel's m2 block budget — s_plus
        # broadcasts m2 as CSR in the fewest column blocks under this size
        # (one block below it). The default 10 MB would split a mid-sized
        # m2 into blocks that each rescan m1. A ~10^2 MB broadcast is well
        # inside executor budgets (guide §3.1); override per deployment via
        # extra_conf.
        .config("spark.sql.autoBroadcastJoinThreshold", str(128 * 1024 * 1024))
        # let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold (guide §3.1/§9): no sort of either side; every
        # join key here is fine-grained (term, doc, (row,col)) so a build-
        # side partition fitting memory is the common case, and AQE still
        # falls back per-partition when it does not.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    if master.startswith("local-cluster"):
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        py_path = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            repo_root + (os.pathsep + py_path if py_path else ""),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

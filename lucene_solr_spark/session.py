"""SparkSession factory tuned for this engine (local mode and cluster)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app="lucene_solr_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a session with the engine's defaults.

    On a real cluster, `master`/memory come from spark-submit; everything
    here is safe to set in both modes.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sp = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Local mode: shuffle files on tmpfs when available — the pack
    # shuffle is GB-scale and sandbox disks are slow; on a real cluster
    # spark.local.dir comes from the cluster config instead.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    if "SPARK_GRAFT_MASTER" in os.environ:
        builder = (builder.master(os.environ["SPARK_GRAFT_MASTER"])
                   .config("spark.driver.memory", mem))
    elif SparkSession.getActiveSession() is None:
        builder = (builder.master(f"local[{cores}]")
                   .config("spark.driver.memory", mem))
    # Python workers import the package from its parent directory, so a
    # driver launched from any cwd works without exporting PYTHONPATH
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inherited = os.environ.get("PYTHONPATH", "")
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join([root] + [p for p in inherited.split(os.pathsep)
                                  if p and p != root]))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark

"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]`` single-JVM; the configs below are the ones
that matter at cluster scale too (AQE, skew-join handling, Arrow batching).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "seismic-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (or all).  On a real cluster
    the master/executor settings come from spark-submit; everything set here
    is cluster-safe.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cores)
    # The preloaded daemon module (spark.python.daemon.module below) is
    # spawned as `python -m seismic_spark.daemon` with the DRIVER's env —
    # put the package root on PYTHONPATH before the JVM launches so the
    # daemon resolves even when the driver was started from another cwd
    # with only sys.path pointing here.
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _pkg_root + (os.pathsep + _pp if _pp else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # preloaded-imports worker daemon (seismic_spark/daemon.py): forked
        # workers inherit numpy/pandas/pyarrow already imported, removing
        # the per-worker import storm from the session's first Python-UDF
        # stage (cluster-safe — the module ships with the package)
        .config("spark.python.daemon.module", "seismic_spark.daemon")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # shuffle scratch: prefer tmpfs when available (sandbox disk ~400 MB/s
    # is the bottleneck otherwise; cluster nodes have local NVMe)
    if os.path.isdir("/dev/shm") and not os.environ.get("SPARK_LOCAL_DIRS"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    # NOTE (r6 pass 3, measured and rejected): pre-forking the Python worker
    # pool at session creation (a trivial cores-wide mapInArrow job) was
    # A/B'd fresh-process ABBA ×8 — the warm job itself cost 6–8 s of
    # session startup under throttled page supply while the first real UDF
    # stage got no faster (build-line medians 17.3 s with vs 16.2 s
    # without): the recurring cost is per-stage page faulting of fresh
    # Arrow/pandas buffers, not worker forking.  OPTIMIZATION_r06.md §20.
    return builder.getOrCreate()


def ensure_min_parallelism(df, key: str | None = None):
    """Redistribute an under-split DataFrame to the session's parallelism.

    A scan of one file (or a handful under ``maxPartitionBytes``) hands every
    downstream narrow stage a single task — event-log measured on this
    engine: whole tokenize/shingle/hash pipelines in one multi-second task
    at bench scale (guide §2.5 input skew / §6 split sizing).  When the
    current partition count is below the cluster's default parallelism, one
    cheap exchange of the raw rows buys a cores-wide map stage; well-split
    inputs (any at-scale corpus) return unchanged.  ``key`` hash-partitions
    by that column (keeps each key's rows co-located and in stable relative
    order — required where downstream f64 aggregation order must not move);
    None uses round-robin.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, F.col(key)) if key else df.repartition(target)

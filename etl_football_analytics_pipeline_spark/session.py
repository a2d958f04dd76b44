"""SparkSession factory tuned for this engine.

Local testing runs a single JVM (``local[N]``); the configuration is
chosen so the same code degrades gracefully to a 1000-executor cluster:

- AQE on (runtime coalescing of shuffle partitions, skew-join split),
- UTC session timezone (bit-identical timestamp semantics vs the
  DuckDB oracle, which is UTC-naive),
- Arrow enabled for the pandas-UDF extension operators,
- modest default shuffle partitions for local mode — on a real cluster
  AQE re-derives partitioning from `advisoryPartitionSizeInBytes`, so
  the literal number only matters for the non-AQE fallback.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark-graft-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config.

    When a SparkContext is already running, `getOrCreate()` returns its
    session and only runtime SQL confs take effect; every other
    `extra_conf` entry (e.g. `spark.eventLog.*`) would be dropped
    silently. Raises RuntimeError naming each such key whose value the
    running context does not already hold."""
    # spark.executorEnv.* does NOT apply in local mode — python workers
    # fork from the driver-launched JVM and inherit ITS environment, so
    # the single-BLAS-thread policy must be in os.environ before the
    # JVM starts. Kept alongside executorEnv (below) for real clusters.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet scans: vectorized reader + pushdown are defaults; keep
        # explicit so a misconfigured cluster profile can't silently
        # disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # local mode reads small SINGLE-FILE tables on many cores:
        # Spark's 128m split default then puts an entire table in one
        # scan task, serializing every scan-side map (measured ~2x on
        # the fact-table queries). 1m splits spread larger scans; AQE
        # re-coalesces post-shuffle so tiny partitions don't cascade.
        # Tables that fit one split (this or openCostInBytes, whichever
        # is smaller) read as one partition and plan no shuffle where
        # the engine reads them (`utils.coalesce_small`).
        # Non-local masters keep the 128m default — at cluster scale
        # split count is governed by the file layout, not this knob.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES",
                "1m" if master.startswith("local") else "128m",
            ),
        )
        # local mode: the driver JVM IS the whole cluster (32 executor
        # threads + all shuffle/broadcast/cache state share one heap) —
        # size it like an executor fleet, not like a driver
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # one BLAS thread per python worker: N workers × multithreaded
        # OpenBLAS oversubscribes N× and thrashes; parallelism comes
        # from partitions, not BLAS threads
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    reused = SparkContext._active_spark_context is not None
    spark = builder.getOrCreate()
    if reused:
        held = spark.sparkContext.getConf()
        dropped = sorted(
            k for k, v in extra_conf.items()
            if not spark.conf.isModifiable(k) and held.get(k) != v
        )
        if dropped:
            raise RuntimeError(
                f"get_spark: a SparkContext is already running, so "
                f"{dropped} cannot take effect; stop it first"
            )
    return spark

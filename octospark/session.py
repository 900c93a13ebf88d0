"""SparkSession construction with scale-appropriate defaults, and the
one lineage cut of the operator modules.

One place to set every config that matters at 100 TB so tests, bench and
jobs agree: AQE (runtime re-plan + skew-join), Arrow batching for pandas
UDFs, UTC session timezone (determinism), bounded broadcast threshold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS_PER_BATCH = 8192  # ~10 MB of html per batch; big enough
# to amortize Arrow round-trips, small enough to spill-proof executors


def get_spark(
    app_name: str = "octospark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. Executor-side BLAS threads are pinned to 1 so task
    parallelism is the only parallelism (the analog of the reference's
    thread-pool capping, /root/reference/src/octopy/segment.py:63-68).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
        # NOTE: the driver test tables are single-row-group parquet, so
        # lowering spark.sql.files.maxPartitionBytes cannot widen their
        # scans (verified: splits of one row group yield empty tasks);
        # compute-heavy stages repartition explicitly instead.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # a materialize cut's checkpoint files go once its RDD is
        # garbage-collected; Spark keeps them by default
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and cut its lineage: the plans built on the
    result start from its stored rows, so an iterative operator's plan
    does not grow with its rounds and a shared sub-plan is computed once.

    With a checkpoint directory on the SparkContext (Spark's own
    ``--conf spark.checkpoint.dir=...``) the rows are written there by
    ``checkpoint``, and a lost executor costs nothing; the files are
    deleted when the checkpointed RDD is garbage-collected on the
    driver. Without one they are ``localCheckpoint`` blocks, which die
    with the executor that holds them.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)

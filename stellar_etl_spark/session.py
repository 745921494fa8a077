"""SparkSession factory.

One place for every scale-relevant config:
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  * Arrow on (vectorized pandas UDFs; the engine never runs per-row Python)
  * UTC session timezone (parity with the reference's UTC timestamps,
    /root/reference/internal/utils/main.go:41-47 TimePointToUTCTimeStamp)
  * two partition widths (EngineConfig):
      - batch shuffles start from ``cfg.shuffle_partitions`` partitions
        (``coalescePartitions.initialPartitionNum``), which AQE coalesces
        down to what the data needs;
      - streaming plans run without AQE: Spark turns it off for them, so
        ``spark.sql.shuffle.partitions`` is their width as is. It is the
        state width (one state-store instance per partition, each
        committed every micro-batch, rows or not) and the width of the
        shuffles inside ``foreachBatch``. It defaults to the session's
        cores (``defaultParallelism``): at local[4] 32 state partitions
        spent 5.3 s in state-store commits against 1.2 s of update on an
        export-sessions drain. A checkpoint pins the width it was first
        started with (offset metadata), so resuming an older checkpoint
        keeps its width; a new width needs a new checkpoint.
  * state store: the bundled HDFS-backed store. RocksDB (plus changelog
    checkpointing) is the cluster choice (docs/deploy.md), but at
    local[4] it measured 1.4-1.8x slower on the streaming drains
    (export-sessions 7.7-7.9 s vs 4.3-4.4 s, export-pairs 20.3-21.8 s vs
    15.0-15.6 s, both at 32 state partitions), so it is not the local
    default.
  * driver heap: half the host's physical memory unless SPARK_DRIVER_MEM
    says otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from stellar_etl_spark.config import DEFAULT, EngineConfig


def driver_memory() -> str:
    """``SPARK_DRIVER_MEM``, else half of ``MemTotal`` in
    ``/proc/meminfo``: in local mode the driver JVM also runs every
    task, and the other half is left to the Python workers and the OS.
    Spark's own 1g default where there is no ``/proc``."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"  # kB / 2 -> MB
    except OSError:
        pass
    return "1g"


def get_spark(cfg: EngineConfig = DEFAULT, app_name: str = "stellar_etl_spark") -> SparkSession:
    builder = (
        SparkSession.builder.master(cfg.master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # at 100 TB: bound per-task input so scan tasks stay ~128 MB
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
    )
    for k, v in cfg.extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # the state width needs the running context's cores; extra_conf wins
    state = cfg.extra_conf.get("spark.sql.shuffle.partitions",
                               spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(state))
    from stellar_etl_spark.deploy import ship_package

    ship_package(spark)  # --py-files equivalent: workers can import us
    return spark

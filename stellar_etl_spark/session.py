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
    checkpointing) is the cluster choice (docs/deploy.md). At local[4]
    under Spark's default checkpoint manager it measured 1.4-1.8x
    slower on the streaming drains (32 state partitions); under the
    FileSystem-based manager below, which its checkpoint uploads go
    through too, it is at par (245 k rows, medians of three: export-
    sessions 1.88 vs 1.79 s at 4 state partitions and 4.7 vs 4.0 s at
    32, export-pairs 16.7 vs 18.2 s at 4). Not faster here, so the
    local default stays the HDFS-backed store.
  * checkpoint file manager: Hadoop's ``FileSystem`` API on a local
    master (``checkpoint_manager``), Spark's default elsewhere. Without
    libhadoop, the local file system forks a child process (3-5 ms) for
    every ``readlink`` inside a FileContext rename, which is how
    Spark's default manager renames each ``offsets/``, ``commits/``,
    ``sources/`` and state-store delta file. Over ``FileSystem`` the
    same exists-check plus ``rename(2)`` stays in the JVM: at local[4]
    perfbench's sessions_drain read ``state.commit_ms`` 380 -> 28 ms
    and ``pipeline.wal_ms`` 61 -> 21 ms. ``.crc`` companions are still
    written and verified.
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


CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_manager(master: str) -> str | None:
    """The checkpoint file manager a session on `master` gets: the
    FileSystem-based one on a ``local``/``local[...]`` master, and
    Spark's own default (None: left unset) on a cluster."""
    return FS_CHECKPOINT_MANAGER if master.split("[")[0] == "local" else None


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
    # the state width and the checkpoint manager come from the running
    # context (its cores, its master); extra_conf wins
    state = cfg.extra_conf.get("spark.sql.shuffle.partitions",
                               spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(state))
    manager = cfg.extra_conf.get(CHECKPOINT_MANAGER_CONF,
                                 checkpoint_manager(spark.sparkContext.master))
    if manager is not None:
        spark.conf.set(CHECKPOINT_MANAGER_CONF, manager)
    from stellar_etl_spark.deploy import ship_package

    ship_package(spark)  # --py-files equivalent: workers can import us
    return spark

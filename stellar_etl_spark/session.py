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
  * local file system: on a local master the engine launches, Hadoop's
    checksummed ``LocalFileSystem`` over a raw layer that sets modes
    through java.nio (``local_filesystem``; ``jvm/`` holds its one
    class). Without libhadoop, stock Hadoop forks a ``chmod`` (2.5-3
    ms) for every file, ``.crc`` and directory it creates: ~13-18 per
    live turns epoch (sink part files, the committer's ``_temporary``,
    checkpoint logs) and ~26 per sessions epoch (state deltas too);
    here none (``tools/forks.py``). Checksums and modes are as before.
    The class is compiled once with the host's JDK (``javac``, 17 or
    newer) against Spark's jars and put on the driver's class path. A
    host without ``javac``, a JVM the engine did not launch and a
    cluster master keep stock Hadoop: slower, same results.
  * driver heap: half the host's physical memory unless SPARK_DRIVER_MEM
    says otherwise.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
from collections.abc import Callable, Mapping
from typing import Any

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from stellar_etl_spark.config import DEFAULT, EngineConfig

_log = logging.getLogger(__name__)


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


def _is_local(master: str) -> bool:
    return master.split("[")[0] == "local"


def checkpoint_manager(master: str) -> str | None:
    """The checkpoint file manager a session on `master` gets: the
    FileSystem-based one on a ``local``/``local[...]`` master, and
    Spark's own default (None: left unset) on a cluster."""
    return FS_CHECKPOINT_MANAGER if _is_local(master) else None


FS_IMPL_CONF = "spark.hadoop.fs.file.impl"
CLASSPATH_CONF = "spark.driver.extraClassPath"
LOCAL_FS_CLASS = "stellar_etl_spark.fs.ForkFreeLocalFileSystem"
_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")


def local_fs_classes() -> str:
    """The class directory holding ``LOCAL_FS_CLASS``, compiled on first
    use with the host's ``javac`` against Spark's own jars, and named by
    a digest of the source and those jars' names, so that a new source
    or a new Spark compiles afresh. ``javac`` writes into a temporary
    directory next to it, renamed into place in one step; when another
    process got there first, its classes stand. Raises OSError when
    there is no ``javac``, the build directory is not writable or the
    compile fails."""
    src = os.path.join(_JVM_DIR, "ForkFreeLocalFileSystem.java")
    jars = os.path.join(_find_spark_home(), "jars")
    with open(src, "rb") as f:
        key = f.read() + "\n".join(sorted(os.listdir(jars))).encode()
    classes = os.path.join(_JVM_DIR, "build", f"localfs-{hashlib.sha256(key).hexdigest()[:16]}")
    if os.path.isdir(classes):
        return classes
    javac = shutil.which("javac")
    if javac is None:
        raise OSError("no javac on PATH")
    os.makedirs(os.path.dirname(classes), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.dirname(classes))
    try:
        out = subprocess.run(
            [javac, "--release", "17", "-cp", os.path.join(jars, "*"), "-d", tmp, src],
            capture_output=True, text=True,
        )
        if out.returncode != 0:
            raise OSError(f"javac failed: {out.stderr.strip()}")
        try:
            os.replace(tmp, classes)
        except OSError:
            if not os.path.isdir(classes):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


def local_filesystem(master: str, extra_conf: Mapping[str, str]) -> dict[str, str]:
    """The confs that give a session on `master` the fork-free local
    FileSystem (``LOCAL_FS_CLASS``), or {} to keep stock Hadoop's.

    Only a ``local`` master gets it, and never over an ``extra_conf``
    that names its own ``fs.file.impl``. Before the engine launches the
    driver JVM, the class's directory (``local_fs_classes``) goes on the
    driver's class path. A JVM that is already running has a fixed class
    path, so there the class must already load (it does in a JVM that an
    earlier ``get_spark`` launched). When it cannot be had, one warning
    names the cause and the session runs stock Hadoop: slower, same
    results."""
    if not _is_local(master) or FS_IMPL_CONF in extra_conf:
        return {}
    try:
        if SparkContext._jvm is not None:
            SparkContext._jvm.org.apache.hadoop.conf.Configuration().getClassByName(
                LOCAL_FS_CLASS)
            return {FS_IMPL_CONF: LOCAL_FS_CLASS}
        if "PYSPARK_GATEWAY_PORT" in os.environ:
            raise OSError("the driver JVM was launched outside the engine")
        classes = local_fs_classes()
    except (OSError, Py4JError) as e:
        _log.warning("stock Hadoop local FileSystem (a chmod fork per file): %s", e)
        return {}
    cp = extra_conf.get(CLASSPATH_CONF)
    return {FS_IMPL_CONF: LOCAL_FS_CLASS,
            CLASSPATH_CONF: classes if not cp else classes + os.pathsep + cp}


def per_context(key: Any, build: Callable[[], Any]) -> Any:
    """``build()``, once per active SparkContext. Each Column node costs
    a py4j round trip to build, and a streaming writer would otherwise
    rebuild its expressions every micro-batch. The values are kept on
    the context object itself, so they go with it; a stopped context is
    never the active one, so a new context builds its own."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    built = sc.__dict__.setdefault("_stellar_built", {})
    if key not in built:
        built[key] = build()
    return built[key]


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
    conf = {**cfg.extra_conf, **local_filesystem(cfg.master, cfg.extra_conf)}
    for k, v in conf.items():
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

"""Exactly-once multi-table sink: idempotent commit-per-epoch.

The reference achieves effective idempotence by *deterministic batch
file naming* — one output file per (range, type)
(/root/reference/cmd/command_utils.go:105-111) plus a comment-level
invariant that overlapping batches would duplicate records
(/root/reference/internal/input/changes.go:171-173). We make the
invariant structural, Iceberg-style:

  * data for epoch E of table T lands at  <root>/data/T/epoch=E/
    (written with mode=overwrite — a replayed epoch overwrites its own
    files, never appends);
  * the COMMIT POINT is an atomic manifest rename to
    <root>/_commits/E.json covering ALL tables of the epoch —
    multi-table fan-out is all-or-nothing per epoch (the reference
    writes ~10 tables per batch with no atomicity,
    cmd/export_ledger_entry_changes.go:295-377);
  * readers (`read_table`) only see epochs that have a manifest, so a
    crash between data write and commit is invisible;
  * on restart Spark replays the last uncommitted-in-checkpoint epoch;
    `write_epoch` detects an existing manifest and (re)writes
    deterministically — same input, same epoch id, same rows.

The manifest also records what each epoch did, without a Spark job of
its own (the north_rule's per-partition lineage + per-micro-batch
metrics):

  * per table, `rows` and `partitions` (write-task partition -> rows),
    read from the Parquet footers of the part files the table write
    just produced — metadata reads on the driver;
  * for a stream that carries `_source_file` (source.py), `lineage`:
    the epoch's distinct `input_files` and input `rows`, observed
    (`DataFrame.observe`) by the table writes themselves.

On a cluster this class is swapped for the Iceberg writer
(an Iceberg streaming sink has the same epoch-id semantics via
checkpointed batch ids); the commit protocol here exists so the
engine is self-contained in this sandbox.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections.abc import Callable, Mapping, Sequence

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


# Hadoop's committer writes a `_SUCCESS` marker (plus its `.crc`) per
# job; the manifest rename is this sink's commit point and nothing reads
# the marker, so the sink's writes turn it off.
_SUCCESS_MARKER = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


class EpochCommitSink:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- commit log ---------------------------------------------------------

    def _manifest_path(self, epoch_id: int) -> str:
        return os.path.join(self.root, "_commits", f"{epoch_id:020d}.json")

    def committed(self, epoch_id: int) -> bool:
        return os.path.exists(self._manifest_path(epoch_id))

    def committed_epochs(self) -> list[int]:
        d = os.path.join(self.root, "_commits")
        return sorted(int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json"))

    # -- write path ---------------------------------------------------------

    def write_epoch(
        self,
        epoch_id: int,
        tables: Mapping[str, DataFrame],
        lineage: Callable[[], dict] | None = None,
    ) -> bool:
        """Write all tables for one epoch, then commit atomically.

        Each table's manifest entry carries its `rows` and `partitions`
        from the footers of the files its write produced. `lineage` is
        called after the writes (whose pass it may observe) and before
        the commit; its dict becomes the manifest's `lineage`.

        The manifest's `committed_at` (epoch seconds) marks the START of
        the epoch's write, before any table is written; `write_ms` is
        the time from that stamp to just before the manifest is
        written and renamed. The epoch is durable, and visible to
        readers, at about `committed_at + write_ms / 1000`.

        Returns False if the epoch was already committed (idempotent
        replay after checkpoint restart — the exactly-once guarantee).

        On that replay path one table is still evaluated through the
        noop sink (all partitions, JVM-side, nothing written): Spark
        4.1 validates that every micro-batch commits
        its state-store partitions IN THE CURRENT RUN
        (``spark.sql.streaming.stateStore.commitValidation.enabled``
        defaults to true), and a foreachBatch that returns without
        touching the DataFrame leaves those commits at 0 — the resumed
        query then dies with STATE_STORE_COMMIT_VALIDATION_FAILED
        (SQLSTATE XXKST, "Expected N commits but got 0") even though
        the prior attempt's state deltas are durable. Re-evaluating
        recommits the deterministic state versions and satisfies the
        validator; the sink output stays write-once. Every table is a
        transform of the same micro-batch, whose evaluation is what
        commits the state, so one evaluation serves them all (a table
        that limits or samples its input must not come first).
        """
        if self.committed(epoch_id):
            next(iter(tables.values())).write.format("noop").mode("overwrite").save()
            return False
        started = time.time()
        manifest: dict = {
            "epoch_id": epoch_id,
            "committed_at": started,
            "tables": {},
            "lineage": {},
        }
        for name, df in tables.items():
            path = os.path.join(self.root, "data", name, f"epoch={epoch_id}")
            df.write.mode("overwrite").option(_SUCCESS_MARKER, "false").parquet(path)
            parts = _footer_rows(path)
            manifest["tables"][name] = {
                "path": path,
                "rows": sum(parts.values()),
                "partitions": parts,
            }
        if lineage is not None:
            manifest["lineage"] = lineage()
        manifest["write_ms"] = (time.time() - started) * 1000.0
        # atomic commit: write-then-rename within the same filesystem
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_commits"), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, self._manifest_path(epoch_id))
        return True

    # -- compaction (rewrite_data_files analog) ------------------------------

    def _snapshot_dir(self) -> str:
        return os.path.join(self.root, "_snapshots")

    def latest_snapshot(self) -> dict | None:
        """The newest compaction snapshot manifest, or None."""
        d = self._snapshot_dir()
        if not os.path.isdir(d):
            return None
        names = sorted(f for f in os.listdir(d) if f.endswith(".json"))
        if not names:
            return None
        with open(os.path.join(d, names[-1])) as f:
            return json.load(f)

    def compact(
        self, spark: SparkSession, upto: int | None = None, target_files: int = 1
    ) -> dict | None:
        """Rewrite the small per-epoch files of every table into one
        compacted dataset per table — the Iceberg rewrite_data_files
        analog a commit-per-epoch streaming sink needs operationally
        (a year of 5-minute epochs is ~10^5 directories per table).

        Protocol: compacted data (rows unchanged, epoch_id column
        preserved so update-mode folds keep working) lands under
        snapdata/<table>/upto=<E>; the COMMIT POINT is the atomic
        rename of _snapshots/<E>.json. `read_table` then resolves to
        snapshot + epochs newer than it, so a reader sees either the
        pre- or the post-compaction layout, never a mix. Old epoch
        data dirs become garbage collectable via `vacuum()`; the epoch
        manifests in _commits/ are kept — they are metadata-sized and
        carry the lineage history. Crash-safe at every step: an
        unrenamed snapshot manifest is invisible, a crash after rename
        leaves vacuum pending (re-runnable). Returns the snapshot
        manifest, or None when there is nothing to compact."""
        prev = self.latest_snapshot()
        floor_e = prev["upto"] if prev else -1
        epochs = [e for e in self.committed_epochs() if e > floor_e]
        if upto is not None:
            epochs = [e for e in epochs if e <= upto]
        if len(epochs) < 2 and prev is None:
            return None
        hi = max(epochs) if epochs else floor_e
        snap: dict = {"upto": hi, "tables": {}, "compacted_epochs": epochs,
                      "committed_at": time.time()}
        tables = set()
        for e in epochs:
            with open(self._manifest_path(e)) as f:
                tables.update(json.load(f)["tables"].keys())
        if prev:
            tables.update(prev["tables"].keys())
        for name in sorted(tables):
            parts = [
                os.path.join(self.root, "data", name, f"epoch={e}")
                for e in epochs
                if os.path.exists(os.path.join(self.root, "data", name, f"epoch={e}"))
            ]
            if prev and name in prev["tables"]:
                parts.append(prev["tables"][name]["path"])
            if not parts:
                continue
            dst = os.path.join(self.root, "snapdata", name, f"upto={hi}")
            (
                spark.read.parquet(*parts)
                .coalesce(max(1, target_files))
                .write.mode("overwrite")
                .option(_SUCCESS_MARKER, "false")
                .parquet(dst)
            )
            snap["tables"][name] = {"path": dst}
        os.makedirs(self._snapshot_dir(), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self._snapshot_dir(), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(snap, f)
        os.rename(tmp, os.path.join(self._snapshot_dir(), f"{hi:020d}.json"))
        return snap

    def vacuum(self) -> int:
        """Delete per-epoch data dirs (and superseded snapshot data)
        covered by the latest snapshot. Idempotent; safe after a crash
        mid-compaction (only runs against a committed snapshot)."""
        import shutil

        snap = self.latest_snapshot()
        if not snap:
            return 0
        removed = 0
        data = os.path.join(self.root, "data")
        for name in os.listdir(data) if os.path.isdir(data) else []:
            tdir = os.path.join(data, name)
            for d in os.listdir(tdir):
                if d.startswith("epoch=") and int(d.split("=")[1]) <= snap["upto"]:
                    shutil.rmtree(os.path.join(tdir, d))
                    removed += 1
        snapdata = os.path.join(self.root, "snapdata")
        for name in os.listdir(snapdata) if os.path.isdir(snapdata) else []:
            tdir = os.path.join(snapdata, name)
            for d in os.listdir(tdir):
                if d.startswith("upto=") and int(d.split("=")[1]) < snap["upto"]:
                    shutil.rmtree(os.path.join(tdir, d))
                    removed += 1
        return removed

    # -- read path ----------------------------------------------------------

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        """Read only committed data of one table (snapshot-isolation
        read: uncommitted epoch directories are invisible). Resolves to
        the latest compaction snapshot plus every committed epoch newer
        than it."""
        snap = self.latest_snapshot()
        floor_e = snap["upto"] if snap else -1
        paths = [
            os.path.join(self.root, "data", name, f"epoch={e}")
            for e in self.committed_epochs()
            if e > floor_e
            and os.path.exists(os.path.join(self.root, "data", name, f"epoch={e}"))
        ]
        if snap and name in snap["tables"]:
            paths.append(snap["tables"][name]["path"])
        if not paths:
            raise FileNotFoundError(f"no committed epochs for table {name}")
        return spark.read.parquet(*paths)

    def read_latest(
        self, spark: SparkSession, name: str, keys: Sequence[str]
    ) -> DataFrame:
        """Fold an update-mode table (each epoch's changed rows, stamped
        with `epoch_id`; `epoch_stamped_writer`): per key, the row from
        the latest epoch that touched it, without `epoch_id`. Read
        through `read_table`, so compaction snapshots are transparent."""
        deltas = self.read_table(spark, name)
        cols = [c for c in deltas.columns if c != "epoch_id"]
        vals = [c for c in cols if c not in keys]
        latest = F.max_by(F.struct(*vals), F.col("epoch_id")).alias("s")
        return (
            deltas.groupBy(*keys)
            .agg(latest)
            .select(*[c if c in keys else F.col(f"s.{c}").alias(c) for c in cols])
        )


def _footer_rows(path: str) -> dict[str, int]:
    """Write-task partition -> rows of the part files one table write
    left in `path`, read from their Parquet footers. The
    `part-NNNNN-...` prefix is the task's partition index (a task that
    rolls over to a new file writes several under one index)."""
    rows: dict[int, int] = {}
    for f in os.listdir(path):
        if f.startswith("part-") and f.endswith(".parquet"):
            pid = int(f.split("-")[1])
            n = pq.read_metadata(os.path.join(path, f)).num_rows
            rows[pid] = rows.get(pid, 0) + n
    return {str(p): rows[p] for p in sorted(rows)}


def _observe(batch_df: DataFrame) -> tuple[DataFrame, Observation]:
    """`batch_df` (it carries `_source_file`) with its lineage metrics
    attached: whichever action first reads the result fills the
    returned observation."""
    obs = Observation()
    observed = batch_df.observe(
        obs,
        F.collect_set("_source_file").alias("input_files"),
        F.count(F.lit(1)).alias("rows"),
    )
    return observed, obs


def lineage_of(batch_df: DataFrame, observation: Observation) -> dict:
    """Lineage of one micro-batch that carries `_source_file`: its
    distinct input files and its row count, read from `observation`,
    which the table writes filled in their own pass over the observed
    batch (`_observe`). No Spark job; the dict is metadata-sized. An
    observation keeps the metrics of the first action that reads it,
    so the first table must read its whole input (not limit or sample
    it), as on the replay path.

    When every table's plan prunes the observed scan (a transform that
    filters on a false literal, say), the optimizer drops the
    observation and Spark completes it empty, so `get` raises. Then
    `batch_df` is evaluated once through the noop sink under a fresh
    observation: the one epoch shape that pays a lineage job."""
    try:
        metrics = observation.get
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.lang.AssertionError":
            raise
        observed, observation = _observe(batch_df)
        observed.write.format("noop").mode("overwrite").save()
        metrics = observation.get
    return {"input_files": sorted(metrics["input_files"]), "rows": metrics["rows"]}


def foreach_batch_writer(
    sink: EpochCommitSink,
    transforms: Mapping[str, Callable[[DataFrame], DataFrame]],
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function: one micro-batch -> N tables,
    committed all-or-nothing under one epoch id.

    A batch that carries `_source_file` (source.py) is observed: the
    table writes collect its input files and row count as they run,
    and `lineage_of` turns that into the manifest's lineage, so
    lineage adds no Spark job. The batch is persisted only when more
    than one table reads it, so the tables share one materialization
    instead of re-reading the source; one table (a windowed query, or
    a row-local enrich) writes straight through in one job. A
    replayed, already-committed epoch is not observed: its manifest
    already exists, and `write_epoch` only re-evaluates the batch.
    """

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        replay = sink.committed(epoch_id)
        shared = not replay and len(transforms) > 1
        if shared:
            batch_df = batch_df.persist()
        try:
            data, lineage = batch_df, None
            if "_source_file" in batch_df.columns:
                if not replay:
                    data, obs = _observe(batch_df)
                    lineage = lambda: lineage_of(batch_df, obs)
                data = data.drop("_source_file")
            tables = {name: fn(data) for name, fn in transforms.items()}
            sink.write_epoch(epoch_id, tables, lineage=lineage)
        finally:
            if shared:
                batch_df.unpersist()

    return _write


def epoch_stamped_writer(
    sink: EpochCommitSink, table: str
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch function of an update-mode query: each batch's
    changed rows, stamped with their `epoch_id`, commit as one table.
    `EpochCommitSink.read_latest` folds them back."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        sink.write_epoch(
            epoch_id, {table: batch_df.withColumn("epoch_id", F.lit(epoch_id))}
        )

    return _write

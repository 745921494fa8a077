"""Streaming source: an append-only transcript stream.

The reference's streaming mode polls GCS for the next sequential
ledger file and feeds fixed 64-ledger batches over a channel
(/root/reference/internal/input/changes.go:107-178). Our source is a
Structured Streaming file source over a parquet directory with an
explicit schema (never inferred) and bounded per-trigger intake
(maxFilesPerTrigger ≈ the reference's --batch-size); on a real
deployment this is `spark.readStream.format("iceberg")` on the
transcripts table — the rest of the pipeline is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# file-source schema: ts as NTZ to match parquet-at-rest, cast on read
_RAW = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampNTZType(), False),
    ]
)


def read_transcript_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 2,
    with_lineage: bool = True,
) -> DataFrame:
    """readStream over a transcript parquet dir.

    with_lineage exposes `_source_file` from the hidden `_metadata`
    column: the sink observes it during the table writes
    (sink.foreach_batch_writer), so which input files fed which epoch
    rides along to the manifest for free, with no extra scan or job.
    """
    reader = spark.readStream.schema(_RAW)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if with_lineage:
        df = df.withColumn("_source_file", F.col("_metadata.file_path"))
    return df


def epoch_us(ts):
    """A pandas batch's event-time column (naive or tz-aware, as Arrow
    delivers it to a stateful processor) as int64 UTC epoch µs."""
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[us]").astype("int64")


def read_rate_transcript_stream(
    spark: SparkSession,
    rows_per_second: int = 100,
    n_convs: int = 10,
) -> DataFrame:
    """Alternate live source (S2 analog — the captive-core backend,
    /root/reference/internal/utils/main.go:921-943, is the reference's
    second, self-generating source): Spark's built-in rate source
    mapped deterministically onto the transcript schema. Every
    downstream operator is source-agnostic, so the whole pipeline runs
    against this unbounded generator — used by tests to prove the
    engine doesn't depend on the file source's replay semantics.

    Mapping is a pure function of the rate `value` (the TOID lesson —
    never nondeterministic ids): conv = value % n_convs,
    turn_idx = value / n_convs, role cycles user/assistant/tool,
    event time = the rate source's own timestamp."""
    v = F.col("value")
    role = (
        F.when(v % 3 == 0, "user")
        .when(v % 3 == 1, "assistant")
        .otherwise("tool")
    )
    tool = F.when(
        v % 3 == 2, F.concat(F.lit("tool_"), (v % 8).cast("string"))
    )
    conv_id = F.concat(F.lit("c"), (v % n_convs).cast("string"))
    turn_idx = (v / n_convs).cast("int")
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            conv_id.alias("conv_id"),
            turn_idx.alias("turn_idx"),
            role.alias("role"),
            F.concat_ws(
                "|", role, F.coalesce(tool, F.lit("")), conv_id,
                turn_idx.cast("string"),
            ).alias("text"),
            tool.alias("tool"),
            F.col("timestamp").alias("ts"),
        )
    )


def read_transcript_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of the same directory (for batch==streaming equality
    tests — the golden determinism gate in SURVEY §5)."""
    return (
        spark.read.schema(_RAW)
        .parquet(path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def read_transcript_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Alternate batch source (S3 analog — the history-archive backend
    is the reference's second *batch* source, /root/reference/internal/
    utils/main.go:760-779): JSONL transcripts, one object per line —
    the same format the CLI's `--format json` sink emits, so an export
    can be re-ingested losslessly. Schema explicit, never inferred
    (the engine's fixed-schema rule, SURVEY §1.2)."""
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    return spark.read.schema(schema).json(path)

"""Structured Streaming incremental ingest.

The reference ingests through legacy Spark DStreams with one receiver
thread per ingestor running the SegmentGenerator loop
(engines/spark/Spark.scala:157-186, WorkingSetReceiver.scala:25-65)
and reconciles "temporary" vs finalized segments in an IndexedRDD
cache (SparkCache.scala:27-213). The Spark-native replacement is
Structured Streaming + `foreachBatch`: both sources (file drops and
the socket) share one micro-batch writer, derive -> fit -> write, whose
fit is the ingest job's own `fit_turns`; snapshot-visible
batch-keyed writes replace the temporary-segment machinery entirely —
readers simply see data up to the last committed batch (the
reference's `maximum_latency` knob maps to the stream trigger
interval).

Contract: micro-batches must be bin-aligned per conversation — a
1-minute bin's turns must not span two batches, or its count would be
split across two segments (the file-per-time-range layout of incoming
transcript drops satisfies this naturally; the reference makes the
same in-order, aligned-arrival assumption and has no watermark/late
data handling, TimeSeriesGroup.java:153-176).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from modelardb_spark.config import DEFAULT_CONFIG, EngineConfig
from modelardb_spark.io.tables import TableCatalog, with_part_key
from modelardb_spark.jobs.ingest import fit_turns
from modelardb_spark.sources.readers import TRANSCRIPT_SCHEMA


def _segment_writer(out_root: str, cfg: EngineConfig):
    """The one foreachBatch body: fit the batch's turns and overwrite
    the batch's own (batch_id, part_day) segment partitions. An empty
    batch writes nothing."""
    catalog = TableCatalog(out_root)

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        segments = with_part_key(fit_turns(batch_df, cfg), cfg.conv_buckets)
        catalog.overwrite_partitions(
            segments.withColumn("batch_id", F.lit(batch_id)),
            "segments",
            ["batch_id", "part_day"],
        )

    return process


def stream_ingest(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Incrementally ingest transcript parquet drops from `input_path`
    into the segments table at `out_root`. Returns the streaming query
    (awaitTermination is the caller's choice).

    Exactly-once per batch: foreachBatch is at-least-once, so the write
    is keyed on `batch_id` — each batch dynamically overwrites its own
    (batch_id, part_day) partitions. A batch replayed after a crash
    (the file-source checkpoint re-delivers the same files, so batch
    content is deterministic) overwrites the partitions it wrote the
    first time instead of appending duplicates."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )
    writer = (
        stream.writeStream.foreachBatch(_segment_writer(out_root, cfg))
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{out_root}/_stream_checkpoint",
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_rollup_1m(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    watermark: str = "10 minutes",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
):
    """Late-data-tolerant STREAMING rollup of the finest tier — a
    Spark-native capability beyond the reference (which assumes
    in-order arrival and has no watermark machinery,
    TimeSeriesGroup.java:153-176): transcript drops stream through an
    event-time window aggregate with a watermark, so turns arriving up
    to `watermark` late still land in their correct 1-minute bin;
    bins seal when the watermark passes and append exactly one final
    row each (append output mode).

    Output rows match the batch rollup_1m schema
    (conv_id, metric, window_ms, cnt, vmin, vmax, vsum, mean) — the
    sealed tier feeds the same cascade (rollup_cascade) as batch
    tiers. State is bounded by the watermark horizon; partitioning is
    the same (conv_id x window) key space as the batch path."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    iv_sec = cfg.interval_ms // 1000
    binned = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(
            F.col("conv_id"),
            F.window("ts", f"{iv_sec} seconds").alias("win"),
        )
        .agg(
            F.count(F.lit(1)).cast("float").alias("turn_rate"),
            F.count(F.col("tool")).cast("float").alias("tool_usage"),
        )
    )
    tier = binned.select(
        "conv_id",
        F.expr(
            "stack(2, 'turn_rate', turn_rate, 'tool_usage', tool_usage)"
            " as (metric, v)"
        ),
        F.unix_millis("win.start").alias("window_ms"),
    ).select(
        "conv_id",
        "metric",
        "window_ms",
        F.lit(1).cast("long").alias("cnt"),
        F.col("v").alias("vmin"),
        F.col("v").alias("vmax"),
        F.col("v").cast("double").alias("vsum"),
        F.col("v").cast("double").alias("mean"),
    )
    writer = (
        tier.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_root}/rollup_1m_stream")
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{out_root}/_rollup_stream_checkpoint",
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_stream_segments(
    spark: SparkSession, out_root: str, table: str = "segments"
) -> int:
    """Merge batch-keyed stream output (batch_id=N/part_day=D
    partition dirs) into the canonical day-partitioned layout — the
    reference merges its file-backed segment store every 10 batches
    (storage/FileStorage.scala:350-351, write-then-rename :83-97); on
    Iceberg this is `rewrite_data_files`. Returns the number of
    compacted batch partitions.

    Safe w.r.t. the stream: run between triggers (or after
    availableNow termination). The table is rewritten in place by one
    whole-table `overwrite`: the catalog's staged writer reads the old
    files while it writes the new ones to a staging directory, then
    swaps the table by two directory renames, so readers see the old or
    the new complete tree, never a mix (a crash between the renames
    leaves the old tree in the staging directory, which the
    crash-leftover rule keeps)."""
    catalog = TableCatalog(out_root)
    if not catalog.exists(table):
        return 0
    df = catalog.read(spark, table)
    if "batch_id" not in df.columns:
        return 0
    n_batches = len(catalog.list_partitions(table, "batch_id"))
    catalog.overwrite(
        df.drop("batch_id").sortWithinPartitions("mtid", "conv_id", "start_ms"),
        table,
        ["part_day"],
    )
    return n_batches


def stream_ingest_socket(
    spark: SparkSession,
    host: str,
    port: int,
    out_root: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    checkpoint_dir: str | None = None,
    sep: str = ",",
):
    """Socket-fed incremental ingest (the reference's
    AsyncTimeSeriesSocket receiver path, WorkingSetReceiver.scala):
    line-delimited transcript turns over TCP, micro-batched through the
    same foreachBatch writer (fit -> batch-keyed idempotent write) as
    the file-drop stream.

    Note the socket source keeps no offsets, so delivery is
    at-most-once across restarts (the reference's receiver has the
    same property); within a run, batch-keyed writes stay idempotent."""
    from modelardb_spark.sources.readers import stream_transcripts_socket

    stream = stream_transcripts_socket(spark, host, port, sep=sep)
    return (
        stream.writeStream.foreachBatch(_segment_writer(out_root, cfg))
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{out_root}/_stream_checkpoint",
        )
        .start()
    )

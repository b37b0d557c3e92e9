"""Streaming ingest (SURVEY §2.9).

The reference's exactly-once machinery — MSSQL claim transaction, TOP-n
batch caps, hourly sleep loop, SUCCESS write-back
(s3_datalog_processor.py:46-243) — collapses into Structured Streaming
primitives:

  claim/mark SUCCESS      → file-source checkpoint + commit log (T3);
                            each micro-batch lands under an
                            ``ingest_epoch=<n>`` partition with dynamic
                            overwrite, so an at-least-once replay
                            rewrites its own partitions instead of
                            appending duplicates
  TOP 1000-2000 keys/run  → maxFilesPerTrigger (batch-size throttling)
  hourly sleep loop (T1)  → trigger(processingTime="1 hour")
  BOOST backlog drain (T7)→ trigger(availableNow=True)
  skip-on-empty (T5)      → an empty micro-batch costs one 1-task probe
                            job and writes nothing
  misfiled-data repair(T4)→ event-time partitioning at ingest (+ optional
                            watermark for the windowed aggregation path)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from enterprise_iot_bigdata_pipeline_spark.operators.compaction import enrich
from enterprise_iot_bigdata_pipeline_spark.sources.lake import PARTITION_COLS


def write_epoch_batch(batch_df: DataFrame, target: str, epoch_id: int) -> None:
    """Idempotent micro-batch sink on plain parquet: the batch lands under
    a leading ``ingest_epoch=<epoch_id>`` partition with dynamic partition
    overwrite, so an at-least-once ``foreachBatch`` replay of the same
    epoch (same files, deterministic from the checkpoint) overwrites
    exactly its own partitions instead of appending duplicates. Event-time
    partitions stay at the second level — pruning on ``hiveperiod`` still
    works — and ``ingest_epoch`` doubles as per-row batch lineage.

    An empty batch writes nothing and does not create ``target`` (T5
    skip-on-empty). The probe is ``take(1)``, which scans partitions
    incrementally in one task; ``isEmpty()`` would run a limit shuffle
    with one map task per scan partition.
    """
    if not batch_df.take(1):
        return
    (
        batch_df.withColumn("ingest_epoch", F.lit(int(epoch_id)))
        .repartition(*[F.col(c) for c in PARTITION_COLS])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "snappy")
        .partitionBy("ingest_epoch", *PARTITION_COLS)
        .parquet(target)
    )


def stream_compact(
    spark: SparkSession,
    source_dir: str,
    target: str,
    checkpoint: str,
    schema: StructType | str,
    distrik: str,
    max_files_per_trigger: int = 1000,
    available_now: bool = True,
    processing_time: str = "1 hour",
) -> StreamingQuery:
    """NDJSON landing dir → enriched partitioned parquet lake, exactly-once.

    Streaming file sources require a pinned schema (the production answer
    to the reference's full-scan inference; drift is absorbed by PERMISSIVE
    mode + explicit schema evolution).
    """
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("mode", "PERMISSIVE")
        .json(source_dir)
    )
    enriched = enrich(raw.withColumn("source_file", F.input_file_name()), distrik)

    writer = enriched.writeStream.foreachBatch(
        lambda batch_df, epoch_id: write_epoch_batch(batch_df, target, epoch_id)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...],
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within the
    watermark horizon (at-least-once upstream → exactly-once downstream).

    State is bounded by the watermark — Spark evicts keys older than the
    horizon, so state size is O(arrival rate × horizon), not O(stream
    history); that's the property that lets this run forever at 100 TB/day.
    Works on batch frames too (plain dropDuplicates).
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return events.dropDuplicates(list(key_cols))


def windowed_event_agg(
    events: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "10 minutes",
    ts_col: str = "datetime_wita",
    keys: tuple[str, ...] = ("dstrct_code",),
) -> DataFrame:
    """Streaming form of the dashboard's 1-minute resample (A1/T6) with a
    watermark for late data — works on both stream and batch frames."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window_duration).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *keys, "n_events")
    )

"""Continuous aggregate (hypertable-rollup style): a streaming job
maintains a pre-aggregated window table incrementally.

Each micro-batch's partial aggregates MERGE into the rollup lake keyed by
(window_start, keys): existing windows are re-aggregated with the new
partials (sums/counts add; a fresh read of raw data is never needed),
new windows append. The dashboard then reads minutes/hours from a table
that is orders of magnitude smaller than the raw lake.

Late data within the watermark updates its (old) window's row on arrival.

Additive partials are NOT naturally idempotent: ``foreachBatch`` is
at-least-once, and a replayed micro-batch would add its partials twice.
Each merge therefore commits the batch's ``epoch_id`` atomically with the
data (marker file swapped in with the table — see ``operators.commitlog``)
and replays of an already-committed epoch are skipped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from enterprise_iot_bigdata_pipeline_spark.operators.commitlog import (
    committed_epoch,
    overwrite_atomic,
    path_exists,
    recover_swap,
)

ROLLUP_KEYS = ("window_start", "dstrct_code")


def _partials(batch: DataFrame, ts_col: str, window: str, keys: tuple[str, ...]) -> DataFrame:
    return (
        batch.groupBy(F.window(F.col(ts_col), window)["start"].alias("window_start"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # n_values separately: sum() skips NULL values, so the derived
            # average must divide by the non-null count, not the row count
            F.count(F.col("value")).alias("n_values"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("sum_value"),
        )
    )


def merge_rollup(
    spark: SparkSession,
    rollup_path: str,
    partials: DataFrame,
    keys: tuple[str, ...],
    epoch_id: int | None = None,
) -> None:
    """Additively merge new partial aggregates into the rollup table.

    Replay-safe: when ``epoch_id`` is given and is ≤ the epoch already
    committed with the table, the batch was merged before a restart and
    is skipped — otherwise an at-least-once replay would double-add the
    partials. The merge itself is a temp-dir write + atomic swap (no
    driver round-trip), so rollup size is bounded by cluster memory,
    not driver memory.
    """
    # Heal a crash inside a previous swap FIRST: in that state the table
    # dir is absent and the no-table branch below would re-initialize,
    # silently discarding all accumulated rollup history.
    recover_swap(spark, rollup_path)
    if epoch_id is not None:
        last = committed_epoch(spark, rollup_path)
        if last is not None and int(epoch_id) <= last:
            return
    key_cols = ["window_start", *keys]
    if path_exists(spark, rollup_path):
        existing = spark.read.parquet(rollup_path)
        # State migration: rollup tables persisted before the n_values
        # column existed must still merge/read (an upgraded streaming job
        # resumes over its accumulated state). Old rows predate null
        # tracking; n_events is the closest backfill (values were assumed
        # non-null), so their derived averages are unchanged.
        if "n_values" not in existing.columns:
            existing = existing.withColumn("n_values", F.col("n_events"))
        merged = (
            existing.unionByName(partials, allowMissingColumns=True)
            .withColumn("n_values", F.coalesce("n_values", "n_events"))
            .groupBy(*key_cols)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("n_values").alias("n_values"),
                F.sum("sum_value").alias("sum_value"),
            )
        )
        overwrite_atomic(spark, merged, rollup_path, epoch_id=epoch_id)
    else:
        overwrite_atomic(spark, partials, rollup_path, epoch_id=epoch_id)


def continuous_rollup(
    spark: SparkSession,
    source: DataFrame,
    rollup_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    window: str = "1 minute",
    keys: tuple[str, ...] = ("dstrct_code",),
    watermark: str = "10 minutes",
) -> StreamingQuery:
    """Start the maintenance stream: raw events in, rollup table kept fresh.

    The rollup table exists from the moment the maintenance job is created
    (a zero-row, schema-complete parquet init): a source that never
    delivers a batch — day-one deploy, new tenant, upstream outage —
    must leave ``read_rollup`` returning an empty table, not crashing on
    PATH_NOT_FOUND (empty-corpus probe, round 12). ``_partials`` on the
    streaming frame is schema-only (never executed), and the init goes
    through ``overwrite_atomic`` so the commit-marker layout is identical
    to a real merge; ``merge_rollup`` heals swap crashes before its
    existence check, so the init can never clobber accumulated history.
    """
    recover_swap(spark, rollup_path)
    if not path_exists(spark, rollup_path):
        init_schema = _partials(source, ts_col, window, keys).schema
        overwrite_atomic(
            spark, spark.createDataFrame([], init_schema), rollup_path, epoch_id=None
        )

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        merge_rollup(
            spark, rollup_path, _partials(batch, ts_col, window, keys), keys, epoch_id=epoch_id
        )

    return (
        source.withWatermark(ts_col, watermark)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Finalized view: derived averages from the additive partials."""
    r = spark.read.parquet(rollup_path)
    if "n_values" not in r.columns:  # pre-n_values table (see merge_rollup)
        r = r.withColumn("n_values", F.col("n_events"))
    return r.select(
        "window_start",
        *[
            c
            for c in r.columns
            if c not in ("window_start", "n_events", "n_values", "sum_value")
        ],
        "n_events",
        # null-ignoring SQL avg semantics: divide by the non-null value
        # count; an all-null window averages to NULL, not 0/n
        F.when(
            F.col("n_values") > 0,
            F.col("sum_value").cast("double") / F.col("n_values"),
        ).alias("avg_value"),
    )

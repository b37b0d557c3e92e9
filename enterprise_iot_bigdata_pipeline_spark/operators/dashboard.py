"""The dashboard read path (SURVEY §3.3) as a lake-level operator: what
`streamlit-app.py` computes, over the engine's partitioned lake.

Stage 1 (pushdown): partition-pruned scan with unit IN-list and local-hour
range — all predicates reach the parquet reader. Stage 2: sentinel clean,
GPS-status derivation, speed-disagreement metric, 1-minute tumbling window
per (unitno, dstrct_code, hiveperiod). Reference: streamlit-app.py:55-169.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.functions.cleaning import (
    error_rate,
    gps_status,
    replace_sentinel,
)


def unit_list(lake: DataFrame) -> DataFrame:
    """The sidebar's unit picker: DISTINCT over the dimension columns
    (streamlit-app.py:55-69)."""
    return lake.select("dstrct_code", "unitno").distinct()


def speed_analysis(
    lake: DataFrame,
    hiveperiod: str,
    dstrct_code: str,
    units: list[str] | None = None,
    hour_range: tuple[int, int] = (0, 23),
) -> DataFrame:
    """Per-unit 1-minute resample of speed/error/status metrics, ordered
    by (minute, unitno).

    Mirrors the dashboard pipeline: partition filters (pruning), unit
    IN-list, derived-local-hour BETWEEN, sentinel cleanup, gpsstatus,
    error_rate, tumbling 1-minute window with mean/min aggregates.

    Plan shape: one filter and one aggregate (the cleaning expressions
    live inside the aggregate). With a unit list the output is at most
    minutes × listed units rows, so it is coalesced to one partition and
    sorted there: a global ``orderBy`` would add a range-partition
    sampling job and a second exchange to every picker query, and the
    partial aggregate stays parallel. A whole-district query (no unit
    list) keeps the global ``orderBy``: its output grows with the fleet,
    and under a ``limit`` (``show``) Spark plans it as a parallel top-k.
    """
    pred = (
        (F.col("hiveperiod") == F.lit(hiveperiod))
        & (F.col("dstrct_code") == dstrct_code)
        & F.hour(F.col("datetime_wita")).between(*hour_range)
    )
    if units:
        pred = pred & F.col("unitno").isin(units)
    gpsspeed = replace_sentinel(F.col("gpsspeed"))
    vehicle_speed = replace_sentinel(F.col("VehicleSpeed"))
    out = (
        lake.filter(pred)
        .groupBy(
            F.window(F.col("datetime_wita"), "1 minute")["start"].alias("minute"),
            "unitno",
            "dstrct_code",
        )
        .agg(
            F.avg(gpsspeed).alias("gpsspeed"),
            F.avg(vehicle_speed).alias("VehicleSpeed"),
            F.avg(error_rate(gpsspeed, vehicle_speed)).alias("error_rate"),
            F.min(gps_status(F.col("gpslat"))).alias("gpsstatus"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    if units:
        return out.coalesce(1).sortWithinPartitions("minute", "unitno")
    return out.orderBy("minute", "unitno")


def fill_gaps(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    value_cols: list[str],
    step_seconds: int = 60,
    ffill: bool = False,
) -> DataFrame:
    """Densify a resampled time series: emit one row per ``step_seconds``
    tick between each group's min and max timestamp, with missing ticks'
    values null — or forward-filled when ``ffill`` (the dashboard's
    continuous minute-series semantics: a unit that sent nothing for three
    minutes still plots three points).

    Scale shape: the tick spine is generated per group with
    ``sequence``+``explode`` (map-side after one min/max agg — no driver
    range, no cross join) and joined back on (group, tick); forward-fill
    is ``last(ignorenulls)`` over an unbounded-preceding window per group
    — one shuffle keyed by group for the agg, one for the join, one sort
    within partitions for the window. Groups are independent, so skew
    follows the group key distribution like any grouped op.
    """
    from pyspark.sql import Window as W

    step = F.lit(step_seconds)
    tick = (F.unix_timestamp(F.col(ts_col)) / step_seconds).cast("long") * step_seconds
    base = df.withColumn("__tick", F.timestamp_seconds(tick))
    spine = (
        base.groupBy(*group_cols)
        .agg(F.min("__tick").alias("__lo"), F.max("__tick").alias("__hi"))
        .select(
            *group_cols,
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"interval {step_seconds} seconds"))
            ).alias("__tick"),
        )
    )
    dense = spine.join(base, [*group_cols, "__tick"], "left")
    if ffill:
        # Secondary sort on the ORIGINAL timestamp: multiple source rows
        # can share a tick (un-resampled input), and with only __tick in
        # the ordering, last(ignorenulls) would pick whichever row the
        # shuffle happened to order last — run-to-run nondeterminism.
        w = (
            W.partitionBy(*group_cols)
            .orderBy(
                F.col("__tick"),
                F.col(ts_col).asc_nulls_first(),
                # full tiebreak: identical (tick, ts) rows with different
                # values resolve to the greatest value, deterministically
                *[F.col(c).asc_nulls_first() for c in value_cols],
            )
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        dense = dense.select(
            *group_cols,
            "__tick",
            *[
                F.last(F.col(c), ignorenulls=True).over(w).alias(c)
                for c in value_cols
            ],
        )
    else:
        dense = dense.select(*group_cols, "__tick", *value_cols)
    return dense.withColumnRenamed("__tick", ts_col)

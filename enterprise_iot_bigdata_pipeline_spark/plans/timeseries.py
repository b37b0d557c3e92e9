"""IoT time-series analytics: M4 downsampling, rolling z-score anomaly
detection, and linear gap interpolation over the events stream.

The reference's dashboard (streamlit-app.py:55-169) resamples and plots
device telemetry; these are the standard time-series read-path operators a
complete engine adds on top of that resample: M4 (min/max/first/last per
pixel bucket — the lossless line-chart downsample), rolling-window anomaly
flags, and grid interpolation for gappy sensors.

Cross-engine determinism: every mean/variance accumulates through DECIMAL
(functions.parity), window frames are fully tie-broken by (ts, event_id),
and interpolation arithmetic uses the identical double expression tree in
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.functions.parity import DAVG_SQL, davg
from enterprise_iot_bigdata_pipeline_spark.plans import register
from enterprise_iot_bigdata_pipeline_spark.plans.ingest import stream_slot
from enterprise_iot_bigdata_pipeline_spark.plans.tables import t

# --- M4 downsampling: per (series, time bucket) emit min / max / first /
#     last — the canonical pixel-perfect line-chart reduction (Jugel et al.,
#     "M4: A Visualization-Oriented Time Series Data Aggregation", VLDB'14).
#     Spark shape: ONE hash aggregate (no window sort) — first/last ride
#     min_by/max_by over a packed (ts, event_id) DECIMAL ordering key
#     (min/max over a raw struct would demote the whole aggregate to
#     SortAggregate: struct buffers aren't hash-aggregable), so the whole
#     query is a single partial-agg shuffle of |buckets| rows; at 100 TB
#     this is the same scan-side-combine shape as any groupBy. The packing
#     (µs·10¹⁰ + event_id, exact in decimal(38,0)) assumes event_id < 10¹⁰ —
#     the corpus generator's id space. The oracle derives first/last with
#     row_number CTEs instead (DuckDB's arg_min can't take a composite
#     ordering) — same semantics, different plan. ---------------------------

_M4_BUCKET_S = 21600  # 6-hour pixels over the 30-day corpus


@register(
    "timeseries_m4_downsample",
    f"""
    WITH b AS (
        SELECT event_type,
               CAST(floor(epoch(ts)/{_M4_BUCKET_S}) AS BIGINT)*{_M4_BUCKET_S} AS bucket_s,
               ts, event_id, value
        FROM events
        WHERE ts IS NOT NULL
    ), r AS (
        SELECT *,
            row_number() OVER (PARTITION BY event_type, bucket_s ORDER BY ts, event_id) AS rn_a,
            row_number() OVER (PARTITION BY event_type, bucket_s ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM b
    )
    SELECT event_type, bucket_s,
           count(*) AS n,
           min(value) AS min_value,
           max(value) AS max_value,
           max(CASE WHEN rn_a = 1 THEN value END) AS first_value,
           max(CASE WHEN rn_d = 1 THEN value END) AS last_value
    FROM r
    GROUP BY event_type, bucket_s
    """,
)
def timeseries_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # un-timestamped rows have no pixel bucket (nasty-events battery)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # x − pmod(x, step) == floor(x/step)·step for ANY sign — negative-safe
    # (the oracle floors; `x − x % step` truncates toward zero and diverges
    # pre-epoch) and stays in integer arithmetic, no double round-trip.
    sec = F.unix_timestamp("ts").cast("long")
    bucket = (sec - F.pmod(sec, F.lit(_M4_BUCKET_S))).alias("bucket_s")
    # Packing µs·10¹⁰ + event_id is exact in decimal(38,0) ONLY while
    # 0 ≤ event_id < 10¹⁰ — enforce at runtime instead of silently
    # returning a wrong first/last for out-of-range ids.
    eid_ok = (F.col("event_id") >= 0) & (F.col("event_id") < F.lit(10**10))
    ord_key = F.when(
        eid_ok,
        F.unix_micros(F.col("ts").cast("timestamp")).cast("decimal(38,0)") * F.lit(10**10)
        + F.col("event_id"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("timeseries_m4_downsample: event_id out of [0, 10^10) — "),
                F.col("event_id").cast("string"),
            )
        ).cast("decimal(38,0)")
    )
    return (
        ev.select("event_type", bucket, ord_key.alias("ord"), "value")
        .groupBy("event_type", "bucket_s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.min_by("value", F.col("ord")).alias("first_value"),
            F.max_by("value", F.col("ord")).alias("last_value"),
        )
    )


# --- Rolling z-score anomaly detection: trailing 50-event window per
#     series, flag |x − μ| > 3σ once the window has ≥ 20 samples. Mean and
#     variance come from decimal-exact window sums (Σx, Σx²) — the same
#     construction as agg_value_stats, so both engines compute bit-identical
#     doubles and the 3σ comparison can't flip across engines. One
#     sort-within-series window pass; series are independent so the shape
#     is the standard keyed-window shuffle. ---------------------------------

_Z_WIN = 50  # trailing window size (rows)
_Z_MIN = 20  # minimum samples before flagging

_Z_OVER = "OVER (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)"

# Shared by the single-pass, chunked, and streaming registrations: one
# semantic, three execution strategies, ONE oracle text — a change to the
# flag algebra cannot desynchronize the variants from their gate.
_Z_ORACLE = f"""
    WITH w AS (
        SELECT event_id, ts, event_type, value,
            CAST(sum(CAST(value AS DECIMAL(25,6))) {_Z_OVER} AS DOUBLE) AS s_w,
            CAST(sum(CAST(value * value AS DECIMAL(25,6))) {_Z_OVER} AS DOUBLE) AS q_w,
            count(value) {_Z_OVER} AS n_w
        FROM events
        WHERE ts IS NOT NULL
    ), stats AS (
        SELECT event_id, ts, event_type, value, n_w,
            s_w / n_w AS mean_w,
            greatest(0.0::DOUBLE, q_w - s_w * s_w / n_w) / (n_w - 1) AS var_w
        FROM w
        WHERE n_w >= {_Z_MIN}
    )
    SELECT event_id, ts, event_type, value, n_w, mean_w, var_w
    FROM stats
    WHERE (value - mean_w) * (value - mean_w) > 9 * var_w
    """


def _z_flag(windowed):
    """(s_w, q_w, n_w)-windowed frame → flagged anomaly rows; the shared
    mean/var/3σ algebra of every z-score variant (mirrors _Z_ORACLE)."""
    windowed = windowed.filter(F.col("n_w") >= _Z_MIN)
    mean_w = F.col("s_w") / F.col("n_w")
    var_w = F.greatest(
        F.lit(0.0), F.col("q_w") - F.col("s_w") * F.col("s_w") / F.col("n_w")
    ) / (F.col("n_w") - F.lit(1))
    stats = windowed.select(
        "event_id", "ts", "event_type", "value", "n_w",
        mean_w.alias("mean_w"), var_w.alias("var_w"),
    )
    dev = F.col("value") - F.col("mean_w")
    return stats.filter(dev * dev > F.lit(9) * F.col("var_w"))


# late=True (round 9): this single-pass form partitions the window on
# event_type alone — 5 keys ⇒ 5 tasks forever (measured 10× exponent
# 0.75), so it is NOT the plan you'd run at 100 TB. It stays registered
# (same oracle text as the chunked/streaming variants — one semantic,
# one gate) as the cross-engine comparison baseline and regression
# reference for the chunk algebra, but rides at the registry tail so the
# scale-safe chunked twin is the shape every front-window sample, bench
# comparison, and new reader meets first. timeseries_anomaly_chunked is
# the deployment shape: shuffle on (event_type, 10-day bucket) with
# (window-1)-row tail replication — |keys|×|buckets| parallelism,
# bit-identical output (hash-green under the same oracle proves it).
@register(
    "timeseries_anomaly_zscore",
    _Z_ORACLE,
    late=True,
)
def timeseries_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wz = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_Z_WIN - 1), W.currentRow)
    )
    v = F.col("value")
    s_w = F.sum(v.cast("decimal(25,6)")).over(wz).cast("double")
    q_w = F.sum((v * v).cast("decimal(25,6)")).over(wz).cast("double")
    n_w = F.count(v).over(wz)
    windowed = ev.select(
        "event_id", "ts", "event_type", "value",
        s_w.alias("s_w"), q_w.alias("q_w"), n_w.alias("n_w"),
    )
    return _z_flag(windowed)


# --- Linear gap interpolation on a fixed grid: resample each series to
#     15-minute ticks (decimal-exact per-tick mean), densify the grid with
#     sequence+explode (map-side after one min/max agg — no driver range),
#     and fill missing ticks by linear interpolation between the bracketing
#     observations (edge ticks extend the nearest observation). prev/next
#     ride last/first(ignorenulls) windows per series — two frame scans
#     over ONE keyed sort. The interpolation weight uses the identical
#     double expression tree in both engines. ------------------------------

_INTERP_STEP_S = 900


@register(
    "timeseries_interpolate",
    f"""
    WITH obs AS (
        SELECT event_type,
               CAST(floor(epoch(ts)/{_INTERP_STEP_S}) AS BIGINT)*{_INTERP_STEP_S} AS tick,
               {DAVG_SQL("value")} AS v_obs
        FROM events
        GROUP BY 1, 2
    ), rng AS (
        SELECT event_type, min(tick) AS lo, max(tick) AS hi FROM obs GROUP BY 1
    ), spine AS (
        SELECT event_type, unnest(range(lo, hi + {_INTERP_STEP_S}, {_INTERP_STEP_S})) AS tick FROM rng
    ), dense AS (
        SELECT s.event_type, s.tick, o.v_obs
        FROM spine s LEFT JOIN obs o USING (event_type, tick)
    ), filled AS (
        SELECT event_type, tick, v_obs,
            last_value(v_obs IGNORE NULLS) OVER
                (PARTITION BY event_type ORDER BY tick
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
            last_value(CASE WHEN v_obs IS NOT NULL THEN tick END IGNORE NULLS) OVER
                (PARTITION BY event_type ORDER BY tick
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
            first_value(v_obs IGNORE NULLS) OVER
                (PARTITION BY event_type ORDER BY tick
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
            first_value(CASE WHEN v_obs IS NOT NULL THEN tick END IGNORE NULLS) OVER
                (PARTITION BY event_type ORDER BY tick
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
        FROM dense
    )
    SELECT event_type, tick,
        (v_obs IS NOT NULL) AS is_observed,
        round(CASE WHEN v_obs IS NOT NULL THEN v_obs
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                 prev_v + (next_v - prev_v)
                     * (CAST(tick - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE))
             ELSE coalesce(prev_v, next_v) END, 9) AS value_interp
    FROM filled
    """,
)
def timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    step = _INTERP_STEP_S
    # pmod-floor, not `x − x % step`: negative-safe (matches the oracle's
    # floor(epoch/step) on pre-epoch timestamps), integer-exact throughout
    sec = F.unix_timestamp("ts").cast("long")
    tick = (sec - F.pmod(sec, F.lit(step))).alias("tick")
    obs = (
        ev.select("event_type", tick, "value")
        .groupBy("event_type", "tick")
        .agg(davg(F.col("value")).alias("v_obs"))
    )
    spine = (
        obs.groupBy("event_type")
        .agg(F.min("tick").alias("lo"), F.max("tick").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.lit(step))).alias("tick"),
        )
    )
    dense = spine.join(obs, ["event_type", "tick"], "left")
    wprev = (
        W.partitionBy("event_type").orderBy("tick").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wnext = (
        W.partitionBy("event_type").orderBy("tick").rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_tick = F.when(F.col("v_obs").isNotNull(), F.col("tick"))
    filled = dense.select(
        "event_type", "tick", "v_obs",
        F.last("v_obs", ignorenulls=True).over(wprev).alias("prev_v"),
        F.last(obs_tick, ignorenulls=True).over(wprev).alias("prev_t"),
        F.first("v_obs", ignorenulls=True).over(wnext).alias("next_v"),
        F.first(obs_tick, ignorenulls=True).over(wnext).alias("next_t"),
    )
    frac = (F.col("tick") - F.col("prev_t")).cast("double") / (
        F.col("next_t") - F.col("prev_t")
    ).cast("double")
    interp = (
        F.when(F.col("v_obs").isNotNull(), F.col("v_obs"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac,
        )
        .otherwise(F.coalesce("prev_v", "next_v"))
    )
    # round-9 FMA guard: `prev + diff*frac` is an a+b·c shape (README
    # parity rule 2) — contraction drift is data-dependent, guard it
    return filled.select(
        "event_type",
        "tick",
        F.col("v_obs").isNotNull().alias("is_observed"),
        F.round(interp, 9).alias("value_interp"),
    )


# --- Per-series daily OLS trend (sensor-drift detection): slope/intercept
#     of value vs seconds-into-day, per (event_type, day). All five input
#     moments (n, Σx, Σy, Σxy, Σx²) accumulate in DECIMAL — order-
#     insensitive and bit-identical across engines — then slope/intercept
#     evaluate in one fixed double expression tree. ONE hash-agg shuffle of
#     |series × days| rows; x is bounded (0..86400) so the decimal sums
#     can't overflow at any corpus size that fits a group in a long count.
#     x uses floor-seconds in both engines (Spark unix_timestamp truncates;
#     DuckDB epoch() keeps µs — floored explicitly). -------------------------


@register(
    "timeseries_trend_ols",
    """
    WITH obs AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               CAST(CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS DOUBLE) AS x,
               value AS y
        FROM events
    ), mom AS (
        SELECT event_type, day,
               count(*) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM obs
        GROUP BY event_type, day
    )
    SELECT event_type, day, n,
        CASE WHEN n > 1 AND n * sxx - sx * sx <> 0
             THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) END AS slope,
        CASE WHEN n > 1 AND n * sxx - sx * sx <> 0
             THEN round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9)
        END AS intercept
    FROM mom
    """,
)
def timeseries_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    x = (F.unix_timestamp("ts").cast("long") % 86400).cast("double")
    obs = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        x.alias("x"),
        F.col("value").alias("y"),
    )
    d38 = "decimal(38,6)"
    mom = obs.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(d38)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den
    ok = (n > 1) & (den != 0)
    # round-9 FMA guard (README parity rule 2): `sy − slope·sx` is an
    # a−b·c shape DuckDB's vectorized executor may contract into FMA —
    # last-ulp drift surfaced at the sf0.1 sweep, not at sf0.01
    return mom.select(
        "event_type", "day", "n",
        F.when(ok, F.round(slope, 9)).alias("slope"),
        F.when(ok, F.round((sy - slope * sx) / n, 9)).alias("intercept"),
    )


# --- FIR / EWMA smoothing: trailing 8-tap exponentially-weighted moving
#     average per series (α-decay 0.75^j — every coefficient is a dyadic
#     rational, so the literals are exactly representable doubles in both
#     engines). Warmup rows renormalize over the taps present. One keyed
#     window sort; the taps are lag() reads over the SAME frame, so Spark
#     plans a single Window node. The left-associated addition chain is
#     written identically in both engines — bit-identical doubles. ----------

_FIR_TAPS = 8
_FIR_DECAY = 0.75


def _fir_coeffs() -> list[float]:
    return [_FIR_DECAY**j for j in range(_FIR_TAPS)]


def _fir_oracle() -> str:
    cs = _fir_coeffs()
    over = "OVER (PARTITION BY event_type ORDER BY ts, event_id)"
    num = " + ".join(
        f"coalesce(lag(value, {j}) {over} * {c!r}, 0.0)" for j, c in enumerate(cs)
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {j}) {over} IS NOT NULL THEN {c!r} ELSE 0.0 END)"
        for j, c in enumerate(cs)
    )
    # den = 0 ⇔ every tap in the trailing window is NULL (an all-NULL
    # value run — the nasty-events battery's find): no defined smooth
    # value, emit NULL in BOTH engines (ANSI Spark would otherwise raise
    # DIVIDE_BY_ZERO where DuckDB quietly NULLs).
    # ts IS NOT NULL both engines: lag() taps read NEIGHBORS in time
    # order, so NULL-ts placement (Spark first / DuckDB last) changes
    # which rows smooth into which — the uniform r9 pin, enforced by the
    # decorrelated-value nasty battery + the null check (tools/gate.py)
    return f"""
    SELECT event_id, ts, event_type, value,
           CASE WHEN ({den}) > 0.0
                THEN round(({num}) / ({den}), 9) END AS value_smooth
    FROM events
    WHERE ts IS NOT NULL
    """


@register("timeseries_fir_smooth", _fir_oracle())
def timeseries_fir_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    cs = _fir_coeffs()
    num = None
    den = None
    for j, c in enumerate(cs):
        lag_j = F.lag("value", j).over(w)
        term = F.coalesce(lag_j * F.lit(c), F.lit(0.0))
        cnt = F.when(lag_j.isNotNull(), F.lit(c)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = cnt if den is None else den + cnt
    # round-9 FMA guard: the Σ cⱼ·lagⱼ accumulation is a chain of a+b·c
    # shapes (README parity rule 2) — guard like the cosine kernels.
    # den = 0 (all taps NULL) → NULL, mirroring the oracle's CASE: ANSI
    # Spark raises DIVIDE_BY_ZERO on the bare division.
    return ev.select(
        "event_id", "ts", "event_type", "value",
        F.when(den > F.lit(0.0), F.round(num / den, 9)).alias("value_smooth"),
    )


# --- Chunk-parallel z-score: the SAME anomaly semantics as
#     timeseries_anomaly_zscore, computed via operators/rolling.py's
#     chunked trailing window. The single-pass form partitions on
#     event_type — 5 keys ⇒ 5 tasks forever (measured exponent 0.75 at
#     10×); the chunked form shuffles on (event_type, 10-day bucket) and
#     replicates each chunk's (window−1)-row tail as context, restoring
#     |keys|×|buckets| parallelism with bit-identical output. The oracle
#     IS the single-pass SQL — hash-green proves the chunk algebra exact.
#     (Same playbook as sessionize_two_phase for the same reason.) ----------

_CHUNK_BUCKET_S = 864_000  # 10-day chunks: mid-chunks hold ≥ w−1 rows at every SF


@register(
    "timeseries_anomaly_chunked",
    _Z_ORACLE,
)
def timeseries_anomaly_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_iot_bigdata_pipeline_spark.operators.rolling import rolling_sums_chunked

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # no NULL order keys (nasty battery)
        .select("event_id", "ts", "event_type", "value")
    )
    v = F.col("value")
    rolled = rolling_sums_chunked(
        ev,
        key_col="event_type",
        ts_col="ts",
        id_col="event_id",
        window=_Z_WIN,
        bucket_s=_CHUNK_BUCKET_S,
        sum_exprs={
            "s_dec": v.cast("decimal(25,6)"),
            "q_dec": (v * v).cast("decimal(25,6)"),
        },
        count_col="value",
    )
    windowed = rolled.select(
        "event_id", "ts", "event_type", "value",
        F.col("s_dec").cast("double").alias("s_w"),
        F.col("q_dec").cast("double").alias("q_w"),
        "n_w",
    )
    return _z_flag(windowed)


# --- The streaming anomaly detector as a driver-checked query: the events
#     table replayed through a real availableNow file-source stream into
#     streaming/anomaly.py's applyInPandasWithState operator (integer-micro
#     state accumulation), memory sink. The oracle is the SAME single-pass
#     SQL as the batch query — hash-green proves the streaming state
#     algebra reproduces the decimal-exact batch flags bit-for-bit at
#     driver scale (the pytest additionally proves it across multi-batch
#     splits). Staged and drained by plans/ingest.py's stream_slot. ---------


@register(
    "streaming_anomaly_zscore",
    _Z_ORACLE,
)
def streaming_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_iot_bigdata_pipeline_spark.streaming.anomaly import (
        stream_anomaly_zscore,
    )

    with stream_slot(spark, sf_dir) as slot:
        # mirror the _Z_ORACLE/batch-twin contract: un-timestamped rows
        # have no position in the trailing window (nasty-events battery)
        out = stream_anomaly_zscore(
            slot.stream().filter(F.col("ts").isNotNull()), window=_Z_WIN, min_n=_Z_MIN
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return slot.memory("streaming_anomaly_zscore", out)


# --- Winsorization: clamp each series' values to its exact [p01, p99]
#     (outlier suppression before training/aggregation). Per-series exact
#     interpolated percentiles (DuckDB quantile_cont ≡ Spark percentile,
#     rounded to 9 dp — the agg_distributions parity recipe) computed in
#     ONE small aggregate, broadcast back onto the events scan — the fact
#     side never shuffles. At 100 TB the exact percentile sorts only
#     within each series' agg buffer; swap `percentile` for
#     `approx_percentile` when per-series cardinality outgrows memory. ------


@register(
    "timeseries_winsorize",
    """
    WITH b AS (
        SELECT event_type,
               round(quantile_cont(value, 0.01), 9) AS lo,
               round(quantile_cont(value, 0.99), 9) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.ts, e.event_type, e.value,
           CASE WHEN e.value < b.lo THEN b.lo
                WHEN e.value > b.hi THEN b.hi
                ELSE e.value END AS value_wins,
           coalesce(e.value < b.lo OR e.value > b.hi, false) AS clipped
    FROM events e JOIN b USING (event_type)
    """,
)
def timeseries_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.01)), 9).alias("lo"),
        F.round(F.percentile(F.col("value"), F.lit(0.99)), 9).alias("hi"),
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    v, lo, hi = F.col("value"), F.col("lo"), F.col("hi")
    return j.select(
        "event_id", "ts", "event_type", "value",
        F.when(v < lo, lo).when(v > hi, hi).otherwise(v).alias("value_wins"),
        # registry invariant: no NULL booleans — a NULL value (or an
        # all-NULL series' NULL bounds) is "not clipped" in both engines
        F.coalesce((v < lo) | (v > hi), F.lit(False)).alias("clipped"),
    )


# --- Seasonal profile + residual: the hour-of-day seasonal baseline per
#     series (decimal-exact mean over each (series, hour-of-day) cell) and
#     each event's deseasonalized residual. One 120-cell aggregate,
#     broadcast back onto the scan — the fact side never shuffles (the
#     profile is the IoT "typical day" curve; residuals feed the anomaly
#     paths above). ---------------------------------------------------------


@register(
    "timeseries_seasonal_profile",
    f"""
    WITH prof AS (
        SELECT event_type,
               CAST(extract(hour FROM ts) AS INTEGER) AS hod,
               {DAVG_SQL("value")} AS seasonal_mean,
               count(*) AS n_cell
        FROM events
        GROUP BY 1, 2
    )
    SELECT e.event_id, e.ts, e.event_type, e.value,
           p.hod, p.seasonal_mean, p.n_cell,
           e.value - p.seasonal_mean AS residual
    FROM events e
    JOIN prof p
      ON e.event_type = p.event_type
     AND CAST(extract(hour FROM e.ts) AS INTEGER) = p.hod
    """,
)
def timeseries_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hod = F.hour("ts").cast("int")
    prof = (
        ev.select("event_type", hod.alias("hod"), "value")
        .groupBy("event_type", "hod")
        .agg(davg(F.col("value")).alias("seasonal_mean"), F.count(F.lit(1)).alias("n_cell"))
    )
    j = ev.select("event_id", "ts", "event_type", "value", hod.alias("hod")).join(
        F.broadcast(prof), ["event_type", "hod"]
    )
    return j.select(
        "event_id", "ts", "event_type", "value", "hod", "seasonal_mean", "n_cell",
        (F.col("value") - F.col("seasonal_mean")).alias("residual"),
    )


# --- Time-based (RANGE) trailing window: decimal-exact mean/count of each
#     series' trailing 1 HOUR — the frame kind the ROWS-based operators
#     above don't exercise (frame membership by timestamp distance, not
#     row count; simultaneous rows all join the frame). Both engines order
#     by integer epoch-seconds and use the identical RANGE 3600 frame. One
#     keyed window sort; series independent. -------------------------------

_RANGE_S = 3600


@register(
    "timeseries_range_window",
    f"""
    WITH e AS (
        -- ts IS NOT NULL both engines: a NULL epoch has no trailing-hour
        -- frame, and the engines disagree on where the NULL peer group
        -- sits in RANGE windows (the standing null check)
        SELECT event_id, ts, event_type, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events
        WHERE ts IS NOT NULL
    )
    SELECT event_id, ts, event_type, value,
        CAST(sum(CAST(value AS DECIMAL(25,6)))
             OVER (PARTITION BY event_type ORDER BY ts_s
                   RANGE BETWEEN {_RANGE_S} PRECEDING AND CURRENT ROW) AS DOUBLE)
        / count(value)
             OVER (PARTITION BY event_type ORDER BY ts_s
                   RANGE BETWEEN {_RANGE_S} PRECEDING AND CURRENT ROW) AS mean_1h,
        count(value)
             OVER (PARTITION BY event_type ORDER BY ts_s
                   RANGE BETWEEN {_RANGE_S} PRECEDING AND CURRENT ROW) AS n_1h
    FROM e
    """,
)
def timeseries_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .withColumn("ts_s", F.unix_timestamp("ts").cast("long"))
    )
    wr = (
        W.partitionBy("event_type")
        .orderBy("ts_s")
        .rangeBetween(-_RANGE_S, W.currentRow)
    )
    v = F.col("value")
    return ev.select(
        "event_id", "ts", "event_type", "value",
        (F.sum(v.cast("decimal(25,6)")).over(wr).cast("double") / F.count(v).over(wr)).alias("mean_1h"),
        F.count(v).over(wr).alias("n_1h"),
    )


# --- Time-weighted average (the irregular-sampling mean every TSDB
#     exposes): piecewise-constant (LOCF) segments weighted by their
#     duration, per series. Σ(vᵢ·wᵢ) accumulates in DECIMAL — each
#     product is ONE IEEE multiply (identical both engines, no a+b·c
#     tree to contract), the sum is exact, and the final division is a
#     single double op. Shape: one keyed-sort window (lead) + one hash
#     agg on the same key — the agg reuses the window's partitioning, so
#     it's ONE shuffle total at any scale. -----------------------------------


@register(
    "timeseries_time_weighted_avg",
    """
    WITH v AS (
        SELECT event_type, ts, event_id, value FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
    ), s AS (
        SELECT event_type, value,
            epoch_us(ts) AS t_us,
            lead(epoch_us(ts)) OVER
                (PARTITION BY event_type ORDER BY ts, event_id) AS next_us
        FROM v
    )
    SELECT event_type,
        CAST(count(*) AS BIGINT) AS n_segments,
        CAST(sum(next_us - t_us) AS BIGINT) AS span_us,
        round(CAST(sum(CAST(value * ((next_us - t_us) / 1000000.0) AS DECIMAL(25,6))) AS DOUBLE)
              / (CAST(sum(next_us - t_us) AS DOUBLE) / 1000000.0), 9) AS twa
    FROM s WHERE next_us IS NOT NULL
    GROUP BY event_type
    """,
)
def timeseries_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    wlead = W.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        "value",
        t_us.alias("t_us"),
        F.lead(t_us).over(wlead).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    dt_us = F.col("next_us") - F.col("t_us")
    # weight in seconds via ONE double division; v·w is one multiply —
    # no multiply-add tree, so no round-9 FMA guard needed here
    wv = (F.col("value") * (dt_us / F.lit(1000000.0))).cast("decimal(25,6)")
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(dt_us).cast("long").alias("span_us"),
        F.round(
            F.sum(wv).cast("double")
            / (F.sum(dt_us).cast("double") / F.lit(1000000.0)),
            9,
        ).alias("twa"),
    )


# --- Gap detection: the k largest inter-arrival gaps per series (sensor
#     outage triage). Rank-based rather than a fixed threshold so the
#     query is non-vacuous at every scale factor (a threshold tuned at
#     sf0.001 densities returns nothing at sf0.1 and vice versa). Output
#     is integers + timestamps — hash-exact, no float surface at all.
#     Shape: two window functions over ONE keyed sort (lag feeds
#     row_number on the same (event_type, ts, event_id) ordering), then a
#     rank filter; |keys| parallelism is fine for top-k triage output,
#     and the chunked-window escape hatch (operators/rolling.py) applies
#     if a deployment needs more. -------------------------------------------

_GAP_TOPK = 10


@register(
    "timeseries_gap_topk",
    f"""
    WITH g AS (
        -- ts IS NOT NULL both engines: a NULL arrival has no gap, and
        -- un-pinned it becomes a lag() NEIGHBOR whose placement (Spark
        -- first / DuckDB last) changes which real gaps exist at all
        SELECT event_type, ts, event_id,
            lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_ts
        FROM events
        WHERE ts IS NOT NULL
    ), d AS (
        SELECT event_type, prev_ts AS gap_start, ts AS gap_end, event_id,
            epoch_us(ts) - epoch_us(prev_ts) AS gap_us
        FROM g WHERE prev_ts IS NOT NULL
    ), r AS (
        SELECT *, row_number() OVER
            (PARTITION BY event_type ORDER BY gap_us DESC, gap_end, event_id) AS rk
        FROM d
    )
    SELECT event_type, gap_start, gap_end,
           CAST(gap_us AS BIGINT) AS gap_us, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_GAP_TOPK}
    """,
)
def timeseries_gap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    word = W.partitionBy("event_type").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        F.lag("ts").over(word).alias("gap_start"),
        F.col("ts").alias("gap_end"),
        "event_id",
        (t_us - F.lag(t_us).over(word)).alias("gap_us"),
    ).filter(F.col("gap_start").isNotNull())
    wrank = W.partitionBy("event_type").orderBy(
        F.col("gap_us").desc(), "gap_end", "event_id"
    )
    return (
        d.withColumn("rk", F.row_number().over(wrank).cast("long"))
        .filter(F.col("rk") <= _GAP_TOPK)
        .select("event_type", "gap_start", "gap_end", F.col("gap_us").cast("long").alias("gap_us"), "rk")
    )


# --- Robust outliers via median/MAD: the classic heavy-tail-safe twin of
#     the z-score paths above (median and MAD are insensitive to the very
#     outliers being flagged; reference's dashboard flags by mean±3σ which
#     a single spike drags). Shape: two tiny per-series aggregates (exact
#     percentile over each series' agg buffer, like timeseries_winsorize)
#     broadcast back onto the scan — event_type is the bounded device-class
#     dimension, so the broadcast side is fixed-size at any corpus scale;
#     the fact side never shuffles. Swap `percentile` for
#     `approx_percentile` when per-series cardinality outgrows memory.
#     Parity: medians rounded to 9dp before reuse (interpolated percentile
#     is the one ulp-divergent step); downstream abs/mul/div/compare are
#     single correctly-rounded ops in the identical order both engines. ----


@register(
    "timeseries_mad_outliers",
    """
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 9) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_id, e.ts, e.event_type, e.value, m.med,
               abs(e.value - m.med) AS absdev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, round(quantile_cont(absdev, 0.5), 9) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.ts, d.event_type, d.value, d.med, s.mad, d.absdev,
           CASE WHEN s.mad > 0
                THEN round(d.absdev / (1.4826 * s.mad), 9) END AS robust_z,
           coalesce(s.mad > 0 AND d.absdev > 3.0 * (1.4826 * s.mad), false)
               AS is_outlier
    FROM dev d JOIN mad s USING (event_type)
    """,
)
def timeseries_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 9).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile(F.col("absdev"), F.lit(0.5)), 9).alias("mad")
    )
    j = dev.join(F.broadcast(mad), "event_type")
    scaled = F.lit(1.4826) * F.col("mad")
    return j.select(
        "event_id", "ts", "event_type", "value", "med", "mad", "absdev",
        F.when(F.col("mad") > 0, F.round(F.col("absdev") / scaled, 9)).alias("robust_z"),
        # registry invariant: never emit NULL booleans (a NULL-value row's
        # NULL absdev would 3VL-propagate here; "not an outlier" is the
        # pinned cross-engine answer)
        F.coalesce(
            (F.col("mad") > 0) & (F.col("absdev") > F.lit(3.0) * scaled),
            F.lit(False),
        ).alias("is_outlier"),
    )


# --- Burst detection: COUNT-based anomaly (alert storms / thundering
#     herds), the volume-side complement of the value-based z-score
#     paths. Per (series, minute) event counts — including a 3-sigma
#     threshold from per-series count moments computed over the DENSE
#     minute grid (absent minutes are zero-count and must pull the mean
#     down; an agg over observed minutes only would bias μ and σ up).
#     Shape: one minute-bucket hash agg, one sequence/explode densify
#     per series (grid bounded by the corpus time span), one tiny
#     moments aggregate broadcast back. All moments in exact DECIMAL;
#     the σ comparison squares both sides (burst ⇔ (n−μ)² > 9σ², n>μ) so
#     no sqrt enters the flag — integer-exact cross-engine. ---------------

_BURST_BUCKET_S = 60


@register(
    "timeseries_burst_windows",
    f"""
    WITH m AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / {_BURST_BUCKET_S}) AS BIGINT) AS minute_b,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(minute_b) AS lo, max(minute_b) AS hi FROM m),
    grid AS (
        SELECT t.event_type, g.minute_b
        FROM (SELECT DISTINCT event_type FROM m) t,
             (SELECT unnest(generate_series((SELECT lo FROM span),
                                            (SELECT hi FROM span))) AS minute_b) g
    ),
    dense AS (
        SELECT g.event_type, g.minute_b, coalesce(m.n, 0) AS n
        FROM grid g LEFT JOIN m ON g.event_type = m.event_type
                               AND g.minute_b = m.minute_b
    ),
    stats AS (
        SELECT event_type,
               count(*) AS n_minutes,
               CAST(sum(CAST(n AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS mu,
               CAST(sum(CAST(n AS DECIMAL(25,6)) * CAST(n AS DECIMAL(25,6))) AS DOUBLE)
                 / count(*) AS m2
        FROM dense GROUP BY event_type
    )
    SELECT d.event_type, d.minute_b, d.n,
           round(s.mu, 9) AS mu,
           coalesce(d.n > round(s.mu, 9) AND
            (d.n - round(s.mu, 9)) * (d.n - round(s.mu, 9))
              > 9.0 * round(s.m2 - s.mu * s.mu, 9), false) AS is_burst
    FROM dense d JOIN stats s USING (event_type)
    WHERE d.n > 0
    """,
)
def timeseries_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    minute = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / _BURST_BUCKET_S).cast(
        "long"
    )
    # Checkpoint the minute reduction: span, the grid's type list, and the
    # dense join all consume it — without the checkpoint the plan repeats
    # the events scan six times (scan-count audit). |types|·|minutes| rows.
    m = (
        ev.select("event_type", minute.alias("minute_b"))
        .groupBy("event_type", "minute_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    span = m.agg(F.min("minute_b").alias("lo"), F.max("minute_b").alias("hi"))
    grid = (
        m.select("event_type").distinct()
        .crossJoin(F.broadcast(span))
        .select("event_type", F.explode(F.sequence("lo", "hi")).alias("minute_b"))
    )
    dense = grid.join(m, ["event_type", "minute_b"], "left").select(
        "event_type", "minute_b", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    nd = F.col("n").cast("decimal(25,6)")
    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_minutes"),
        (F.sum(nd).cast("double") / F.count(F.lit(1))).alias("mu"),
        (F.sum(nd * nd).cast("double") / F.count(F.lit(1))).alias("m2"),
    )
    j = dense.join(F.broadcast(stats), "event_type").filter(F.col("n") > 0)
    # round-9 FMA guard (README parity rule 2): m2 − mu·mu is an a−b·c
    # shape DuckDB may contract, and it feeds a COMPARISON — round both
    # the mean and the variance before the flag so a boundary row can't
    # ulp-flip cross-engine
    mu_r = F.round(F.col("mu"), 9)
    var_r = F.round(F.col("m2") - F.col("mu") * F.col("mu"), 9)
    dev = F.col("n") - mu_r
    return j.select(
        "event_type",
        "minute_b",
        "n",
        mu_r.alias("mu"),
        # registry invariant: never emit NULL booleans (inputs here are
        # non-NULL by construction — the coalesce pins the schema flag)
        F.coalesce(
            (F.col("n") > mu_r) & (dev * dev > F.lit(9.0) * var_r), F.lit(False)
        ).alias("is_burst"),
    )


# --- CUSUM change-point detection (Page 1954): the upper one-sided
#     cumulative sum S_i = max(0, S_{i-1} + (x_i − k)) flags sustained
#     upward level shifts the point-wise z-score paths miss. The
#     recursion is not directly window-expressible, but the classic
#     identity S_i = P_i − min_{j≤i} P_j (P = prefix sum of x−k)
#     linearizes it into TWO frames over ONE keyed sort: a decimal-exact
#     running sum and a running min of it — no UDF, no iteration. k is
#     the per-series decimal-exact mean (broadcast back), so drift is
#     measured against each series' own level; h = 5σ would be the
#     alarm line in production, here surfaced as the raw statistic plus
#     a fixed-multiple flag to keep the oracle exact. ---------------------


@register(
    "timeseries_cusum_shift",
    f"""
    WITH stats AS (
        SELECT event_type, {DAVG_SQL("value")} AS mu
        FROM events GROUP BY event_type
    ),
    d AS (
        -- ts IS NOT NULL both engines: the CUSUM prefix is a running sum
        -- in TIME order, so NULL-ts placement (Spark first / DuckDB
        -- last) changes every downstream prefix (decorrelated
        -- nasty-events find; the mean keeps full-corpus coverage)
        SELECT e.event_id, e.ts, e.event_type, e.value,
               CAST(e.value AS DECIMAL(25,6))
                 - CAST(round(s.mu, 9) AS DECIMAL(25,6)) AS dev
        FROM events e JOIN stats s USING (event_type)
        WHERE e.ts IS NOT NULL
    ),
    pr AS (
        SELECT event_id, ts, event_type, value,
               sum(dev) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pref
        FROM d
    ),
    p AS (
        SELECT *, min(pref) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS run_min
        FROM pr
    )
    SELECT event_id, ts, event_type, value,
           CAST(pref - run_min AS DOUBLE) AS cusum,
           coalesce(pref - run_min > CAST(100.0 AS DECIMAL(25,6)), false)
               AS is_shifted
    FROM p
    """,
)
def timeseries_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(davg(F.col("value")).alias("mu"))
    # ts pin AFTER the mean: stats keep full-corpus coverage, the
    # time-ordered prefix excludes NULL-ts rows (mirrors the oracle)
    d = ev.filter(F.col("ts").isNotNull()).join(F.broadcast(stats), "event_type").select(
        "event_id", "ts", "event_type", "value",
        (
            F.col("value").cast("decimal(25,6)")
            - F.round(F.col("mu"), 9).cast("decimal(25,6)")
        ).alias("dev"),
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    pref = F.sum("dev").over(w)
    p = d.select(
        "event_id", "ts", "event_type", "value",
        pref.alias("pref"), F.min(pref).over(w).alias("run_min"),
    )
    cusum_dec = F.col("pref") - F.col("run_min")
    # an all-NULL-value series has NULL cusum → is_shifted must coalesce
    # to false, never ride as a NULL BOOLEAN: nullable-bool pandas reprs
    # diverge per engine in the canonical compare (nasty-events find)
    return p.select(
        "event_id", "ts", "event_type", "value",
        cusum_dec.cast("double").alias("cusum"),
        F.coalesce(
            cusum_dec > F.lit(100.0).cast("decimal(25,6)"), F.lit(False)
        ).alias("is_shifted"),
    )


# --- Equi-width histogram per series (the dashboard distribution panel):
#     10 bins spanning each series' exact [min, max], exact integer
#     counts. Bin arithmetic is floor((v−lo)/w) with lo/hi/w all derived
#     from identical doubles by single correctly-rounded ops in the same
#     order both engines — no rounding guard needed because no SUM enters
#     the binning — with the hi edge clamped into the last bin. Shape:
#     one tiny min/max aggregate broadcast back + one |series|·10-group
#     hash agg; the scan never shuffles. -----------------------------------

_HIST_BINS = 10


@register(
    "timeseries_histogram",
    f"""
    WITH b AS (
        SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM events GROUP BY event_type
    ),
    binned AS (
        SELECT e.event_type, b.lo, b.hi,
               least(CAST(floor((e.value - b.lo)
                                / ((b.hi - b.lo) / {_HIST_BINS})) AS BIGINT),
                     {_HIST_BINS - 1}) AS bin
        FROM events e JOIN b USING (event_type)
        WHERE b.hi > b.lo
    )
    SELECT event_type, bin, lo, hi, count(*) AS n
    FROM binned GROUP BY event_type, bin, lo, hi
    """,
)
def timeseries_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    j = ev.join(F.broadcast(b), "event_type").filter(F.col("hi") > F.col("lo"))
    width = (F.col("hi") - F.col("lo")) / F.lit(_HIST_BINS)
    bin_ = F.least(
        F.floor((F.col("value") - F.col("lo")) / width).cast("long"),
        F.lit(_HIST_BINS - 1),
    )
    return (
        j.select("event_type", "lo", "hi", bin_.alias("bin"))
        .groupBy("event_type", "bin", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- Autocorrelation function (ACF) at lags 1..3 per series, over the
#     minute-mean sequence (the classic seasonality / persistence probe
#     next to the OLS trend and the seasonal profile). Reference analog:
#     the dashboard's per-type diagnostics (app/dashboard.py) stop at
#     means — ACF is part of the extension surface.
#
#     Exactness: the minute mean is davg (exact decimal sum / count, one
#     correctly-rounded double divide) rounded to 6 dp, so every series
#     value is identical in both engines; all ACF moments accumulate
#     through DECIMAL(25,6) (order-insensitive), and the final ratio is
#     computed on the multiplied-through form
#         r_l = (n²·Σxy_l − n·S·(Sh_l+St_l) + n_l·S²) / (n·(n·Σx² − S²))
#     (mean μ = S/n eliminated — no intermediate double division), one
#     identical double expression tree in both engines with a round-9
#     FMA guard on the result (README parity rule 2).
#
#     Shape at 100 TB: one minute-bucket hash aggregate with map-side
#     partials reduces the corpus to |types|×|minutes| rows; the lag
#     window and the final aggregate run on that reduced series. The
#     window serializes per event_type, but its INPUT is the bucketed
#     series (minutes, not events) — the corpus-scaled work is all in
#     the first hash agg. -------------------------------------------------

_ACF_LAGS = (1, 2, 3)


def _acf_oracle() -> str:
    over = "OVER (PARTITION BY event_type ORDER BY bucket_s)"
    lag_cols = ",\n               ".join(
        f"lag(xm, {k}) {over} AS x{k}" for k in _ACF_LAGS
    )
    # cast-then-multiply, never CAST(xm * xk AS DECIMAL): a DOUBLE product
    # has a 12-decimal tail, and double->decimal cast rounding diverges
    # cross-engine there (JVM shortest-repr vs binary-value rounding —
    # decorrelated nasty-events find). xm is a round-6 double, so its own
    # decimal cast is exact both engines; the decimal product then is too.
    mom_cols = []
    for k in _ACF_LAGS:
        mom_cols.append(
            f"count(x{k}) AS n{k},\n"
            f"           CAST(sum(CAST(xm AS DECIMAL(18,6)) * CAST(x{k} AS DECIMAL(18,6))) AS DOUBLE) AS sxy{k},\n"
            f"           CAST(sum(CASE WHEN x{k} IS NOT NULL THEN CAST(xm AS DECIMAL(25,6)) END) AS DOUBLE) AS sh{k},\n"
            f"           CAST(sum(CAST(x{k} AS DECIMAL(25,6))) AS DOUBLE) AS st{k}"
        )
    # round-6 guard on EVERY product term: the numerator cancels ~1e7
    # magnitude products down to O(1), so a single FMA-contracted or
    # reassociated multiply-add (one ulp of a term) lands as ~1e-8 in the
    # quotient — past the round-9 output guard (decorrelated nasty-events
    # find). Materializing each product through round() pins both
    # engines' intermediates to a shared grid before any add/sub.
    acf_cols = ",\n        ".join(
        f"CASE WHEN n{k} > 0 AND round(n * sxx, 6) - round(s * s, 6) <> 0 THEN "
        f"round((round(n * n * sxy{k}, 6) - round(n * s * (sh{k} + st{k}), 6)"
        f" + round(n{k} * s * s, 6))"
        f" / (n * (round(n * sxx, 6) - round(s * s, 6))), 9) END AS acf_lag{k}"
        for k in _ACF_LAGS
    )
    return f"""
    WITH series AS (
        SELECT event_type,
               CAST(floor(epoch(ts)/60) AS BIGINT)*60 AS bucket_s,
               round({DAVG_SQL('value')}, 6) AS xm
        FROM events
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    ), lagged AS (
        SELECT event_type, xm,
               {lag_cols}
        FROM series
    ), mom AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(xm AS DECIMAL(25,6))) AS DOUBLE) AS s,
               CAST(sum(CAST(xm AS DECIMAL(18,6)) * CAST(xm AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
           {",".join(mom_cols)}
        FROM lagged
        GROUP BY event_type
    )
    SELECT event_type, n,
        {acf_cols}
    FROM mom
    """


@register("timeseries_autocorr", _acf_oracle())
def timeseries_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    sec = F.unix_timestamp("ts").cast("long")
    bucket = (sec - F.pmod(sec, F.lit(60))).alias("bucket_s")
    series = (
        ev.groupBy("event_type", bucket)
        .agg(F.round(davg(F.col("value")), 6).alias("xm"))
    )
    w = W.partitionBy("event_type").orderBy("bucket_s")
    lagged = series.select(
        "event_type", "xm",
        *[F.lag("xm", k).over(w).alias(f"x{k}") for k in _ACF_LAGS],
    )
    d25 = "decimal(25,6)"
    d18 = "decimal(18,6)"
    # cast-then-multiply (mirrors the oracle): double products have
    # 12-decimal tails whose decimal-cast rounding diverges cross-engine
    xm18 = F.col("xm").cast(d18)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xm").cast(d25)).cast("double").alias("s"),
        F.sum(xm18 * xm18).cast("double").alias("sxx"),
    ]
    for k in _ACF_LAGS:
        xk = F.col(f"x{k}")
        aggs += [
            F.count(xk).alias(f"n{k}"),
            F.sum(xm18 * xk.cast(d18)).cast("double").alias(f"sxy{k}"),
            F.sum(F.when(xk.isNotNull(), F.col("xm").cast(d25))).cast("double").alias(f"sh{k}"),
            F.sum(xk.cast(d25)).cast("double").alias(f"st{k}"),
        ]
    mom = lagged.groupBy("event_type").agg(*aggs)
    n, s, sxx = F.col("n"), F.col("s"), F.col("sxx")
    # round-6 guard on every product (mirrors the oracle): the numerator
    # cancels large products down to O(1), so one contracted multiply-add
    # ulp lands ~1e-8 in the quotient — materialize each product through
    # round() so both engines combine identical intermediates
    varn = F.round(n * sxx, 6) - F.round(s * s, 6)
    den = n * varn
    out = ["event_type", "n"]
    for k in _ACF_LAGS:
        nk = F.col(f"n{k}")
        num = (
            F.round(n * n * F.col(f"sxy{k}"), 6)
            - F.round(n * s * (F.col(f"sh{k}") + F.col(f"st{k}")), 6)
            + F.round(nk * s * s, 6)
        )
        out.append(
            F.when((nk > 0) & (varn != 0), F.round(num / den, 9)).alias(
                f"acf_lag{k}"
            )
        )
    return mom.select(*out)


# --- STL-lite decomposition: trend (centered 25-h moving average over the
#     hourly mean series) + seasonal (hour-of-day mean of the detrended
#     series) + residual — the classic seasonal-trend split, kept exactly
#     cross-engine: hourly means and all window sums are DECIMAL-exact,
#     the detrended series is rounded to 6 dp BEFORE its decimal seasonal
#     aggregation (a raw-double sum would be order-dependent), every
#     surfaced float rounds once more. The corpus-scaled stage is the one
#     hourly hash aggregate; both windows run on the bucketed ~(types ×
#     hours) series (the autocorr shape). Edge frames renormalize by the
#     actual row count (the FIR warmup rule). ------------------------------

_STL_HALF = 12  # 25-hour centered window


@register(
    "timeseries_stl_decompose",
    f"""
    WITH hourly AS (
        -- ts IS NOT NULL both engines: downstream lag()/moving-average
        -- windows read neighbors in HOUR order, so the NULL-hour
        -- bucket's placement (Spark first / DuckDB last) shifts every
        -- window read (decorrelated nasty-events find)
        SELECT event_type, date_trunc('hour', ts) AS hour_start,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(value) AS x
        FROM events WHERE ts IS NOT NULL
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    tr AS (
        SELECT event_type, hour_start, x,
               CAST(sum(CAST(round(x, 6) AS DECIMAL(25,6))) OVER w AS DOUBLE)
                 / count(x) OVER w AS trend
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                     ROWS BETWEEN {_STL_HALF} PRECEDING AND {_STL_HALF} FOLLOWING)
    ),
    de AS (
        SELECT event_type, hour_start, x, trend,
               round(x - trend, 6) AS detr6
        FROM tr
    ),
    sea AS (
        SELECT event_type, hour(hour_start) AS hod,
               CAST(sum(CAST(detr6 AS DECIMAL(25,6))) AS DOUBLE) / count(detr6)
                   AS seasonal
        FROM de GROUP BY event_type, hour(hour_start)
    )
    SELECT d.event_type, d.hour_start,
           round(d.x, 9) AS x_r9,
           round(d.trend, 9) AS trend_r9,
           round(s.seasonal, 9) AS seasonal_r9,
           round(d.detr6 - s.seasonal, 9) AS resid_r9
    FROM de d JOIN sea s ON s.event_type = d.event_type
                        AND s.hod = hour(d.hour_start)
    """,
)
def timeseries_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("hour_start"), "value")
        .groupBy("event_type", "hour_start")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
                / F.count("value")
            ).alias("x")
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-_STL_HALF, _STL_HALF)
    )
    # round to the 6 dp grid BEFORE the decimal cast: Spark casts doubles
    # via shortest-repr HALF_UP, DuckDB via the binary value — on a dense
    # full-precision double they disagree systematically (caught by the
    # sf0.1 sweep: 914/3360 trend cells off in the 8th decimal); a
    # grid-aligned double casts identically in both engines (the MASE /
    # micro-nat mechanism).
    tr = hourly.withColumn(
        "trend",
        F.sum(F.round(F.col("x"), 6).cast("decimal(25,6)")).over(w).cast("double")
        / F.count("x").over(w),
    )
    de = tr.withColumn("detr6", F.round(F.col("x") - F.col("trend"), 6))
    sea = de.groupBy("event_type", F.hour("hour_start").alias("hod")).agg(
        (
            F.sum(F.col("detr6").cast("decimal(25,6)")).cast("double")
            / F.count("detr6")
        ).alias("seasonal")
    )
    j = de.join(
        F.broadcast(sea),
        (de.event_type == sea.event_type) & (F.hour(de.hour_start) == sea.hod),
    ).drop(sea.event_type)
    return j.select(
        "event_type",
        "hour_start",
        F.round("x", 9).alias("x_r9"),
        F.round("trend", 9).alias("trend_r9"),
        F.round("seasonal", 9).alias("seasonal_r9"),
        F.round(F.col("detr6") - F.col("seasonal"), 9).alias("resid_r9"),
    )


# --- Forecast-baseline evaluation (MASE numerator/denominator): per
#     series, the mean absolute error of the seasonal-naive forecast
#     (lag 24 h) scaled by the one-step naive (lag 1 h) over the hourly
#     series — the standard "is a model better than persistence?" yard-
#     stick computed corpus-side before anyone trains anything. Absolute
#     errors round to 6 dp then accumulate in DECIMAL (raw double sums
#     are order-dependent); the final ratio is one guarded division. -----


@register(
    "timeseries_mase_baseline",
    """
    WITH hourly AS (
        -- ts IS NOT NULL both engines: downstream lag()/moving-average
        -- windows read neighbors in HOUR order, so the NULL-hour
        -- bucket's placement (Spark first / DuckDB last) shifts every
        -- window read (decorrelated nasty-events find)
        SELECT event_type, date_trunc('hour', ts) AS hour_start,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(value) AS x
        FROM events WHERE ts IS NOT NULL
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    lagged AS (
        SELECT event_type, x,
               lag(x, 1) OVER (PARTITION BY event_type ORDER BY hour_start) AS x1,
               lag(x, 24) OVER (PARTITION BY event_type ORDER BY hour_start) AS x24
        FROM hourly
    )
    SELECT event_type,
           CAST(count(x1) AS BIGINT) AS n_naive,
           CAST(count(x24) AS BIGINT) AS n_seasonal,
           round(CAST(sum(CAST(round(abs(x - x1), 6) AS DECIMAL(25,6))) AS DOUBLE)
                 / count(x1), 9) AS mae_naive_r9,
           round(CAST(sum(CAST(round(abs(x - x24), 6) AS DECIMAL(25,6))) AS DOUBLE)
                 / count(x24), 9) AS mae_seasonal_r9,
           CASE WHEN sum(CAST(round(abs(x - x1), 6) AS DECIMAL(25,6))) > 0
                THEN round((CAST(sum(CAST(round(abs(x - x24), 6) AS DECIMAL(25,6))) AS DOUBLE)
                            / count(x24))
                           / (CAST(sum(CAST(round(abs(x - x1), 6) AS DECIMAL(25,6))) AS DOUBLE)
                              / count(x1)), 9) END AS mase_r9
    FROM lagged GROUP BY event_type
    """,
)
def timeseries_mase_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("hour_start"), "value")
        .groupBy("event_type", "hour_start")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
                / F.count("value")
            ).alias("x")
        )
    )
    w = W.partitionBy("event_type").orderBy("hour_start")
    lagged = hourly.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 24).over(w).alias("x24"),
    )
    d6 = lambda c: F.sum(F.round(F.abs(c), 6).cast("decimal(25,6)"))  # noqa: E731
    mae_n = d6(F.col("x") - F.col("x1")).cast("double") / F.count("x1")
    mae_s = d6(F.col("x") - F.col("x24")).cast("double") / F.count("x24")
    return lagged.groupBy("event_type").agg(
        F.count("x1").cast("long").alias("n_naive"),
        F.count("x24").cast("long").alias("n_seasonal"),
        F.round(mae_n, 9).alias("mae_naive_r9"),
        F.round(mae_s, 9).alias("mae_seasonal_r9"),
        F.when(
            d6(F.col("x") - F.col("x1")) > 0, F.round(mae_s / mae_n, 9)
        ).alias("mase_r9"),
    )


# ---------------------------------------------------------------------------
# Monotone-run detection (sensor-degradation streaks): per user, maximal
# runs of STRICTLY decreasing readings in event-time order, reporting the
# longest streak and how many streaks reach the alert length. The classic
# gaps-and-islands trick — a "new run" flag summed into run ids — over one
# user-keyed window; user cardinality scales with the corpus, so the
# window parallelizes. Values are passthrough doubles compared, never
# accumulated: no float surface. Ties (equal consecutive values) BREAK a
# strict run on both engines identically.
# ---------------------------------------------------------------------------

_STREAK_ALERT = 4  # readings in a row, i.e. >= 3 consecutive drops

_STREAK_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN value < lag(value) OVER w THEN 0 ELSE 1 END AS new_run
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id,
           sum(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
    FROM flagged
),
lens AS (
    SELECT user_id, run_id, CAST(count(*) AS BIGINT) AS run_len
    FROM runs GROUP BY user_id, run_id
)
SELECT user_id,
       CAST(max(run_len) AS BIGINT) AS longest_streak,
       CAST(count(CASE WHEN run_len >= {_STREAK_ALERT} THEN 1 END) AS BIGINT)
           AS n_alert_streaks
FROM lens
GROUP BY user_id
HAVING max(run_len) >= {_STREAK_ALERT}
ORDER BY user_id
"""


@register("timeseries_declining_streaks", _STREAK_ORACLE)
def timeseries_declining_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts IS NOT NULL on both sides: Spark orders NULL ts first, DuckDB
    # last, which would segment runs differently per engine.
    e = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn(
        "new_run",
        F.when(F.col("value") < F.lag("value").over(w), 0).otherwise(1),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("new_run").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    lens = runs.groupBy("user_id", "run_id").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return (
        lens.groupBy("user_id")
        .agg(
            F.max("run_len").cast("long").alias("longest_streak"),
            F.count(F.when(F.col("run_len") >= _STREAK_ALERT, 1))
            .cast("long")
            .alias("n_alert_streaks"),
        )
        .filter(F.col("longest_streak") >= _STREAK_ALERT)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Dashboard densify (verdict r8 task 4): operators.dashboard.fill_gaps —
# the reference dashboard's continuous-minute-series step
# (streamlit-app.py:141-170 re-plots resampled telemetry as an unbroken
# line) — was pytest-only machinery. Gate it over events: per-type minute
# resample, then one spine row per 60 s tick between each type's min and
# max tick (sequence+explode per group — no driver range, no cross join),
# with forward-filled values (last ignorenulls over the group window).
# The oracle rebuilds the spine with generate_series and IGNORE NULLS
# last_value. Ticks travel as BIGINT epoch seconds so no timestamp-zone
# semantics ride the compare.
# ---------------------------------------------------------------------------

_FILL_GAPS_ORACLE = """
WITH agg AS (
  SELECT event_type,
         CAST(floor(epoch(ts)/60) AS BIGINT)*60 AS tick,
         count(*) AS n_events,
         sum(CAST(value AS DECIMAL(25,6))) AS sv
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
spine AS (
  SELECT event_type, unnest(generate_series(min(tick), max(tick), 60)) AS tick
  FROM agg GROUP BY event_type
),
dense AS (
  SELECT s.event_type, s.tick, a.n_events, a.sv
  FROM spine s LEFT JOIN agg a USING (event_type, tick)
)
SELECT event_type, tick,
       CAST(last_value(n_events IGNORE NULLS) OVER w AS BIGINT)
           AS n_events_filled,
       CAST(last_value(sv IGNORE NULLS) OVER w AS DOUBLE) AS sum_value_filled
FROM dense
WINDOW w AS (PARTITION BY event_type ORDER BY tick
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("events_fill_gaps", _FILL_GAPS_ORACLE)
def events_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_iot_bigdata_pipeline_spark.operators.dashboard import fill_gaps

    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    tick_ts = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / 60).cast("long") * 60
    )
    agg = ev.groupBy("event_type", tick_ts.alias("tick_ts")).agg(
        F.count(F.lit(1)).cast("long").alias("n_filled"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("sv"),
    )
    dense = fill_gaps(
        agg, "tick_ts", ["event_type"], ["n_filled", "sv"],
        step_seconds=60, ffill=True,
    )
    return dense.select(
        "event_type",
        F.unix_timestamp("tick_ts").alias("tick"),
        F.col("n_filled").cast("long").alias("n_events_filled"),
        F.col("sv").cast("double").alias("sum_value_filled"),
    )

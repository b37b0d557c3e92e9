"""Analytic (SQL OVER) surface. The reference has none (SURVEY §2.8) but the
extension surface the engine exposes: lag deltas, top-k per group, running
sums, sessionization, and an as-of join — each expressed with Spark Window
functions over deterministic (fully tie-broken) orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.functions.parity import (
    DAVG_SQL,
    DSUM_SQL,
    davg,
    dsum,
)
from enterprise_iot_bigdata_pipeline_spark.operators.prefix import with_bucketed_prefix
from enterprise_iot_bigdata_pipeline_spark.plans import register
from enterprise_iot_bigdata_pipeline_spark.plans.tables import t


# --- lag delta + running cumulative sum per key over ONE window spec (the
#     per-unit speed-delta pattern, SURVEY §2.8; round-3 consolidation of
#     window_lag_delta + window_running_sum — both columns share the
#     (user_id, ts, event_id) sort so Spark plans a single Window node
#     over a single shuffle). Running sum is decimal-accumulated for
#     cross-engine determinism. Top-k-per-group (row_number) coverage
#     lives in `sample_topk_per_source` (plans/curation.py). ----------------


@register(
    "window_lag_runsum",
    """
    SELECT event_id, user_id, ts, value,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta,
           CAST(sum(CAST(value AS DECIMAL(25,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
    FROM events
    WHERE ts IS NOT NULL
    """,
)
def window_lag_runsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # un-timestamped events can't join a time-ordered window: the engines'
    # opposite NULL placements (Spark NULLS FIRST asc, DuckDB NULLS LAST)
    # would shift every frame in the partition (nasty-events battery)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.sum(F.col("value").cast("decimal(25,6)")).over(wrun).cast("double").alias("running_value"),
    )


# --- sessionization: gap > 30 min starts a new session ----------------------


@register(
    "window_sessionize",
    """
    WITH gaps AS (
        SELECT event_id, user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE ts IS NOT NULL
    )
    SELECT event_id, user_id, ts,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM gaps
    """,
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # un-timestamped events can't be sessionized (nasty-events battery)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull() | (F.col("ts") - prev_ts > F.expr("INTERVAL 30 MINUTES")),
        F.lit(1),
    ).otherwise(F.lit(0))
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.select("event_id", "user_id", "ts", is_new.alias("is_new")).select(
        "event_id",
        "user_id",
        "ts",
        F.sum("is_new").over(wrun).alias("session_id"),
    )


@register(
    "sessionize_two_phase",
    # SAME single-pass SQL as window_sessionize: the two-phase operator
    # must produce the identical assignment, so the straightforward
    # window formulation is its bit-exact oracle — a hash-green row
    # proves the chunk/boundary-merge algebra, not just row counts.
    """
    WITH gaps AS (
        SELECT event_id, user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE ts IS NOT NULL
    )
    SELECT event_id, user_id, ts,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM gaps
    """,
)
def sessionize_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof sessionization (operators/sessionize.py): events window
    by (user, day-bucket) — never by user alone — then a per-chunk summary
    merge reconstructs the exact single-pass session numbering. The r5
    skew stress measured the single-pass form at 2.06× under a 50%-hot
    key; this shape bounds every task by a key's per-bucket volume."""
    from enterprise_iot_bigdata_pipeline_spark.operators.sessionize import (
        sessionize_two_phase as _s2p,
    )

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # nasty-events battery: no NULL order keys
        .select("event_id", "user_id", "ts")
    )
    return _s2p(ev, gap="30 minutes", bucket="1 day")


# --- as-of join: for each purchase, the latest prior click by the same
#     user (inclusive ≤). Spark lacks a native ASOF JOIN; the scalable
#     composition is a union-tag + last(ignoreNulls) running window — one
#     shuffle on user_id, no range explosion. DuckDB's native ASOF JOIN
#     would express the same thing; the oracle uses the identical window
#     formulation to pin tie semantics exactly. -----------------------------


@register(
    "asof_purchase_click",
    """
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        FROM events
        WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL
    )
    SELECT event_id, user_id, ts, last_click_ts
    FROM tagged
    WHERE event_type = 'purchase'
    """,
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase") & F.col("ts").isNotNull()
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


# --- Funnel analysis: ordered view → click → purchase conversion per user.
#     TRUE ordered semantics: each stage's timestamp is the user's first
#     qualifying event AT OR AFTER the previous stage's resolved timestamp
#     (an early click before any view does NOT disqualify a later one).
#     Three chained unbounded windows over the SAME user partitioning —
#     one shuffle, no sort (no orderBy ⇒ whole-partition frames), exchange
#     reused across the Window nodes — then ONE per-user aggregate and a
#     stack() unpivot into the 4-row summary. One events scan total. --------


@register(
    "funnel_view_click_purchase",
    """
    WITH s1 AS (
        SELECT user_id, event_type, ts,
            min(CASE WHEN event_type = 'view' THEN ts END)
                OVER (PARTITION BY user_id) AS t_view
        FROM events
    ), s2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
                      OVER (PARTITION BY user_id) AS t_click
        FROM s1
    ), s3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
                      OVER (PARTITION BY user_id) AS t_buy
        FROM s2
    ), per_user AS (
        SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
               min(t_buy) AS t_buy
        FROM s3 GROUP BY user_id
    ), counts AS (
        SELECT count(*) AS entered, count(t_view) AS viewed,
               count(t_click) AS clicked, count(t_buy) AS bought
        FROM per_user
    )
    SELECT 'entered' AS stage, entered AS n_users FROM counts
    UNION ALL SELECT 'viewed', viewed FROM counts
    UNION ALL SELECT 'clicked_after_view', clicked FROM counts
    UNION ALL SELECT 'bought_after_click', bought FROM counts
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    wu = W.partitionBy("user_id")
    et, ts = F.col("event_type"), F.col("ts")
    s1 = ev.select(
        "user_id", "event_type", "ts",
        F.min(F.when(et == "view", ts)).over(wu).alias("t_view"),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(F.when((et == "click") & (ts >= F.col("t_view")), ts)).over(wu),
    )
    s3 = s2.withColumn(
        "t_buy",
        F.min(F.when((et == "purchase") & (ts >= F.col("t_click")), ts)).over(wu),
    )
    per_user = s3.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_buy").alias("t_buy"),
    )
    counts = per_user.agg(
        F.count(F.lit(1)).alias("entered"),
        F.count("t_view").alias("viewed"),
        F.count("t_click").alias("clicked"),
        F.count("t_buy").alias("bought"),
    )
    return counts.selectExpr(
        "stack(4, 'entered', entered, 'viewed', viewed, "
        "'clicked_after_view', clicked, 'bought_after_click', bought) "
        "AS (stage, n_users)"
    )


# --- Cohort retention: users grouped by first-seen week, activity counted
#     per week offset — the canonical retention triangle. Two shuffles
#     total: one |users| aggregate for cohort assignment, one
#     (cohort × offset) count after a user_id join of the user→cohort map.
#     The join carries NO broadcast hint: `firsts` is user-cardinality and
#     grows with the corpus, so a forced broadcast would OOM executors at
#     100 TB. AQE promotes it to broadcast automatically when it fits the
#     autoBroadcastJoinThreshold; otherwise both sides hash-partition on
#     user_id — the events side reuses that partitioning from the firsts
#     aggregate's shuffle. ---------------------------------------------------


@register(
    "cohort_weekly_retention",
    """
    WITH firsts AS (
        SELECT user_id,
               CAST(floor(CAST(floor(epoch(min(ts))) AS BIGINT) / 604800) AS BIGINT) AS cohort_w
        FROM events GROUP BY user_id
    )
    SELECT f.cohort_w,
           CAST(floor(CAST(floor(epoch(e.ts)) AS BIGINT) / 604800) AS BIGINT) - f.cohort_w AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # F.floor, not cast-to-long: cast truncates toward zero and would
    # diverge from the oracle's floor() on pre-epoch (negative) timestamps
    week = lambda c: F.floor(F.unix_timestamp(c).cast("long") / F.lit(604800)).cast("long")  # noqa: E731
    firsts = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_w"))
    # No F.broadcast: firsts has one row per distinct user and scales with
    # the corpus. Let AQE decide (broadcast when small, shuffle join at scale).
    joined = ev.select("user_id", week(F.col("ts")).alias("w")).join(firsts, "user_id")
    return (
        joined.groupBy("cohort_w", (F.col("w") - F.col("cohort_w")).alias("week_offset"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
    )


# --- Quartile banding (ntile): the one ranking window function the
#     registry didn't exercise. Per-series ntile(4) over a FULLY
#     tie-broken ordering (value, event_id — ntile on a partial order is
#     nondeterministic), then a per-band summary so the surfaced result
#     is the 20-row band table (bounds + exact-decimal mean), not 10⁵ raw
#     rows. Shape: one keyed window sort + one hash re-agg; series
#     partition independently. Same 5-key low-cardinality caveat as
#     timeseries_range_window: at 100 TB per-series data volume, the
#     banding itself is the chunked-rolling escape hatch's job. ------------


@register(
    "events_value_quartiles",
    f"""
    WITH q AS (
        -- value IS NOT NULL both engines: a NULL value has no quartile,
        -- and the engines' opposite ASC NULL placement would otherwise
        -- band NULLs into quartile 1 (Spark) vs 4 (DuckDB)
        SELECT event_type, value,
               ntile(4) OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS quartile
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT event_type, quartile,
           count(*) AS n,
           min(value) AS lo,
           max(value) AS hi,
           {DAVG_SQL("value")} AS mean_value
    FROM q
    GROUP BY event_type, quartile
    """,
)
def events_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    q = ev.select("event_type", "value", F.ntile(4).over(w).alias("quartile"))
    return q.groupBy("event_type", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        davg(F.col("value")).alias("mean_value"),
    )


# --- Event-type co-occurrence (market-basket over user behavior): which
#     pairs of event types the same users engage in, with support. Shape:
#     ONE distinct-pair reduction (user_id, event_type) — bounded at
#     |users|·|types| — then a self equi-join on user_id whose per-key fan
#     -out is capped by the TYPE cardinality (≤ C(|types|,2) pairs per
#     user, never corpus-quadratic), then a |types|² count. The support
#     denominator is a 1-row broadcast-joined scalar. ----------------------


@register(
    "events_type_cooccurrence",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (SELECT count(DISTINCT user_id) AS n_users FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_both,
           round(CAST(count(*) AS DOUBLE) / any_value(tot.n_users), 9) AS support
    FROM ut a
    JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    CROSS JOIN tot
    GROUP BY a.event_type, b.event_type
    """,
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    tot = ev.agg(F.count_distinct("user_id").alias("n_users"))
    pairs = ut.alias("a").join(
        ut.alias("b"),
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_both"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.any_value("n_users"), 9
            ).alias("support"),
        )
    )


# --- Behavioral transition matrix (first-order Markov): counts of
#     consecutive event_type transitions within each user's timeline plus
#     the per-source transition probability — the sequence-mining
#     complement of the funnel (which fixes a stage order; this surfaces
#     ALL observed orders). Shape: ONE user-keyed window sort (lag) → one
#     |types|² hash aggregate; the probability denominator joins back on
#     the |types|-row from-side margin, broadcast-sized at any corpus
#     scale. Ties in simultaneous events are broken by event_id like
#     every other window in the registry. ----------------------------------


@register(
    "events_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
        WHERE ts IS NOT NULL
    ),
    trans AS (
        SELECT prev_type AS type_from, event_type AS type_to,
               count(*) AS n_trans
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    margin AS (SELECT type_from, sum(n_trans) AS n_from FROM trans GROUP BY 1)
    SELECT t.type_from, t.type_to, t.n_trans,
           CAST(m.n_from AS BIGINT) AS n_from,
           round(CAST(t.n_trans AS DOUBLE) / m.n_from, 9) AS p_trans
    FROM trans t JOIN margin m ON t.type_from = m.type_from
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("type_from"),
            F.col("event_type").alias("type_to"),
        )
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    margin = trans.groupBy("type_from").agg(F.sum("n_trans").alias("n_from"))
    return trans.join(F.broadcast(margin), "type_from").select(
        "type_from",
        "type_to",
        "n_trans",
        F.col("n_from").cast("long").alias("n_from"),
        F.round(F.col("n_trans").cast("double") / F.col("n_from"), 9).alias("p_trans"),
    )


# --- Native session-window aggregate (F.session_window — the idiomatic
#     Spark gap-session groupBy, identical API in batch and Structured
#     Streaming). Semantics pinned by the oracle AND verified empirically
#     on exact-gap strides (the nasty-events battery, round 9): Spark
#     merges sessions INCLUSIVELY — an event arriving at exactly the
#     previous event's ts + gap still joins the session (the merge test
#     is start <= current_end) — so only a gap STRICTLY GREATER than 30
#     minutes splits; hence `>` in the oracle's is_new, same as the
#     row-level sessionize queries. (The round-7 comment claimed the
#     opposite `>=`; the sf tables never stride at exactly the gap so
#     both forms passed there — the adversarial 30-minute-stride table
#     exposed it.) Session end is last ts + gap. Shape: one user-keyed
#     shuffle into a session-merging aggregate — the same plan a
#     streaming deployment runs with a watermark. --------------------------


@register(
    "events_session_window_agg",
    """
    WITH gaps AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE ts IS NOT NULL
    ),
    s AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTES AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM s
    GROUP BY user_id, sid
    """,
)
def events_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session_window silently DROPS NULL-ts rows; make the semantic
    # explicit and oracle-mirrored (nasty-events battery)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# --- Ranking-function battery: rank / dense_rank / percent_rank /
#     cume_dist over a deliberately tie-heavy key (floor(value) — raw
#     doubles almost never tie, which would make rank ≡ row_number and
#     the distinction vacuous). One keyed window sort serves all four
#     functions plus the row_number tiebreak that keeps the top-5 cut
#     deterministic inside a tie group. percent_rank/cume_dist are
#     single correctly-rounded divisions of identical integers. ------------


@register(
    "events_rank_battery",
    """
    WITH r AS (
        SELECT event_id, event_type, CAST(floor(value) AS BIGINT) AS vb,
               rank()         OVER w AS rnk,
               dense_rank()   OVER w AS drnk,
               percent_rank() OVER w AS prnk,
               cume_dist()    OVER w AS cdist,
               row_number()   OVER (PARTITION BY event_type
                                    ORDER BY floor(value) DESC, event_id) AS rn
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY floor(value) DESC)
    )
    SELECT event_id, event_type, vb,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(drnk AS BIGINT) AS drnk,
           round(prnk, 9) AS prnk,
           round(cdist, 9) AS cdist
    FROM r WHERE rn <= 5
    """,
)
def events_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    vb = F.floor("value")
    wr = W.partitionBy("event_type").orderBy(F.desc(vb))
    wn = W.partitionBy("event_type").orderBy(F.desc(vb), F.asc("event_id"))
    r = ev.select(
        "event_id",
        "event_type",
        vb.alias("vb"),
        F.rank().over(wr).cast("long").alias("rnk"),
        F.dense_rank().over(wr).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(wr), 9).alias("prnk"),
        F.round(F.cume_dist().over(wr), 9).alias("cdist"),
        F.row_number().over(wn).alias("rn"),
    )
    return r.filter(F.col("rn") <= 5).drop("rn")


# --- Scale-safe quartile banding twin: the ntile query above sorts each
#     series in a window (5-key low-cardinality family — per-series
#     volume is one task's problem at 100 TB). This twin computes the
#     three quartile BOUNDS per series in one tiny aggregate (exact
#     percentile, rounded 9 dp like winsorize — swap approx_percentile
#     past memory), broadcasts them back, and bands with a pure-map CASE:
#     the fact side never sorts and never shuffles. Semantics differ from
#     ntile at ties ONLY (ties share a band here; ntile splits them to
#     equalize counts) — the same registered-pin-vs-deployment-shape
#     pairing as timeseries_anomaly_zscore/chunked. ------------------------


@register(
    "events_quartile_banded",
    """
    WITH b AS (
        SELECT event_type,
               round(quantile_cont(value, 0.25), 9) AS q1,
               round(quantile_cont(value, 0.50), 9) AS q2,
               round(quantile_cont(value, 0.75), 9) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN e.value <= b.q1 THEN 1
                WHEN e.value <= b.q2 THEN 2
                WHEN e.value <= b.q3 THEN 3
                ELSE 4 END AS band,
           b.q1, b.q2, b.q3
    FROM events e JOIN b USING (event_type)
    """,
)
def events_quartile_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.25)), 9).alias("q1"),
        F.round(F.percentile(F.col("value"), F.lit(0.50)), 9).alias("q2"),
        F.round(F.percentile(F.col("value"), F.lit(0.75)), 9).alias("q3"),
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    v = F.col("value")
    band = (
        F.when(v <= F.col("q1"), 1)
        .when(v <= F.col("q2"), 2)
        .when(v <= F.col("q3"), 3)
        .otherwise(4)
    )
    return j.select(
        "event_id", "event_type", "value", band.alias("band"), "q1", "q2", "q3"
    )


# --- Transition dwell-time statistics: the DURATION dimension the
#     transition matrix drops — per (type_from, type_to) transition, how
#     long users linger before moving (exact integer µs deltas; decimal-
#     exact mean; exact interpolated median rounded 9 dp like every
#     percentile in the registry). Same single user-keyed window sort as
#     the matrix, one |types|² aggregate. -------------------------------


@register(
    "events_transition_dwell",
    """
    WITH seq AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
        WHERE ts IS NOT NULL
    ),
    d AS (
        SELECT prev_type AS type_from, event_type AS type_to,
               epoch_us(ts) - epoch_us(prev_ts) AS dwell_us
        FROM seq WHERE prev_type IS NOT NULL
    )
    SELECT type_from, type_to,
           count(*) AS n_trans,
           CAST(sum(dwell_us) AS BIGINT) AS total_us,
           CAST(CAST(sum(dwell_us) AS BIGINT) AS DOUBLE) / count(*)
               AS mean_us,
           round(quantile_cont(dwell_us, 0.5) / 1000000.0, 6) AS median_s
    FROM d GROUP BY type_from, type_to
    """,
)
def events_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("type_from"),
        (tus - F.lag(tus).over(w)).alias("dwell_us"),
    ).filter(F.col("type_from").isNotNull())
    return (
        seq.groupBy("type_from", F.col("event_type").alias("type_to"))
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum("dwell_us").cast("long").alias("total_us"),
            # NOT the decimal(25,6) mean: µs sums push the decimal's
            # internal integer past 2^53 and DuckDB's decimal→double cast
            # double-rounds there (the round-5 streaming-z advice item).
            # The dwell values are integral, so the exact BIGINT total
            # cast to double (correctly rounded at any magnitude in both
            # engines) divided by the count is bit-stable.
            (F.sum("dwell_us").cast("long").cast("double")
             / F.count(F.lit(1))).alias("mean_us"),
            # interpolated median of ~10^10-µs values: one ulp is ~4e-6,
            # beyond a round-9 guard — rescale to seconds first so round-6
            # absorbs the engines' differing interpolation forms
            F.round(
                F.percentile(F.col("dwell_us"), F.lit(0.5)) / F.lit(1000000.0), 6
            ).alias("median_s"),
        )
    )


# --- SCD Type 2 dimension history build (the classic warehouse change
#     tracker the reference's MERGE/upsert path stops short of; pairs
#     with operators/upsert.py): collapse each customer's order-status
#     stream into validity intervals [valid_from, valid_to) with a
#     current-row flag. Change detection and interval stitching are two
#     window reads plus one aggregate over ONE hash partitioning — the
#     window partitions by o_custkey, and the run-group aggregate's keys
#     (o_custkey, run) are a superset of that partitioning, so Spark
#     plans a single exchange for the whole query. At 100 TB this is the
#     standard one-shuffle-per-dimension SCD build; keys are customers,
#     so skew is bounded by per-customer order counts. ---------------------


@register(
    "scd2_status_history",
    """
    WITH seq AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               CASE WHEN lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
                    THEN 1 ELSE 0 END AS chg
        FROM orders
        WHERE o_orderdate IS NOT NULL
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
        SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        FROM seq
    ),
    grp AS (
        SELECT o_custkey, run AS version, min(o_orderstatus) AS status,
               min(o_orderdate) AS valid_from, count(*) AS n_orders
        FROM runs GROUP BY o_custkey, run
    )
    SELECT o_custkey, version, status, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
               AS valid_to,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
               IS NULL AS is_current,
           n_orders
    FROM grp
    """,
)
def scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # an undated order has no place in a date-ordered validity history
    # (nasty-orders battery: engines default opposite NULL placements)
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # null-safe change flag: the first row of each customer opens a run
    chg = F.when(
        ~F.lag("o_orderstatus").over(w).eqNullSafe(F.col("o_orderstatus")),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = orders.select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
        F.sum(chg).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("run"),
    )
    # status is constant within a run, but min(string) would force a
    # SortAggregate (string buffers aren't Tungsten hash-aggregatable) —
    # int-encode the single-char status code so the rollup stays a
    # HashAggregate (same trick as the flagship's string mins)
    # decode guard: ascii('') = 0 but char(0) = '\x00', not '' — an
    # empty-string status must round-trip exactly (nasty-orders battery)
    min_code = F.min(F.ascii("o_orderstatus"))
    grp = runs.groupBy("o_custkey", F.col("run").alias("version")).agg(
        F.when(min_code == 0, F.lit("")).otherwise(F.char(min_code)).alias("status"),
        F.min("o_orderdate").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    wv = W.partitionBy("o_custkey").orderBy("version")
    valid_to = F.lead("valid_from").over(wv)
    return grp.select(
        "o_custkey", "version", "status", "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_orders",
    )


# ---------------------------------------------------------------------------
# Interval sweep-line: the order-backlog profile (how many orders are
# OPEN each day). Each order holds [orderdate, orderdate + (key%30 + 1)
# days) half-open; the sweep reduces to ±1 deltas at interval
# boundaries, one corpus-scale hash agg per day, then a running sum
# over the CHANGE-DAY frame — which is calendar-bounded (≤ 2·span
# days, 1.1k rows here), not corpus-scaled, so the single-partition
# window is a constant-size tail like the skew profile's. Emits only
# days where the backlog changes; all arithmetic integer-exact.
# ---------------------------------------------------------------------------


@register(
    "orders_backlog_profile",
    """
    WITH iv AS (
        -- o_orderdate IS NOT NULL both engines: an undated order has no
        -- interval, and a NULL day in the sweep-line running sum lands
        -- at opposite ends of the engines' default orders
        SELECT epoch(o_orderdate) // 86400 AS d0,
               epoch(o_orderdate) // 86400 + o_orderkey % 30 + 1 AS de
        FROM orders
        WHERE o_orderdate IS NOT NULL
    ),
    deltas AS (
        SELECT d0 AS d, 1 AS s, 0 AS e FROM iv
        UNION ALL
        SELECT de AS d, 0 AS s, 1 AS e FROM iv
    ),
    byday AS (
        SELECT d, CAST(sum(s) AS BIGINT) AS n_start, CAST(sum(e) AS BIGINT) AS n_end
        FROM deltas GROUP BY d
    )
    SELECT CAST(CAST(DATE '1970-01-01' + to_days(CAST(d AS INTEGER)) AS DATE) AS VARCHAR) AS day,
           n_start, n_end,
           CAST(sum(n_start - n_end) OVER (ORDER BY d) AS BIGINT) AS open_orders
    FROM byday
    """,
)
def orders_backlog_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d0 = F.expr("unix_timestamp(o_orderdate) div 86400")
    de = d0 + F.col("o_orderkey") % 30 + 1
    iv = orders.select(d0.alias("d0"), de.alias("de"))
    deltas = iv.select(F.col("d0").alias("d"), F.lit(1).alias("s"), F.lit(0).alias("e")).unionByName(
        iv.select(F.col("de").alias("d"), F.lit(0).alias("s"), F.lit(1).alias("e"))
    )
    byday = deltas.groupBy("d").agg(
        F.sum("s").cast("long").alias("n_start"), F.sum("e").cast("long").alias("n_end")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return byday.select(
        F.expr("cast(date_add(DATE '1970-01-01', cast(d as int)) as string)").alias("day"),
        "n_start",
        "n_end",
        F.sum(F.col("n_start") - F.col("n_end")).over(w).cast("long").alias("open_orders"),
    )


# --- Marketing attribution (first-touch / last-touch): every purchase is
#     credited to the user's earliest and most-recent PRECEDING
#     non-purchase event (strictly before the purchase in (ts, event_id)
#     order; purchases with no prior touch credit the 'none' channel).
#     Shape: ONE keyed window sort — first/last over the
#     (unbounded-preceding, 1-preceding) frame with IGNORE NULLS — then a
#     2-way unpivot and one hash aggregate. Revenue is decimal-accumulated
#     (functions/parity.py) for cross-engine determinism. Users partition
#     independently; no corpus-cardinality broadcast anywhere. -------------


@register(
    "events_attribution_touch",
    f"""
    WITH tagged AS (
        SELECT event_type, value,
               first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ch_first,
               last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ch_last
        FROM events
        WHERE ts IS NOT NULL
    ),
    buys AS (SELECT * FROM tagged WHERE event_type = 'purchase'),
    unp AS (
        SELECT 'first_touch' AS model, coalesce(ch_first, 'none') AS channel, value FROM buys
        UNION ALL
        SELECT 'last_touch', coalesce(ch_last, 'none'), value FROM buys
    )
    SELECT model, channel,
           count(*) AS n_purchases,
           {DSUM_SQL("value")} AS revenue
    FROM unp GROUP BY model, channel
    """,
)
def events_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    tagged = ev.select(
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w).alias("ch_first"),
        F.last(touch, ignorenulls=True).over(w).alias("ch_last"),
    )
    buys = tagged.filter(F.col("event_type") == "purchase")
    unp = buys.select(
        F.lit("first_touch").alias("model"),
        F.coalesce("ch_first", F.lit("none")).alias("channel"),
        "value",
    ).unionByName(
        buys.select(
            F.lit("last_touch").alias("model"),
            F.coalesce("ch_last", F.lit("none")).alias("channel"),
            "value",
        )
    )
    return unp.groupBy("model", "channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        dsum(F.col("value")).alias("revenue"),
    )


# --- Funnel conversion-latency quantiles: for users who complete each
#     funnel leg (view→click, click→purchase, view→purchase under the
#     ordered semantics of funnel_view_click_purchase), the distribution
#     of time-to-convert in epoch MICROSECONDS — exact integers end to
#     end. Quantiles are discrete (value at the floor(p·(n−1)) sorted
#     position, lower type) selected with pure integer index arithmetic —
#     no interpolation, so no cross-engine float hazard. Shape: the
#     funnel's one user-keyed window pass, a |users| aggregate, a 3-way
#     unpivot, then ONE per-leg window sort over the converting-user set
#     and a 3-row conditional aggregate. ------------------------------------


@register(
    "funnel_time_to_convert",
    """
    WITH s1 AS (
        -- user_id IS NOT NULL both engines: anonymous events can't
        -- funnel, and a NULL user riding the per-leg rank as an ASC
        -- tiebreaker would land at opposite ends of the engines'
        -- default NULL orders on latency ties
        SELECT user_id, event_type, ts,
            min(CASE WHEN event_type = 'view' THEN ts END)
                OVER (PARTITION BY user_id) AS t_view
        FROM events
        WHERE user_id IS NOT NULL
    ), s2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
                      OVER (PARTITION BY user_id) AS t_click
        FROM s1
    ), s3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
                      OVER (PARTITION BY user_id) AS t_buy
        FROM s2
    ), per_user AS (
        SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
               min(t_buy) AS t_buy
        FROM s3 GROUP BY user_id
    ), legs AS (
        -- the t_view/t_click pins are implied (t_click non-NULL requires
        -- a t_view to anchor on) but stated explicitly so the latency is
        -- PROVABLY non-NULL as a rank key (tools/gate.py null check)
        SELECT 'view_to_click' AS leg, user_id,
               epoch_us(t_click) - epoch_us(t_view) AS lat_us
        FROM per_user WHERE t_click IS NOT NULL AND t_view IS NOT NULL
        UNION ALL
        SELECT 'click_to_purchase', user_id, epoch_us(t_buy) - epoch_us(t_click)
        FROM per_user WHERE t_buy IS NOT NULL AND t_click IS NOT NULL
        UNION ALL
        SELECT 'view_to_purchase', user_id, epoch_us(t_buy) - epoch_us(t_view)
        FROM per_user WHERE t_buy IS NOT NULL AND t_view IS NOT NULL
    ), ranked AS (
        SELECT leg, lat_us,
               row_number() OVER (PARTITION BY leg ORDER BY lat_us, user_id) AS rn,
               count(*) OVER (PARTITION BY leg) AS n
        FROM legs
    )
    SELECT leg,
           CAST(max(n) AS BIGINT) AS n_converted,
           min(lat_us) AS min_us,
           max(CASE WHEN rn = (n - 1) // 4 + 1 THEN lat_us END) AS p25_us,
           max(CASE WHEN rn = (n - 1) // 2 + 1 THEN lat_us END) AS p50_us,
           max(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN lat_us END) AS p75_us,
           max(CASE WHEN rn = (9 * (n - 1)) // 10 + 1 THEN lat_us END) AS p90_us,
           max(lat_us) AS max_us
    FROM ranked GROUP BY leg
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    wu = W.partitionBy("user_id")
    et, ts = F.col("event_type"), F.col("ts")
    s3 = (
        ev.select(
            "user_id", "event_type", "ts",
            F.min(F.when(et == "view", ts)).over(wu).alias("t_view"),
        )
        .withColumn(
            "t_click",
            F.min(F.when((et == "click") & (ts >= F.col("t_view")), ts)).over(wu),
        )
        .withColumn(
            "t_buy",
            F.min(F.when((et == "purchase") & (ts >= F.col("t_click")), ts)).over(wu),
        )
    )
    per_user = s3.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_buy").alias("t_buy"),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    legs = (
        per_user.filter(
            F.col("t_click").isNotNull() & F.col("t_view").isNotNull()
        ).select(
            F.lit("view_to_click").alias("leg"),
            "user_id",
            (us("t_click") - us("t_view")).alias("lat_us"),
        )
        .unionByName(
            per_user.filter(
                F.col("t_buy").isNotNull() & F.col("t_click").isNotNull()
            ).select(
                F.lit("click_to_purchase").alias("leg"),
                "user_id",
                (us("t_buy") - us("t_click")).alias("lat_us"),
            )
        )
        .unionByName(
            per_user.filter(
                F.col("t_buy").isNotNull() & F.col("t_view").isNotNull()
            ).select(
                F.lit("view_to_purchase").alias("leg"),
                "user_id",
                (us("t_buy") - us("t_view")).alias("lat_us"),
            )
        )
    )
    wl = W.partitionBy("leg").orderBy("lat_us", "user_id")
    wn = W.partitionBy("leg")
    ranked = legs.select(
        "leg",
        "lat_us",
        F.row_number().over(wl).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    rn, n = F.col("rn"), F.col("n")
    pick = lambda idx: F.max(F.when(rn == idx + 1, F.col("lat_us")))  # noqa: E731
    return ranked.groupBy("leg").agg(
        F.max(n).cast("long").alias("n_converted"),
        F.min("lat_us").alias("min_us"),
        pick(F.floor((n - 1) / 4)).alias("p25_us"),
        pick(F.floor((n - 1) / 2)).alias("p50_us"),
        pick(F.floor((3 * (n - 1)) / 4)).alias("p75_us"),
        pick(F.floor((9 * (n - 1)) / 10)).alias("p90_us"),
        F.max("lat_us").alias("max_us"),
    )


# --- Point-in-time (as-of dimension) join — the feature-store
#     correctness pattern: each fact row must see the dimension VERSION
#     that was valid at the fact's own timestamp, never a later one (no
#     training-data leakage). Probes are lineitem ships (a deterministic
#     1-in-20 keyslice keeps the surfaced result row-bounded; the
#     operator itself is full-corpus); the dimension is the SCD2 status
#     history derived by scd2_status_history. Spark-first shape: NO
#     interval/theta join — dimension-change rows and probe rows union
#     into ONE stream, sorted once per customer with dims-before-probes
#     tie order (a probe AT a version's start sees that version), and
#     last(IGNORE NULLS) replays history — the as-of pattern of
#     asof_purchase_click generalized to a versioned dimension. Probes
#     predating the first version keep NULL (LEFT semantics; the
#     generator ships ~half of lineitems before their order date). The
#     oracle is the direct LEFT theta join against the validity
#     intervals — same answer through a completely different plan. ---------


@register(
    "join_point_in_time",
    """
    WITH seq AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               CASE WHEN lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
                    THEN 1 ELSE 0 END AS chg
        FROM orders
        WHERE o_orderdate IS NOT NULL
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
        SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        FROM seq
    ),
    grp AS (
        SELECT o_custkey, run AS version, min(o_orderstatus) AS status,
               min(o_orderdate) AS valid_from
        FROM runs GROUP BY o_custkey, run
    ),
    hist AS (
        SELECT o_custkey, version, status, valid_from,
               lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
                   AS valid_to
        FROM grp
    ),
    probes AS (
        SELECT o.o_custkey, l.l_orderkey, l.l_linenumber, l.l_shipdate AS ship_ts
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_orderkey % 20 = 0
    )
    SELECT p.o_custkey, p.l_orderkey, p.l_linenumber, p.ship_ts,
           h.version, h.status
    FROM probes p LEFT JOIN hist h
      ON p.o_custkey = h.o_custkey
     AND p.ship_ts >= h.valid_from
     AND (h.valid_to IS NULL OR p.ship_ts < h.valid_to)
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-custkey versions must never serve a probe: the window replay
    # groups NULL partition keys TOGETHER (a NULL-custkey probe would see
    # a NULL-custkey "customer history") while the oracle's equi-join
    # semantics keep NULL != NULL — drop NULL-key dims; NULL-key probes
    # stay and resolve to NULL version, the LEFT-join answer (battery)
    hist = scd2_status_history(spark, sf_dir).filter(
        F.col("o_custkey").isNotNull()
    ).select(
        "o_custkey",
        F.col("valid_from").alias("ts"),
        "version",
        "status",
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probes = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_custkey",
        F.col("l_shipdate").alias("ts"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("string").alias("status"),
        F.lit(1).alias("tag"),
        "l_orderkey",
        "l_linenumber",
    )
    merged = hist.unionByName(probes)
    # dims (tag 0) sort before probes (tag 1) at equal ts: a probe AT a
    # version's valid_from sees the new version; two versions opening on
    # the same ts resolve to the higher version (its predecessor's
    # interval is empty) via the version sort key
    w = (
        W.partitionBy("o_custkey")
        .orderBy("ts", "tag", "version")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # the dim row replays ATOMICALLY as a struct: last(version) and
    # last(status) as SEPARATE ignore-nulls reads desynchronize when a
    # version's status is legitimately NULL — the probe would take that
    # version's number but the PREVIOUS version's status (decorrelated
    # nasty-orders find; statuses were constant per customer before, so
    # no NULL-status run ever followed a non-NULL one)
    dim_row = F.when(
        F.col("tag") == 0, F.struct(F.col("version"), F.col("status"))
    )
    replayed = merged.select(
        "o_custkey",
        "ts",
        "tag",
        "l_orderkey",
        "l_linenumber",
        F.last(dim_row, ignorenulls=True).over(w).alias("dim"),
    )
    return replayed.filter(F.col("tag") == 1).select(
        "o_custkey",
        "l_orderkey",
        "l_linenumber",
        F.col("ts").alias("ship_ts"),
        F.col("dim.version").alias("version"),
        F.col("dim.status").alias("status"),
    )


# --- Session path analysis: the top 3-step event-type sequences users
#     take INSIDE a session (30-min gap sessionization, the registry's
#     standard) — the "common navigation paths" product-analytics query.
#     Shape: ONE user-keyed window sort carries both the session
#     numbering (running sum of gap flags) and the two lead() steps —
#     Spark plans a single Window node; the path 3-gram forms only when
#     both leads stay in the SAME session; then one hash count and a
#     TakeOrdered top-15 (never a global sort). All integer/string
#     exact. ---------------------------------------------------------------


@register(
    "events_top_paths",
    """
    WITH gaps AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                    OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
    ),
    steps AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w2 AS e2,
               lead(event_type, 2) OVER w2 AS e3,
               session_id,
               lead(session_id, 1) OVER w2 AS s2,
               lead(session_id, 2) OVER w2 AS s3
        FROM sess
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        -- a 3-gram needs three NON-NULL steps: without the explicit
        -- filter, Spark's concat_ws SKIPS a NULL step (collapsing the
        -- 3-gram into a shorter path) while || NULLs the whole row —
        -- divergent counts on NULL-typed events (nasty-events find)
        SELECT e1 || '>' || e2 || '>' || e3 AS path
        FROM steps
        WHERE s2 = session_id AND s3 = session_id
          AND e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
    )
    SELECT path, count(*) AS n
    FROM paths GROUP BY path
    ORDER BY n DESC, path ASC LIMIT 15
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull() | (F.col("ts") - prev_ts > F.expr("INTERVAL 30 MINUTES")),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias(
            "session_id"
        ),
    )
    steps = sess.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        "session_id",
        F.lead("session_id", 1).over(w).alias("s2"),
        F.lead("session_id", 2).over(w).alias("s3"),
    )
    # three NON-NULL steps required: concat_ws would silently SKIP a NULL
    # step and collapse the 3-gram into a 2-step path (nasty-events find)
    paths = steps.filter(
        (F.col("s2") == F.col("session_id"))
        & (F.col("s3") == F.col("session_id"))
        & F.col("e1").isNotNull()
        & F.col("e2").isNotNull()
        & F.col("e3").isNotNull()
    ).select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(15)
    )


# --- FIFO return-to-shipment allocation: each part's returned quantity
#     pool consumes its shipped lines OLDEST-FIRST — the inventory /
#     order-book matching primitive (same algebra as FIFO cost basis or
#     supply-demand netting). The sequential "walk the shipments until
#     the pool runs out" becomes pure window algebra: a running quantity
#     sum per part turns every shipped line into the half-open interval
#     [cum_before, cum_after), and its matched quantity is the overlap
#     of that interval with [0, pool) — no iteration, no theta join.
#     ONE part-keyed window sort (the only corpus exchange besides the
#     part-level returns aggregate) + one hash agg. The returns pool
#     joins by part key UN-hinted (part cardinality scales with the
#     corpus; AQE broadcasts when it fits — the cohort de-hint rule).
#     Quantities are integral by the corpus contract: round() -> BIGINT
#     on both engines so every cumulative bound is exact. The FIFO
#     frontier line (the one the pool runs dry inside) is unique per
#     part, so max(CASE ...) recovers it without an extra sort. ------------


@register(
    "fifo_return_allocation",
    """
    WITH ships AS (
        -- l_shipdate IS NOT NULL both engines: a dateless line has no
        -- place in a FIFO queue, and its placement (Spark first /
        -- DuckDB last) would shift every later line's allocation
        SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
               CAST(round(l_quantity, 0) AS BIGINT) AS qty
        FROM lineitem WHERE l_returnflag <> 'R' AND l_shipdate IS NOT NULL
    ),
    pool AS (
        SELECT l_partkey, CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS r_total
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey
    ),
    cums AS (
        -- ordering is NULL-proofed and made total: l_orderkey is an FK
        -- (NULLable — Spark sorts NULLs first on asc, DuckDB last, which
        -- shifted every later line's allocation: decorrelated-battery
        -- find, r11), and (shipdate, orderkey, linenumber) is not unique
        -- under the hot order's repeating linenumbers, so qty breaks the
        -- remaining ties (equal-qty ties are interchangeable for every
        -- output; NULL-qty lines add nothing to the running sum, so
        -- their position is free). The NULL sentinel is long-min+1 —
        -- OUTSIDE both domains: qty is round(l_quantity) and the nasty
        -- corpus ships qty = -1, so a -1 sentinel would tie a real
        -- sum-contributing line with a NULL one and the within-tie
        -- order (hence cum_after) would be engine-dependent again
        -- (r11 ADVICE)
        SELECT s.l_partkey, s.l_orderkey, s.qty, p.r_total,
               sum(s.qty) OVER (
                   PARTITION BY s.l_partkey
                   ORDER BY s.l_shipdate,
                            coalesce(s.l_orderkey, -9223372036854775807),
                            s.l_linenumber,
                            coalesce(s.qty, -9223372036854775807)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_after
        FROM ships s JOIN pool p ON s.l_partkey = p.l_partkey
    ),
    m AS (
        SELECT l_partkey, l_orderkey, qty, r_total, cum_after,
               cum_after - qty AS cum_before,
               greatest(CAST(0 AS BIGINT),
                        least(cum_after, r_total) - (cum_after - qty)) AS matched
        FROM cums
    )
    SELECT l_partkey,
           CAST(sum(qty) AS BIGINT) AS total_shipped,
           min(r_total) AS total_returned,
           CAST(sum(matched) AS BIGINT) AS matched_qty,
           CAST(count(*) AS BIGINT) AS n_ship_lines,
           CAST(sum(CASE WHEN matched = qty THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
           CAST(sum(CASE WHEN matched > 0 AND matched < qty THEN 1 ELSE 0 END) AS BIGINT)
               AS n_partial,
           max(CASE WHEN cum_before < r_total AND r_total <= cum_after
                    THEN l_orderkey END) AS frontier_orderkey
    FROM m GROUP BY l_partkey
    """,
)
def fifo_return_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    ships = li.filter(
        (F.col("l_returnflag") != "R") & F.col("l_shipdate").isNotNull()
    ).select(
        "l_partkey", "l_orderkey", "l_linenumber", "l_shipdate", qty.alias("qty")
    )
    pool = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_partkey")
        .agg(F.sum(qty).cast("long").alias("r_total"))
    )
    w = (
        W.partitionBy("l_partkey")
        .orderBy(
            "l_shipdate",
            F.coalesce(F.col("l_orderkey"), F.lit(-9223372036854775807)),
            "l_linenumber",
            F.coalesce(F.col("qty"), F.lit(-9223372036854775807)),
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cums = ships.join(pool, "l_partkey").select(
        "l_partkey",
        "l_orderkey",
        "qty",
        "r_total",
        F.sum("qty").over(w).alias("cum_after"),
    )
    m = cums.select(
        "l_partkey",
        "l_orderkey",
        "qty",
        "r_total",
        "cum_after",
        (F.col("cum_after") - F.col("qty")).alias("cum_before"),
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.col("cum_after"), F.col("r_total"))
            - (F.col("cum_after") - F.col("qty")),
        ).alias("matched"),
    )
    return m.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("total_shipped"),
        F.min("r_total").alias("total_returned"),
        F.sum("matched").cast("long").alias("matched_qty"),
        F.count(F.lit(1)).alias("n_ship_lines"),
        F.sum((F.col("matched") == F.col("qty")).cast("long")).alias("n_full"),
        F.sum(
            ((F.col("matched") > 0) & (F.col("matched") < F.col("qty"))).cast("long")
        ).alias("n_partial"),
        F.max(
            F.when(
                (F.col("cum_before") < F.col("r_total"))
                & (F.col("r_total") <= F.col("cum_after")),
                F.col("l_orderkey"),
            )
        ).alias("frontier_orderkey"),
    )


# --- RFM user segmentation (recency × frequency quartile bands, monetary
#     rolled up per segment) — the marketing/engagement classification
#     query. Quartile thresholds are ORDER STATISTICS over a
#     user-cardinality frame, which would naively be a global sort of
#     every user; instead both metrics go through the COUNT-OF-COUNTS
#     histogram (the skew-profile pattern): recency's distinct values are
#     calendar-bounded and frequency's are bounded by the max events per
#     user, so the cumulative scan runs over a histogram that grows
#     ~O(max value), not with the corpus. Discrete lower-type quantiles
#     (idx = floor(q·(n−1)), exact BIGINT arithmetic — the
#     funnel_time_to_convert convention) picked as min value whose
#     cumulative count covers the index; ties share a band (the
#     quartile_banded rule). Thresholds are one-row frames → principled
#     broadcast. Monetary stays DECIMAL(25,6)-exact per user and per
#     segment; each double is produced by ONE final cast/division. ---------

_RFM_THR_SQL = """
    SELECT min(CASE WHEN cum >= (n - 1) // 4 + 1 THEN v END) AS t1,
           min(CASE WHEN cum >= (n - 1) // 2 + 1 THEN v END) AS t2,
           min(CASE WHEN cum >= (3 * (n - 1)) // 4 + 1 THEN v END) AS t3
"""


@register(
    "users_rfm_segments",
    f"""
    WITH u AS (
        SELECT user_id,
               max(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS last_day,
               CAST(count(*) AS BIGINT) AS f,
               sum(CAST(value AS DECIMAL(25,6))) AS m
        FROM events WHERE ts IS NOT NULL GROUP BY user_id
    ),
    mx AS (SELECT max(last_day) AS corp_day FROM u),
    u2 AS (SELECT user_id, mx.corp_day - u.last_day AS r, u.f, u.m FROM u, mx),
    hr AS (SELECT r AS v, CAST(count(*) AS BIGINT) AS c FROM u2 GROUP BY r),
    cr AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM hr),
    tr AS ({_RFM_THR_SQL} FROM cr),
    hf AS (SELECT f AS v, CAST(count(*) AS BIGINT) AS c FROM u2 GROUP BY f),
    cf AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM hf),
    tf AS ({_RFM_THR_SQL} FROM cf),
    b AS (
        SELECT u2.r, u2.f, u2.m,
               1 + CAST(u2.r > tr.t1 AS INT) + CAST(u2.r > tr.t2 AS INT)
                 + CAST(u2.r > tr.t3 AS INT) AS r_band,
               1 + CAST(u2.f > tf.t1 AS INT) + CAST(u2.f > tf.t2 AS INT)
                 + CAST(u2.f > tf.t3 AS INT) AS f_band
        FROM u2, tr, tf
    )
    SELECT CAST(r_band AS BIGINT) AS r_band,
           CAST(f_band AS BIGINT) AS f_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(m) AS DOUBLE) AS total_monetary,
           CAST(sum(m) AS DOUBLE) / count(m) AS avg_monetary,
           CAST(sum(f) AS DOUBLE) / count(*) AS avg_frequency
    FROM b GROUP BY r_band, f_band
    """,
)
def users_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts IS NOT NULL on both sides: an all-NULL-ts user would carry a NULL
    # recency into the threshold histogram, and with_bucketed_prefix
    # requires a non-NULL order key (a NULL would land in the LAST bucket
    # while the single-window oracle sorts it per-engine NULL order —
    # shifting every quartile threshold). Filtering makes r provably
    # non-NULL: max over a non-empty, non-NULL day set.
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400).cast("long")
    u = ev.groupBy("user_id").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("f"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("m"),
    )
    # Checkpoint the per-user reduction: the threshold passes, the anchor
    # scalar, and the final banding all consume it, and the combined plan
    # repeats the subtree 22 times — without the checkpoint that is 22
    # scans of the events fact per query (measured; no ReusedExchange
    # fires across these branch shapes). |users| rows — far below the
    # fact — materialized once.
    u = u.localCheckpoint(eager=False)
    mx = u.agg(F.max("last_day").alias("corp_day"))
    u2 = u.crossJoin(F.broadcast(mx)).select(
        "user_id", (F.col("corp_day") - F.col("last_day")).alias("r"), "f", "m"
    )

    def thresholds(col: str) -> DataFrame:
        hist = u2.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        # Bucketized two-phase running sum (operators.prefix): the
        # histogram is ~O(max value) in the expected case but can
        # approach |users| on a pathological corpus, so the cumulative
        # scan must not be one unpartitioned task. The grand total is a
        # 1-row broadcast scalar, not a whole-frame window.
        total = hist.agg(F.sum("c").alias("n"))
        cr = (
            with_bucketed_prefix(hist, "v", "c", agg="sum", out_inclusive="cum")
            .crossJoin(F.broadcast(total))
            .select("v", "cum", "n")
        )
        pick = lambda idx: F.min(  # noqa: E731
            F.when(F.col("cum") >= F.expr(idx) + 1, F.col("v"))
        )
        return cr.agg(
            pick("(n - 1) div 4").alias("t1"),
            pick("(n - 1) div 2").alias("t2"),
            pick("(3 * (n - 1)) div 4").alias("t3"),
        )

    tr = thresholds("r").select(
        F.col("t1").alias("r1"), F.col("t2").alias("r2"), F.col("t3").alias("r3")
    )
    tf = thresholds("f").select(
        F.col("t1").alias("f1"), F.col("t2").alias("f2"), F.col("t3").alias("f3")
    )
    band = lambda v, a, b_, c: (  # noqa: E731
        F.lit(1)
        + (F.col(v) > F.col(a)).cast("int")
        + (F.col(v) > F.col(b_)).cast("int")
        + (F.col(v) > F.col(c)).cast("int")
    ).cast("long")
    b = (
        u2.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tf))
        .select(
            "r",
            "f",
            "m",
            band("r", "r1", "r2", "r3").alias("r_band"),
            band("f", "f1", "f2", "f3").alias("f_band"),
        )
    )
    return b.groupBy("r_band", "f_band").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("m").cast("double").alias("total_monetary"),
        (F.sum("m").cast("double") / F.count("m")).alias("avg_monetary"),
        (F.sum("f").cast("double") / F.count(F.lit(1))).alias("avg_frequency"),
    )


# --- Gaps-and-islands interval merge: each event claims the interval
#     [ts, ts + value seconds); per user, overlapping-or-touching
#     claims merge into ISLANDS (maximal covered stretches) — the
#     classic coverage/uptime/occupancy reduction. The sequential
#     "extend the current island or open a new one" walk is two frames
#     over ONE user-keyed sort: a strictly-preceding running max(end)
#     marks island breaks (s > pmax), and a running sum of breaks
#     numbers the islands; a bounded hash agg per island then per user
#     finishes. Exact integer µs end to end (duration = round(value·1e6)
#     clamped ≥ 1 µs, so zero/negative values never create a
#     degenerate backwards interval). Touching intervals (s = pmax)
#     MERGE — the break test is strict. ------------------------------------


@register(
    "events_interval_islands",
    """
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts)
               + greatest(CAST(round(value * 1000000, 0) AS BIGINT),
                          CAST(1 AS BIGINT)) AS e
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    m AS (
        SELECT user_id, event_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pmax
        FROM iv
    ),
    isl AS (
        SELECT user_id, s, e,
               sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island_id
        FROM m
    ),
    g AS (
        SELECT user_id, island_id,
               min(s) AS island_s, max(e) AS island_e,
               CAST(count(*) AS BIGINT) AS n_events
        FROM isl GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(island_e - island_s) AS BIGINT) AS covered_us,
           CAST(max(island_e - island_s) AS BIGINT) AS longest_us
    FROM g GROUP BY user_id
    """,
)
def events_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    dur = F.greatest(
        F.round(F.col("value") * 1000000, 0).cast("long"), F.lit(1).cast("long")
    )
    iv = ev.select("user_id", "event_id", s.alias("s"), (s + dur).alias("e"))
    order = [F.col("s"), F.col("e"), F.col("event_id")]
    w_prev = (
        W.partitionBy("user_id").orderBy(*order).rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    brk = (
        F.when(
            F.max("e").over(w_prev).isNull()
            | (F.col("s") > F.max("e").over(w_prev)),
            1,
        )
        .otherwise(0)
    )
    isl = iv.select(
        "user_id", "s", "e", F.sum(brk).over(w_run).alias("island_id")
    )
    g = isl.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_s"),
        F.max("e").alias("island_e"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    span = F.col("island_e") - F.col("island_s")
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum(span).cast("long").alias("covered_us"),
        F.max(span).cast("long").alias("longest_us"),
    )


# --- Pareto / ABC revenue classification: rank every part by revenue,
#     compute each part's CUMULATIVE share of total revenue, and band
#     A (first 80%), B (to 95%), C (tail) — the inventory-analytics
#     classic. The naive form is a single-task window (global cumsum
#     over part-cardinality rows); here the prefix sum is TWO-PHASE over
#     ORDERED LOG₂ BANDS: revenue cents bucket by bit-length (≤ 63
#     bands, a constant), the within-band window partitions by band (the
#     corpus-scaled sort, parallel across bands), and each band's offset
#     is the sum of all HIGHER bands — a ≤63-row broadcast. Exact BIGINT
#     cents throughout; the ABC comparison cross-multiplies
#     (cum·100 vs total·pct) so no share is ever a float. Ordering
#     inside a band is (cents DESC, partkey) and bands are disjoint
#     cent ranges, so the two-phase concatenation IS the global revenue
#     order (ties across bands impossible; ties within a band broken by
#     key). Output: per-band part counts + revenue share — the
#     dimension-bounded summary, not the per-part list. --------------------


@register(
    "parts_pareto_abc",
    """
    WITH rev AS (
        -- l_partkey IS NOT NULL both engines: an orphan line has no part
        -- to classify, and the NULL group would ride the revenue-order
        -- tiebreaker at opposite ends of the engines' NULL defaults
        SELECT l_partkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_partkey
    ),
    o AS (
        SELECT l_partkey, cents,
               sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               sum(cents) OVER () AS total
        FROM rev
    ),
    banded AS (
        SELECT l_partkey, cents,
               CASE WHEN cum * 100 <= total * 80 THEN 'A'
                    WHEN cum * 100 <= total * 95 THEN 'B'
                    ELSE 'C' END AS abc
        FROM o
    )
    SELECT abc,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM banded GROUP BY abc
    """,
)
def parts_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_partkey").isNotNull())
    cents_line = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents_line).cast("long").alias("cents"))
    # log2 band: higher band = strictly higher cent range, so global
    # revenue order = (band DESC, cents DESC, partkey). bit_length is
    # JVM-side; cents >= 0 by corpus contract (prices positive).
    # exact integer bit-length (base-2 string length), NOT floor(log2):
    # a float log2 of 2^k can round below k and misband the one value
    # that sits exactly on a boundary. Any monotone step function of
    # cents works as a band; this one is integer-exact.
    band = F.length(F.conv(F.col("cents"), 10, 2)).cast("int")
    b = rev.withColumn("band", band)
    w_in = (
        W.partitionBy("band")
        .orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    within = b.withColumn("cum_in", F.sum("cents").over(w_in))
    band_tot = b.groupBy("band").agg(F.sum("cents").cast("long").alias("bt"))
    w_off = W.orderBy(F.desc("band")).rowsBetween(W.unboundedPreceding, -1)
    offs = band_tot.select(
        "band",
        F.coalesce(F.sum("bt").over(w_off), F.lit(0)).alias("off"),
        F.sum("bt")
        .over(W.orderBy(F.desc("band")).rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .cast("long")
        .alias("total"),
    )
    j = within.join(F.broadcast(offs), "band").select(
        "l_partkey",
        "cents",
        (F.col("cum_in") + F.col("off")).alias("cum"),
        "total",
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    return (
        j.select("cents", abc.alias("abc"))
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


# --- A/B experiment summary: deterministic 50/50 user split (salted
#     md5, INTEGER threshold — the assignment is a pure map and
#     reproducible across engines and reruns), per-event-type arm
#     means, population variances, and the Welch t statistic. Float
#     discipline: moments accumulate decimal-exact (values at
#     DECIMAL(25,6), squares at (38,12) — the embeddings_standardize
#     contract); mean and m2 take ONE division each; the variance tree
#     rounds at 9 dp (the repo's FMA guard for a−b·c shapes); the Welch
#     chain is the identical correctly-rounded op sequence in both
#     engines with a 12-dp round on se² and a 6-dp round on t.
#     Scale shape: one hash aggregate over (event_type, arm); everything
#     downstream is |types|-bounded. ---------------------------------------

_AB_THRESH = 1 << 59  # md5-60bit < 2^59 → arm A (exact 50/50 in expectation)


@register(
    "events_ab_test_summary",
    f"""
    WITH assigned AS (
        SELECT event_type, value,
               CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                         ':abtest')), 1, 15)) AS BIGINT) < {_AB_THRESH}
                    THEN 'A' ELSE 'B' END AS arm
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    m AS (
        SELECT event_type, arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS mu,
               CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m2
        FROM assigned GROUP BY event_type, arm
    ),
    v AS (
        SELECT event_type, arm, n, mu, round(m2 - mu * mu, 9) AS var_pop FROM m
    ),
    w AS (
        SELECT a.event_type,
               a.n AS n_a, b.n AS n_b,
               round(a.mu, 9) AS mean_a, round(b.mu, 9) AS mean_b,
               round(a.var_pop, 9) AS var_a, round(b.var_pop, 9) AS var_b,
               round(a.var_pop / a.n + b.var_pop / b.n, 12) AS se2
        FROM v a JOIN v b ON a.event_type = b.event_type
        WHERE a.arm = 'A' AND b.arm = 'B'
    )
    SELECT event_type, n_a, n_b, mean_a, mean_b, var_a, var_b,
           CASE WHEN se2 > 0
                THEN round((mean_a - mean_b) / sqrt(se2), 6)
                ELSE 0.0 END AS welch_t
    FROM w
    """,
)
def events_ab_test_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":abtest"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    assigned = ev.select(
        "event_type",
        "value",
        F.when(h < _AB_THRESH, "A").otherwise("B").alias("arm"),
    )
    val = F.col("value")
    m = assigned.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum(val.cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
        (
            F.sum((val * val).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
    )
    v = m.select(
        "event_type",
        "arm",
        "n",
        "mu",
        F.round(F.col("m2") - F.col("mu") * F.col("mu"), 9).alias("var_pop"),
    )
    a = v.filter(F.col("arm") == "A").select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("mu").alias("mu_a"),
        F.col("var_pop").alias("vp_a"),
    )
    b = v.filter(F.col("arm") == "B").select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("mu").alias("mu_b"),
        F.col("var_pop").alias("vp_b"),
    )
    w = a.join(b, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        F.round(F.col("mu_a"), 9).alias("mean_a"),
        F.round(F.col("mu_b"), 9).alias("mean_b"),
        F.round(F.col("vp_a"), 9).alias("var_a"),
        F.round(F.col("vp_b"), 9).alias("var_b"),
        F.round(F.col("vp_a") / F.col("n_a") + F.col("vp_b") / F.col("n_b"), 12).alias(
            "se2"
        ),
    )
    t_stat = F.when(
        F.col("se2") > 0,
        F.round((F.col("mean_a") - F.col("mean_b")) / F.sqrt(F.col("se2")), 6),
    ).otherwise(F.lit(0.0))
    return w.select(
        "event_type", "n_a", "n_b", "mean_a", "mean_b", "var_a", "var_b",
        t_stat.alias("welch_t"),
    )


# --- Order-fulfillment latency profile: order date → first/last ship
#     date per order, rolled up to discrete latency quantiles per order
#     priority — the operations-SLA dashboard. One fact-fact SMJ
#     (orders ⋈ lineitem on the order key), one per-order hash agg,
#     then the funnel_time_to_convert quantile battery over FIVE
#     priority-keyed windows (the low-cardinality-keys caveat the
#     anomaly_zscore/chunked pair documents; the per-priority volume is
#     one task's problem — the chunked twin is the template if it ever
#     isn't). Exact integer µs; negative latencies are data reality in
#     this corpus (~half of lineitems ship before their order date —
#     the join_point_in_time note) and pass through untouched. -----------


@register(
    "orders_fulfillment_latency",
    """
    WITH per_order AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               epoch_us(min(l.l_shipdate)) - epoch_us(o.o_orderdate) AS first_us,
               epoch_us(max(l.l_shipdate)) - epoch_us(o.o_orderdate) AS last_us
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ),
    ranked AS (
        SELECT o_orderpriority AS priority, first_us, last_us,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY first_us, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM per_order
    )
    SELECT priority,
           CAST(max(n) AS BIGINT) AS n_orders,
           min(first_us) AS min_us,
           max(CASE WHEN rn = (n - 1) // 4 + 1 THEN first_us END) AS p25_us,
           max(CASE WHEN rn = (n - 1) // 2 + 1 THEN first_us END) AS p50_us,
           max(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN first_us END) AS p75_us,
           max(CASE WHEN rn = (9 * (n - 1)) // 10 + 1 THEN first_us END) AS p90_us,
           max(first_us) AS max_us,
           -- spread sum accumulates in HUGEINT/DECIMAL(38,0): at 10^12
           -- orders a BIGINT microsecond sum genuinely overflows (and
           -- ANSI mode makes that a job-kill, not a wrap)
           CAST(sum(CAST(last_us - first_us AS HUGEINT)) AS DOUBLE) / count(*)
               AS mean_spread_us
    FROM ranked GROUP BY priority
    """,
)
def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # undated orders / unshipped lines carry no latency; a NULL first_us
    # in the quantile window would shift ranks by engine-default NULL
    # placement (nasty-orders battery)
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate").isNotNull())
    ous = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    sus = F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    per_order = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min(sus).alias("min_ship"), F.max(sus).alias("max_ship"))
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            (F.col("min_ship") - ous).alias("first_us"),
            (F.col("max_ship") - ous).alias("last_us"),
        )
    )
    wl = W.partitionBy("priority").orderBy("first_us", "o_orderkey")
    wn = W.partitionBy("priority")
    ranked = per_order.select(
        "priority",
        "first_us",
        "last_us",
        F.row_number().over(wl).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    rn, n = F.col("rn"), F.col("n")
    pick = lambda idx: F.max(F.when(rn == idx + 1, F.col("first_us")))  # noqa: E731
    return ranked.groupBy("priority").agg(
        F.max(n).cast("long").alias("n_orders"),
        F.min("first_us").alias("min_us"),
        pick(F.floor((n - 1) / 4)).alias("p25_us"),
        pick(F.floor((n - 1) / 2)).alias("p50_us"),
        pick(F.floor((3 * (n - 1)) / 4)).alias("p75_us"),
        pick(F.floor((9 * (n - 1)) / 10)).alias("p90_us"),
        F.max("first_us").alias("max_us"),
        (
            F.sum((F.col("last_us") - F.col("first_us")).cast("decimal(38,0)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mean_spread_us"),
    )


# --- Cohort LTV triangle: customers grouped by FIRST-ORDER month,
#     revenue accumulated by cohort age in months — the
#     lifetime-value complement to cohort_weekly_retention (that one
#     counts users, this one sums money). Month arithmetic is exact
#     integers (year·12 + month), revenue is exact cents, and the
#     cumulative LTV runs over a calendar²-bounded frame (cohorts ×
#     ages), so the only corpus-scaled work is one customer aggregate
#     and one customer-keyed join back (NOT broadcast — customer
#     cardinality scales with the corpus; the cohort de-hint rule). -------


@register(
    "orders_cohort_ltv",
    """
    WITH o2 AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL
    ),
    firsts AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o2 GROUP BY o_custkey),
    facts AS (
        SELECT f.cohort_ym, o2.ym - f.cohort_ym AS age_months,
               o2.o_custkey, o2.cents
        FROM o2 JOIN firsts f ON o2.o_custkey = f.o_custkey
    ),
    cells AS (
        SELECT cohort_ym, age_months,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM facts GROUP BY cohort_ym, age_months
    )
    SELECT concat(CAST((cohort_ym - 1) // 12 AS VARCHAR), '-',
                  CASE WHEN (cohort_ym - 1) % 12 + 1 < 10
                       THEN concat('0', CAST((cohort_ym - 1) % 12 + 1 AS VARCHAR))
                       ELSE CAST((cohort_ym - 1) % 12 + 1 AS VARCHAR) END)
               AS cohort_month,
           age_months, n_active, revenue_cents,
           CAST(sum(revenue_cents) OVER (
               PARTITION BY cohort_ym ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_revenue_cents
    FROM cells
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # undated orders have no cohort month; a NULL age in the cumulative
    # window shifts by engine-default NULL placement (nasty-orders)
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d = F.col("o_orderdate").cast("timestamp")
    ym = (F.year(d) * 12 + F.month(d)).cast("long")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    o2 = orders.select("o_custkey", ym.alias("ym"), cents.alias("cents"))
    firsts = o2.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    # customer-keyed join back, deliberately un-hinted (AQE broadcasts
    # when it fits; at 100 TB customers scale with the corpus)
    facts = o2.join(firsts, "o_custkey").select(
        "cohort_ym",
        (F.col("ym") - F.col("cohort_ym")).alias("age_months"),
        "o_custkey",
        "cents",
    )
    cells = facts.groupBy("cohort_ym", "age_months").agg(
        F.count_distinct("o_custkey").cast("long").alias("n_active"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    w = (
        W.partitionBy("cohort_ym")
        .orderBy("age_months")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    yr = (F.col("cohort_ym") - 1).cast("long")
    month_num = yr % 12 + 1
    return cells.select(
        F.concat(
            F.expr("(cohort_ym - 1) div 12").cast("string"),
            F.lit("-"),
            F.lpad(month_num.cast("string"), 2, "0"),
        ).alias("cohort_month"),
        "age_months",
        "n_active",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents"),
    )


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier): parts no other part dominates on
# (cheaper-or-equal price, larger-or-equal size, strict somewhere). The
# naive semantics is a quadratic NOT EXISTS self-join; the scale shape is
# the classic reduce-then-sweep: collapse to one row per DISTINCT price
# (max size — everything else at that price is dominated), then a single
# running-max sweep over the price order. The swept frame is |distinct
# price| — at 100 TB that reduce is the whole win (the grouped frame is
# orders of magnitude smaller than the fact), and the sweep itself is
# inherently sequential in price order, same two-phase discipline as
# sessionize_two_phase. Both engines run the identical window formula, so
# the oracle is exact without a quadratic probe.
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH g AS (
    -- p_retailprice IS NOT NULL both engines: an unpriced part has no
    -- place on a price frontier, and the NULL price group would enter
    -- the sweep at opposite ends of the engines' default NULL orders
    SELECT p_retailprice AS price, max(p_size) AS pmax
    FROM part WHERE p_retailprice IS NOT NULL GROUP BY p_retailprice
),
a AS (
    SELECT price, pmax,
           max(pmax) OVER (ORDER BY price
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_cheaper
    FROM g
),
k AS (SELECT price, pmax FROM a
      WHERE best_cheaper IS NULL OR pmax > best_cheaper)
SELECT p_partkey, p_name, p_retailprice, p_size
FROM part JOIN k ON p_retailprice = k.price AND p_size = k.pmax
ORDER BY p_retailprice, p_partkey
"""


@register("skyline_parts", _SKYLINE_ORACLE)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").filter(F.col("p_retailprice").isNotNull())
    # Checkpoint the price reduction: the prefix operator's bounds scalar
    # and its bucket tagging both consume it — without the checkpoint each
    # re-scans part and re-groups. |distinct price| rows.
    g = (
        p.groupBy(F.col("p_retailprice").alias("price"))
        .agg(F.max("p_size").alias("pmax"))
        .localCheckpoint(eager=False)
    )
    # Bucketized two-phase prefix-max (operators.prefix): the frontier
    # sweep frame is |distinct price| — corpus-scale on an
    # anti-correlated corpus — so the strictly-preceding running max runs
    # per price-range bucket with an O(1024) bucket-prefix merge, never
    # as one value-domain-scale task. Bit-identical to the single-window
    # oracle above.
    k = with_bucketed_prefix(
        g, "price", "pmax", agg="max", out_exclusive="best_cheaper"
    ).filter(
        F.col("best_cheaper").isNull() | (F.col("pmax") > F.col("best_cheaper"))
    )
    # Recover full part rows by joining the frontier back. NO broadcast
    # hint: the frontier is |distinct price| in the worst case (a fully
    # anti-correlated corpus keeps every price), which scales with the
    # corpus — AQE broadcasts it when it measures small, the usual case.
    return (
        p.join(
            k,
            (p.p_retailprice == k.price) & (p.p_size == k.pmax),
        )
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


# ---------------------------------------------------------------------------
# Event-sequence pattern matching (MATCH_RECOGNIZE-lite): render each
# user's time-ordered event-type sequence as a character string and count
# regex occurrences of view→click+→purchase. The per-user sequence string
# is built with an order-embedding sort (sort_array over (ts, event_id)
# structs — deterministic under ts ties), so the regex scan is one
# JVM-native pass per user, no Python, no self-join explosion. At 100 TB
# the per-user string is bounded by per-user activity, and the groupBy
# shuffles once on user_id — the same key every other per-user analytic
# already shuffles on.
# ---------------------------------------------------------------------------

_PATTERN_RE = "vc+p"

_PATTERN_ORACLE = f"""
WITH seq AS (
    SELECT user_id,
           string_agg(CASE event_type WHEN 'view' THEN 'v'
                                      WHEN 'click' THEN 'c'
                                      WHEN 'purchase' THEN 'p'
                                      ELSE 'x' END,
                      '' ORDER BY ts, event_id) AS s
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
)
SELECT user_id,
       CAST(length(s) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, '{_PATTERN_RE}')) AS BIGINT)
           AS n_conversion_paths
FROM seq
WHERE len(regexp_extract_all(s, '{_PATTERN_RE}')) > 0
"""


@register("events_pattern_match", _PATTERN_ORACLE)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ch = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("x")
    )
    seq = (
        e.select("user_id", F.struct("ts", "event_id", ch.alias("ch")).alias("ev"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.sort_array(F.collect_list("ev")), lambda s: s.ch)
            ).alias("s")
        )
    )
    n_paths = F.regexp_count(F.col("s"), F.lit(_PATTERN_RE))
    return (
        seq.select(
            "user_id",
            F.length("s").cast("long").alias("n_events"),
            n_paths.cast("long").alias("n_conversion_paths"),
        )
        .filter(F.col("n_conversion_paths") > 0)
    )


# ---------------------------------------------------------------------------
# Relational division ("for all"): users who performed EVERY event type the
# corpus contains. The divisor cardinality is a 1-row aggregate broadcast
# against the per-user distinct counts — the set-containment query no plain
# join expresses (it's division, not intersection). One shuffle on user_id.
# ---------------------------------------------------------------------------

_DIVISION_ORACLE = """
SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id
HAVING count(DISTINCT event_type) =
       (SELECT count(DISTINCT event_type) FROM events)
ORDER BY user_id
"""


@register("events_relational_division", _DIVISION_ORACLE)
def events_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    divisor = e.agg(F.count_distinct("event_type").alias("n_all"))
    per_user = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count_distinct("event_type").cast("long").alias("n_types"))
    )
    return (
        per_user.join(F.broadcast(divisor))
        .filter(F.col("n_types") == F.col("n_all"))
        .select("user_id", "n_types")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Chi-square contingency: event_type × market segment (events enriched with
# the customer dimension), observed vs expected-under-independence per cell
# plus the cell's chi² contribution. The heavy work is one broadcast-dim
# join + one groupBy; the marginals are windows over the CELL frame
# (|types|×|segments| rows — driver-scale math on executor-side data).
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cells AS (
    SELECT e.event_type, c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS obs
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
),
m AS (
    SELECT event_type, segment, obs,
           sum(obs) OVER (PARTITION BY event_type) AS row_tot,
           sum(obs) OVER (PARTITION BY segment) AS col_tot,
           sum(obs) OVER () AS grand
    FROM cells
)
SELECT event_type, segment, obs,
       round(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
             / CAST(grand AS DOUBLE), 6) AS expected,
       round(pow(CAST(obs AS DOUBLE) - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                     / CAST(grand AS DOUBLE), 2)
             / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                / CAST(grand AS DOUBLE)), 6) AS chi2_part
FROM m
ORDER BY event_type, segment
"""


@register("events_chi_square", _CHI2_ORACLE)
def events_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer").select("c_custkey", F.col("c_mktsegment").alias("segment"))
    cells = (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("event_type", "segment")
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    row_w = W.partitionBy("event_type")
    col_w = W.partitionBy("segment")
    all_w = W.partitionBy()
    m = (
        cells.withColumn("row_tot", F.sum("obs").over(row_w))
        .withColumn("col_tot", F.sum("obs").over(col_w))
        .withColumn("grand", F.sum("obs").over(all_w))
    )
    expected = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("grand").cast("double")
    )
    return m.select(
        "event_type",
        "segment",
        "obs",
        F.round(expected, 6).alias("expected"),
        F.round(F.pow(F.col("obs").cast("double") - expected, 2) / expected, 6).alias(
            "chi2_part"
        ),
    ).orderBy("event_type", "segment")


# ---------------------------------------------------------------------------
# Market-basket association (pairwise co-occurrence + lift): orders are
# baskets, distinct parts are items; item pairs from a self-join on the
# basket key, support/lift from the pair counts against the item marginals
# and basket total. The self-join shuffles ONCE on l_orderkey and the
# per-basket pair blow-up is bounded by basket width (TPC-H orders hold ≤7
# lines) — the classic a-priori first pass. Marginals join on the part key
# un-hinted: the part dimension scales with the corpus, AQE decides.
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1),
pairs AS (
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(count(*) AS BIGINT) AS c12
    FROM items a
    JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)
SELECT p1, p2, c12,
       round(CAST(c12 AS DOUBLE) / CAST(n_orders AS DOUBLE), 9) AS support,
       round(CAST(c12 AS DOUBLE) * CAST(n_orders AS DOUBLE)
             / (CAST(i1.c AS DOUBLE) * CAST(i2.c AS DOUBLE)), 9) AS lift
FROM pairs
CROSS JOIN n
JOIN ic i1 ON p1 = i1.l_partkey
JOIN ic i2 ON p2 = i2.l_partkey
WHERE c12 >= 3
ORDER BY lift DESC, p1, p2
LIMIT 100
"""


@register("basket_part_pairs_lift", _BASKET_ORACLE)
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=False)
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    ic = items.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .filter(F.col("c12") >= 3)
    )
    i1 = ic.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1"))
    i2 = ic.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2"))
    return (
        pairs.join(F.broadcast(n))
        .join(i1, "p1")
        .join(i2, "p2")
        .select(
            "p1",
            "p2",
            "c12",
            F.round(
                F.col("c12").cast("double") / F.col("n_orders").cast("double"), 9
            ).alias("support"),
            # Cast each factor to double BEFORE multiplying: a BIGINT
            # product would wrap silently in Spark (non-ANSI) but raise in
            # DuckDB at extreme corpus scale — engines must not diverge.
            F.round(
                F.col("c12").cast("double") * F.col("n_orders").cast("double")
                / (F.col("c1").cast("double") * F.col("c2").cast("double")),
                9,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(100)
    )

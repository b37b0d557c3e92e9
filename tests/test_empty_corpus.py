"""Empty-corpus gate.

The gate's n0 check runs a query AND its DuckDB oracle over a zero-row
corpus whose parquet schemas are copied from sf0.001 (physical types
included, so events.ts stays TIMESTAMP(NANOS)). The fresh-partition /
day-one production hazard: a pipeline that has only ever seen populated
tables meets an empty one and either crashes (constant-folded 1/0 under
ANSI, a sink path never created) or silently diverges (sum-over-empty NULL
vs count-over-empty 0, rollup grand-total row semantics). The first
full-registry run found SIX real divergences — two of them hard crashes in
the streaming sink readbacks — all fixed at the operator level.

The n1 check (single-row tables: n−1 variance denominators, one-point
interpolation, all-orphan FKs) found a seventh: ``embeddings_standardize``
crashed BOTH engines on any zero-variance dimension — the
decimal-quantized m2 − mu² residual goes below the guard, DuckDB's sqrt
raises, Spark's goes NaN and NaN > 0 walks through the sigma guard into an
ANSI cast crash. A constant padding dimension would have fired this at
100 TB.

Full-registry runs happen per round via ``python tools/gate.py n0 n1``;
the pytest gate covers a rotating slice plus the regression names plus a
planted-bug self-test so the check itself stays honest.
"""

from __future__ import annotations

# The six n=0 divergences the first full probe run found (round 12) —
# pinned forever so none regresses:
#   agg_grouping_multi        rollup/cube grand-total row on empty input
#   events_key_skew_profile   n_keys: sum-over-empty NULL vs count 0
#   graph_markov_stationary   constant-folded 1.0/0 under ANSI
#   quality_expectations      violation counts must be 0, not NULL
#   streaming_rollup_merge    rollup table must exist from job creation
#   streaming_sink_parquet_epoch  sink readback on a never-written lake
REGRESSION_NAMES = {
    "agg_grouping_multi",
    "events_key_skew_profile",
    "graph_markov_stationary",
    "quality_expectations",
    "streaming_rollup_merge",
    "streaming_sink_parquet_epoch",
}


# The n=1 shape's find (round 12), pinned the same way:
REGRESSION_NAMES_N1 = {"embeddings_standardize"}


def _run(spark, names, check="n0"):
    from tools.gate import run

    problems = run(spark, [check], names=names).problems()
    assert not problems, "\n".join(problems)


def test_probe_slice_survives_empty_corpus(spark):
    """The driver-window rotation's first 12 names under the probe — the
    whole registry runs per-round via the tool (DEVNOTES artifacts)."""
    from enterprise_iot_bigdata_pipeline_spark.plans import _PRIORITY, load_all

    load_all()
    _run(spark, set(_PRIORITY[:12]))


def test_fixed_divergences_stay_fixed(spark):
    """The six queries the first full run flagged, re-probed every suite
    run — an n=0 regression in any of them fails here, not in round+1."""
    _run(spark, REGRESSION_NAMES)


def test_one_row_slice_and_fixed_divergence(spark):
    """The n=1 shape: the rotation's next 6 names plus the zero-variance
    regression pin (full registry per-round via the tool)."""
    from enterprise_iot_bigdata_pipeline_spark.plans import _PRIORITY, load_all

    load_all()
    _run(spark, set(_PRIORITY[12:18]) | REGRESSION_NAMES_N1, check="n1")


def test_probe_detects_planted_empty_divergence(spark):
    """Self-test: the check must catch each planted failure shape —
    a crash on n=0, a NULL-vs-0 value divergence, and a row-count
    divergence — and pass an honest query."""
    from pyspark.sql import functions as F

    from tools.gate import run

    def crashes(spark, sf_dir):
        # the markov bug shape: a driver-side count feeds a LITERAL
        # division, which Catalyst constant-folds — ANSI raises 1/0 at
        # plan time even though zero rows would ever evaluate it
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        n = df.limit(1).count()  # 0 on the empty corpus
        return df.select((F.lit(1.0) / F.lit(n)).alias("x"))

    def null_total(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return df.agg(F.sum("o_orderkey").cast("long").alias("n"))

    def grouped(spark, sf_dir):  # 0 rows on empty input
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return df.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))

    def honest(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return df.agg(F.count(F.lit(1)).cast("long").alias("n"))

    report = run(
        spark,
        ["n0"],
        queries={
            "crashes": crashes,
            "null_total": null_total,
            "grouped": grouped,
            "honest": honest,
        },
        oracles={
            "crashes": "SELECT 1 AS x FROM orders",
            "null_total": "SELECT CAST(coalesce(count(*), 0) AS BIGINT) AS n FROM orders",
            "grouped": "SELECT 'x' AS o_orderstatus, 0 AS n",
            "honest": "SELECT CAST(count(*) AS BIGINT) AS n FROM orders",
        },
    )
    found = {name: fs for (_, _, name), fs in report.findings.items()}
    assert found["crashes"][0].startswith("diverges: spark raises"), found
    assert "value mismatch" in found["null_total"][0], found
    assert "row counts" in found["grouped"][0], found
    assert "honest" not in found, found

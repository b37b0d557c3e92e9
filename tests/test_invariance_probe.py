"""Parallelism- and ANSI-invariance gate.

The gate's dop check executes a query under two degrees of parallelism
(shuffle partitions 32 vs 7, input splits 4m vs 512k) and compares
canonical value-hashes, plus a DuckDB threads=1 vs 8 determinism check on
its oracle. A DOP-sensitive result (shuffle-order float sums,
under-ordered windows, per-partition picks) is exactly the bug class that
ships green from a fixed local[32] and corrupts answers at cluster DOP.
The ansi check does the same across spark.sql.ansi.enabled. Full-registry
runs happen per round via ``python tools/gate.py dop ansi``; the pytest
gate covers a rotating slice plus planted-bug self-tests so the checks
themselves stay honest.
"""

from __future__ import annotations


def _slice_problems(spark, check, lo, hi):
    from enterprise_iot_bigdata_pipeline_spark.plans import _PRIORITY, load_all
    from tools.gate import run

    load_all()
    return run(spark, [check], names=set(_PRIORITY[lo:hi])).problems()


def _planted_findings(spark, check, fn):
    from tools.gate import run

    return run(spark, [check], queries={"planted": fn}).findings


def test_probe_slice_is_dop_invariant(spark):
    """The driver-window rotation's first 12 names (the least-recently
    driver-verified queries) under the full dop check."""
    problems = _slice_problems(spark, "dop", 0, 12)
    assert not problems, "\n".join(problems)


def test_probe_slice_is_ansi_invariant(spark):
    """Values must not depend on spark.sql.ansi.enabled — production
    clusters commonly run false (the pre-Spark-4 default), and a silent
    NULL-where-ANSI-raises or a wrapping cast would give different answers
    on identical data."""
    problems = _slice_problems(spark, "ansi", 18, 26)
    assert not problems, "\n".join(problems)


def test_probe_detects_planted_ansi_sensitivity(spark):
    """Self-test: a query whose values change with the ANSI flag must be
    flagged (the flag itself is planted into the output)."""
    from pyspark.sql import functions as F

    def planted(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(5)
        # leaks the session's ANSI setting straight into the output
        return df.select(
            "o_orderkey",
            F.lit(spark.conf.get("spark.sql.ansi.enabled")).alias("mode"),
        )

    found = _planted_findings(spark, "ansi", planted)
    assert any("ansi-sensitive" in f for fs in found.values() for f in fs), found


def test_probe_detects_planted_dop_sensitivity(spark):
    """Self-test: a query whose output depends on the partition count
    must be flagged; float sums behind the decimal-accumulation
    discipline must not."""
    from pyspark.sql import functions as F

    def planted(spark, sf_dir):
        # spark_partition_id leaks the physical DOP straight into values
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return df.groupBy(F.spark_partition_id().alias("p")).agg(
            F.count(F.lit(1)).alias("n")
        )

    found = _planted_findings(spark, "dop", planted)
    assert any("dop-sensitive" in f for fs in found.values() for f in fs), found

    def honest(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # decimal accumulation: exact whatever the shuffle order
        return df.groupBy("l_returnflag").agg(
            F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("q")
        )

    assert _planted_findings(spark, "dop", honest) == {}

"""Struct-replay lint as a suite gate.

The gate's replay check mechanizes the design rule born from the
join_point_in_time desync (DEVNOTES session 4; plans/analytic.py:1135):
multi-column as-of/replay state must travel as ONE
last(struct(...), ignorenulls=True) read. It walks every registered batch
query's optimized plan and flags >= 2 ignore-nulls first/last/lag reads of
DISTINCT arguments sharing one window spec — the shape where independent
NULL placement lets one logical row be reconstructed from two different
source rows.
"""

from __future__ import annotations


def test_registry_clean_under_replay_audit(registry_gate):
    problems = registry_gate.problems("replay")
    assert not problems, "\n".join(problems)


def test_audit_detects_the_desync_shape(spark):
    """The lint must FIRE on the exact r10 bug shape: last(version) +
    last(status) as separate ignore-nulls reads over one window spec —
    and must NOT fire once the state travels as one struct."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tools.gate import replay_findings

    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, "A"), (1, None, None)],
        "k int, version int, status string",
    )
    w = Window.partitionBy("k").orderBy("version").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    buggy = df.select(
        "k",
        F.last("version", ignorenulls=True).over(w).alias("v"),
        F.last("status", ignorenulls=True).over(w).alias("s"),
    )
    assert replay_findings(buggy), "separate ignore-nulls reads must be flagged"

    fixed = df.select(
        "k",
        F.last(F.struct("version", "status"), ignorenulls=True)
        .over(w)
        .alias("dim"),
    ).select("k", "dim.version", "dim.status")
    assert replay_findings(fixed) == [], "atomic struct replay must pass"

    # first+last of ONE column over one spec is intentional (attribution
    # first/last touch) — two different rows is the semantics, not a bug
    mixed = df.select(
        "k",
        F.first("status", ignorenulls=True).over(w).alias("a"),
        F.last("status", ignorenulls=True).over(w).alias("b"),
    )
    assert replay_findings(mixed) == []

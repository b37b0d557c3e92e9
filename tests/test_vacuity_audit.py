"""Vacuity gate over the registry.

A green oracle hash proves Spark and DuckDB agree, not that the query
computes anything — empty, constant, or input-independent outputs
hash-match trivially. The gate's vacuity check EXECUTES every registered
query at sf0.001/sf0.01 (escalating identical pairs to sf0.1, where the
documents/embeddings tables first grow) and flags empty, constant, and
scale-insensitive outputs. Registrations are conscripted at run time, so
a future query whose output never moves with the data fails here before
a driver round can green-stamp it.
"""

from __future__ import annotations


def test_registry_clean_under_vacuity_audit(registry_gate):
    problems = registry_gate.problems("vacuity")
    assert not problems, "\n".join(problems)


def test_audit_catches_planted_vacuous_queries(spark):
    """Self-test: a constant-output query, an empty query, and a
    scale-insensitive query must each be flagged; an honest query that
    reads the corpus must not."""
    from pyspark.sql import functions as F

    from tools.gate import run

    def planted_constant(spark, sf_dir):
        return spark.range(16).select(F.lit("x").alias("c"))

    def planted_empty(spark, sf_dir):
        return spark.range(0).select(F.col("id"))

    def planted_scale_blind(spark, sf_dir):
        # reads NO table: same single row whatever sf_dir says
        return spark.range(1).select(F.lit(42).alias("v"))

    def honest(spark, sf_dir):
        return (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    planted = {
        "constant": planted_constant,
        "empty": planted_empty,
        "scale_blind": planted_scale_blind,
        "honest": honest,
    }
    report = run(spark, ["vacuity"], queries=planted)

    def kinds(name):
        return {
            f.split(":", 1)[0]
            for (_, _, n), fs in report.findings.items()
            if n == name
            for f in fs
        }

    assert {"constant", "scale-insensitive"} <= kinds("constant"), report.findings
    assert kinds("empty") == {"empty"}, report.findings
    assert kinds("scale_blind") == {"scale-insensitive"}, report.findings
    assert kinds("honest") == set(), report.findings

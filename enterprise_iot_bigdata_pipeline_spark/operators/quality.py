"""Data-quality checks — the "dbt transforms + data quality tests" the
reference's README advertises but never ships (README.md:30,64-66; SURVEY
§5). One pass over the frame computes every rule as a conditional
aggregate; the result is a tall (rule, metric) report suitable for gating
a write (the engine's generalization of the row-count gate A4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quality_report(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """``rules`` maps rule name → boolean Column (True = row violates).

    Returns one row per rule: n_rows, n_violations, violation_rate —
    computed in a single aggregation pass (no per-rule scans).
    """
    # Rule names reach stack() SQL text and agg aliases — restrict to
    # identifiers so a quoted/exotic name can't produce malformed SQL or
    # an ambiguous column, and make the empty-rules report a valid empty
    # frame instead of a stack(0) ParseException.
    import re

    spark = df.sparkSession
    schema = "rule string, n_rows long, n_violations long, violation_rate double"
    if not rules:
        return spark.createDataFrame([], schema)
    for name in rules:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name) or name == "n_rows":
            raise ValueError(
                f"quality_report: rule name {name!r} must be an identifier "
                "(and not 'n_rows')"
            )
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.count(F.when(cond, 1)).alias(name) for name, cond in rules.items()
    ]
    row = df.agg(*aggs)
    stacked = row.selectExpr(
        "n_rows",
        "stack({n}, {pairs}) as (rule, n_violations)".format(
            n=len(rules),
            pairs=", ".join(f"'{name}', {name}" for name in rules),
        ),
    )
    return stacked.select(
        "rule",
        "n_rows",
        "n_violations",
        # guarded: an empty frame divides by zero under ANSI mode
        F.when(
            F.col("n_rows") > 0, (F.col("n_violations") / F.col("n_rows")).cast("double")
        ).alias("violation_rate"),
    )


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column profile: rows, non-null count, exact distinct count —
    the scan-level health report a curation run records before training.

    One aggregation pass over the frame (all metrics as parallel
    aggregates, then stacked tall); count_distinct on several columns in
    one agg plans as expand+partial-agg, still a single scan of the data.
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_nd_{c}"))
    row = df.agg(*aggs)
    pairs = ", ".join(f"'{c}', _nn_{c}, _nd_{c}" for c in cols)
    return row.selectExpr(
        "_n_rows as n_rows",
        f"stack({len(cols)}, {pairs}) as (column_name, n_non_null, n_distinct)",
    ).select(
        "column_name",
        "n_rows",
        "n_non_null",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_null"),
        "n_distinct",
    )

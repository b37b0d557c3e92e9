"""MERGE/upsert emulation on a parquet lake (no Delta/Iceberg jars in this
environment; same algebra they run under the hood).

``merge_upsert`` = anti-join + union: rows of the target whose key appears
in the updates are replaced, new keys appended. This is the DataFrame
reading of the reference's JDBC state write-back (``UPDATE … WHERE key IN
(…)``, SURVEY §2.1 K3) — and the general CDC/SCD1 building block.

At scale the rewrite is bounded by touching only affected partitions
(dynamic partition overwrite) when ``partition_cols`` is given.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.operators.commitlog import (
    overwrite_atomic,
    recover_swap,
)
from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
    _delete_partition_dirs,
    overwrite_partitions,
    partition_values_set,
    table_partition_cols,
)


def merge_upsert(target: DataFrame, updates: DataFrame, key: str | list[str]) -> DataFrame:
    """Pure-frame MERGE: target rows not in updates (by key) + all updates.

    PRECONDITION: ``updates`` has at most one row per key. Two update
    rows for one key would BOTH land in the output (the anti-join removes
    the target copy once), silently breaking the key-uniqueness invariant
    MERGE maintains — the same situation Delta's MERGE rejects as
    "multiple source rows matched". This function stays lazy (no
    validation job); ``merge_into_lake`` enforces the precondition with
    an explicit check before touching the lake."""
    keys = [key] if isinstance(key, str) else list(key)
    kept = target.join(updates.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(updates.select(*target.columns))


def _require_unique_update_keys(updates: DataFrame, keys: list[str]) -> None:
    dup = (
        updates.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        vals = {k: dup[0][k] for k in keys}
        raise ValueError(
            f"merge_into_lake: updates contain multiple rows for key "
            f"{vals} — MERGE requires at most one source row per key "
            "(dedupe the batch first, e.g. keep the latest by a version "
            "column)"
        )


def merge_into_lake(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str | list[str],
    partition_cols: tuple[str, ...] = (),
) -> int:
    """MERGE into a parquet lake path. With partition columns, only the
    partitions containing updated keys are rewritten (dynamic overwrite);
    without, the table is rewritten whole (small state tables).

    Returns the number of rows written.
    """
    # A table stranded mid-swap by a crashed whole-table merge must heal
    # BEFORE the read below — otherwise every subsequent merge fails with
    # PATH_NOT_FOUND and the lake never self-recovers.
    recover_swap(spark, root)
    keys = [key] if isinstance(key, str) else list(key)
    _require_unique_update_keys(updates, keys)
    target = spark.read.parquet(root)
    merged = merge_upsert(target, updates, key)
    if partition_cols:
        # Caller-supplied partition_cols must MATCH the lake's real
        # layout: a subset/superset/reordering makes the dynamic
        # overwrite write a second conflicting directory tree (bricking
        # the table) or replace whole subtrees with flat files.
        actual = table_partition_cols(spark, root)
        if actual and tuple(partition_cols) != actual:
            raise ValueError(
                f"merge_into_lake: partition_cols {tuple(partition_cols)} "
                f"does not match the lake's layout {actual} at {root}"
            )
        # Affected = the updates' partitions PLUS the partitions updated
        # keys currently live in: a key whose partition value CHANGES must
        # have its old partition rewritten too, or the stale copy survives
        # the dynamic overwrite and the key reads back twice.
        moved_from = target.join(
            F.broadcast(updates.select(*keys).distinct()), keys, "left_semi"
        ).select(*partition_cols)
        affected = (
            updates.select(*partition_cols).unionByName(moved_from).distinct()
        )
        # Null-safe partition match: a plain equi-join drops every row
        # whose partition value is NULL, so a merge touching the
        # __HIVE_DEFAULT_PARTITION__ partition would silently delete its
        # resident rows from the rewrite.
        pcols = list(partition_cols)
        aff = affected.alias("aff")
        cond = None
        for c in pcols:
            eq = merged[c].eqNullSafe(aff[c])
            cond = eq if cond is None else cond & eq
        subset = merged.join(F.broadcast(aff), cond, "left_semi")
        # Affected partitions BEFORE the write — afterwards this frame
        # would re-read the just-overwritten lake (self-referential plan).
        # The written row count and partitions are observed on the write.
        affected_set = partition_values_set(affected, pcols)
        n, written_set = overwrite_partitions(
            subset.repartition(*[F.col(c) for c in pcols]), root, pcols
        )
        # Dynamic overwrite only replaces partitions PRESENT in the output:
        # a source partition left with zero rows (every resident key moved
        # away) must be deleted explicitly or its stale files survive.
        _delete_partition_dirs(spark, root, pcols, affected_set - written_set)
        return n
    # Whole-table rewrite: temp-dir write + atomic rename swap. The write
    # job reads the CURRENT table (untouched until the swap), so there is
    # no read-own-output conflict and nothing is collected to the driver —
    # this path now scales to tables far beyond driver memory.
    overwrite_atomic(spark, merged, root)
    return spark.read.parquet(root).count()  # parquet metadata count

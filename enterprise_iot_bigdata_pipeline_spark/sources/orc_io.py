"""ORC source/sink — the columnar interchange format beside parquet.

The reference is parquet-only (gzip-to-parquet-etl.py:262-274), but a
Spark-native lake engine is expected to read whatever columnar files a
neighboring Hive/Trino deployment writes, and ORC support ships inside
Spark itself (no external package). Same partitioned-layout contract as
``sources/lake.py``: repartition on the partition key first so each
(day, district) is produced by few tasks → few large files.

Avro is different: Spark treats it as a built-in *external* module
(``spark-avro`` jar, not bundled in this container), so the helpers
raise a clear gate instead of a ClassNotFoundException deep inside the
writer. At deployment, ``--packages org.apache.spark:spark-avro_2.13``
turns the same call sites on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_orc(spark: SparkSession, root: str, paths: list[str] | None = None) -> DataFrame:
    """Whole-table scan (glob/partition discovery) or explicit file list
    under a basePath — mirrors ``lake.read_lake`` S2/S3 semantics."""
    if paths is None:
        return spark.read.orc(root)
    return spark.read.option("basePath", root).orc(*paths)


def write_orc(
    df: DataFrame,
    root: str,
    mode: str = "append",
    partition_cols: tuple[str, ...] = (),
    compression: str = "zlib",
) -> None:
    """Partitioned ORC sink. ``zlib`` is ORC's portable default (every
    ORC reader ships it); pass ``snappy``/``zstd`` for speed/ratio."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_cols:
        w = (
            df.repartition(*[df[c] for c in partition_cols])
            .write.mode(mode)
            .option("compression", compression)
            .partitionBy(*partition_cols)
        )
    w.orc(root)


_AVRO_GATE = (
    "spark-avro module not on the classpath in this container; "
    "deploy with --packages org.apache.spark:spark-avro_2.13"
)


def _gate_avro(ex: Exception) -> None:
    """Convert Spark's unresolved-data-source error into the documented
    capability gate; anything else (bad path, schema error) re-raises."""
    if "FAILED_FIND_DATA_SOURCE" in str(ex) or "Failed to find data source: avro" in str(ex):
        raise NotImplementedError(_AVRO_GATE) from ex
    raise ex


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    try:
        return spark.read.format("avro").load(path)
    except Exception as ex:  # noqa: BLE001 — classified and re-raised
        _gate_avro(ex)


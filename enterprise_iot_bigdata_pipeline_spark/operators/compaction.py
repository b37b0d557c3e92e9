"""The compacter pipeline — the reference engine's reason to exist.

``compact_batch`` is the batch form of v1's loop body / v2's DAG
(SURVEY §3.1-3.2): NDJSON paths → enrich (district literal, multi-scale
epoch → hiveperiod/datetime_wita, source filename) → partitioned snappy
parquet append. ``repair_misfiled`` finishes what the reference's
data-cleaner starts (SURVEY §3.4) and ``compact_partitions`` implements the
stubbed daily compactor (datalog_compacter.py:1-26) — both via dynamic
partition overwrite, fixing the reference's duplicate-on-repair gap (old
files were never deleted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.functions.epoch import normalize_epoch_auto, to_local
from enterprise_iot_bigdata_pipeline_spark.sources.lake import PARTITION_COLS, write_lake
from enterprise_iot_bigdata_pipeline_spark.sources.ndjson import read_ndjson


def enrich(df: DataFrame, distrik: str, tz_hours: int = 8) -> DataFrame:
    """The signature enrichment (gzip-to-parquet-etl.py:225-244):
    dstrct_code literal, hiveperiod/datetime_wita from heartbeat."""
    local_ts = to_local(normalize_epoch_auto(F.col("heartbeat")), tz_hours)
    return (
        df.withColumn("dstrct_code", F.lit(distrik))
        .withColumn("hiveperiod", local_ts.cast("date"))
        .withColumn("datetime_wita", local_ts)
    )


def compact_batch(
    spark: SparkSession,
    paths: list[str],
    target: str,
    distrik: str,
    schema=None,
) -> int:
    """One micro-batch: read NDJSON → enrich → partitioned append.

    Returns the row count (0 → nothing written, the reference's
    empty-batch short-circuit, gzip-to-parquet-etl.py:254-257).
    """
    from pyspark.errors.exceptions.base import AnalysisException

    try:
        raw = read_ndjson(spark, paths, schema=schema)
    except AnalysisException as exc:
        # ONLY the empty/uninferable-input case short-circuits; a blanket
        # catch here silently dropped whole batches on PATH_NOT_FOUND
        # (one typo'd or raced-away path = every other file's rows lost
        # with "0 rows, success" reported)
        cond = getattr(exc, "getCondition", exc.getErrorClass)()
        if cond == "UNABLE_TO_INFER_SCHEMA":
            return 0
        raise
    if not raw.columns or raw.columns == ["source_file"]:
        return 0  # inference found no data columns (all-empty files)
    if "heartbeat" not in raw.columns and schema is None:
        # poison batch: every line corrupt (columns = [_corrupt_record,
        # source_file]) or a foreign feed without the heartbeat field —
        # enrich() would abort the stream on UNRESOLVED_COLUMN. Same
        # graceful quarantine as the empty batch, but say so.
        import warnings

        warnings.warn(
            f"compact_batch: no 'heartbeat' column in batch {paths[:3]}… "
            f"(inferred: {raw.columns}) — batch skipped, not compacted",
            stacklevel=2,
        )
        return 0
    # a one-task probe keeps an empty batch from creating the target; the
    # row count is observed on the append itself, so nothing is cached and
    # only the append parses the whole input
    df = enrich(raw, distrik)
    if not df.take(1):
        return 0
    obs = Observation()
    write_lake(df.observe(obs, F.count(F.lit(1)).alias("n")), target)
    return obs.get["n"]


def audit_misfiled(lake: DataFrame, tz_hours: int = 8) -> DataFrame:
    """Rows whose stored partition date ≠ true event-time date — the
    reference's production invariant (data-cleaner.py:109-117). Returns
    DISTINCT (hiveperiod, dstrct_code, accurate_wita_date) to repair."""
    accurate = to_local(normalize_epoch_auto(F.col("heartbeat")), tz_hours).cast("date")
    return (
        lake.withColumn("accurate_wita_date", accurate)
        # null-safe: a row stored in the NULL partition
        # (__HIVE_DEFAULT_PARTITION__) with a valid heartbeat IS misfiled
        # — plain != evaluates to NULL there and silently hides it. Rows
        # whose accurate date can't be computed (null heartbeat) are not
        # misfiled: there is no correct partition to move them to.
        .filter(
            ~F.col("hiveperiod").eqNullSafe(F.col("accurate_wita_date"))
            & F.col("accurate_wita_date").isNotNull()
        )
        .select("hiveperiod", "dstrct_code", "accurate_wita_date")
        .distinct()
    )


def repair_misfiled(spark: SparkSession, root: str, tz_hours: int = 8) -> int:
    """Rewrite misfiled rows into their correct partitions; returns the
    number of rows written (0: nothing misfiled, nothing written).

    Unlike the reference (append-only, leaves stale copies), this uses
    dynamic partition overwrite. The rewrite set is the union of source
    (bad) and target (accurate-date) partitions: dynamic overwrite replaces
    every partition present in the output, so the target partitions must be
    read and rewritten too or their pre-existing correct rows would be
    dropped. One pass is closed under movement — every misfiled row's
    current partition is by definition a bad period, so no row can move to
    a partition outside bad ∪ target.

    Dynamic overwrite only replaces partitions PRESENT in the output, so a
    partition whose rows were ALL misfiled — zero rows left after
    recomputation — would silently survive with its stale files. Those
    emptied source partitions are deleted explicitly after the write
    (bad-partition set minus the write's output-partition set), through
    the Hadoop FileSystem API so the path works on HDFS/S3A too.

    Partition columns are DERIVED from the table's directory layout
    (round-2 advice): an epoch-partitioned streaming target
    (``ingest_epoch=…/hiveperiod=…/dstrct_code=…``) is rewritten under its
    own full layout — misfiled rows move across hiveperiod *within* their
    other partition values, and the dynamic overwrite keys on the real
    partition tuple instead of leaving the epoch level's files behind.

    Job shape: one audit collect (the bad partitions and target dates),
    then one write whose single shuffle — on the corrected partition
    columns — also serves both crash-twin aggregates; the written row
    count and partition set are observed on the write itself.
    """
    pcols = table_partition_cols(spark, root) or PARTITION_COLS
    if "hiveperiod" not in pcols:
        raise ValueError(
            f"repair_misfiled: lake at {root} has partition layout {pcols} "
            "without a hiveperiod level — nothing to repair by event date"
        )
    lake = spark.read.parquet(root)
    accurate = to_local(normalize_epoch_auto(F.col("heartbeat")), tz_hours).cast("date")
    # The bad partitions come back as SPARK-cast strings, the domain the
    # writer names directories in (see partition_values_set): a Python
    # str() of the collected values formats bool/float/null differently,
    # and the emptied-partition difference below would miss dirs.
    moves = (
        lake.filter(
            # null-safe misfiled predicate — see audit_misfiled
            ~F.col("hiveperiod").eqNullSafe(accurate) & accurate.isNotNull()
        )
        .select(
            *[F.col(c).cast("string").alias(c) for c in pcols],
            accurate.cast("string").alias("_target"),
        )
        .distinct()
        .collect()  # partition list: tiny, control plane
    )
    if not moves:
        return 0
    bad_parts = {tuple(r[c] for c in pcols) for r in moves}
    periods = sorted(
        {r["hiveperiod"] for r in moves if r["hiveperiod"] is not None}
        | {r["_target"] for r in moves}
    )
    in_scope = F.col("hiveperiod").isin(periods)
    if any(r["hiveperiod"] is None for r in moves):
        # rows misfiled INTO the null partition are in scope too
        in_scope = in_scope | F.col("hiveperiod").isNull()
    data_cols = list(lake.columns)
    # Rows whose accurate date can't be computed (null heartbeat) keep
    # their current partition instead of migrating to the null partition.
    # The one shuffle is on the corrected partition columns: the crash-twin
    # aggregates below group by supersets of them, so they and the write
    # reuse it.
    fixed = (
        lake.filter(in_scope)
        .withColumn("_origin", F.col("hiveperiod"))
        .withColumn("hiveperiod", F.coalesce(accurate, F.col("hiveperiod")))
        .repartition(*[F.col(c) for c in pcols])
    )
    # CRASH IDEMPOTENCE: a crash between the overwrite commit and the
    # stale-dir delete below leaves a row's corrected copy in its target
    # partition AND its stale copy in the (not-yet-deleted) bad dir; a
    # rerun reads BOTH and would bake the duplicate into the target
    # forever. Reconstruct each row group's true multiplicity as the MAX
    # over its ORIGIN partitions: crash twins live in different origins
    # (max(1,1) = 1 collapses them) while genuine duplicate rows share
    # one origin (max keeps their count). Needs groupable columns — a
    # map-typed lake falls back to the direct rewrite with a warning.
    if any("map<" in t for _, t in lake.dtypes):
        import warnings

        warnings.warn(
            "repair_misfiled: map-typed column prevents the crash-twin "
            "dedup; a rerun after a mid-repair crash may duplicate moved "
            "rows",
            stacklevel=2,
        )
        out = fixed.select(*data_cols)
    else:
        # Grouping normalizes float keys (-0.0 becomes 0.0): float and
        # double columns are grouped on their exact string cast and cast
        # back, so every value is written back bit for bit.
        floats = {
            c: t for c, t in lake.dtypes if t in ("float", "double") and c not in pcols
        }
        keyed = fixed.select(
            *[F.col(c).cast("string").alias(c) if c in floats else c for c in data_cols],
            "_origin",
        )
        per_origin = keyed.groupBy(*data_cols, "_origin").agg(
            F.count(F.lit(1)).alias("_n")
        )
        mult = per_origin.groupBy(*data_cols).agg(F.max("_n").alias("_n"))
        out = mult.select(
            *[F.col(c).cast(floats[c]).alias(c) if c in floats else c for c in data_cols],
            F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("_i"),
        ).drop("_i")
    n, out_parts = overwrite_partitions(out, root, pcols)
    _delete_partition_dirs(spark, root, pcols, bad_parts - out_parts)
    return n


def overwrite_partitions(df: DataFrame, root: str, pcols) -> tuple[int, set[tuple]]:
    """Write ``df`` into the lake at ``root`` partitioned by ``pcols`` with
    dynamic partition overwrite, and return the rows written and the
    partition tuples written (Spark-cast strings, None preserved — see
    ``partition_values_set``). Both are observed on the write job itself,
    so the bookkeeping costs no job and no cache of ``df``.

    The overwrite mode is a writer option: mutating the session conf would
    silently change every later overwrite in the session."""
    obs = Observation()
    (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_set(
                F.struct(*[F.col(c).cast("string").alias(c) for c in pcols])
            ).alias("parts"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "snappy")
        .partitionBy(*pcols)
        .parquet(root)
    )
    m = obs.get
    return m["n"], {tuple(p) for p in m["parts"]}


def table_partition_cols(spark: SparkSession, root: str) -> tuple[str, ...]:
    """Derive a lake's hive partition columns from its directory layout
    (walk one ``col=value`` chain from the root). Lets the maintenance
    operators below handle both plain ``(hiveperiod, dstrct_code)`` lakes
    and epoch-partitioned streaming targets (``write_epoch_batch`` writes
    ``ingest_epoch=…/hiveperiod=…/dstrct_code=…``) instead of silently
    rewriting a mixed layout (round-2 advice)."""
    fs, p, hidden = _lake_fs(spark, root)
    cols: list[str] = []
    while sub := _partition_dirs(fs, p, hidden, first=True):
        p = sub[0]
        cols.append(p.getName().split("=", 1)[0])
    return tuple(cols)


def _lake_fs(spark: SparkSession, root: str):
    """``(FileSystem, Path, hidden-name filter)`` for walking the lake at
    ``root`` through the Hadoop FileSystem API. The filter is Parquet's
    ``HiddenFileFilter``: names starting with ``_`` or ``.``
    (``_SUCCESS``, ``_temporary``, ``.crc`` checksums) are not data."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(root)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, p, jvm.org.apache.parquet.hadoop.util.HiddenFileFilter.INSTANCE


def _partition_dirs(fs, path, hidden, first: bool = False) -> list:
    """The visible ``col=value`` subdirectories of ``path`` as Hadoop
    Paths; with ``first``, stop at the first one."""
    dirs = []
    for st in fs.listStatus(path, hidden):
        if st.isDirectory() and "=" in st.getPath().getName():
            dirs.append(st.getPath())
            if first:
                break
    return dirs


def partition_values_set(df, pcols) -> set[tuple]:
    """Distinct partition-value tuples of ``df`` as SPARK-cast strings
    (None preserved): the same string Spark's writer derives the
    directory name from — unlike Python ``str()``, which formats
    booleans/floats/None differently and would compose paths that never
    match the on-disk layout."""
    return {
        tuple(r[c] for c in pcols)
        for r in df.select(
            *[F.col(c).cast("string").alias(c) for c in pcols]
        )
        .distinct()
        .collect()
    }


def _delete_partition_dirs(spark: SparkSession, root: str, pcols, parts) -> None:
    """Remove partition directories for the given value tuples (ordered as
    ``pcols``, values Spark-cast strings or None — see
    ``partition_values_set``), pruning ancestors left childless, via
    Hadoop FileSystem — storage-agnostic.

    Directory names are composed with Spark's own
    ``ExternalCatalogUtils.getPartitionPathString`` so NULL values map to
    ``__HIVE_DEFAULT_PARTITION__`` and special characters URL-escape
    exactly as the writer escaped them — a raw ``f"{c}={v}"`` silently
    misses those directories and the stale partition survives."""
    if not parts:
        return
    jvm = spark.sparkContext._jvm
    cat = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    fs, root_path, _ = _lake_fs(spark, root)
    # Qualified-Path equality, not string comparison: a scheme-qualified
    # or unnormalized root ('file:///x', '/x//y') never string-matches
    # Path.toString(), and the prune would climb past — and delete — the
    # table root itself (then NPE at the filesystem root).
    root_q = fs.makeQualified(root_path)
    for values in sorted(parts, key=lambda vs: tuple(v or "" for v in vs)):
        rel = "/".join(
            cat.getPartitionPathString(c, v) for c, v in zip(pcols, values)
        )
        p = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(f"{root}/{rel}"))
        fs.delete(p, True)
        parent = p.getParent()
        while (
            parent is not None
            and not parent.equals(root_q)
            and fs.exists(parent)
            and len(fs.listStatus(parent)) == 0
        ):
            fs.delete(parent, True)
            parent = parent.getParent()


def compact_partitions(spark: SparkSession, root: str, target_files: int = 1) -> int:
    """Daily small-file compaction (the reference's TODO stub): rewrite
    each leaf partition holding more than ``target_files`` data files into
    ~``target_files`` files, dynamic overwrite. Returns the number of leaf
    partitions rewritten; leaves that are already compact are neither read
    nor rewritten, so a compact lake costs a directory listing and no
    Spark job. The partition layout is derived from the table, so
    epoch-partitioned streaming targets compact under their own full
    layout instead of collapsing the epoch level into duplicated rows
    (round-2 advice).

    The fragmented leaves are read under ``basePath`` with the whole
    lake's schema, so their partition values keep the types a full-lake
    read infers: read alone, a leaf ``dstrct_code=01`` whose siblings
    make the column a string would infer as the integer 1 and be written
    back as ``dstrct_code=1`` beside its stale files.

    Shuffle shape: repartition on (partition cols, content-hash salt
    mod target_files) — each partition fans out to ~``target_files``
    tasks/files while job parallelism stays #partitions × target_files.
    (The earlier ``repartition(target_files, *pcols)`` set the TOTAL
    task count to target_files: with the default 1, one task rewrote
    the entire lake serially, and the per-partition file count never
    followed the knob at all.)"""
    pcols = table_partition_cols(spark, root) or PARTITION_COLS
    target_files = max(1, int(target_files))
    fs, root_path, hidden = _lake_fs(spark, root)
    level = [root_path]
    for _ in pcols:
        level = [d for p in level for d in _partition_dirs(fs, p, hidden)]
    # A leaf holds only data files: its visible entries are counted in
    # one listing call, without a call per file.
    leaves = [p.toString() for p in level if len(fs.listStatus(p, hidden)) > target_files]
    if not leaves:
        return 0
    schema = spark.read.parquet(root).schema
    part = spark.read.schema(schema).option("basePath", root).parquet(*leaves)
    salt = F.pmod(
        F.xxhash64(F.struct(*[F.col(c) for c in part.columns])),
        F.lit(target_files),
    )
    overwrite_partitions(
        part.withColumn("_salt", salt)
        .repartition(*[F.col(c) for c in pcols], F.col("_salt"))
        .drop("_salt"),
        root,
        pcols,
    )
    return len(leaves)

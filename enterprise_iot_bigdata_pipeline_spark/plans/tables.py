"""Table access for the driver's test corpus (TESTDATA.md).

``t(spark, sf_dir, name)`` is the single scan entry point so every query
gets the same reader semantics, in particular nanosecond-timestamp
handling: the corpus stores ``events.ts`` as parquet INT64
TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright.
We read ns columns as raw longs (``spark.sql.legacy.parquet.nanosAsLong``)
and convert to µs TIMESTAMP_NTZ with integer division — bit-identical to
DuckDB's silent ns→µs truncation, so oracle comparisons hold.
"""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# path -> list of ns-timestamp column names (parquet footer inspection is
# driver-side and cheap; cache it per file).
_NS_COLS: dict[str, list[str]] = {}

# path -> discovered Spark read schema (r12): a schema-less
# ``spark.read.parquet`` spends ~75 ms of DRIVER time per call on footer
# schema discovery, and the registry's queries construct each scan fresh
# on every invocation (1–5 ``t()`` calls per query × 200+ queries ≈ tens
# of seconds of pure plan-construction overhead per bench pass). The
# corpus files are immutable per path, so the first discovery is cached
# and later reads pass the schema explicitly (~17 ms). Only the SCHEMA is
# memoized — never a DataFrame or any computed rows; every action still
# scans the parquet inputs. Discovery happens under the nanosAsLong pin
# below, so the cached schema is exactly what discovery would return.
_SCHEMAS: dict[str, "object"] = {}

# exprId-normalized optimized-plan text -> scan partition count (see
# fan_out); bounded, decision-only — never rows.
_FAN_OUT_PROBE: dict[str, int] = {}

# applicationId that populated the caches above (r13, ADVICE): the dicts
# are module-level so they would outlive a SparkSession — a later session
# in the same process (e.g. profile_query --cpus) can carry different
# reader confs (parallelism, maxPartitionBytes) that change a scan's
# partition count. Invalidate everything when the application changes;
# within one application the entries are stable by construction.
_CACHE_APP_ID: list[str] = [""]


def _check_cache_epoch(spark: SparkSession) -> None:
    # applicationId is immutable per SparkContext, so memoize it on the
    # python context object itself — the py4j round-trip is paid once per
    # context, not once per t()/fan_out call.
    sc = spark.sparkContext
    app_id = getattr(sc, "_graft_app_id", None)
    if app_id is None:
        app_id = sc.applicationId
        sc._graft_app_id = app_id
    if app_id != _CACHE_APP_ID[0]:
        _SCHEMAS.clear()
        _FAN_OUT_PROBE.clear()
        _CACHE_APP_ID[0] = app_id


def _ns_timestamp_cols(path: str) -> list[str]:
    if path not in _NS_COLS:
        import glob
        import os

        probe = path
        if os.path.isdir(path):  # directory-shaped dataset (Spark writer)
            parts = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if not parts:
                _NS_COLS[path] = []
                return _NS_COLS[path]
            probe = parts[0]
        pf = pq.ParquetFile(probe)
        # Require INT64 physical type: pyarrow also reports legacy INT96
        # timestamps (Spark's default writer output) as timestamp[ns], but
        # Spark reads INT96 natively — rewriting those would break.
        phys = {
            pf.schema.column(i).name: pf.schema.column(i).physical_type
            for i in range(len(pf.schema))
        }
        _NS_COLS[path] = [
            f.name
            for f in pf.schema_arrow
            if str(f.type).startswith("timestamp[ns") and phys.get(f.name) == "INT64"
        ]
    return _NS_COLS[path]


# Logical-plan nodes that imply an exchange (or stateful distribution) is
# already in the frame's lineage. For such inputs the RDD-partition probe
# below is NOT job-free (converting to an RDD under AQE materializes the
# upstream shuffle stages) and its count can disagree with post-AQE
# coalescing — so fan_out passes those frames through untouched.
_WIDE_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Repartition",
    "Union",
    "Distinct",
    "Deduplicate",
)


def fan_out(df: DataFrame) -> DataFrame:
    """Rebalance a narrow scan across all cores before CPU-heavy per-row
    work (regex/hashing/vector math). Single-row-group parquet files are
    unsplittable by `maxPartitionBytes`, so small-scale scans otherwise run
    one task, and for those the shuffle is cheap relative to the work it
    parallelizes.

    Gated two ways: (1) frames whose lineage already contains a wide node
    (join/agg/window/…) pass through untouched — they are shuffle-
    partitioned already, and probing them via ``.rdd`` under AQE would
    materialize upstream stages (a hidden job) and read a pre-coalescing
    partition count; (2) for scan-shaped frames (scan + narrow ops only,
    where the RDD probe builds lineage but runs no job), inputs already in
    ≥ defaultParallelism partitions pass through — inserting an extra
    shuffle ahead of every text/vector stage at 100 TB would be pure
    overhead.
    """
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # Match node NAMES at tree positions only (line start after indent /
    # branch glyphs, optional unresolved tick) — a bare substring test
    # would also hit column names like `union_key` or paths containing
    # "Sort" rendered inside a node's argument list.
    node_re = re.compile(
        r"(?m)^[\s:+\-*(0-9)]*'?(?:%s)" % "|".join(_WIDE_NODES)
    )
    if node_re.search(plan):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Probe-result cache (r12): ``df.rdd.getNumPartitions()`` costs ~60 ms
    # of driver time per call, and the registry re-constructs identical
    # scan frames on every invocation. The partition count of a
    # scan-shaped frame depends only on its files and reader confs, both
    # stable within a session, so the probe is memoized on the optimized
    # plan text with expression IDs (#123 — fresh per construction)
    # stripped. Keyed per plan shape, never per result.
    _check_cache_epoch(df.sparkSession)
    key = re.sub(r"#\d+", "", plan)
    n_parts = _FAN_OUT_PROBE.get(key)
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
        if len(_FAN_OUT_PROBE) < 4096:
            _FAN_OUT_PROBE[key] = n_parts
    if n_parts >= target:
        return df
    return df.repartition(target)


def raw_schema(spark: SparkSession, path: str):
    """The DISCOVERED (pre-ns-rewrite) read schema of a parquet path,
    through the same per-application cache ``t`` uses — for callers that
    need the file's raw schema (e.g. streaming readers, which must see
    the file's own ts dtype, not a proxy frame's) without paying the
    ~75 ms footer-discovery driver cost per query. A cache-miss discovery
    runs under ``t``'s nanosAsLong pin, so the cached schema does not
    depend on which caller read the path first."""
    _check_cache_epoch(spark)
    if path not in _SCHEMAS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _SCHEMAS[path] = spark.read.parquet(path).schema
    return _SCHEMAS[path]


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    path = f"{sf_dir}/{name}.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin UTC even when the caller's session was built without it: instant↔ntz
    # casts inside plans must be timezone-stable (driver owns the session).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Perf-neutral correctness-safe runtime knobs for sessions built with
    # defaults (e.g. an external driver): AQE coalesces the 200 default
    # shuffle partitions down to the data's real size and de-skews joins —
    # both no-ops on sessions that already tuned them.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    _check_cache_epoch(spark)
    if path in _SCHEMAS:
        df = spark.read.schema(_SCHEMAS[path]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMAS[path] = df.schema
    for c in _ns_timestamp_cols(path):
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
        )
    return df

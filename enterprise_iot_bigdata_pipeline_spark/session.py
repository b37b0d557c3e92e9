"""SparkSession factory.

Conventions mirror the reference engine's settings (UTC pinned, matching
``SET TimeZone='UTC'`` at v1-basic-etl/gzip-to-parquet-etl.py:150; memory
limits §6 of SURVEY) but tuned for Spark: AQE on, Arrow on, shuffle
partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import io
import os
import re
from pathlib import Path

from pyspark.sql import SparkSession

# Plain local[*] runs every Python worker from the driver's cwd with the
# driver's sys.path, so the package resolves without help. ANY other
# master (yarn, k8s, spark://, and local-cluster — which spawns separate
# executor JVMs) runs workers that know nothing about the driver's
# checkout: the ~30 registered queries whose Arrow kernels import this
# package on executors (operators/multimodal.py, plans/bpe.py, the
# Python data source, streaming foreachBatch) die there with
# ModuleNotFoundError unless the package is shipped.
_LOCAL_MASTER_RE = re.compile(r"^local(\[[^\]]*\])?$")

# Set SPARK_GRAFT_PYFILES=external when the deployer ships the package
# via spark-submit --py-files; auto-shipping is skipped and the session
# trusts the deployment.
PYFILES_ENV = "SPARK_GRAFT_PYFILES"


def build_package_zip(out_dir: str | None = None) -> str:
    """Deterministic zip of this package for ``SparkContext.addPyFile``.

    Zip bytes depend only on source contents (fixed entry timestamps),
    so the content-hashed filename is stable across processes — re-adding
    the same file to a running context is a no-op instead of the
    "file already exists with different contents" error a tempfile-named
    zip would hit on the second ``get_spark`` call.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = Path(__file__).resolve().parent
    if not pkg_dir.is_dir():
        # The package itself was imported from a zip (a --py-files
        # deployment, or an artifact this function shipped earlier): its
        # "directory" is a path inside the archive, rglob finds nothing,
        # and the naive build would silently ship a 22-byte empty zip
        # whose workers then die with ModuleNotFoundError. The archive we
        # were loaded from IS the package — ship it verbatim.
        for anc in pkg_dir.parents:
            if anc.is_file() and zipfile.is_zipfile(anc):
                return str(anc)
        raise RuntimeError(
            f"package loaded from {pkg_dir}, which is neither a directory "
            "nor inside a zip archive — cannot build a shippable copy"
        )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        n_entries = 0
        for p in sorted(pkg_dir.rglob("*.py")):
            rel = Path(pkg_dir.name) / p.relative_to(pkg_dir)
            info = zipfile.ZipInfo(str(rel), date_time=(1980, 1, 1, 0, 0, 0))
            info.external_attr = 0o644 << 16
            zf.writestr(info, p.read_bytes())
            n_entries += 1
    if not n_entries:
        raise RuntimeError(f"no modules found under {pkg_dir} — refusing to ship an empty zip")
    data = buf.getvalue()
    digest = hashlib.sha256(data).hexdigest()[:16]
    out = Path(out_dir or tempfile.gettempdir()) / (
        f"enterprise_iot_bigdata_pipeline_spark-{digest}.zip"
    )
    if not out.exists():
        tmp = out.with_name(out.name + f".tmp-{os.getpid()}")
        tmp.write_bytes(data)
        tmp.replace(out)  # atomic publish; concurrent builders converge
    return str(out)


def ensure_package_on_executors(spark: SparkSession) -> str | None:
    """Ship this package to executors when the master is non-local.

    Returns the shipped zip path, or None when nothing needed shipping
    (local master, or the deployer opted out via SPARK_GRAFT_PYFILES=
    external). Raises loudly when shipping fails: a silent skip would
    surface later as ModuleNotFoundError inside whichever executor first
    runs an Arrow kernel — the failure mode this hook exists to kill.
    """
    master = spark.sparkContext.master or ""
    if _LOCAL_MASTER_RE.match(master):
        return None
    if os.environ.get(PYFILES_ENV, "").lower() == "external":
        return None
    try:
        zip_path = build_package_zip()
        spark.sparkContext.addPyFile(zip_path)
        return zip_path
    except Exception as exc:
        raise RuntimeError(
            f"master {master!r} runs Python workers without the driver's "
            "sys.path, and auto-shipping the package zip failed — Arrow "
            "kernels would die on executors with ModuleNotFoundError. "
            "Ship the package yourself (spark-submit --py-files <zip of "
            "enterprise_iot_bigdata_pipeline_spark/>) and set "
            f"{PYFILES_ENV}=external, or fix the cause below."
        ) from exc


def get_spark(
    app_name: str = "enterprise_iot_bigdata_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session.

    Defaults target local mode; on a real cluster the master/memory knobs
    come from spark-submit and everything here still applies (AQE, UTC,
    Arrow, case preservation).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Time semantics: the reference pins UTC (gzip-to-parquet-etl.py:150);
        # naive DuckDB timestamps ≡ Spark timestamp_ntz / UTC-session instants.
        .config("spark.sql.session.timeZone", "UTC")
        # Right-size shuffles for the target, let AQE coalesce at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # File listing past 32 paths (parallelPartitionDiscovery.threshold)
        # runs as a Spark job whose default parallelism of 10000 means one
        # task per path, each deserializing the Hadoop conf; a streaming
        # drain lists its glob three times (partition inference, the
        # availableNow file fetch, the batch's file index). Size the
        # listing job to the cores instead. The threshold stays: listing
        # serially on the driver would regress object-store landing dirs.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Split small local files across cores: the default 128 MB yields
        # one task per test-scale file, serializing every scan. On a real
        # cluster the same setting is irrelevant (inputs span many files);
        # locally 4 MB approximates production task fan-out.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Column-name case must survive end-to-end ("VehicleSpeed",
        # SURVEY §1.4); Spark is case-preserving by default — keep
        # resolution case-insensitive (default) but never lowercase names.
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Read INT64 TIMESTAMP(NANOS) parquet columns as raw longs (Spark has
        # no ns timestamp); plans.tables converts them to µs timestamp_ntz
        # with the same truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Quiet the UI for headless runs.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    # Local mode runs every task thread inside the driver JVM, whose
    # default 1g heap starves local[32] long before the machine does
    # (this box has 128 GiB). Honored only at JVM launch; harmless later.
    b = b.config(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Cluster deployability: on any non-local master, ship the package so
    # executor-side Python kernels can import it (no-op under local[*]).
    ensure_package_on_executors(spark)
    return spark

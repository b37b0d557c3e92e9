"""End-to-end ingest pipeline tests: gzip NDJSON → enriched partitioned
lake → audit/repair → compaction; plus the streaming variant's
exactly-once behavior and schema-drift tolerance."""

from __future__ import annotations

import gzip
import json
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from tests.conftest import count_jobs, job_tasks


def _write_ndjson(path, rows, gz=True):
    data = "\n".join(json.dumps(r) for r in rows)
    if gz:
        with gzip.open(path, "wt") as f:
            f.write(data)
    else:
        path.write_text(data)


@pytest.fixture()
def landing(tmp_path):
    """3 device-hour files: mixed epoch scales, schema drift, one bad line."""
    base = int(datetime(2024, 3, 1, 10, 0, 0, tzinfo=timezone.utc).timestamp())
    f1 = tmp_path / "dev1" / "2024030110.txt.gz"
    f1.parent.mkdir(parents=True)
    _write_ndjson(
        f1,
        [
            {"heartbeat": base + i, "unitno": "LD772", "gpsspeed": 10.5 + i, "VehicleSpeed": 9.0}
            for i in range(5)
        ],
    )
    f2 = tmp_path / "dev2" / "2024030111.txt.gz"
    f2.parent.mkdir(parents=True)
    # millisecond scale + drift column
    _write_ndjson(
        f2,
        [
            {
                "heartbeat": (base + 3600 + i) * 1000,
                "unitno": "PM1582",
                "gpsspeed": -9999,
                "VehicleSpeed": 1.0,
                "extra_v2_field": 7.7,
            }
            for i in range(5)
        ],
    )
    # late-night rows that cross the date line under +8h, plus a corrupt line
    f3 = tmp_path / "dev1" / "2024030123.txt.gz"
    late = int(datetime(2024, 3, 1, 22, 30, 0, tzinfo=timezone.utc).timestamp())
    rows = [
        {"heartbeat": late * 1_000_000, "unitno": "LD772", "gpsspeed": 5.0, "VehicleSpeed": 5.0}
    ]
    data = "\n".join(json.dumps(r) for r in rows) + "\n{not valid json"
    with gzip.open(f3, "wt") as f:
        f.write(data)
    return tmp_path


def test_compact_batch_end_to_end(spark, landing, tmp_path):
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import compact_batch

    target = str(tmp_path / "lake")
    paths = [str(p) for p in sorted(landing.rglob("*.txt.gz"))]
    n = compact_batch(spark, paths, target, distrik="DISTRICTB")
    assert n == 12  # 5 + 5 + 2 (valid line + corrupt line → _corrupt_record row)

    lake = spark.read.parquet(target)
    assert set(lake.select("dstrct_code").distinct().toPandas()["dstrct_code"]) == {"DISTRICTB"}
    # mixed-case column survives (SURVEY §1.4)
    assert "VehicleSpeed" in lake.columns
    # drift column present, null where absent
    assert lake.filter(F.col("extra_v2_field").isNotNull()).count() == 5
    # +8h: 10:00 UTC → same day; 22:30 UTC → next day partition; the
    # corrupt row (null heartbeat) is quarantined in the null partition
    periods = {str(r[0]) for r in lake.select("hiveperiod").distinct().collect()}
    assert periods == {"2024-03-01", "2024-03-02", "None"}
    # partition pruning works on the layout
    pruned = spark.read.parquet(target).filter(F.col("hiveperiod") == "2024-03-02")
    assert pruned.count() == 1
    # corrupt line captured, not fatal
    assert lake.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    # source filename column attached
    assert lake.filter(F.col("source_file").contains("2024030110")).count() == 5


def test_empty_batch_short_circuit(spark, tmp_path):
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import compact_batch

    src = tmp_path / "empty.txt.gz"
    with gzip.open(src, "wt") as f:
        f.write("")
    n = compact_batch(spark, [str(src)], str(tmp_path / "lake2"), "DISTRICTG")
    assert n == 0
    import os

    assert not os.path.exists(tmp_path / "lake2")


def test_audit_and_repair_misfiled(spark, tmp_path):
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        audit_misfiled,
        repair_misfiled,
    )

    root = str(tmp_path / "lake")
    ok_hb = int(datetime(2024, 3, 1, 2, 0, 0, tzinfo=timezone.utc).timestamp())
    bad_hb = int(datetime(2024, 3, 1, 22, 0, 0, tzinfo=timezone.utc).timestamp())  # +8h → Mar 2
    df = spark.createDataFrame(
        [(ok_hb, "u1"), (bad_hb, "u2")], "heartbeat long, unitno string"
    ).withColumn("dstrct_code", F.lit("DISTRICTB")).withColumn(
        "hiveperiod", F.lit("2024-03-01").cast("date")  # u2 is misfiled
    )
    df.write.partitionBy("hiveperiod", "dstrct_code").parquet(root)

    bad = audit_misfiled(spark.read.parquet(root)).collect()
    assert len(bad) == 1
    assert str(bad[0]["accurate_wita_date"]) == "2024-03-02"

    n = repair_misfiled(spark, root)
    assert n == 2  # both rows in the affected partition get rewritten
    fixed = spark.read.parquet(root)
    assert audit_misfiled(fixed).count() == 0
    assert fixed.count() == 2
    periods = {str(r[0]) for r in fixed.select("hiveperiod").distinct().collect()}
    assert periods == {"2024-03-01", "2024-03-02"}


def test_repair_preserves_target_partition_rows(spark, tmp_path):
    """Dynamic overwrite replaces every partition present in the output —
    the repair must rewrite target partitions WITH their pre-existing
    correct rows, not just the rows moving in (round-1 advice: the old
    subset read only bad periods, silently deleting target contents)."""
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        audit_misfiled,
        repair_misfiled,
    )

    root = str(tmp_path / "lake")
    hb_mar1 = int(datetime(2024, 3, 1, 2, 0, 0, tzinfo=timezone.utc).timestamp())
    hb_mar2_early = int(datetime(2024, 3, 1, 22, 0, 0, tzinfo=timezone.utc).timestamp())  # +8h → Mar 2
    hb_mar2 = int(datetime(2024, 3, 2, 2, 0, 0, tzinfo=timezone.utc).timestamp())
    df = spark.createDataFrame(
        [
            (hb_mar1, "ok-src"),        # correctly filed in Mar 1
            (hb_mar2_early, "moved"),   # misfiled in Mar 1, belongs in Mar 2
            (hb_mar2, "ok-target-1"),   # correctly filed in Mar 2 — must survive
            (hb_mar2, "ok-target-2"),
        ],
        "heartbeat long, unitno string",
    ).withColumn("dstrct_code", F.lit("DISTRICTB")).withColumn(
        "hiveperiod",
        F.when(F.col("unitno").startswith("ok-target"), F.lit("2024-03-02"))
        .otherwise(F.lit("2024-03-01"))
        .cast("date"),
    )
    df.write.partitionBy("hiveperiod", "dstrct_code").parquet(root)

    n = repair_misfiled(spark, root)
    assert n == 4  # both source and target partitions rewritten
    fixed = spark.read.parquet(root)
    assert audit_misfiled(fixed).count() == 0
    assert fixed.count() == 4  # nothing lost
    by_period = {
        str(r["hiveperiod"]): r["n"]
        for r in fixed.groupBy("hiveperiod").agg(F.count("*").alias("n")).collect()
    }
    assert by_period == {"2024-03-01": 1, "2024-03-02": 3}
    survivors = {r["unitno"] for r in fixed.filter(F.col("hiveperiod") == "2024-03-02").collect()}
    assert survivors == {"moved", "ok-target-1", "ok-target-2"}


def test_repair_deletes_fully_misfiled_partition(spark, tmp_path):
    """A partition whose rows are ALL misfiled produces zero output rows, so
    dynamic overwrite never touches it — its stale directory must be deleted
    explicitly or every row in it survives as a duplicate (round-2 advice)."""
    import glob

    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        audit_misfiled,
        repair_misfiled,
    )

    root = str(tmp_path / "lake")
    hb_mar2_early = int(datetime(2024, 3, 1, 22, 0, 0, tzinfo=timezone.utc).timestamp())  # +8h → Mar 2
    hb_mar2 = int(datetime(2024, 3, 2, 2, 0, 0, tzinfo=timezone.utc).timestamp())
    df = spark.createDataFrame(
        [
            (hb_mar2_early, "moved-1"),  # Mar 1 partition: ALL rows misfiled
            (hb_mar2_early, "moved-2"),
            (hb_mar2, "ok-target"),      # correctly filed in Mar 2
        ],
        "heartbeat long, unitno string",
    ).withColumn("dstrct_code", F.lit("DISTRICTB")).withColumn(
        "hiveperiod",
        F.when(F.col("unitno") == "ok-target", F.lit("2024-03-02"))
        .otherwise(F.lit("2024-03-01"))
        .cast("date"),
    )
    df.write.partitionBy("hiveperiod", "dstrct_code").parquet(root)

    repair_misfiled(spark, root)
    fixed = spark.read.parquet(root)
    assert audit_misfiled(fixed).count() == 0
    assert fixed.count() == 3  # no duplicates: the stale Mar 1 files are gone
    assert sorted(r["unitno"] for r in fixed.collect()) == ["moved-1", "moved-2", "ok-target"]
    # the emptied partition directory itself was removed
    assert glob.glob(f"{root}/hiveperiod=2024-03-01*") == []


def test_maintenance_on_epoch_partitioned_lake(spark, tmp_path):
    """compact_partitions / repair_misfiled must derive the partition layout
    from the table: an epoch-partitioned streaming target (ingest_epoch /
    hiveperiod / dstrct_code) previously got rewritten keyed on only
    (hiveperiod, dstrct_code), leaving duplicates beside the epoch files
    (round-2 advice)."""
    import glob

    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        audit_misfiled,
        compact_partitions,
        repair_misfiled,
        table_partition_cols,
    )

    root = str(tmp_path / "epochlake")
    hb_mar1 = int(datetime(2024, 3, 1, 2, 0, 0, tzinfo=timezone.utc).timestamp())
    hb_mar2_early = int(datetime(2024, 3, 1, 22, 0, 0, tzinfo=timezone.utc).timestamp())
    df = spark.createDataFrame(
        [
            (0, hb_mar1, "ok-e0"),
            (0, hb_mar2_early, "moved-e0"),   # misfiled within epoch 0
            (1, hb_mar1, "ok-e1"),
        ],
        "ingest_epoch long, heartbeat long, unitno string",
    ).withColumn("dstrct_code", F.lit("DISTRICTB")).withColumn(
        "hiveperiod", F.lit("2024-03-01").cast("date")
    )
    df.write.partitionBy("ingest_epoch", "hiveperiod", "dstrct_code").parquet(root)

    assert table_partition_cols(spark, root) == ("ingest_epoch", "hiveperiod", "dstrct_code")

    # compaction keeps the epoch level: no row duplication, layout intact
    compact_partitions(spark, root)
    assert spark.read.parquet(root).count() == 3
    assert glob.glob(f"{root}/ingest_epoch=0/hiveperiod=*/dstrct_code=*") != []

    # repair moves the misfiled row across hiveperiod WITHIN its epoch
    n, jobs = count_jobs(spark, lambda: repair_misfiled(spark, root))
    assert n >= 1
    # schema inference, the audit collect (map stage + result), the write
    # (one shuffle + the write job)
    assert jobs <= 5
    fixed = spark.read.parquet(root)
    assert audit_misfiled(fixed).count() == 0
    assert fixed.count() == 3
    moved = fixed.filter(F.col("unitno") == "moved-e0").collect()[0]
    assert str(moved["hiveperiod"]) == "2024-03-02" and moved["ingest_epoch"] == 0
    # epoch-1 partition untouched
    ok_e1 = fixed.filter(F.col("unitno") == "ok-e1").collect()[0]
    assert str(ok_e1["hiveperiod"]) == "2024-03-01" and ok_e1["ingest_epoch"] == 1


def test_repair_misfiled_preserves_sign_of_zero(spark, tmp_path):
    """Spark normalizes float grouping keys (-0.0 becomes 0.0); the
    crash-twin aggregates must still write every zero back with its sign,
    on moved rows and on the target partition's resident rows alike."""
    import math

    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        audit_misfiled,
        repair_misfiled,
    )

    root = str(tmp_path / "lake")
    hb_mar2_early = int(datetime(2024, 3, 1, 22, 0, 0, tzinfo=timezone.utc).timestamp())  # → Mar 2
    hb_mar2 = int(datetime(2024, 3, 2, 2, 0, 0, tzinfo=timezone.utc).timestamp())
    df = spark.createDataFrame(
        [
            (hb_mar2_early, "moved", -0.0, -0.0, "2024-03-01"),
            (hb_mar2, "resident", -0.0, 0.0, "2024-03-02"),
            (hb_mar2, "positive", 0.0, -0.0, "2024-03-02"),
            # equal under float comparison, yet two distinct rows:
            (hb_mar2, "pair", -0.0, 1.0, "2024-03-02"),
            (hb_mar2, "pair", 0.0, 1.0, "2024-03-02"),
        ],
        "heartbeat long, unitno string, speed double, temp float, hiveperiod string",
    ).withColumn("hiveperiod", F.col("hiveperiod").cast("date")).withColumn(
        "dstrct_code", F.lit("D")
    )
    df.write.partitionBy("hiveperiod", "dstrct_code").parquet(root)

    assert repair_misfiled(spark, root) == 5
    after = spark.read.parquet(root)
    assert audit_misfiled(after).count() == 0
    signs = sorted(
        (r["unitno"], math.copysign(1, r["speed"]), math.copysign(1, r["temp"]))
        for r in after.collect()
    )
    assert signs == [
        ("moved", -1, -1),
        ("pair", -1, 1),
        ("pair", 1, 1),
        ("positive", 1, -1),
        ("resident", -1, 1),
    ]


def _file_bytes(root):
    from pathlib import Path

    return {p: p.read_bytes() for p in Path(root).rglob("*.parquet")}


def test_compact_partitions_skips_compact_lake(spark, tmp_path):
    """A lake whose partitions already hold one file each costs no Spark
    job and keeps every file byte for byte."""
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        compact_partitions,
    )

    root = str(tmp_path / "lake")
    spark.range(600).select(
        F.col("id").alias("heartbeat"),
        (F.lit("2024-03-01").cast("date") + (F.col("id") % 3).cast("int")).alias("hiveperiod"),
        (F.col("id") % 2).cast("string").alias("dstrct_code"),
    ).repartition("hiveperiod", "dstrct_code").write.partitionBy(
        "hiveperiod", "dstrct_code"
    ).parquet(root)
    before = _file_bytes(root)
    assert len(before) == 6

    rewritten, jobs = count_jobs(spark, lambda: compact_partitions(spark, root))
    assert (rewritten, jobs) == (0, 0)
    assert _file_bytes(root) == before


def test_compact_partitions_rewrites_only_fragmented_partition(spark, tmp_path):
    """Only the leaf with more files than the target is read and
    rewritten, and it keeps the partition types of the whole lake: read
    alone, ``dstrct_code=01`` would infer as the integer 1 and be written
    back as ``dstrct_code=1``."""
    import glob

    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        compact_partitions,
    )

    root = str(tmp_path / "lake")
    rows = spark.range(1000).select(
        F.col("id").alias("heartbeat"),
        F.lit("2024-03-01").cast("date").alias("hiveperiod"),
    )
    rows.filter(F.col("id") < 500).withColumn("dstrct_code", F.lit("A")).coalesce(
        1
    ).write.partitionBy("hiveperiod", "dstrct_code").parquet(root)
    rows.filter(F.col("id") >= 500).withColumn("dstrct_code", F.lit("01")).repartition(
        4
    ).write.mode("append").partitionBy("hiveperiod", "dstrct_code").parquet(root)
    compact_leaf = f"{root}/hiveperiod=2024-03-01/dstrct_code=A"
    fragmented = f"{root}/hiveperiod=2024-03-01/dstrct_code=01"
    kept = _file_bytes(compact_leaf)
    assert len(kept) == 1 and len(glob.glob(f"{fragmented}/*.parquet")) == 4

    assert compact_partitions(spark, root) == 1
    assert _file_bytes(compact_leaf) == kept
    assert len(glob.glob(f"{fragmented}/*.parquet")) == 1
    lake = spark.read.parquet(root)
    assert sorted(r["heartbeat"] for r in lake.collect()) == list(range(1000))
    assert lake.filter(F.col("dstrct_code") == "01").count() == 500
    assert sorted(glob.glob(f"{root}/hiveperiod=2024-03-01/*")) == [fragmented, compact_leaf]


def test_compact_partitions_single_file(spark, tmp_path):
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import compact_partitions

    root = str(tmp_path / "lake")
    df = spark.range(1000).select(
        F.col("id").alias("heartbeat"),
        F.lit("2024-03-01").cast("date").alias("hiveperiod"),
        (F.col("id") % 2).cast("string").alias("dstrct_code"),
    )
    df.repartition(8).write.partitionBy("hiveperiod", "dstrct_code").parquet(root)
    import glob

    assert len(glob.glob(f"{root}/*/*/*.parquet")) > 2
    compact_partitions(spark, root)
    assert len(glob.glob(f"{root}/*/*/*.parquet")) == 2  # one per partition
    assert spark.read.parquet(root).count() == 1000


def test_stream_compact_exactly_once(spark, landing, tmp_path):
    """Checkpointed streaming ingest: re-running with the same checkpoint
    must not duplicate data (replaces the MSSQL claim pattern, T3)."""
    from enterprise_iot_bigdata_pipeline_spark.streaming.ingest import stream_compact

    target = str(tmp_path / "slake")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "heartbeat long, unitno string, gpsspeed double, VehicleSpeed double, "
        "extra_v2_field double"
    )
    q = stream_compact(
        spark, str(landing / "dev1"), target, ckpt, schema, "DISTRICTB",
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    first = spark.read.parquet(target).count()
    assert first == 7  # 5 + 2 (corrupt line yields a null row under pinned schema)

    # second run, same checkpoint, no new files → nothing appended
    q2 = stream_compact(
        spark, str(landing / "dev1"), target, ckpt, schema, "DISTRICTB"
    )
    q2.awaitTermination()
    assert spark.read.parquet(target).count() == first

    # new file arrives → only it is processed
    extra = landing / "dev1" / "2024030112.txt.gz"
    hb = int(datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc).timestamp())
    _write_ndjson(extra, [{"heartbeat": hb, "unitno": "LD772", "gpsspeed": 1.0, "VehicleSpeed": 1.0}])
    q3 = stream_compact(spark, str(landing / "dev1"), target, ckpt, schema, "DISTRICTB")
    q3.awaitTermination()
    assert spark.read.parquet(target).count() == first + 1


def test_stream_compact_empty_batch_writes_nothing(spark, tmp_path):
    """A landing dir whose only file is an empty gzip drains as one batch
    of zero rows and leaves the target absent; after a real file lands,
    a drain on the same checkpoint writes only that file's rows."""
    import os

    from enterprise_iot_bigdata_pipeline_spark.streaming.ingest import stream_compact

    src, target, ckpt = tmp_path / "in", str(tmp_path / "slake"), str(tmp_path / "ckpt")
    src.mkdir()
    _write_ndjson(src / "2024030110.txt.gz", [])
    schema = "heartbeat long, unitno string, gpsspeed double"

    def drain():
        q = stream_compact(spark, str(src), target, ckpt, schema, "DISTRICTB")
        q.awaitTermination()
        return q

    progress = [p for p in drain().recentProgress if p.batchId == 0]
    assert len(progress) == 1 and progress[0].numInputRows == 0
    assert not os.path.exists(target)

    hb = int(datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc).timestamp())
    _write_ndjson(
        src / "2024030112.txt.gz",
        [{"heartbeat": hb + i, "unitno": "LD772", "gpsspeed": 1.0} for i in range(3)],
    )
    drain()
    lake = spark.read.parquet(target)
    assert lake.count() == 3
    assert {r[0] for r in lake.select("source_file").distinct().collect()} == {
        (src / "2024030112.txt.gz").as_uri()
    }
    assert {r[0] for r in lake.select("ingest_epoch").distinct().collect()} == {1}


def test_stream_compact_drain_task_budget(spark, tmp_path):
    """A drain of more than 32 device directories (Spark's parallel-listing
    threshold) runs listing jobs of at most one task per core and a
    one-task empty-batch probe; every other job is the write's."""
    import os

    from enterprise_iot_bigdata_pipeline_spark.streaming.ingest import stream_compact

    base = int(datetime(2024, 3, 1, 10, 0, 0, tzinfo=timezone.utc).timestamp())
    for d in range(40):
        dev = tmp_path / "landing" / f"dev{d:02d}"
        dev.mkdir(parents=True)
        _write_ndjson(
            dev / "2024030110.txt.gz",
            [{"heartbeat": base + i, "unitno": f"U{d}", "gpsspeed": 1.0} for i in range(3)],
        )

    def drain():
        q = stream_compact(
            spark, str(tmp_path / "landing" / "*"), str(tmp_path / "slake"),
            str(tmp_path / "ckpt"), "heartbeat long, unitno string, gpsspeed double",
            "DISTRICTB",
        )
        q.awaitTermination()
        return q

    _, jobs = job_tasks(spark, drain, lambda q: [str(q.runId)])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))  # as get_spark sizes it
    listing = [n for desc, n in jobs if desc.startswith("Listing leaf files")]
    batch = [n for desc, n in jobs if not desc.startswith("Listing leaf files")]
    assert listing and max(listing) <= cpus, jobs
    # batch 0 runs the probe, then the write's shuffle-map and write jobs
    assert len(batch) == 3 and batch[0] == 1, jobs
    assert spark.read.parquet(str(tmp_path / "slake")).count() == 120


def test_write_epoch_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying the same micro-batch epoch overwrites its own partitions
    instead of appending duplicates (at-least-once foreachBatch)."""
    from enterprise_iot_bigdata_pipeline_spark.streaming.ingest import write_epoch_batch

    target = str(tmp_path / "slake")
    batch = spark.createDataFrame(
        [(1, "u1"), (2, "u2")], "heartbeat long, unitno string"
    ).withColumn("dstrct_code", F.lit("DISTRICTB")).withColumn(
        "hiveperiod", F.lit("2024-03-01").cast("date")
    )
    write_epoch_batch(batch, target, 0)
    write_epoch_batch(batch, target, 0)  # replay of epoch 0
    assert spark.read.parquet(target).count() == 2
    write_epoch_batch(batch, target, 1)  # a real new epoch appends
    lake = spark.read.parquet(target)
    assert lake.count() == 4
    # event-time partition column is still there and prunable
    assert lake.filter(F.col("hiveperiod") == "2024-03-01").count() == 4
    assert {r["ingest_epoch"] for r in lake.select("ingest_epoch").distinct().collect()} == {0, 1}


def test_windowed_event_agg_stream_matches_batch(spark, tmp_path):
    from enterprise_iot_bigdata_pipeline_spark.streaming.ingest import windowed_event_agg

    df = spark.createDataFrame(
        [
            (datetime(2024, 3, 1, 10, 0, 30), "A"),
            (datetime(2024, 3, 1, 10, 0, 45), "A"),
            (datetime(2024, 3, 1, 10, 1, 10), "A"),
            (datetime(2024, 3, 1, 10, 0, 5), "B"),
        ],
        "datetime_wita timestamp, dstrct_code string",
    )
    batch = {
        (str(r["window_start"]), r["dstrct_code"]): r["n_events"]
        for r in windowed_event_agg(df).collect()
    }
    assert batch[("2024-03-01 10:00:00", "A")] == 2
    assert batch[("2024-03-01 10:01:00", "A")] == 1
    assert batch[("2024-03-01 10:00:00", "B")] == 1


def test_read_ndjson_explicit_schema_still_quarantines(spark, tmp_path):
    """PERMISSIVE only materializes corrupt records when the schema carries
    the corrupt-record column — read_ndjson must append it to explicit
    schemas (the recommended path at scale) so malformed lines are
    quarantined, not silently nulled."""
    from enterprise_iot_bigdata_pipeline_spark.sources.ndjson import CORRUPT_COL, read_ndjson

    p = tmp_path / "in.ndjson"
    p.write_text('{"a": 1, "b": "x"}\n{not json at all\n')
    for schema in ("a long, b string", None):
        df = read_ndjson(spark, str(p), schema=schema)
        assert CORRUPT_COL in df.columns
        rows = df.collect()
        good = [r for r in rows if r[CORRUPT_COL] is None]
        bad = [r for r in rows if r[CORRUPT_COL] is not None]
        assert len(good) == 1 and good[0]["a"] == 1
        assert len(bad) == 1 and "not json" in bad[0][CORRUPT_COL]


def test_repair_misfiled_rerun_after_partial_crash_is_idempotent(spark, tmp_path):
    """Crash window between the overwrite commit and the stale-dir delete:
    the corrected copy exists in its target partition AND the stale copy
    still sits in the bad dir. A rerun must converge to ONE copy (crash
    twins collapse via the max-over-origins multiplicity) while genuine
    duplicate rows inside one partition keep their count."""
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        audit_misfiled,
        repair_misfiled,
    )

    root = str(tmp_path / "lake")
    bad_hb = int(datetime(2024, 3, 1, 22, 0, 0, tzinfo=timezone.utc).timestamp())  # → Mar 2
    # the half-crashed state, constructed directly:
    # - stale copy of u2 in 2024-03-01 (its misfiled origin), plus a
    #   GENUINE duplicate pair u3/u3 also misfiled there
    # - corrected copies already in 2024-03-02 (the committed overwrite)
    stale = spark.createDataFrame(
        [(bad_hb, "u2"), (bad_hb, "u3"), (bad_hb, "u3")],
        "heartbeat long, unitno string",
    ).withColumn("dstrct_code", F.lit("D")).withColumn(
        "hiveperiod", F.lit("2024-03-01").cast("date")
    )
    corrected = stale.withColumn("hiveperiod", F.lit("2024-03-02").cast("date"))
    stale.write.partitionBy("hiveperiod", "dstrct_code").parquet(root)
    corrected.write.mode("append").partitionBy("hiveperiod", "dstrct_code").parquet(root)
    assert spark.read.parquet(root).count() == 6  # twins present

    repair_misfiled(spark, root)
    after = spark.read.parquet(root)
    rows = [(r["unitno"], str(r["hiveperiod"])) for r in after.collect()]
    assert sorted(rows) == [
        ("u2", "2024-03-02"),
        ("u3", "2024-03-02"),
        ("u3", "2024-03-02"),  # genuine duplicate preserved, crash twins not
    ]
    import os

    assert not os.path.exists(os.path.join(root, "hiveperiod=2024-03-01"))
    # and a further rerun is a no-op
    assert repair_misfiled(spark, root) == 0
    assert audit_misfiled(spark.read.parquet(root)).count() == 0


def test_repair_misfiled_reaches_null_partition_rows(spark, tmp_path):
    """Rows stored in __HIVE_DEFAULT_PARTITION__ with valid heartbeats are
    misfiled (stored partition ≠ true date) and must be audited, moved,
    and their null dir deleted — the null-unsafe != predicate silently
    skipped them forever."""
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        audit_misfiled,
        repair_misfiled,
    )

    root = str(tmp_path / "lake")
    hb = int(datetime(2024, 3, 1, 2, 0, 0, tzinfo=timezone.utc).timestamp())  # → Mar 1
    df = spark.createDataFrame(
        [(hb, "ok", "2024-03-01"), (hb, "lost", None)],
        "heartbeat long, unitno string, hiveperiod string",
    ).withColumn("hiveperiod", F.col("hiveperiod").cast("date")).withColumn(
        "dstrct_code", F.lit("D")
    )
    df.write.partitionBy("hiveperiod", "dstrct_code").parquet(root)
    import os

    assert os.path.exists(os.path.join(root, "hiveperiod=__HIVE_DEFAULT_PARTITION__"))

    assert audit_misfiled(spark.read.parquet(root)).count() == 1  # the null-partition row
    repair_misfiled(spark, root)
    after = spark.read.parquet(root)
    assert after.count() == 2
    assert after.filter(F.col("hiveperiod").isNull()).count() == 0
    assert not os.path.exists(os.path.join(root, "hiveperiod=__HIVE_DEFAULT_PARTITION__"))


def test_compact_batch_raises_on_missing_path_and_quarantines_poison(spark, tmp_path):
    """A missing input path must RAISE (the old blanket AnalysisException
    catch silently dropped the whole batch); an all-corrupt batch without
    a heartbeat column quarantines with a warning instead of crashing the
    stream on UNRESOLVED_COLUMN."""
    import gzip
    import warnings

    import pytest
    from pyspark.errors.exceptions.base import AnalysisException

    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import compact_batch

    good = tmp_path / "good.json.gz"
    with gzip.open(good, "wb") as f:
        f.write(b'{"heartbeat": 1709258400, "unitno": "u1"}\n')

    with pytest.raises(AnalysisException):
        compact_batch(
            spark,
            [str(good), str(tmp_path / "no_such.json.gz")],
            str(tmp_path / "lake"),
            "D",
        )

    poison = tmp_path / "poison.json.gz"
    with gzip.open(poison, "wb") as f:
        f.write(b"not json at all\nnor this\n")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        n = compact_batch(spark, [str(poison)], str(tmp_path / "lake2"), "D")
    assert n == 0
    assert any("heartbeat" in str(x.message) for x in w)


def test_maintenance_does_not_leak_session_overwrite_mode(spark, tmp_path):
    """merge/repair/compact use writer-level dynamic overwrite: an
    unrelated partitioned overwrite AFTER them must keep static (full
    replace) semantics instead of silently preserving stale partitions."""
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        compact_partitions,
    )
    from enterprise_iot_bigdata_pipeline_spark.operators.upsert import merge_into_lake

    root = str(tmp_path / "state")
    spark.createDataFrame(
        [("f1", "A", "d1"), ("f2", "B", "d2")], "file string, status string, day string"
    ).write.partitionBy("day").parquet(root)
    merge_into_lake(
        spark,
        root,
        spark.createDataFrame([("f1", "A2", "d1")], "file string, status string, day string"),
        key="file",
        partition_cols=("day",),
    )
    compact_partitions(spark, root, target_files=1)

    other = str(tmp_path / "other")
    spark.createDataFrame([(1, "d1"), (2, "d2")], "x long, day string").write.partitionBy(
        "day"
    ).parquet(other)
    # static semantics: this overwrite must REPLACE the whole table
    spark.createDataFrame([(9, "d1")], "x long, day string").write.mode(
        "overwrite"
    ).partitionBy("day").parquet(other)
    assert spark.read.parquet(other).count() == 1  # d2 did not survive


def test_compact_partitions_fans_out_per_partition_files(spark, tmp_path):
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        compact_partitions,
    )

    root = str(tmp_path / "lake")
    df = spark.range(4000).select(
        F.col("id").alias("heartbeat"),
        F.lit("2024-03-01").cast("date").alias("hiveperiod"),
        (F.col("id") % 2).cast("string").alias("dstrct_code"),
    )
    df.repartition(16).write.partitionBy("hiveperiod", "dstrct_code").parquet(root)
    compact_partitions(spark, root, target_files=4)
    import glob

    for d in ("0", "1"):
        files = glob.glob(f"{root}/hiveperiod=2024-03-01/dstrct_code={d}/*.parquet")
        # target_files is an upper bound per partition; at this tiny scale
        # AQE rightly coalesces the shuffle further (fewer, larger files
        # is the compaction GOAL) — what must NOT happen is the old
        # repartition(target_files, *pcols) shape whose TOTAL task count
        # was target_files (default 1: one task rewrote the whole lake)
        assert 1 <= len(files) <= 4
    assert spark.read.parquet(root).count() == 4000

    # structural: the shuffle is keyed by (pcols, salt), never a
    # fixed-width repartition that caps whole-job parallelism
    from enterprise_iot_bigdata_pipeline_spark.operators.compaction import (
        table_partition_cols,
    )
    from pyspark.sql import functions as FF

    lake = spark.read.parquet(root)
    salt = FF.pmod(
        FF.xxhash64(FF.struct(*[FF.col(c) for c in lake.columns])), FF.lit(4)
    )
    plan = (
        lake.withColumn("_salt", salt)
        .repartition(FF.col("hiveperiod"), FF.col("dstrct_code"), FF.col("_salt"))
        ._jdf.queryExecution()
        .toString()
    )
    assert "_salt" in plan and "REPARTITION_BY_COL" in plan


def test_raw_schema_discovery_ignores_caller_nanos_conf(spark, tmp_path):
    """``plans/tables.raw_schema`` caches a path's schema for the whole
    application, so a cache-miss discovery pins nanosAsLong itself: a
    parquet TIMESTAMP(NANOS) column is discovered as long even when the
    caller's session has the conf off."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    from enterprise_iot_bigdata_pipeline_spark.plans.tables import raw_schema

    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_709_287_200_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert raw_schema(spark, path)["ts"].dataType == LongType()
    finally:
        spark.conf.set(key, prev)

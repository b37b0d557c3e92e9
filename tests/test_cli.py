"""End-to-end CLI test: the full reference workflow through the engine's
command-line surface — ingest → audit → repair → compact → dashboard."""

from __future__ import annotations

import gzip
import json
import random
from datetime import datetime, timedelta, timezone

import pytest

from enterprise_iot_bigdata_pipeline_spark.cli import main
from tests.conftest import count_jobs


def _gz(path, rows):
    with gzip.open(path, "wt") as f:
        f.write("\n".join(json.dumps(r) for r in rows))


def test_cli_full_workflow(spark, tmp_path, capsys):
    day = datetime(2024, 3, 1, 9, 0, 0, tzinfo=timezone.utc)
    late = datetime(2024, 3, 1, 22, 30, 0, tzinfo=timezone.utc)  # +8h → next day
    src = tmp_path / "in.txt.gz"
    _gz(
        src,
        [
            {
                "heartbeat": int(day.timestamp()) + i * 30,
                "unitno": "LD772",
                "gpsspeed": 10.0 + i if i != 2 else -9999,
                "VehicleSpeed": 9.0 + i,
                "gpslat": -2.5,
                "gpslong": 115.0,
            }
            for i in range(5)
        ]
        + [
            {
                "heartbeat": int(late.timestamp()),
                "unitno": "PM1582",
                "gpsspeed": 4.0,
                "VehicleSpeed": 4.5,
                "gpslat": -9000.0,  # invalid GPS
                "gpslong": 115.0,
            }
        ],
    )
    lake = str(tmp_path / "lake")

    assert main(["ingest-batch", "--paths", str(src), "--target", lake, "--district", "DISTRICTB"], spark) == 0
    assert "compacted 6 rows" in capsys.readouterr().out

    # nothing misfiled (partitions derived from event time at ingest)
    assert main(["audit", "--lake", lake], spark) == 0
    assert capsys.readouterr().out.strip() == ""

    assert main(["repair", "--lake", lake], spark) == 0
    assert "rewrote 0 rows" in capsys.readouterr().out

    assert main(["compact", "--lake", lake], spark) == 0
    assert "compacted 0 partitions" in capsys.readouterr().out  # one file per partition already

    assert main(
        ["dashboard", "--lake", lake, "--date", "2024-03-01", "--district", "DISTRICTB"],
        spark,
    ) == 0
    out = capsys.readouterr().out
    assert "LD772" in out
    # sentinel -9999 must have been cleaned to -1 before averaging:
    # avg of that minute's gpsspeed would otherwise be ~-3329
    assert "-3329" not in out


def test_cli_ingest_stream_reports_drain(spark, tmp_path, capsys):
    """``ingest-stream`` prints the non-empty batches and the input rows
    its sink read, taken from the query's progress reports."""
    src = tmp_path / "landing"
    src.mkdir()
    hb = int(datetime(2024, 3, 1, 9, 0, 0, tzinfo=timezone.utc).timestamp())
    _gz(src / "2024030109.txt.gz", [{"heartbeat": hb + i, "unitno": "LD772"} for i in range(6)])
    args = [
        "ingest-stream", "--source", str(src), "--target", str(tmp_path / "lake"),
        "--checkpoint", str(tmp_path / "ckpt"), "--district", "DISTRICTB",
        "--schema", "heartbeat long, unitno string",
    ]
    assert main(args, spark) == 0
    # 6 rows written plus the one row the empty-batch probe read
    assert "drained 1 batches, 7 input rows read" in capsys.readouterr().out
    assert spark.read.parquet(str(tmp_path / "lake")).count() == 6

    assert main(args, spark) == 0  # same checkpoint: nothing new
    assert "drained 0 batches, 0 input rows read" in capsys.readouterr().out


def test_dashboard_operator_semantics(spark, tmp_path):
    """Sentinel/status semantics on a hand-built lake frame; output order
    and values against a pandas reference."""
    from pyspark.sql import functions as F

    from enterprise_iot_bigdata_pipeline_spark.operators.dashboard import (
        speed_analysis,
        unit_list,
    )

    lake = _lake_frame(
        spark,
        [
            ("2024-03-01", "DISTRICTB", "LD772", "2024-03-01 10:00:05", -9999.0, 8.0, -2.5),
            ("2024-03-01", "DISTRICTB", "LD772", "2024-03-01 10:00:35", 12.0, 10.0, -9000.0),
            ("2024-03-01", "DISTRICTB", "PM1582", "2024-03-01 10:00:50", 7.0, 7.0, -2.0),
        ],
    )
    assert unit_list(lake).count() == 2

    rows = {
        r["unitno"]: r
        for r in speed_analysis(lake, "2024-03-01", "DISTRICTB").collect()
    }
    ld = rows["LD772"]
    # sentinel −9999 → −1; avg(−1, 12) = 5.5; min(gpsstatus) = 'false' (bad GPS row)
    assert ld["gpsspeed"] == 5.5
    assert ld["gpsstatus"] == "false"
    assert rows["PM1582"]["gpsstatus"] == "true"

    # Ordering contract: (minute, unitno), row for row against pandas, on
    # a lake of 2 days × 2 districts with several files per partition,
    # with a unit list and for the whole district.
    generated = _dashboard_rows()
    root = str(tmp_path / "lake")
    _lake_frame(spark, generated).repartition(3).write.partitionBy(
        "hiveperiod", "dstrct_code"
    ).parquet(root)
    hours = (9, 10)
    for units in (["U1", "U3", "U4"], None):
        df = speed_analysis(spark.read.parquet(root), "2024-03-02", "A", units, hours).withColumn(
            "minute", F.date_format("minute", "yyyy-MM-dd HH:mm:ss")
        )
        got = df.collect()
        want = _speed_analysis_reference(generated, "2024-03-02", "A", units, hours)
        assert len(got) == len(want) > 20
        for g, w in zip(got, want):
            assert tuple(g)[:3] == w[:3] and tuple(g)[6:] == w[6:]
            assert tuple(g)[3:6] == pytest.approx(w[3:6])
    # Job budget of a unit-list query: the partial aggregate's map stage
    # and one final task that aggregates and sorts — no range-partition
    # exchange for the order.
    units = ["U1", "U3", "U4"]
    df = speed_analysis(spark.read.parquet(root), "2024-03-02", "A", units, hours)
    _, jobs = count_jobs(spark, df.collect)
    assert jobs <= 2
    assert "rangepartitioning" not in df._jdf.queryExecution().executedPlan().toString().lower()

def _lake_frame(spark, rows):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows,
        "hiveperiod string, dstrct_code string, unitno string, dt string, gpsspeed double, VehicleSpeed double, gpslat double",
    ).select(
        F.col("hiveperiod").cast("date").alias("hiveperiod"),
        "dstrct_code",
        "unitno",
        F.col("dt").cast("timestamp").alias("datetime_wita"),
        "gpsspeed",
        "VehicleSpeed",
        "gpslat",
    )


def _dashboard_rows():
    """Seeded lake rows: 2 days × 2 districts × 4 units, 14 readings each
    spread over ~80 minutes from 09:50, with sentinels and bad GPS."""
    rng = random.Random(7)
    out = []
    for day in ("2024-03-01", "2024-03-02"):
        for district in ("A", "B"):
            for unit in ("U1", "U2", "U3", "U4"):
                t0 = datetime.fromisoformat(f"{day} 09:50:00") + timedelta(seconds=rng.randrange(60))
                for k in range(14):
                    ts = t0 + timedelta(seconds=k * 347 + rng.randrange(40))
                    out.append((
                        day, district, unit, ts.strftime("%Y-%m-%d %H:%M:%S"),
                        rng.choice([-9999.0, 3.5, 12.25, 30.0, 41.5]),
                        rng.choice([-9999.0, 4.0, 11.5, 29.75]),
                        rng.choice([-2.5, -3.1, -9000.0]),
                    ))
    return out


def _speed_analysis_reference(rows, day, district, units, hours):
    """speed_analysis in pandas: ordered tuples of its output columns,
    minute as ``YYYY-MM-DD HH:MM:SS``."""
    import pandas as pd

    df = pd.DataFrame(
        rows, columns=["day", "district", "unitno", "dt", "gs", "vs", "lat"]
    ).assign(dt=lambda d: pd.to_datetime(d["dt"]))
    df = df[
        (df["day"] == day)
        & (df["district"] == district)
        & (df["unitno"].isin(units) if units else True)
        & df["dt"].dt.hour.between(*hours)
    ].assign(
        minute=lambda d: d["dt"].dt.floor("min").dt.strftime("%Y-%m-%d %H:%M:%S"),
        gs=lambda d: d["gs"].replace(-9999.0, -1.0),
        vs=lambda d: d["vs"].replace(-9999.0, -1.0),
        status=lambda d: (d["lat"] >= -8880).map({True: "true", False: "false"}),
    ).assign(err=lambda d: (d["gs"] - d["vs"]).abs())
    agg = (
        df.groupby(["minute", "unitno", "district"], as_index=False)
        .agg(
            gs=("gs", "mean"),
            vs=("vs", "mean"),
            err=("err", "mean"),
            status=("status", "min"),
            n=("gs", "size"),
        )
        .sort_values(["minute", "unitno"])
    )
    return [tuple(r) for r in agg.itertuples(index=False)]


def test_cli_query_subcommand(spark, capsys):
    from enterprise_iot_bigdata_pipeline_spark.cli import main

    # list mode enumerates the registry
    assert main(["query"], spark=spark) == 0
    listed = capsys.readouterr().out.split()
    assert "flagship_minute_resample" in listed and len(listed) >= 70

    # run mode executes a query and reports its row count
    rc = main(
        ["query", "sort_topk", "--sf-dir", "/root/testdata/sf0.001", "--limit", "0"],
        spark=spark,
    )
    assert rc == 0
    assert "sort_topk: 100 rows" in capsys.readouterr().out

    # --limit previews WITHOUT re-executing: exact count when the result
    # fits the preview, a ">N rows" marker when it doesn't
    rc = main(
        ["query", "sort_topk", "--sf-dir", "/root/testdata/sf0.001", "--limit", "200"],
        spark=spark,
    )
    assert rc == 0
    assert "sort_topk: 100 rows" in capsys.readouterr().out
    rc = main(
        ["query", "sort_topk", "--sf-dir", "/root/testdata/sf0.001", "--limit", "5"],
        spark=spark,
    )
    assert rc == 0
    assert "sort_topk: >5 rows (showing 5)" in capsys.readouterr().out

    # unknown names exit 2 with guidance
    assert main(["query", "nope"], spark=spark) == 2


def test_cli_sql_subcommand(spark, capsys):
    from enterprise_iot_bigdata_pipeline_spark.cli import main

    rc = main(
        [
            "sql",
            "SELECT event_type, count(*) AS n FROM events GROUP BY 1",
            "--sf-dir", "/root/testdata/sf0.001",
        ],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "event_type" in out and "sql: 5 rows" in out

    # joins across the registered views work too
    rc = main(
        [
            "sql",
            "SELECT n_name, count(*) AS c FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1",
            "--sf-dir", "/root/testdata/sf0.001",
            "--limit", "0",
        ],
        spark=spark,
    )
    assert rc == 0
    assert "sql: " in capsys.readouterr().out

"""Seeded input generators for the benchmark.

Everything here is independent of the engine under test: landing files
are written with ``gzip`` + pandas, lakes with pyarrow, so a change to the
engine can never alter another workload's input. The same seed always
gives byte-identical files.

Each generator returns a small ``truth`` dict (counts the engine's output
must reproduce) that the benchmark checks outside its timed region.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DISTRICTS = ("DISTRICTA", "DISTRICTB")
WITA_HOURS = 8
# s / ms / µs / ns heartbeat scales and how often each device uses them.
SCALES = (1, 1_000, 1_000_000, 1_000_000_000)
SCALE_P = (0.4, 0.3, 0.2, 0.1)
SENTINEL = -9999.0
EXTRA_FIELD_SHARE = 1 / 7
CORRUPT_FILE_SHARE = 0.05
BASE_DAY = dt.datetime(2024, 3, 1)

# Pinned landing schema handed to ``stream_compact`` (production pins it;
# ``_corrupt_record`` makes PERMISSIVE mode keep malformed lines).
LANDING_SCHEMA = (
    "heartbeat long, unitno string, gpsspeed double, VehicleSpeed double, "
    "gpslat double, gpslon double, EngineSpeed double, FuelLevel double, "
    "CoolantTemp double, Payload double, Odometer double, Status string, "
    "extra_v2_field double, _corrupt_record string"
)
_STATUSES = np.array(["IDLE", "LOAD", "HAUL", "DUMP", "RETURN"])


def _device_ids(rng: np.random.Generator, n: int) -> list[str]:
    nums = rng.choice(np.arange(100, 10_000), size=n, replace=False)
    kinds = rng.choice(np.array(["LD", "PM", "HD", "DZ"]), size=n)
    return [f"{k}{v}" for k, v in zip(kinds, nums)]


def _telemetry(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """One device-hour of sensor columns (values rounded as devices send them)."""
    gpsspeed = np.round(rng.uniform(0, 60, n), 2)
    vspeed = np.round(gpsspeed + rng.normal(0, 2, n), 2)
    # + 0.0 turns -0.0 into 0.0: repair_misfiled's group-by normalizes the
    # sign of zero, which an exact row-multiset check would report.
    vspeed += 0.0
    gpsspeed[rng.random(n) < 0.02] = SENTINEL
    vspeed[rng.random(n) < 0.02] = SENTINEL
    gpslat = np.round(rng.uniform(-3.9, -3.5, n), 6)
    gpslat[rng.random(n) < 0.03] = SENTINEL
    return {
        "gpsspeed": gpsspeed,
        "VehicleSpeed": vspeed,
        "gpslat": gpslat,
        "gpslon": np.round(rng.uniform(115.4, 115.9, n), 6),
        "EngineSpeed": np.round(rng.uniform(600, 2200, n), 1),
        "FuelLevel": np.round(rng.uniform(5, 100, n), 1),
        "CoolantTemp": np.round(rng.uniform(70, 105, n), 1),
        "Payload": np.round(rng.uniform(0, 220, n), 1),
        "Odometer": np.round(rng.uniform(1e4, 9e4) + np.arange(n) * 0.01, 2),
        "Status": _STATUSES[rng.integers(0, len(_STATUSES), n)],
    }


def landing_hour(root: str | Path, seed: int, devices: int, rows_per_device: int) -> dict:
    """One landing hour: a gzip NDJSON file per device under
    ``<district>/<deviceid>/<YYYYMMDDHH>/<YYYYMMDDHH>.txt.gz``.

    Heartbeats use a per-device epoch scale (s/ms/µs/ns), about one file
    in seven carries ``extra_v2_field``, and about 5% of files hold one
    truncated (corrupt) line.
    """
    rng = np.random.default_rng(seed)
    root = Path(root)
    hour = BASE_DAY + dt.timedelta(hours=int(rng.integers(0, 24 * 7)))
    stamp = hour.strftime("%Y%m%d%H")
    hour_s = int(hour.replace(tzinfo=dt.timezone.utc).timestamp())
    step = 3600 // rows_per_device
    keys = ("files", "rows", "corrupt_rows", "extra_rows", "bytes")
    per_district = {d: dict.fromkeys(keys, 0) for d in DISTRICTS}
    # An even split keeps every seed on the same side of Spark's
    # parallel-listing threshold (32 paths), which adds a listing job.
    for i, dev in enumerate(_device_ids(rng, devices)):
        district = DISTRICTS[i % len(DISTRICTS)]
        scale = SCALES[int(rng.choice(len(SCALES), p=SCALE_P))]
        cols = {
            "heartbeat": (hour_s + np.arange(rows_per_device) * step) * scale,
            "unitno": np.full(rows_per_device, dev),
            **_telemetry(rng, rows_per_device),
        }
        extra = rng.random() < EXTRA_FIELD_SHARE
        if extra:
            cols["extra_v2_field"] = np.round(rng.normal(7, 1, rows_per_device), 3)
        text = pd.DataFrame(cols).to_json(orient="records", lines=True)
        if not text.endswith("\n"):
            text += "\n"
        corrupt = rng.random() < CORRUPT_FILE_SHARE
        if corrupt:
            lines = text.splitlines(keepends=True)
            at = int(rng.integers(0, len(lines)))
            lines.insert(at, lines[at][: len(lines[at]) // 2] + "\n")
            text = "".join(lines)
        path = root / district / dev / stamp / f"{stamp}.txt.gz"
        path.parent.mkdir(parents=True, exist_ok=True)
        data = gzip.compress(text.encode(), compresslevel=6, mtime=0)
        path.write_bytes(data)
        t = per_district[district]
        t["files"] += 1
        t["rows"] += rows_per_device
        t["corrupt_rows"] += int(corrupt)
        t["extra_rows"] += rows_per_device if extra else 0
        t["bytes"] += len(data)
    truth = {k: sum(t[k] for t in per_district.values()) for k in keys}
    truth["districts"] = per_district
    return truth


def _lake_schema() -> pa.Schema:
    return pa.schema(
        [
            ("heartbeat", pa.int64()),
            ("unitno", pa.string()),
            ("gpsspeed", pa.float64()),
            ("VehicleSpeed", pa.float64()),
            ("gpslat", pa.float64()),
            ("gpslon", pa.float64()),
            ("EngineSpeed", pa.float64()),
            ("FuelLevel", pa.float64()),
            ("CoolantTemp", pa.float64()),
            ("Payload", pa.float64()),
            ("Odometer", pa.float64()),
            ("Status", pa.string()),
            ("extra_v2_field", pa.float64()),
            ("source_file", pa.string()),
            ("datetime_wita", pa.timestamp("us")),
        ]
    )


def streaming_lake(
    root: str | Path,
    seed: int,
    days: int,
    hours_per_day: int,
    devices: int,
    rows_per_device: int,
    misfiled_share: float = 0.04,
) -> dict:
    """A multi-day lake in ``stream_compact``'s layout
    (``ingest_epoch=…/hiveperiod=…/dstrct_code=…``), one epoch per
    landing hour, built with pyarrow.

    A seeded ``misfiled_share`` of rows is filed under the day before
    their WITA date (the UTC-date mistake the reference's cleaner fixes).
    """
    rng = np.random.default_rng(seed)
    root = Path(root)
    schema = _lake_schema()
    ids = _device_ids(rng, devices)
    district_of = {d: DISTRICTS[i % len(DISTRICTS)] for i, d in enumerate(ids)}
    hours = sorted(rng.choice(np.arange(24), size=hours_per_day, replace=False).tolist())
    step = 3600 // rows_per_device
    truth = {"rows": 0, "misfiled_rows": 0, "files": 0, "bytes": 0, "epochs": 0, "days": []}
    epoch = 0
    for day in range(days):
        for h in hours:
            # Hours are picked in WITA so every WITA day holds the same rows.
            utc_hour = BASE_DAY + dt.timedelta(days=day, hours=h - WITA_HOURS)
            hour_s = int(utc_hour.replace(tzinfo=dt.timezone.utc).timestamp())
            frames = []
            for dev in ids:
                cols = _telemetry(rng, rows_per_device)
                hb = hour_s + np.arange(rows_per_device) * step
                cols["heartbeat"] = hb
                cols["unitno"] = np.full(rows_per_device, dev)
                cols["extra_v2_field"] = (
                    np.round(rng.normal(7, 1, rows_per_device), 3)
                    if rng.random() < EXTRA_FIELD_SHARE
                    else np.full(rows_per_device, np.nan)
                )
                stamp = utc_hour.strftime("%Y%m%d%H")
                cols["source_file"] = np.full(
                    rows_per_device,
                    f"file:/landing/{district_of[dev]}/{dev}/{stamp}/{stamp}.txt.gz",
                )
                wita = (hb + WITA_HOURS * 3600) * 1_000_000
                cols["datetime_wita"] = wita
                cols["dstrct_code"] = np.full(rows_per_device, district_of[dev])
                frames.append(pd.DataFrame(cols))
            df = pd.concat(frames, ignore_index=True)
            true_day = pd.to_datetime(df["datetime_wita"], unit="us").dt.normalize()
            misfiled = rng.random(len(df)) < misfiled_share
            filed = true_day - pd.to_timedelta(misfiled.astype(int), unit="D")
            df["hiveperiod"] = filed.dt.strftime("%Y-%m-%d")
            df["extra_v2_field"] = df["extra_v2_field"].where(df["extra_v2_field"].notna(), None)
            for (period, district), part in df.groupby(["hiveperiod", "dstrct_code"], sort=True):
                d = root / f"ingest_epoch={epoch}" / f"hiveperiod={period}" / f"dstrct_code={district}"
                d.mkdir(parents=True, exist_ok=True)
                table = pa.Table.from_pandas(
                    part.drop(columns=["hiveperiod", "dstrct_code"]).assign(
                        datetime_wita=part["datetime_wita"].astype("datetime64[us]")
                    ),
                    schema=schema,
                    preserve_index=False,
                )
                f = d / "part-00000.snappy.parquet"
                pq.write_table(table, f, compression="snappy")
                truth["files"] += 1
                truth["bytes"] += f.stat().st_size
            truth["rows"] += len(df)
            truth["misfiled_rows"] += int(misfiled.sum())
            truth["days"] = sorted(set(truth["days"]) | set(true_day.dt.strftime("%Y-%m-%d")))
            epoch += 1
    truth["epochs"] = epoch
    truth["units"] = {d: [u for u in ids if district_of[u] == d] for d in DISTRICTS}
    return truth


# Query sizes cycle through this fixed list of (units, hours) pairs, so
# every seed asks for the same mix of sizes and only which units, day,
# district and hours differ.
_SIZE_RNG = np.random.default_rng(0)
QUERY_SIZES = tuple(
    (int(_SIZE_RNG.integers(1, 21)), int(_SIZE_RNG.integers(1, 25))) for _ in range(16)
)


def dashboard_queries(rng: np.random.Generator, truth: dict, n: int) -> list[dict]:
    """A seeded closed-loop query sequence: a day, a district, 1 to 20
    units and an hour range of 1 to 24 hours (sizes from QUERY_SIZES)."""
    out = []
    for i in range(n):
        district = DISTRICTS[int(rng.integers(0, len(DISTRICTS)))]
        pool = truth["units"][district]
        k, span = QUERY_SIZES[i % len(QUERY_SIZES)]
        units = sorted(rng.choice(pool, size=min(k, len(pool)), replace=False).tolist())
        lo = int(rng.integers(0, 25 - span))
        out.append(
            {
                "day": truth["days"][int(rng.integers(0, len(truth["days"])))],
                "district": district,
                "units": units,
                "hours": (lo, lo + span - 1),
            }
        )
    return out


def tree_bytes(root: str | Path, suffix: str = "") -> tuple[int, int]:
    """(file count, byte count) of the data files under ``root``; hidden
    and ``_``-prefixed bookkeeping files are skipped."""
    files = n = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.startswith((".", "_")) or not name.endswith(suffix):
                continue
            files += 1
            n += os.path.getsize(os.path.join(dirpath, name))
    return files, n

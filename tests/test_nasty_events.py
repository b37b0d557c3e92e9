"""Generalized NULL-ordering / tie-break property battery (VERDICT r8
task 7): every events-only registered query whose oracle uses a window
function re-runs — Spark AND DuckDB — over an ADVERSARIAL events table
built to maximize engine-divergence pressure:

- heavy timestamp ties (40 distinct ts over 360 rows, duplicate
  (user_id, ts) pairs) — any window under-ordered by its tie-break
  columns goes nondeterministic;
- NULL user_id / event_type / value / props — any ORDER BY that relies
  on an engine's DEFAULT null placement (Spark asc=NULLS FIRST, DuckDB
  asc=NULLS LAST) diverges, the exact class ADVICE flagged twice
  (agg_mode tie-break r8, RFM NULL recency r8);
- case-variant and empty-string event types ('a' vs 'A' vs '') — any
  accidental case-folding or empty-vs-NULL conflation shows up;
- exact value ties including 0.0 and negative duplicates.

The battery derives its query list from the registry at collection time
(events-only oracle + a window function), so every FUTURE
window-over-events registration is automatically conscripted. A
hash-mismatch here is a real portability bug of the class the round
verdicts keep finding one at a time.
"""

from __future__ import annotations

import os
import re

import pytest

from conftest import SF_SMOKE

_NASTY_TYPES = ["click", "view", "purchase", "a", "A", "", None, "signup"]
_NASTY_VALUES = [0.0, 0.0, -1.5, -1.5, 2.25, 100.0, None, 7.5]


def _nasty_rows(null_ts: bool = False):
    """360 deterministic rows: 40 distinct ts over 2 h, skewed users with
    NULLs, tied values, case/empty/NULL types. ``null_ts`` additionally
    NULLs every 17th timestamp — the sharpest divergence axis (Spark
    windows place NULLS FIRST on asc, DuckDB NULLS LAST)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(360):
        # 40 distinct ticks, many exact collisions (i and i+40 share ts)
        ts = base + dt.timedelta(seconds=180 * (i % 40))
        if null_ts and i % 17 == 0:
            ts = None
        # user 1 owns ~half the rows (skew); every 23rd user_id is NULL
        user = None if i % 23 == 0 else (1 if i % 2 == 0 else 1 + (i % 5))
        etype = _NASTY_TYPES[i % len(_NASTY_TYPES)]
        # the i//8 term decorrelates value from event_type: both i%8 and
        # (i*7)%8 are functions of i mod 8, so the original index made
        # value CONSTANT within every type partition — running sums and
        # ranks became order-insensitive and the NULL-ts table couldn't
        # catch NULL-placement divergence in time-ordered windows at all
        value = _NASTY_VALUES[(i * 7 + i // 8) % len(_NASTY_VALUES)]
        props = None if i % 5 == 0 else f'{{"k":{i % 3}}}'
        rows.append((i + 1, ts, user, etype, value, props))
    return rows


def _write_nasty(tmp_path_factory, null_ts: bool) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("nasty_sf")
    for f in os.listdir(SF_SMOKE):
        if f != "events.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), str(d / f))
    rows = _nasty_rows(null_ts=null_ts)
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


@pytest.fixture(scope="session")
def nasty_dir(tmp_path_factory):
    """sf0.001 with events.parquet swapped for the adversarial table
    (single FILE via pyarrow so DuckDB's read_parquet sees it too)."""
    return _write_nasty(tmp_path_factory, null_ts=False)


@pytest.fixture(scope="session")
def nasty_null_ts_dir(tmp_path_factory):
    """The adversarial table with NULL timestamps added — any time-ordered
    window not explicitly pinning NULL placement (or not filtering NULL ts
    out of time-ordered analytics) diverges between the engines' opposite
    defaults."""
    return _write_nasty(tmp_path_factory, null_ts=True)


def _battery():
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    other = re.compile(
        r"\b(region|nation|customer|supplier|part|orders|lineitem|documents|"
        r"embeddings)\b",
        re.I,
    )
    names = [
        n
        for n, sql in oracles.items()
        if not n.startswith("streaming_")
        and "events" in sql.lower()
        and not other.search(sql)
        and ("OVER" in sql.upper() or "mode" in n)
    ]
    assert len(names) >= 30, f"battery shrank suspiciously: {names}"
    return names


@pytest.mark.parametrize("name", _battery())
def test_window_query_survives_nasty_events(spark, nasty_dir, name):
    import __spark_entry__ as e
    from oracle_compare import compare, duck_connection

    con = duck_connection(nasty_dir)
    try:
        compare(
            e.queries()[name](spark, nasty_dir), e.oracle_sql()[name], con, name
        )
    finally:
        con.close()


def _streaming_battery():
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    import __spark_entry__ as e

    from tools.explain_audit import STREAM_AUDITED

    oracles = e.oracle_sql()
    names = [n for n in e.queries() if n.startswith("streaming_") and n in oracles]
    # every oracle-backed streaming slot is also state-store plan audited
    # (and vice versa): a new slot cannot skip either check
    assert set(names) == STREAM_AUDITED, (
        f"streaming battery {sorted(names)} != STREAM_AUDITED {sorted(STREAM_AUDITED)}"
    )
    return names


@pytest.mark.parametrize("name", _streaming_battery())
def test_streaming_slot_survives_null_timestamps(spark, nasty_null_ts_dir, name):
    """A production stream SEES dirty input: rows with NULL event time
    must flow through watermarks, state stores, and sinks to the same
    answer the batch oracle computes — watermark operators silently DROP
    NULL-event-time rows, so any slot whose oracle counts them (or whose
    stream doesn't pin the exclusion) diverges here."""
    import __spark_entry__ as e
    from oracle_compare import compare, duck_connection

    con = duck_connection(nasty_null_ts_dir)
    try:
        compare(
            e.queries()[name](spark, nasty_null_ts_dir),
            e.oracle_sql()[name],
            con,
            name,
        )
    finally:
        con.close()


# slots that drain one micro-batch per staged copy of the events table
_MULTI_COPY_SLOTS = {"streaming_sink_parquet_epoch", "streaming_rollup_merge"}


@pytest.fixture(scope="session")
def multipart_events_dir(spark, tmp_path_factory):
    """sf0.001 with events.parquet rewritten by Spark as a directory of
    part files (the layout a Spark job leaves behind), other tables linked."""
    from enterprise_iot_bigdata_pipeline_spark.plans.tables import t

    d = tmp_path_factory.mktemp("multipart_sf")
    for f in os.listdir(SF_SMOKE):
        if f != "events.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), str(d / f))
    t(spark, SF_SMOKE, "events").repartition(3).write.parquet(str(d / "events.parquet"))
    parts = [f for f in os.listdir(d / "events.parquet") if f.endswith(".parquet")]
    assert len(parts) == 3, parts
    return str(d)


@pytest.mark.parametrize("name", _streaming_battery())
def test_streaming_slot_reads_multipart_events(spark, multipart_events_dir, name):
    """A directory-shaped events table feeds a streaming slot every part
    file: single-copy slots return exactly their single-file result;
    the multi-copy slots refuse the layout loudly (linked copies share
    their targets' mtimes, so no staging keeps one copy per micro-batch)."""
    import __spark_entry__ as e
    from oracle_compare import canonical_hash, canonical_rows

    fn = e.queries()[name]
    if name in _MULTI_COPY_SLOTS:
        with pytest.raises(ValueError, match="directory of 3 part files"):
            fn(spark, multipart_events_dir)
        return
    single = canonical_rows(fn(spark, SF_SMOKE).toPandas())
    multi = canonical_rows(fn(spark, multipart_events_dir).toPandas())
    assert single, f"{name}: empty single-file result proves nothing"
    assert len(multi) == len(single), f"{name}: rows multipart={len(multi)} file={len(single)}"
    assert canonical_hash(multi) == canonical_hash(single), name


@pytest.mark.parametrize("name", _battery())
def test_window_query_survives_null_timestamps(spark, nasty_null_ts_dir, name):
    import __spark_entry__ as e
    from oracle_compare import compare, duck_connection

    con = duck_connection(nasty_null_ts_dir)
    try:
        compare(
            e.queries()[name](spark, nasty_null_ts_dir),
            e.oracle_sql()[name],
            con,
            name,
        )
    finally:
        con.close()

"""Unit tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

CANNED = HERE / "data" / "eventlog_v2_local-1700000000000"


def _check_jobs(jobs):
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert (j0.start_ms, j0.end_ms, j0.stages) == (1700000001000, 1700000001500, (0, 1))
    assert len(j0.tasks) == 2 and len(j1.tasks) == 1  # stage 9 has no job
    assert sum(t.cpu_ns for t in j0.tasks) == 300_000_000
    assert j1.end_ms == 1700000002200


def test_parse_rolling_eventlog_v2_directory():
    _check_jobs(eventlog.parse(CANNED))


def test_parse_event_log_dir_and_single_file(tmp_path):
    # The directory Spark was pointed at, holding one application.
    root = tmp_path / "events"
    shutil.copytree(CANNED, root / CANNED.name)
    _check_jobs(eventlog.parse(root))
    # Non-rolling layout: one file per application.
    single = tmp_path / "local-1700000000000"
    single.write_text(
        "".join(f.read_text() for f in sorted(CANNED.glob("events_*")))
    )
    _check_jobs(eventlog.parse(single))


def test_rolling_files_are_read_in_numeric_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_10_app").write_text(
        '{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 20}\n'
    )
    (d / "events_9_app").write_text(
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10, "Stage IDs": []}\n'
    )
    assert [f.name for f in eventlog.log_files(d)] == ["events_9_app", "events_10_app"]
    (job,) = eventlog.parse(d)
    assert (job.start_ms, job.end_ms) == (10, 20)


def test_span_stats_attributes_jobs_by_interval():
    jobs = eventlog.parse(CANNED)
    s = eventlog.span_stats(jobs, [(1700000000.9, 1700000001.8)])
    assert s.jobs == 1 and s.tasks == 2
    assert s.wall_s == pytest.approx(0.9)
    assert s.in_jobs_s == pytest.approx(0.5)
    assert s.outside_jobs_s == pytest.approx(0.4)
    assert s.task_cpu_s == pytest.approx(0.3)
    assert s.gc_s == pytest.approx(0.01)
    assert (s.input_bytes, s.input_records) == (1000, 50)
    assert (s.output_bytes, s.output_records) == (500, 5)
    assert (s.shuffle_write_bytes, s.spill_bytes) == (300, 64)
    both = eventlog.span_stats(jobs, [(1700000000.9, 1700000001.8), (1700000001.9, 1700000002.5)])
    assert both.jobs == 2 and both.in_jobs_s == pytest.approx(0.7)


def test_overlapping_jobs_are_not_double_counted():
    jobs = [eventlog.Job(0, 1000, 1600), eventlog.Job(1, 1200, 1400), eventlog.Job(2, 1800, 1900)]
    s = eventlog.span_stats(jobs, [(0.9, 2.0)])
    assert s.jobs == 3
    assert s.in_jobs_s == pytest.approx(0.7)
    assert s.outside_jobs_s == pytest.approx(0.4)


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_landing_generator_is_deterministic(tmp_path):
    size = {"devices": 12, "rows_per_device": 60}
    a = gen.landing_hour(tmp_path / "a", 7, **size)
    b = gen.landing_hour(tmp_path / "b", 7, **size)
    c = gen.landing_hour(tmp_path / "c", 8, **size)
    assert a == b
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")
    assert a["files"] == 12 and a["rows"] == 12 * 60
    assert a["bytes"] == sum(len(v) for v in _tree(tmp_path / "a").values())


def test_lake_generator_is_deterministic(tmp_path):
    size = {"days": 2, "hours_per_day": 2, "devices": 4, "rows_per_device": 30}
    a = gen.streaming_lake(tmp_path / "a", 3, **size)
    b = gen.streaming_lake(tmp_path / "b", 3, **size)
    c = gen.streaming_lake(tmp_path / "c", 4, **size)
    assert a == b
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")
    assert a["rows"] == 2 * 2 * 4 * 30 and a["epochs"] == 4
    assert 0 < a["misfiled_rows"] < a["rows"]


def test_percentile_reports_sample_count():
    xs = [float(i) for i in range(1, 21)]
    p90 = run.percentile(xs, 90)
    assert p90["n"] == 20
    assert p90["value"] == pytest.approx(18.1)
    assert p90["above"] == 2
    p50 = run.percentile(xs, 50)
    assert (p50["value"], p50["n"], p50["above"]) == (10.5, 20, 10)
    assert run.percentile([3.0], 90) == {"value": 3.0, "n": 1, "above": 0}
    with pytest.raises(ValueError):
        run.percentile([], 50)


def test_iqm_ignores_the_outer_quartiles():
    assert run.iqm([1.0, 2.0, 3.0, 100.0]) == 2.5
    assert run.iqm([5.0]) == 5.0
    assert run.iqm([0.3] * 10 + [0.45] * 9 + [5.0]) == pytest.approx((0.3 * 5 + 0.45 * 5) / 10)

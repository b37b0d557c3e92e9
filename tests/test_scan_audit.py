"""Registry-wide scan-count gate.

Spark does not fire ReusedExchange across arbitrary branch shapes, so a
multiply-consumed reduction silently re-scans the fact table once per
consumer — at 100 TB that multiplier is the whole query cost. The gate's
scan check caps parquet scans per executed plan, so the next
multiply-consumed reduction fails pytest, not a manual audit. A query
that throws during plan build is an error finding, never exempt.
"""

from __future__ import annotations


def test_registry_scan_counts_under_cap(registry_gate):
    audited = {name for c, _, name in registry_gate.audited if c == "scan"}
    assert audited, "scan check audited nothing — registry failed to load"
    problems = registry_gate.problems("scan")
    assert not problems, (
        "multiply-consumed reduction? checkpoint the SMALL reduction:\n"
        + "\n".join(problems)
    )

"""NULL-semantics lint as a suite gate.

The gate's null check walks every registered batch query's optimized plan
for the two mechanically-detectable cross-engine divergence classes the
round-9 batteries kept finding one at a time: un-pinned nullable ORDER
keys where order changes values (window orderSpec, limit-feeding sorts),
and nullable BOOLEAN output columns. Registrations are conscripted at run
time, so a future query with an un-pinned nullable sort key fails here
before any battery or driver round can diverge.
"""

from __future__ import annotations


def test_registry_clean_under_null_audit(registry_gate):
    problems = registry_gate.problems("null")
    assert not problems, "\n".join(problems)

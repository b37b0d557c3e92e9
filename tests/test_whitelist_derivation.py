"""Recompute the null check's NONNULL_KEYS whitelist from the data
(round-11 verdict task 6).

The fifo_return_allocation NULL-ordering divergence hid for ten rounds
because NONNULL_KEYS was hand-asserted: it wrongly classed l_orderkey —
a foreign key the orders battery deliberately nullifies — as
non-nullable, so the lint built to catch exactly that class exempted
it. This test re-derives every entry mechanically, in both places NULLs
can come from:

1. the driver corpus: the column must exist in exactly one table and be
   NULL-free at all three scale factors (DuckDB scan, no Spark);
2. the adversarial batteries: the column must be NULL-free in its
   nasty-table generator — the batteries nullify FKs, dates, values and
   text on purpose, and an entry a battery nullifies is a lie.

Dead entries (columns no table has) are rejected outright: ps_partkey/
ps_suppkey sat in the whitelist for rounds naming columns that don't
exist in this corpus — harmless today, but unused entries are exactly
how the l_orderkey rot started.

The gate's EXEMPT ledger carries its own mechanical recomputation (stale
entries — exemptions that stop firing — fail tests); this file closes the
same loop for the column-property whitelist.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from test_nasty_dims import _nasty_customer, _nasty_part, _nasty_supplier
from test_nasty_documents import _nasty_docs
from test_nasty_embeddings import _nasty_vectors
from test_nasty_events import _nasty_rows
from test_nasty_orders import _nasty_lineitems, _nasty_orders

from tools.gate import NONNULL_KEYS

SF_DIRS = [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]

# generator -> that generator's column layout (must track the builders)
GENERATORS = {
    "events": (
        lambda: _nasty_rows() + _nasty_rows(null_ts=True),
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    ),
    "documents": (_nasty_docs, ["doc_id", "text", "lang", "source", "length"]),
    "embeddings": (_nasty_vectors, ["vec_id", "vec", "label"]),
    "orders": (
        _nasty_orders,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
    ),
    "lineitem": (
        _nasty_lineitems,
        [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        ],
    ),
    "customer": (
        _nasty_customer,
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    ),
    "supplier": (
        _nasty_supplier,
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    ),
    "part": (
        _nasty_part,
        ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    ),
}

TABLES = [
    "events",
    "documents",
    "embeddings",
    "orders",
    "lineitem",
    "customer",
    "supplier",
    "part",
    "nation",
    "region",
]


def _table_columns(con) -> dict[str, list[str]]:
    out = {}
    for t in TABLES:
        out[t] = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{SF_DIRS[0]}/{t}.parquet')"
            ).fetchall()
        ]
    return out


def test_nonnull_keys_hold_in_every_corpus():
    con = duckdb.connect()
    table_cols = _table_columns(con)
    problems = []
    for key in sorted(NONNULL_KEYS):
        homes = [t for t, cols in table_cols.items() if key in cols]
        if not homes:
            problems.append(f"{key}: DEAD entry — no corpus table has this column")
            continue
        for t in homes:
            for sf in SF_DIRS:
                n = con.execute(
                    f"SELECT count(*) FROM read_parquet('{sf}/{t}.parquet') "
                    f"WHERE {key} IS NULL"
                ).fetchone()[0]
                if n:
                    problems.append(f"{key}: {n} NULLs in {sf}/{t}")
    assert not problems, "\n".join(problems)


def test_nonnull_keys_hold_in_every_battery():
    """The batteries are the authority the fifo bug demands: they
    deliberately nullify FKs — whitelisting a column a battery
    nullifies exempts exactly the divergence the lint exists to find."""
    battery_cols: dict[str, list[object | None]] = {}
    for _t, (gen, cols) in GENERATORS.items():
        rows = gen()
        for i, c in enumerate(cols):
            battery_cols.setdefault(c, []).extend(r[i] for r in rows)
    problems = []
    for key in sorted(NONNULL_KEYS):
        if key not in battery_cols:
            continue  # no battery builds this table (nation/region PKs)
        nulls = sum(1 for v in battery_cols[key] if v is None)
        if nulls:
            problems.append(
                f"{key}: nasty battery produces {nulls} NULLs — the "
                "whitelist entry exempts a divergence the battery tests for"
            )
    assert not problems, "\n".join(problems)


def test_derivation_catches_a_planted_bad_entry():
    """Self-test: the exact l_orderkey shape — a battery-nullified FK —
    must be caught by the battery derivation."""
    rows = _nasty_lineitems()
    idx = GENERATORS["lineitem"][1].index("l_orderkey")
    assert any(r[idx] is None for r in rows), (
        "the orders battery no longer nullifies l_orderkey — the "
        "regression this suite guards against can no longer be simulated; "
        "update the battery or this test"
    )
    # and the corpus derivation must catch a column that never existed
    con = duckdb.connect()
    table_cols = _table_columns(con)
    assert not any("ps_partkey" in cols for cols in table_cols.values())

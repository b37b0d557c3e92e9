"""Local replica of the driver's Spark-vs-DuckDB comparison: row count +
column names + order-insensitive canonical value comparison.

Stricter than the driver (exact string canonicalization, no tolerance) so
anything passing here should pass the gate.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb
import pandas as pd

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


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(_canon(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort()
    return rows


def canonical_hash(rows: list[tuple[str, ...]]) -> str:
    """One digest of ``canonical_rows`` output: equal iff the rows are."""
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare(spark_df, oracle: str, con: duckdb.DuckDBPyConnection, name: str = "?") -> None:
    sp = spark_df.toPandas()
    rel = con.sql(oracle)
    du = rel.fetchdf()
    # fetchdf renders DATE as midnight datetime64; restore date objects so
    # canonical forms line up with Spark's DateType.
    for col, typ in zip(rel.columns, rel.types):
        if str(typ) == "DATE":
            du[col] = du[col].dt.date
    assert sorted(sp.columns) == sorted(du.columns), (
        f"{name}: column mismatch spark={sorted(sp.columns)} duck={sorted(du.columns)}"
    )
    assert len(sp) == len(du), f"{name}: row count spark={len(sp)} duck={len(du)}"
    rs, rd = canonical_rows(sp), canonical_rows(du)
    if rs != rd:
        diffs = [(a, b) for a, b in zip(rs, rd) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")

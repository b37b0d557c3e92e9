"""JDBC metadata source / state write-back (SURVEY §2.1 S5/K3/K4).

The reference keeps processing state in MSSQL (``tbl_t_upload_datalog``):
top-k pending-key reads (gzip-to-parquet-etl.py:167-209) and UPDATE
write-backs (…:286-317), plus v2's claim transaction
(s3_datalog_processor.py:46-122). In the Spark engine the *function* of
that state machine is replaced by Structured Streaming checkpoints
(streaming.ingest); these wrappers exist for parity when an external JDBC
state table must be kept.

Reads go through Spark's JDBC source (pushed-down queries). The UPDATE
write-back has no DataFrame-API form, so it runs driver-side through the
JVM's ``java.sql.DriverManager`` via the Py4J gateway — one transaction,
parameterized per key. Any driver jar on Spark's classpath works; the
test suite exercises a real round-trip against embedded Derby, which
ships with the Spark distribution.

Note the reference v2 bug (SURVEY §2.1 K3): its UPDATE binds the key list
*inside* quotes (``IN (':key_list_string')``) and matches nothing.
``mark_success`` implements the intended semantics — update by key set,
filtered on run_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_jdbc_query(spark: SparkSession, url: str, query: str, **options) -> DataFrame:
    """Pushed-down query read (SELECT TOP n … pattern)."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("query", query)
        .options(**options)
        .load()
    )


def execute_sql(spark: SparkSession, url: str, statements: list[str]) -> None:
    """Driver-side DDL/DML (CREATE TABLE, seeds) in one autocommit session."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for sql in statements:
            st.execute(sql)
        st.close()
    finally:
        conn.close()


def mark_success(
    spark: SparkSession,
    url: str,
    table: str,
    keys: list[str],
    run_id: str,
    key_col: str = "file_path_s3",
    status_col: str = "status",
    run_col: str = "run_id",
    batch_size: int = 1000,
) -> int:
    """State write-back: SET status='SUCCESS' for the processed key set of
    one run, in ONE transaction (all keys or none — the claim semantics the
    reference's broken quoted-IN bind intended,
    s3_datalog_processor.py:211-238). Returns rows updated.

    Driver-side by design: the key set is the control plane (≤ thousands
    of rows per batch), not data-plane volume. Updates ride JDBC
    ``addBatch``/``executeBatch`` in chunks of ``batch_size`` — one
    round-trip per chunk instead of one per key — still inside the single
    transaction.
    """
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        ps = conn.prepareStatement(
            f"UPDATE {table} SET {status_col} = 'SUCCESS' "  # noqa: S608 - idents from caller
            f"WHERE {run_col} = ? AND {key_col} = ?"
        )
        total = 0
        for start in range(0, len(keys), batch_size):
            for k in keys[start : start + batch_size]:
                ps.setString(1, run_id)
                ps.setString(2, k)
                ps.addBatch()
            # executeBatch returns per-statement update counts (or
            # SUCCESS_NO_INFO = -2, which Derby doesn't emit for UPDATE)
            total += sum(max(int(c), 0) for c in ps.executeBatch())
        conn.commit()
        ps.close()
        return total
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()

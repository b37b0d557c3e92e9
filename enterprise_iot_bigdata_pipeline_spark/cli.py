"""Command-line entry points — the engine's equivalents of the reference's
runnable scripts (v1 compacter loop, v2 DAG tasks, data-cleaner, dashboard
query):

  python -m enterprise_iot_bigdata_pipeline_spark.cli ingest-batch  --paths g1.gz g2.gz --target LAKE --district DISTRICTB
  python -m enterprise_iot_bigdata_pipeline_spark.cli ingest-stream --source DIR --target LAKE --checkpoint CK --district D --schema "heartbeat long, ..."
  python -m enterprise_iot_bigdata_pipeline_spark.cli audit         --lake LAKE
  python -m enterprise_iot_bigdata_pipeline_spark.cli repair        --lake LAKE
  python -m enterprise_iot_bigdata_pipeline_spark.cli compact       --lake LAKE
  python -m enterprise_iot_bigdata_pipeline_spark.cli dashboard     --lake LAKE --date 2024-03-01 --district DISTRICTB
  python -m enterprise_iot_bigdata_pipeline_spark.cli query                    # list the registry
  python -m enterprise_iot_bigdata_pipeline_spark.cli query flagship_minute_resample --sf-dir DIR
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="enterprise_iot_bigdata_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("ingest-batch", help="compact NDJSON files into the lake")
    b.add_argument("--paths", nargs="+", required=True)
    b.add_argument("--target", required=True)
    b.add_argument("--district", required=True)

    s = sub.add_parser("ingest-stream", help="checkpointed streaming compacter")
    s.add_argument("--source", required=True)
    s.add_argument("--target", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--district", required=True)
    s.add_argument("--schema", required=True)
    s.add_argument("--hourly", action="store_true", help="run continuously (default: drain once)")

    a = sub.add_parser("audit", help="list misfiled partitions")
    a.add_argument("--lake", required=True)

    r = sub.add_parser("repair", help="rewrite misfiled rows to correct partitions")
    r.add_argument("--lake", required=True)

    c = sub.add_parser("compact", help="rewrite each fragmented partition to 1 file")
    c.add_argument("--lake", required=True)

    d = sub.add_parser("dashboard", help="per-unit 1-minute speed analysis")
    d.add_argument("--lake", required=True)
    d.add_argument("--date", required=True)
    d.add_argument("--district", required=True)
    d.add_argument("--units", nargs="*", default=None)

    q = sub.add_parser("query", help="run a registered named query (or list them)")
    q.add_argument("name", nargs="?", default=None, help="query name; omit to list all")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20, help="rows to show (0 = count only)")

    sq = sub.add_parser(
        "sql", help="run ad-hoc SQL over the corpus tables (registered as views)"
    )
    sq.add_argument("statement", help="a single SQL statement")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--limit", type=int, default=20, help="rows to show (0 = count only)")
    return p


def _print_preview(df, limit: int, label: str) -> None:
    """ONE execution for both the preview and the count: collect limit+1
    rows, format driver-locally (no createDataFrame+show round-trip), and
    report an exact count only when the result fits — a separate
    df.count() would run the full pipeline a second time."""
    if not limit:
        print(f"{label}: {df.count()} rows")
        return
    head = df.limit(limit + 1).collect()
    shown = head[:limit]
    cols = df.columns
    cells = [[str(row[c]) for c in cols] for row in shown]
    widths = [
        max(len(c), *(len(r[i]) for r in cells)) if cells else len(c)
        for i, c in enumerate(cols)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    print(sep)
    print("| " + " | ".join(c.ljust(w) for c, w in zip(cols, widths)) + " |")
    print(sep)
    for r in cells:
        print("| " + " | ".join(v.ljust(w) for v, w in zip(r, widths)) + " |")
    print(sep)
    if len(head) > limit:
        print(f"{label}: >{limit} rows (showing {limit})")
    else:
        print(f"{label}: {len(head)} rows")


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        from enterprise_iot_bigdata_pipeline_spark.session import get_spark

        spark = get_spark(app_name=f"cli-{args.cmd}")

    if args.cmd == "ingest-batch":
        from enterprise_iot_bigdata_pipeline_spark.operators.compaction import compact_batch

        n = compact_batch(spark, args.paths, args.target, args.district)
        print(f"compacted {n} rows" if n else "no data — skipped")
    elif args.cmd == "ingest-stream":
        from enterprise_iot_bigdata_pipeline_spark.streaming.ingest import stream_compact

        q = stream_compact(
            spark,
            args.source,
            args.target,
            args.checkpoint,
            args.schema,
            args.district,
            available_now=not args.hourly,
        )
        q.awaitTermination()
        # From the query's own progress reports (the last
        # spark.sql.streaming.numRecentProgressUpdates triggers), so no job.
        # numInputRows counts every source row the sink's actions read:
        # the empty-batch probe's row is on top of the rows written.
        rows = [p.numInputRows for p in q.recentProgress]
        print(
            f"drained {sum(1 for n in rows if n)} batches, {sum(rows)} input rows read"
            if not args.hourly
            else "stream stopped"
        )
    elif args.cmd == "audit":
        from enterprise_iot_bigdata_pipeline_spark.operators.compaction import audit_misfiled

        bad = audit_misfiled(spark.read.parquet(args.lake))
        for row in bad.collect():
            print(f"{row['hiveperiod']} {row['dstrct_code']} -> {row['accurate_wita_date']}")
    elif args.cmd == "repair":
        from enterprise_iot_bigdata_pipeline_spark.operators.compaction import repair_misfiled

        n = repair_misfiled(spark, args.lake)
        print(f"rewrote {n} rows")
    elif args.cmd == "compact":
        from enterprise_iot_bigdata_pipeline_spark.operators.compaction import compact_partitions

        n = compact_partitions(spark, args.lake)
        print(f"compacted {n} partitions")
    elif args.cmd == "dashboard":
        from enterprise_iot_bigdata_pipeline_spark.operators.dashboard import speed_analysis

        out = speed_analysis(
            spark.read.parquet(args.lake), args.date, args.district, args.units
        )
        out.show(50, truncate=False)
    elif args.cmd == "query":
        from enterprise_iot_bigdata_pipeline_spark.plans import all_queries

        queries = all_queries()
        if args.name is None:
            for name in sorted(queries):
                print(name)
        elif args.name not in queries:
            print(f"unknown query {args.name!r}; run without a name to list", file=sys.stderr)
            return 2
        else:
            _print_preview(queries[args.name](spark, args.sf_dir), args.limit, args.name)
    elif args.cmd == "sql":
        # The ad-hoc surface a reference user gets from DuckDB: every corpus
        # table registered as a view, one statement, previewed like `query`.
        from enterprise_iot_bigdata_pipeline_spark.plans.tables import (
            TABLES,
            t as load_table,
        )

        for name in TABLES:
            load_table(spark, args.sf_dir, name).createOrReplaceTempView(name)
        _print_preview(spark.sql(args.statement), args.limit, "sql")
    return 0


if __name__ == "__main__":
    sys.exit(main())

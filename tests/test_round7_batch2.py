"""Round-7 session-2 batch: skyline dominance semantics, sequence-pattern
matching, relational division, basket lift values, chi-square independence,
and the drain semantics of the two newly registered streaming queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.plans import load_all, QUERIES

load_all()


def _write(spark, tmp_path, name, rows, schema, ts_cols=()):
    df = spark.createDataFrame(rows, schema)
    for c in ts_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"{name}.parquet"))


class TestSkyline:
    def test_dominance_semantics(self, spark, tmp_path):
        # (key, name, price, size). Dominance = (price<=, size>=, strict
        # somewhere). 2 is same-price-smaller than 5? crafted:
        #   1 (10.0, 5)  dominated by 2 (same price, bigger size)
        #   2 (10.0, 7)  dominated by 3 (strictly cheaper, equal size)
        #   3 ( 8.0, 7)  frontier; 5 is its exact duplicate — BOTH stay
        #   4 (12.0, 9)  frontier (nothing cheaper reaches size 9)
        #   5 ( 8.0, 7)  frontier (duplicate of 3: no strict difference)
        #   6 ( 7.0, 3)  frontier (globally cheapest)
        _write(
            spark,
            tmp_path,
            "part",
            [
                (1, "a", "B", "T", 5, 10.0),
                (2, "b", "B", "T", 7, 10.0),
                (3, "c", "B", "T", 7, 8.0),
                (4, "d", "B", "T", 9, 12.0),
                (5, "e", "B", "T", 7, 8.0),
                (6, "f", "B", "T", 3, 7.0),
            ],
            "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
        )
        got = {r.p_partkey for r in QUERIES["skyline_parts"](spark, str(tmp_path)).collect()}
        assert got == {3, 4, 5, 6}


class TestPatternMatch:
    def test_sequences_and_tie_order(self, spark, tmp_path):
        rows = []
        # user 1: v c c p -> one vc+p match
        for i, (t, et) in enumerate(
            [(0, "view"), (60, "click"), (120, "click"), (180, "purchase")]
        ):
            rows.append((i, f"2024-01-01 00:{t // 60:02d}:{t % 60:02d}", 1, et, 1.0, ""))
        # user 2: p v c -> no match
        for i, (t, et) in enumerate([(0, "purchase"), (60, "view"), (120, "click")]):
            rows.append((10 + i, f"2024-01-01 01:{t // 60:02d}:00", 2, et, 1.0, ""))
        # user 3: two full paths
        for i, (t, et) in enumerate(
            [(0, "view"), (1, "click"), (2, "purchase"), (3, "view"), (4, "click"), (5, "purchase")]
        ):
            rows.append((20 + i, f"2024-01-01 02:00:0{t}", 3, et, 1.0, ""))
        # user 4: all three events share ONE timestamp; event_id order must
        # decide -> ids assigned so the sequence reads v, c, p
        rows += [
            (30, "2024-01-01 03:00:00", 4, "view", 1.0, ""),
            (31, "2024-01-01 03:00:00", 4, "click", 1.0, ""),
            (32, "2024-01-01 03:00:00", 4, "purchase", 1.0, ""),
        ]
        _write(
            spark,
            tmp_path,
            "events",
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
            ts_cols=("ts",),
        )
        got = {
            r.user_id: r.n_conversion_paths
            for r in QUERIES["events_pattern_match"](spark, str(tmp_path)).collect()
        }
        assert got == {1: 1, 3: 2, 4: 1}


class TestRelationalDivision:
    def test_only_complete_users_survive(self, spark, tmp_path):
        rows = [
            (1, "2024-01-01 00:00:00", 1, "view", 1.0, ""),
            (2, "2024-01-01 00:01:00", 1, "click", 1.0, ""),
            (3, "2024-01-01 00:02:00", 2, "view", 1.0, ""),
            (4, "2024-01-01 00:03:00", 3, "click", 1.0, ""),
            (5, "2024-01-01 00:04:00", 3, "view", 1.0, ""),
            (6, "2024-01-01 00:05:00", 3, "view", 1.0, ""),  # dup type: no effect
        ]
        _write(
            spark,
            tmp_path,
            "events",
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
            ts_cols=("ts",),
        )
        got = QUERIES["events_relational_division"](spark, str(tmp_path)).collect()
        assert {(r.user_id, r.n_types) for r in got} == {(1, 2), (3, 2)}


class TestBasketLift:
    def test_known_support_and_lift(self, spark, tmp_path):
        # Baskets: orders 1,2,3 each {A=101, B=102}; order 4 {A}.
        # n=4, cA=4, cB=3, c12=3 -> support 0.75, lift (3*4)/(4*3)=1.0.
        li = []
        for ok in (1, 2, 3):
            li += [(ok, 101, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-01-02"),
                   (ok, 102, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-01-02"),
                   # duplicate part line in the same order must not inflate c12
                   (ok, 101, 1, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-01-02")]
        li.append((4, 101, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-01-02"))
        _write(
            spark,
            tmp_path,
            "lineitem",
            li,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, l_shipdate string",
            ts_cols=("l_shipdate",),
        )
        got = QUERIES["basket_part_pairs_lift"](spark, str(tmp_path)).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.p1, r.p2, r.c12) == (101, 102, 3)
        assert r.support == 0.75
        assert r.lift == 1.0


class TestChiSquare:
    def test_independent_table_has_zero_chi2(self, spark, tmp_path):
        # 2x2 contingency with perfect independence: obs = row*col/grand for
        # every cell -> expected == obs, chi2_part == 0.
        _write(
            spark,
            tmp_path,
            "customer",
            [(1, "u1", 0, 0.0, "SEG_A"), (2, "u2", 0, 0.0, "SEG_B")],
            "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
            "c_mktsegment string",
        )
        rows, eid = [], 0
        for user, counts in ((1, {"view": 10, "click": 20}), (2, {"view": 20, "click": 40})):
            for et, n in counts.items():
                for _ in range(n):
                    rows.append((eid, "2024-01-01 00:00:00", user, et, 1.0, ""))
                    eid += 1
        _write(
            spark,
            tmp_path,
            "events",
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
            ts_cols=("ts",),
        )
        got = QUERIES["events_chi_square"](spark, str(tmp_path)).collect()
        assert len(got) == 4
        for r in got:
            assert r.expected == float(r.obs)
            assert r.chi2_part == 0.0


class TestStreamingDrainSemantics:
    def _events(self, spark, tmp_path):
        # One pyarrow file (the testdata layout); plans/ingest.stream_slot
        # also stages a Spark output directory part by part.
        rows = [
            # user 1: two closed sessions + a trailing open one (gap 1800 s)
            (1, "2024-01-01 00:00:00", 1, "view", 1.0, ""),
            (2, "2024-01-01 00:01:40", 1, "view", 1.0, ""),
            (3, "2024-01-01 01:06:40", 1, "click", 1.0, ""),
            (4, "2024-01-01 01:08:20", 1, "click", 1.0, ""),
            (5, "2024-01-01 02:30:00", 1, "view", 1.0, ""),
            # user 2: a single (trailing) session -> nothing emitted
            (6, "2024-01-01 00:00:00", 2, "view", 1.0, ""),
            # duplicate (user, type) deliveries for the dedup query
            (7, "2024-01-01 00:00:01", 2, "view", 2.0, ""),
        ]
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(tmp_path / "events.parquet"),
        )

    def test_sessionize_emits_closed_sessions_only(self, spark, tmp_path):
        self._events(spark, tmp_path)
        got = sorted(
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in QUERIES["streaming_sessionize_state"](spark, str(tmp_path)).collect()
        )
        assert got == [
            (1, "2024-01-01 00:00:00", "2024-01-01 00:01:40", 2),
            (1, "2024-01-01 01:06:40", "2024-01-01 01:08:20", 2),
        ]

    def test_dedup_emits_distinct_keys_once(self, spark, tmp_path):
        self._events(spark, tmp_path)
        got = sorted(
            (r.user_id, r.event_type)
            for r in QUERIES["streaming_dedup_keys"](spark, str(tmp_path)).collect()
        )
        assert got == [(1, "click"), (1, "view"), (2, "view")]


class TestReviewFixRegressions:
    """Round-7 code-review catches: the engine-divergence edge cases the
    oracle corpus never exercises (NULL measure cells in unpivot; the
    zero-variance NaN grid in the hotspot statistic)."""

    def test_unpivot_drops_null_measure_cells(self, spark, tmp_path):
        # one event_type whose every value is NULL -> dsum yields NULL;
        # SQL UNPIVOT excludes that cell, so the query must too (DuckDB
        # drops it; an unfiltered DataFrame.unpivot would keep it).
        rows = [
            (1, "2024-01-01 00:00:00", 1, "view", 1.5, ""),
            (2, "2024-01-01 00:01:00", 2, "ghost", None, ""),
            (3, "2024-01-01 00:02:00", 3, "ghost", None, ""),
        ]
        _write(
            spark,
            tmp_path,
            "events",
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
            ts_cols=("ts",),
        )
        got = QUERIES["agg_unpivot_stats"](spark, str(tmp_path)).collect()
        ghost = {(r.metric): r.metric_value for r in got if r.event_type == "ghost"}
        assert "sum_value" not in ghost  # NULL cell excluded
        assert ghost == {"n_events": 2.0, "n_users": 2.0}
        assert all(r.metric_value is not None for r in got)

    def test_hotspots_zero_variance_grid_returns_nothing(self, spark, tmp_path):
        # An empty events table makes every grid cell count 0 -> var = 0
        # -> z would be NaN. Both engines rank NaN above every number, so
        # every cell would pass the z threshold — the var > 0 guard must
        # exclude the degenerate zero-variance grid on BOTH engines.
        _write(
            spark,
            tmp_path,
            "events",
            [],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        assert QUERIES["events_grid_hotspots"](spark, str(tmp_path)).count() == 0

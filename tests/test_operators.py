"""Operator-level tests: salted join equivalence under skew, range join vs
naive, listing source, CSV roundtrip."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from tests.conftest import count_jobs, job_tasks


def test_salted_join_matches_plain_join(spark):
    from enterprise_iot_bigdata_pipeline_spark.operators.salting import salted_join

    # skewed: 10k rows for key 1, a handful elsewhere
    skewed = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit(1)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(50)], "k long, name string"
    )
    plain = {(r["k"], r["v"], r["name"]) for r in skewed.join(small, "k").collect()}
    salted = {(r["k"], r["v"], r["name"]) for r in salted_join(skewed, small, "k").collect()}
    assert salted == plain
    assert len(salted) == 10_000

    # salts actually split the hot key across sub-keys
    hot = skewed.filter(F.col("k") == 1).withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.struct(F.col("k"), F.col("v"))), F.lit(8)).cast("int"),
    )
    assert hot.select("_salt").distinct().count() == 8

    # left join keeps unmatched skewed rows exactly once
    missing_dims = small.filter(F.col("k") < 40)
    left = salted_join(skewed, missing_dims, "k", how="left")
    assert left.count() == 10_000

    # outer joins would duplicate the replicated small side — refused
    import pytest

    with pytest.raises(ValueError, match="inner"):
        salted_join(skewed, small, "k", how="full")


def test_range_join_matches_naive(spark):
    from enterprise_iot_bigdata_pipeline_spark.operators.range_join import time_range_join

    base = datetime(2024, 3, 1, 10, 0, 0)
    left = spark.createDataFrame(
        [(1, base + timedelta(seconds=30 * i), i) for i in range(20)],
        "user_id long, ts timestamp, event_id long",
    )
    right = spark.createDataFrame(
        [(1, base + timedelta(seconds=45 * i + 7), 100 + i) for i in range(20)],
        "user_id long, ts timestamp, event_id long",
    )
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in time_range_join(
            left, right, "user_id", "ts", "ts", max_delta_seconds=60
        ).collect()
    }
    naive = {
        (lr["event_id"], rr["event_id"])
        for lr in left.collect()
        for rr in right.collect()
        if lr["ts"] < rr["ts"] <= lr["ts"] + timedelta(seconds=60)
    }
    assert got == naive and len(naive) > 0


def test_listing_source_and_key_parse(spark, tmp_path):
    """The data-cleaner flow (SURVEY §3.4): list the lake → parse keys →
    filter by partition-date string."""
    from enterprise_iot_bigdata_pipeline_spark.functions.keys import parse_s3_key
    from enterprise_iot_bigdata_pipeline_spark.sources.listing import list_local

    for d, dist in [("2025-11-30", "A"), ("2025-12-01", "B"), ("2025-12-02", "B")]:
        p = tmp_path / f"hiveperiod={d}" / f"dstrct_code={dist}"
        p.mkdir(parents=True)
        (p / "standard_x.parquet").write_bytes(b"xx")

    listing = list_local(spark, str(tmp_path))
    assert listing.count() == 3
    assert set(listing.columns) == {"Key", "LastModified", "Size"}

    parsed = listing.withColumn("p", parse_s3_key(F.col("Key"))).select("p.*")
    recent = parsed.filter(F.col("hiveperiod") >= "2025-12-01")
    assert recent.count() == 2
    assert {r["dstrct_code"] for r in recent.collect()} == {"B"}

    # the Hadoop-FS listing (the un-gated s3a:// path) returns the same
    # keys/sizes through the same schema as the boto3-shaped local walk
    from enterprise_iot_bigdata_pipeline_spark.sources.listing import list_fs

    fs_listing = list_fs(spark, str(tmp_path))
    assert {
        (r["Key"], r["Size"]) for r in fs_listing.collect()
    } == {(r["Key"], r["Size"]) for r in listing.collect()}
    pref = list_fs(spark, str(tmp_path), prefix="hiveperiod=2025-12")
    assert pref.count() == 2


def test_csv_roundtrip(spark, tmp_path):
    from enterprise_iot_bigdata_pipeline_spark.sources.csv_io import read_csv, write_csv

    df = spark.createDataFrame(
        [("2025-12-01", "DISTRICTB", 5), ("2025-12-02", "DISTRICTG", 7)],
        "hiveperiod string, dstrct_code string, n long",
    )
    out = str(tmp_path / "report")
    write_csv(df, out)
    back = read_csv(spark, out, schema="hiveperiod string, dstrct_code string, n long")
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    import glob

    assert len(glob.glob(f"{out}/part-*.csv")) == 1  # single-file report sink


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Real JDBC round-trip against embedded Derby (ships with Spark):
    seed a state table, read the pending set through Spark's JDBC source,
    mark one run's keys SUCCESS in a single transaction, re-read."""
    from enterprise_iot_bigdata_pipeline_spark.sources.jdbc import (
        execute_sql,
        mark_success,
        read_jdbc_query,
    )

    url = f"jdbc:derby:{tmp_path}/statedb;create=true"
    execute_sql(spark, url, [
        "CREATE TABLE tbl_t_upload_datalog ("
        "file_path_s3 VARCHAR(200), status VARCHAR(20), run_id VARCHAR(40))",
        "INSERT INTO tbl_t_upload_datalog VALUES"
        " ('s3://a/1.gz', 'PENDING', 'run1'),"
        " ('s3://a/2.gz', 'PENDING', 'run1'),"
        " ('s3://a/3.gz', 'PENDING', 'run2')",
    ])

    pending = read_jdbc_query(
        spark, url,
        "SELECT file_path_s3 FROM tbl_t_upload_datalog WHERE status = 'PENDING'",
    )
    assert pending.count() == 3

    # the reference's intended update-by-key-set semantics: only run1's
    # processed keys flip; run2 (same key-shape) is untouched. batch_size=1
    # forces the addBatch/executeBatch path across multiple chunks (the
    # update counts must come from executeBatch's per-statement array).
    n = mark_success(
        spark, url, "tbl_t_upload_datalog",
        ["s3://a/1.gz", "s3://a/2.gz", "s3://a/no-such-key.gz"], "run1",
        batch_size=1,
    )
    assert n == 2  # the unmatched key contributes a 0 count, not an error
    after = {
        (r["FILE_PATH_S3"], r["STATUS"])
        for r in read_jdbc_query(
            spark, url, "SELECT file_path_s3, status FROM tbl_t_upload_datalog"
        ).collect()
    }
    assert after == {
        ("s3://a/1.gz", "SUCCESS"),
        ("s3://a/2.gz", "SUCCESS"),
        ("s3://a/3.gz", "PENDING"),
    }


def test_connected_components_chain_and_star(spark):
    """Min-label propagation resolves chains (worst diameter) and stars;
    docs absent from any pair don't appear (they are their own survivor)."""
    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),      # chain 1-2-3-4 → component 1
            (10, 11), (10, 12), (10, 13),  # star at 10 → component 10
            (20, 21),                      # pair → component 20
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_connected_components_deep_chain_converges(spark):
    """A chain of diameter 200 (way past the 25-round budget of plain
    min-label propagation) must still converge — pointer jumping makes the
    round count logarithmic in diameter (round-2 advice: lineage/diameter
    hardening). Shuffled ids so labels don't happen to align with chain
    order."""
    import random

    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import connected_components

    ids = list(range(1000, 1201))
    random.Random(13).shuffle(ids)
    chain = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = connected_components(pairs, max_iter=15)
    comp = got.select("component").distinct().collect()
    assert [r["component"] for r in comp] == [1000]
    assert got.count() == 201


def _driver_actions(jobs):
    """Jobs the driver thread ran itself (checkpoints, collects), out of
    ``job_tasks``' list. The distributed graph loops also run AQE's
    asynchronously submitted shuffle-stage and broadcast jobs, whose
    number varies by a few with stage timing (connected components 85–86,
    k-core 73–76 jobs in all over repeated runs of the same graph)."""
    return sum(not name.startswith("$anonfun$withThreadLocalCaptured") for name, _ in jobs)


def test_connected_components_local_kernel_matches_distributed(spark):
    """r13: below `_CC_ROWS_PER_PART` edges the operator resolves
    components in one vectorized Arrow task instead of the distributed
    SV loop. Both paths must produce the identical (doc, component) set —
    pin them against each other on a random multi-component graph, a deep
    chain (pointer-jump stress), and the empty graph."""
    import random

    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import connected_components

    rnd = random.Random(7)
    edges = set()
    for _ in range(400):
        a, b = rnd.randrange(0, 150), rnd.randrange(0, 150)
        if a != b:
            edges.add((min(a, b) * 7 + 3, max(a, b) * 7 + 3))
    chain_ids = list(range(5000, 5120))
    rnd.shuffle(chain_ids)
    edges |= {(chain_ids[i], chain_ids[i + 1]) for i in range(len(chain_ids) - 1)}
    pairs = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    fast, fast_jobs = count_jobs(spark, lambda: connected_components(pairs).collect())
    slow, slow_jobs = job_tasks(
        spark, lambda: connected_components(pairs, local_max_edges=0).collect()
    )
    fast = {(r["doc"], r["component"]) for r in fast}
    slow = {(r["doc"], r["component"]) for r in slow}
    assert fast == slow and len(fast) > 0
    # job budgets measured before the two paths shared one dispatch helper
    assert fast_jobs <= 2 and _driver_actions(slow_jobs) <= 20

    # non-integral ids: the one-task kernel cannot relabel them, so the
    # default dispatch must take the distributed loop, not crash
    spairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    want = [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]
    for lm in (None, 0):
        got = connected_components(spairs, local_max_edges=lm).collect()
        assert sorted((r["doc"], r["component"]) for r in got) == want

    empty = pairs.filter("doc_a < 0")
    out = connected_components(empty)
    assert out.columns == ["doc", "component"]
    assert out.count() == 0
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint", "bigint"]


def test_kcore_peel_local_kernel_matches_distributed(spark):
    """r13: the k-core peel dispatches to a one-task Arrow kernel below
    the one-partition edge threshold. Both paths must survive-peel the
    identical edge set (12 pinned rounds, early stability stop)."""
    import random

    from enterprise_iot_bigdata_pipeline_spark.plans.graph import _kcore_peel

    rnd = random.Random(11)
    edges = set()
    # a clique (survives), a long chain (fully peeled at K=2), stars
    for a in range(5):
        for b in range(a + 1, 5):
            edges.add((100 + a, 100 + b))
    edges |= {(200 + i, 200 + i + 1) for i in range(40)}
    for _ in range(120):
        a, b = rnd.randrange(0, 60), rnd.randrange(0, 60)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    e = spark.createDataFrame(sorted(edges), "pa long, pb long")
    fast, fast_jobs = count_jobs(spark, lambda: _kcore_peel(e).collect())
    slow, slow_jobs = job_tasks(spark, lambda: _kcore_peel(e, local_max_edges=0).collect())
    fast = {(r["pa"], r["pb"]) for r in fast}
    slow = {(r["pa"], r["pb"]) for r in slow}
    assert fast == slow
    # job budgets (edge staging included) measured before the two paths
    # shared one dispatch helper
    assert fast_jobs <= 2 and _driver_actions(slow_jobs) <= 15
    # the 5-clique must survive a K=2 peel; the chain's ENDS are peeled
    # one node per pinned round (12 rounds → 12 nodes off each side),
    # its middle legitimately survives the round-pinned peel
    assert {(100, 101), (103, 104)} <= fast
    assert (200, 201) not in fast and (239, 240) not in fast
    assert (219, 220) in fast

    # non-integral ids take the distributed loop on the default dispatch
    se = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "pa string, pb string"
    )
    want = [("a", "b"), ("a", "c"), ("b", "c")]
    for lm in (None, 0):
        got = _kcore_peel(se, local_max_edges=lm).collect()
        assert sorted((r["pa"], r["pb"]) for r in got) == want


def test_hot_lsh_bucket_star_fallback(spark):
    """Adversarial corpus: 1000 identical docs collide into one bucket per
    band. The capped expansion must switch to star pairs (linear, no
    single-task s(s-1)/2 blowup) while still connecting every doc into
    one cluster; a normal-sized bucket keeps exact all-pairs expansion."""
    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated across the corpus").alias("text"),
    )
    sigs = minhash_signatures(docs, "text", "doc_id")
    pairs = lsh_candidate_pairs(sigs, max_bucket=64)
    rows = pairs.collect()
    # star fallback: 999 pairs (hub = min doc id), not 1000*999/2
    assert len(rows) == 999
    assert {r["doc_a"] for r in rows} == {0}
    # connectivity for clustering is preserved
    comps = connected_components(pairs).select("component").distinct().collect()
    assert [r["component"] for r in comps] == [0]

    # below the cap nothing changes: exact expansion of a 3-dup bucket
    small = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon"),
         (3, "alpha beta gamma delta epsilon"), (4, "totally different words entirely here")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_signatures(small, "text", "doc_id"), max_bucket=64).collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_embedding_near_dup_hot_bucket(spark):
    """Same cap discipline on the embedding-LSH path: identical vectors
    flood one bucket → star output, threshold filter still applies."""
    from enterprise_iot_bigdata_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    vec = [1.0] + [0.0] * 63
    df = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(x).cast("float") for x in vec]).alias("embedding"),
    )
    pairs = embedding_near_dup_pairs(df, threshold=0.99, max_bucket=50).collect()
    assert len(pairs) == 499
    assert {r["vec_a"] for r in pairs} == {0}
    assert all(r["cos_sim"] >= 0.99 for r in pairs)


def test_coarse_quantizer_deterministic(spark):
    """Same corpus + seed → identical centroids (the memoized IVF index
    must be reproducible across sessions)."""
    from enterprise_iot_bigdata_pipeline_spark.operators.similarity import (
        train_coarse_quantizer,
    )
    from enterprise_iot_bigdata_pipeline_spark.plans.tables import t

    from tests.conftest import SF_SMOKE

    emb = t(spark, SF_SMOKE, "embeddings")
    c1 = train_coarse_quantizer(emb, "embedding", 8, seed=7)
    c2 = train_coarse_quantizer(emb, "embedding", 8, seed=7)
    assert c1 == c2
    assert len(c1) == 8 and len(c1[0]) == 64


def test_fill_gaps_densifies_and_ffills(spark):
    """Gap-fill: every step tick between a group's min and max appears;
    missing ticks carry nulls (or the last seen value with ffill) — the
    dashboard's continuous minute-series semantics."""
    from datetime import datetime as dt

    from enterprise_iot_bigdata_pipeline_spark.operators.dashboard import fill_gaps

    rows = [
        ("u1", dt(2024, 3, 1, 10, 0), 10.0),
        ("u1", dt(2024, 3, 1, 10, 3), 13.0),   # minutes 1, 2 missing
        ("u2", dt(2024, 3, 1, 10, 1), 21.0),
    ]
    df = spark.createDataFrame(rows, "unit string, ts timestamp, speed double")

    dense = fill_gaps(df, "ts", ["unit"], ["speed"], step_seconds=60)
    u1 = {r["ts"].minute: r["speed"] for r in dense.filter("unit = 'u1'").collect()}
    assert sorted(u1) == [0, 1, 2, 3]                  # spine complete
    assert u1[0] == 10.0 and u1[3] == 13.0
    assert u1[1] is None and u1[2] is None             # gaps are null

    filled = fill_gaps(df, "ts", ["unit"], ["speed"], step_seconds=60, ffill=True)
    u1f = {r["ts"].minute: r["speed"] for r in filled.filter("unit = 'u1'").collect()}
    assert u1f == {0: 10.0, 1: 10.0, 2: 10.0, 3: 13.0}  # carried forward
    # single-point group: spine of one tick, untouched value
    u2 = [(r["ts"].minute, r["speed"]) for r in filled.filter("unit = 'u2'").collect()]
    assert u2 == [(1, 21.0)]


def test_ckpt_leaf_fallback_warns(spark, monkeypatch):
    """A Spark upgrade that removes the private internalCreateDataFrame
    path must not degrade _ckpt_leaf silently back to the stats-blowup
    behavior it exists to prevent — the fallback (a temp-parquet
    round-trip leaf, public API only) stays CORRECT but warns. The
    simulation removes ONLY the private method (a delegating proxy), so
    the fallback's own write/read path still has a working session."""
    import warnings

    import pytest

    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import _ckpt_leaf

    healthy = spark.range(5)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # healthy path: no warning at all
        out = _ckpt_leaf(healthy)
    assert out.count() == 5

    class _NoPrivateApi:
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            if name == "internalCreateDataFrame":
                raise AttributeError("removed in this Spark version (simulated)")
            return getattr(self._real, name)

    df = spark.range(7)
    monkeypatch.setattr(
        spark, "_jsparkSession", _NoPrivateApi(spark._jsparkSession), raising=False
    )
    with pytest.warns(RuntimeWarning, match="_ckpt_leaf"):
        out2 = _ckpt_leaf(df)
    assert sorted(r.id for r in out2.collect()) == list(range(7))
    # the fallback leaf must be a fresh SCAN (stats reset), not the
    # checkpointed LogicalRDD carrying the origin estimate
    assert "LogicalRDD" not in out2._jdf.queryExecution().analyzed().toString()


def test_ckpt_leaf_fallback_location_and_cleanup(spark):
    """ADVICE r10: the fallback leaf must live somewhere EVERY executor
    can see — checkpoint dir when set, driver tempdir only under a local
    master, hard error otherwise (a driver-local path on a cluster means
    silent row loss on read-back, not an error) — and every directory it
    writes must be registered for atexit cleanup, not left to an OS temp
    reaper that may never run."""
    import os

    import pytest

    from enterprise_iot_bigdata_pipeline_spark.operators import dedup

    # decision table
    kind, path = dedup._leaf_target(None, "local[4]")
    assert kind == "local" and os.path.isdir(path)
    os.rmdir(path)
    kind, path = dedup._leaf_target("/shared/ck/", "spark://host:7077")
    assert kind == "shared" and path.startswith("/shared/ck/ckpt_leaf_")
    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        dedup._leaf_target(None, "spark://host:7077")
    with pytest.raises(RuntimeError, match="SHARED"):
        dedup._leaf_target(None, "yarn")

    # end-to-end on the local session: dir registered, cleanup removes it
    before = list(dedup._LEAF_DIRS)
    out = dedup._ckpt_leaf_fallback(spark.range(3))
    assert out.count() == 3
    new = [d for d in dedup._LEAF_DIRS if d not in before]
    assert len(new) == 1 and new[0][0] == "local"
    leaked = new[0][1]
    assert os.path.isdir(leaked)
    dedup._cleanup_leaf_dirs()
    assert not os.path.exists(leaked)
    assert dedup._LEAF_DIRS == []


def test_shared_leaf_cleanup_survives_session_stop(spark, tmp_path):
    """r11 ADVICE: shared-dir cleanup must not resolve the session at
    atexit time — after spark.stop(), getActiveSession() is None and the
    old code silently leaked every shared leaf. The deleter is a JVM
    filesystem handle captured at REGISTRATION; cleanup only invokes it."""
    from enterprise_iot_bigdata_pipeline_spark.operators import dedup

    # the captured-handle path works against a real directory via the
    # live session's Hadoop FS (local fs here; same API on hdfs/s3a)
    victim = tmp_path / "shared_leaf"
    victim.mkdir()
    (victim / "part-0").write_text("x")
    deleter = dedup._shared_dir_deleter(spark, str(victim))
    assert deleter is not None

    # cleanup path: never consults getActiveSession, only the closure
    from pyspark.sql import SparkSession

    before = list(dedup._LEAF_DIRS)
    dedup._register_leaf_dir("shared", str(victim), deleter)
    orig = SparkSession.getActiveSession
    try:
        SparkSession.getActiveSession = staticmethod(lambda: None)  # stopped app
        dedup._cleanup_leaf_dirs()
    finally:
        SparkSession.getActiveSession = orig
        dedup._LEAF_DIRS.extend(before)
    assert not victim.exists()


def test_sessionize_two_phase_matches_single_pass(spark):
    """Chunk-boundary algebra: sessions that straddle bucket edges, gaps
    exactly at the threshold, empty buckets in between, ties on ts, and a
    hot key — all must reproduce the single-pass assignment exactly."""
    from pyspark.sql import Window as W

    from enterprise_iot_bigdata_pipeline_spark.operators.sessionize import (
        sessionize_two_phase,
    )

    rows = []
    # user 1: session straddles midnight (23:50 -> 00:10 next day, gap 20m)
    rows += [(1, 1, "2024-03-01 23:50:00"), (2, 1, "2024-03-02 00:10:00")]
    # user 1: same-day gap exactly 30m (boundary: NOT a new session)
    rows += [(3, 1, "2024-03-02 00:40:00")]
    # user 1: gap 30m + 1s (new session)
    rows += [(4, 1, "2024-03-02 01:10:01")]
    # user 1: empty bucket between events (2 days later -> new session)
    rows += [(5, 1, "2024-03-04 01:00:00")]
    # user 2: tie on ts (event_id breaks the tie), single session
    rows += [(6, 2, "2024-03-01 12:00:00"), (7, 2, "2024-03-01 12:00:00")]
    # user 3 (hot-ish): every 20 min across 3 days = one long session
    # crossing two midnights, plus a later separate session
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 22, 0, 0)
    rows += [
        (100 + i, 3, (t0 + dt.timedelta(minutes=20 * i)).strftime("%Y-%m-%d %H:%M:%S"))
        for i in range(200)
    ]
    rows += [(999, 3, "2024-03-20 09:00:00")]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts string").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )

    # single-pass reference
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")), F.lit(1)
    ).otherwise(F.lit(0))
    ref = ev.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )

    got = sessionize_two_phase(ev, gap="30 minutes", bucket="1 day")
    r = {x["event_id"]: x["session_id"] for x in ref.collect()}
    g = {x["event_id"]: x["session_id"] for x in got.collect()}
    assert g == r
    # sanity on the crafted cases
    assert g[1] == g[2] == g[3] == 1  # straddle + exact-30m boundary
    assert g[4] == 2 and g[5] == 3     # 30m+1s, then empty-bucket gap
    assert g[6] == g[7] == 1
    assert g[100] == g[299] == 1 and g[999] == 2  # 3-day session is ONE


def test_sessionize_two_phase_bucket_shorter_than_gap_still_exact(spark):
    """The bucket length is a pure parallelism knob: even with bucket ≪
    gap (sessions spanning MANY chunks, with empty buckets inside a live
    session), the chunk-summary lag compares real timestamps and the
    assignment matches the single-pass form exactly."""
    import datetime as dt

    from pyspark.sql import Window as W

    from enterprise_iot_bigdata_pipeline_spark.operators.sessionize import (
        sessionize_two_phase,
    )

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows = []
    # session 1: events every 90 min (gap 2h, bucket 30min → every event
    # in its own chunk with 2 empty buckets in between, all ONE session)
    rows += [
        (i, 1, (t0 + dt.timedelta(minutes=90 * i)).strftime("%Y-%m-%d %H:%M:%S"))
        for i in range(8)
    ]
    # then 2h+1s of silence → session 2
    last = t0 + dt.timedelta(minutes=90 * 7)
    rows += [(99, 1, (last + dt.timedelta(hours=2, seconds=1)).strftime("%Y-%m-%d %H:%M:%S"))]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts string").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 2 HOURS")), F.lit(1)
    ).otherwise(F.lit(0))
    ref = {
        r["event_id"]: r["sid"]
        for r in ev.withColumn(
            "sid", F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        ).collect()
    }
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize_two_phase(ev, gap="2 hours", bucket="30 minutes").collect()
    }
    assert got == ref
    assert got[0] == got[7] == 1 and got[99] == 2

    # named validation error for a bad interval spec, before any job
    import pytest

    with pytest.raises(ValueError, match="unit"):
        sessionize_two_phase(ev, gap="2 fortnights")


def test_grid_radius_self_join_matches_brute_force(spark):
    """Grid-bucketed pairs ≡ brute-force pairs, including a negative-coord
    quadrant (floor-division cells) and a pair exactly AT the radius
    (boundary is inclusive)."""
    import itertools

    from enterprise_iot_bigdata_pipeline_spark.operators.spatial import (
        grid_radius_self_join,
    )

    pts = [
        (1, 0, 0),
        (2, 5, 0),          # exactly at radius 5 from id 1 — must be kept
        (3, 3, 4),          # dist 5 from id 1 (3-4-5), 4.47.. from id 2
        (4, -7, -2),        # negative quadrant
        (5, -9, -5),        # dist sqrt(4+9)=3.6 from id 4
        (6, 100, 100),      # isolated
        (7, -7, 3),         # dist 5 from id 4 (cells differ by 1 on y)
    ]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        (r.id_a, r.id_b, r.dist2)
        for r in grid_radius_self_join(df, "id", "x", "y", 5).collect()
    }
    want = set()
    for (ia, xa, ya), (ib, xb, yb) in itertools.combinations(pts, 2):
        d2 = (xa - xb) ** 2 + (ya - yb) ** 2
        if d2 <= 25:
            want.add((min(ia, ib), max(ia, ib), d2))
    assert got == want
    assert (1, 2, 25) in want  # the boundary pair really is in the answer


def test_grid_radius_self_join_emits_each_pair_once(spark):
    """Points in the SAME cell (the 0-offset probe overlaps the build side)
    must still pair exactly once."""
    from enterprise_iot_bigdata_pipeline_spark.operators.spatial import (
        grid_radius_self_join,
    )

    df = spark.createDataFrame(
        [(1, 10, 10), (2, 11, 11), (3, 12, 10)], "id long, x long, y long"
    )
    rows = grid_radius_self_join(df, "id", "x", "y", 100).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert sorted(pairs) == [(1, 2), (1, 3), (2, 3)]
    assert len(pairs) == len(set(pairs))

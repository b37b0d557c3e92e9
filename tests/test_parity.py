"""Differential test: every registered query with an oracle must match the
DuckDB oracle on the sf0.001 corpus (the driver runs the same check at
sf0.01)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare, duck_connection


def _pairs():
    from enterprise_iot_bigdata_pipeline_spark.plans import all_oracles, all_queries

    q = all_queries()
    o = all_oracles()
    return [(name, q[name], o[name]) for name in sorted(o)]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name,fn,oracle", _pairs(), ids=[p[0] for p in _pairs()])
def test_oracle_parity(spark, duck, name, fn, oracle):
    compare(fn(spark, SF_SMOKE), oracle, duck, name)


def test_driver_canonicalizable_schemas(spark):
    """Driver-canonicalization contract: no registered query may surface a
    top-level array/map/struct column. The driver's correctness gate
    canonicalizes results with a pandas lexsort, which cannot hash or
    factorize list/dict/Row cells (`TypeError: unhashable type: 'list'` —
    the round-6 `embeddings_jl_project` red row). Nested data must be
    flattened to scalar columns (p00..p15-style) or reduced to checksums
    before it leaves a registered query."""
    from pyspark.sql import types as T

    from enterprise_iot_bigdata_pipeline_spark.plans import all_queries

    banned = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name, fn in sorted(all_queries().items()):
        for field in fn(spark, SF_SMOKE).schema.fields:
            if isinstance(field.dataType, banned):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, f"non-canonicalizable top-level columns: {offenders}"


def test_all_queries_run(spark):
    """Queries without oracles must still execute and return a schema."""
    from enterprise_iot_bigdata_pipeline_spark.plans import all_oracles, all_queries

    q = all_queries()
    o = all_oracles()
    for name in sorted(set(q) - set(o)):
        df = q[name](spark, SF_SMOKE)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_explain_audit_assertions_green(spark):
    """Every plan-hygiene assertion in tools/explain_audit.py must hold —
    pushdown, broadcast-where-expected, fact-fact SMJ, no cartesian,
    Arrow-batched Python, curate's no-recompute checkpoint. Runs at sf0.01
    (the audit's own scale: some join strategies are size-dependent —
    at smoke scale every side broadcasts and the SMJ check can't bind)."""
    from tests.conftest import SF_CORRECT
    from tools.gate import run

    problems = run(spark, ["explain"], sf_dirs=[SF_CORRECT]).problems()
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_lsh_buckets_below_oracle_cap(spark, sf_dir):
    """The LSH pair queries cap hot buckets (star fallback past max_bucket)
    but their DuckDB oracles are uncapped all-pairs self-joins — they only
    agree while NO bucket at the verified scale factors exceeds the cap.
    This guard fails loudly if the test corpus ever grows a hot bucket, at
    which point the oracle must mirror the cap (round-2 advice)."""
    from pyspark.sql import functions as F

    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        minhash_signatures,
    )
    from enterprise_iot_bigdata_pipeline_spark.operators.similarity import (
        random_projection_buckets,
    )
    from enterprise_iot_bigdata_pipeline_spark.plans.tables import t

    docs = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "text", "doc_id", 16, 42)
    band_cols = []
    for b in range(4):
        cols = [F.col(f"h{b * 4 + r}") for r in range(4)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[c.cast("string") for c in cols])).alias("key"),
            )
        )
    hottest_band = (
        sigs.select(F.explode(F.array(*band_cols)).alias("bk"))
        .groupBy("bk.band", "bk.key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert hottest_band <= DEFAULT_MAX_BUCKET, (
        f"minhash band bucket of {hottest_band} members exceeds the "
        f"{DEFAULT_MAX_BUCKET} cap at {sf_dir}: oracle and query diverge"
    )

    emb = t(spark, sf_dir, "embeddings")
    for seed in (7, 7 + 101):  # both multiround plane seeds
        hottest_emb = (
            random_projection_buckets(emb, n_planes=8, seed=seed)
            .groupBy("bucket")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert hottest_emb <= DEFAULT_MAX_BUCKET, (
            f"embedding LSH bucket of {hottest_emb} members (seed {seed}) "
            f"exceeds the {DEFAULT_MAX_BUCKET} cap at {sf_dir}"
        )


def test_lsh_star_cap_mirrored_in_oracle(spark, tmp_path):
    """A boilerplate flood past the 1024-member bucket cap: the Spark side
    star-expands, and the oracle SQL must produce the IDENTICAL pair set —
    the cap is part of the operator's contract, not a hidden divergence."""
    import duckdb

    from enterprise_iot_bigdata_pipeline_spark.operators import dedup as D
    from enterprise_iot_bigdata_pipeline_spark.plans.text import _MINHASH_ORACLE
    from oracle_compare import compare

    rows = [(i, "the same boilerplate text repeated in every doc") for i in range(1100)]
    rows += [(2000 + i, f"unique filler document number {i} with words w{i} x{i} y{i}") for i in range(20)]
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    docs = spark.createDataFrame(pdf)
    sigs = D.minhash_signatures(docs, "text", "doc_id", 16, 42)
    pairs = D.lsh_candidate_pairs(sigs, 16, 4)
    # star cap: 1100 identical docs yield 1099 pairs (min paired with all),
    # not 1100*1099/2
    n = pairs.count()
    assert n < 10_000, f"cap did not engage: {n} pairs"

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    compare(pairs, _MINHASH_ORACLE, con, "minhash_flood")


def test_value_stats_constant_group_parity(spark, tmp_path):
    """A constant-valued group's stddev numerator lands at ~-1e-18 in
    doubles; without the clamp Spark yields NaN and DuckDB ERRORS on the
    negative sqrt. Both sides must clamp to exactly 0.0."""
    import duckdb
    import pandas as pd

    from enterprise_iot_bigdata_pipeline_spark.plans import all_oracles, all_queries
    from oracle_compare import compare

    pdf = pd.DataFrame(
        {
            "event_id": range(6),
            "ts": pd.to_datetime(["2024-01-01 00:00:00"] * 6),
            "user_id": [1, 2, 3, 4, 5, 6],
            "event_type": ["click", "click", "view", "view", "view", "error"],
            "value": [0.1, 0.1, 0.2, 0.2, 0.2, 5.0],  # constant per group
            "props": ['{"k": 1}'] * 6,
        }
    )
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    df = all_queries()["agg_value_stats"](spark, str(tmp_path))
    compare(df, all_oracles()["agg_value_stats"], con, "value_stats_constant")
    got = {r["event_type"]: r["stddev_value"] for r in df.collect()}
    assert got["click"] == 0.0 and got["view"] == 0.0
    assert got["error"] is None  # singleton group


def test_parse_s3_key_malformed_yields_nulls(spark):
    """ANSI mode: a malformed key (too few path segments) must produce
    NULL fields, not an INVALID_ARRAY_INDEX job abort."""
    from pyspark.sql import functions as F

    from enterprise_iot_bigdata_pipeline_spark.functions.keys import parse_s3_key

    df = spark.createDataFrame([("file.parquet",), ("a/b.parquet",)], "key string")
    rows = df.select(parse_s3_key(F.col("key")).alias("p")).select("p.*").collect()
    assert rows[0]["hiveperiod"] is None
    assert rows[0]["filename"] == "file.parquet"
    assert rows[1]["dstrct_code"] == "a"  # best-effort on 2 segments


def test_words_vertical_tab_matches_re2(spark):
    """Java \\s includes \\x0B, RE2's does not — the tokenizer must use
    the explicit RE2-equivalent class so both engines see ONE token."""
    from pyspark.sql import functions as F

    from enterprise_iot_bigdata_pipeline_spark.functions.text import token_count

    df = spark.createDataFrame([("a\x0bb",), ("a b",)], "text string")
    out = [r[0] for r in df.select(token_count(F.col("text"))).collect()]
    assert out == [1, 2]
    import duckdb

    duck = duckdb.connect().execute(
        r"SELECT len(regexp_split_to_array('a' || chr(11) || 'b', '\s+'))"
    ).fetchone()[0]
    assert out[0] == duck

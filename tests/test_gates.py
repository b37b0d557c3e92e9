"""The gate runner itself (tools/gate.py): one shared walk, one exemption
ledger with a stale-entry rule, one scoped-conf helper, one sweep format.

The registry-clean assertions of each check live beside their planted
self-tests (test_null_audit.py, test_vacuity_audit.py, ...); this file
pins the machinery they all share.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")


def test_plan_checks_share_one_build(spark):
    """null, replay and scan at sf0.001 build each query's frame once."""
    from tools.gate import run

    builds = []

    def counted(spark, sf_dir):
        builds.append(sf_dir)
        return _orders(spark, sf_dir)

    report = run(spark, ["null", "replay", "scan"], queries={"q": counted})
    assert builds == [SF_SMOKE]
    assert {c for c, _, _ in report.audited} == {"null", "replay", "scan"}
    assert report.problems() == []


def test_plan_checks_skip_streaming_slots(spark):
    from tools.gate import run

    report = run(spark, ["scan"], queries={"streaming_x": _orders, "q": _orders})
    assert {name for _, _, name in report.audited} == {"q"}


def test_stale_exemption_fails_the_gate(spark, monkeypatch):
    """A ledger entry whose query no longer shows the finding must fail,
    but only when its check actually audited that query."""
    from tools import gate

    monkeypatch.setitem(gate.EXEMPT, ("null", "clean"), "planted stale entry")
    report = gate.run(spark, ["null"], queries={"clean": _orders})
    assert report.stale_exemptions() == [("null", "clean")]
    assert any("STALE" in p for p in report.problems())

    # a run that never audited "clean" cannot call its entry stale
    report = gate.run(spark, ["scan"], queries={"clean": _orders})
    assert report.problems() == []


def test_exemption_covers_its_finding_only(spark, monkeypatch):
    """A fired entry silences its finding; a kinded entry covers only
    its kind; errors are never exemptible."""
    from tools import gate

    def nullable_flag(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return df.select((F.col("o_custkey") > 0).alias("flag"))

    def broken(spark, sf_dir):
        raise RuntimeError("boom")

    queries = {"flag": nullable_flag, "broken": broken}
    report = gate.run(spark, ["null"], queries=queries)
    assert [name for _, _, name, _ in report.unexempted()] == ["broken", "flag"]

    monkeypatch.setitem(gate.EXEMPT, ("null", "flag"), "planted")
    monkeypatch.setitem(gate.EXEMPT, ("null", "broken"), "errors stay loud")
    report = gate.run(spark, ["null"], queries=queries)
    assert [name for _, _, name, _ in report.unexempted()] == ["broken"]
    assert report.stale_exemptions() == [("null", "broken")]

    monkeypatch.delitem(gate.EXEMPT, ("null", "flag"))
    monkeypatch.delitem(gate.EXEMPT, ("null", "broken"))
    monkeypatch.setitem(gate.EXEMPT, ("null", "flag", "other-kind"), "planted")
    report = gate.run(spark, ["null"], queries={"flag": nullable_flag})
    assert report.unexempted() and report.stale_exemptions()


def test_scoped_conf_restores_set_and_unset_keys(spark):
    from tools.gate import scoped_conf

    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.gate.test.unset"
    before = spark.conf.get(set_key)
    with scoped_conf(spark, {set_key: "3", unset_key: "x"}):
        assert spark.conf.get(set_key) == "3"
        assert spark.conf.get(unset_key) == "x"
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


def test_oracle_check_writes_the_sweep_format(spark):
    from tools.gate import run, sweep_artifact

    def broken(spark, sf_dir):
        return _orders(spark, sf_dir).limit(1)

    queries = {"ok": _orders, "rows_only": _orders, "broken": broken}
    oracles = {
        "ok": "SELECT o_orderkey FROM orders",
        "broken": "SELECT o_orderkey FROM orders",
    }
    report = run(spark, ["oracle"], sf_dirs=[SF_SMOKE], queries=queries, oracles=oracles)
    artifact = sweep_artifact(report, oracles)
    statuses = artifact["sf_dirs"][SF_SMOKE]
    assert statuses["ok"] == "ok"
    assert statuses["rows_only"] == "rows-only-ok"
    assert statuses["broken"].startswith("FAIL: ")
    assert (artifact["n_queries"], artifact["n_failures"]) == (3, 1)


def test_explain_tables_name_registered_queries():
    from enterprise_iot_bigdata_pipeline_spark.plans import all_queries
    from tools import explain_audit

    listed = set(explain_audit.AUDITED) | set(explain_audit.CHECKS)
    listed |= set(explain_audit.CONF_OVERRIDES) | explain_audit.STREAM_AUDITED
    assert sorted(listed - set(all_queries())) == []

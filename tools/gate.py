"""One gate runner for every registry-walking correctness check.

The registry is walked once per corpus: each query's frame is built once
and handed to every check that runs on that corpus, so the plan lints
(null, replay, scan) and the sf0.001 vacuity pass share one build.

Checks (several may run in one walk):

  null     NULL-semantics lint over optimized plans (batch queries)
  replay   struct-replay lint over optimized plans (batch queries)
  scan     parquet scans per executed plan, capped at SCAN_CAP (batch)
  vacuity  empty / constant / scale-insensitive outputs (sf0.001 and
           sf0.01, escalating identical pairs to sf0.1)
  dop      value hash under two degrees of parallelism, plus the DuckDB
           oracle under threads=1 vs 8
  ansi     value hash under spark.sql.ansi.enabled=true vs false
  n0       Spark vs DuckDB on a zero-row copy of every sf0.001 table
  n1       Spark vs DuckDB on the first row of every sf0.001 table
  oracle   Spark vs DuckDB oracle, the driver's compare (rows-only for a
           query without an oracle); runs alone, in a driver-like session
  explain  plan-hygiene assertions of tools/explain_audit.py; a full run
           rewrites EXPLAIN.md

Findings of a query are exempt only through EXEMPT, one ledger keyed
(check, query[, finding kind]) with a written reason per entry. An entry
that no longer fires on a query its check audited is stale and fails the
gate. Errors and n0/n1 divergences are never exemptible.

Run:
  python tools/gate.py null replay scan vacuity     # Tier-1's plan + vacuity walk
  python tools/gate.py dop ansi n0 n1 --names a,b   # the probes on a subset
  python tools/gate.py oracle --sf DIR [--sf DIR ...] [--out SWEEP.json]
  python tools/gate.py explain                      # sf0.01; rewrites EXPLAIN.md

Default corpora: sf0.001 for null/replay/scan/dop/ansi, sf0.001 + sf0.01
for oracle, sf0.01 for explain; ``--sf`` replaces them. Exits non-zero on
any unexempted finding or stale exemption.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import re
import sys
import tempfile
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
for _p in (REPO, REPO / "tests"):
    if str(_p) not in sys.path:
        sys.path.insert(0, str(_p))

from oracle_compare import (  # noqa: E402
    canonical_hash,
    canonical_rows,
    compare,
    duck_connection,
)

from tools import explain_audit  # noqa: E402

TESTDATA = "/root/testdata"
SF_SMOKE = f"{TESTDATA}/sf0.001"
SF_CORRECT = f"{TESTDATA}/sf0.01"
SF_ESCALATE = f"{TESTDATA}/sf0.1"

# --------------------------------------------------------------------------
# Exemption ledger
# --------------------------------------------------------------------------

# (check, query[, finding kind]) -> written reason the finding is legitimate.
# A two-part key covers every finding of the query under that check; a
# three-part key covers one kind (the text before a finding's first ':').
# Every entry must still fire (stale_exemptions) — delete it when fixed.
EXEMPT: dict[tuple[str, ...], str] = {
    ("null", "events_kmv_type_overlap"): (
        "order key h is the md5-derived 60-bit KMV hash of an "
        "isnotnull-pinned user_id; the localCheckpoint that fixes the "
        "9x-scan repeat (scan check) erases the lineage the prover needs"
    ),
    ("null", "users_rfm_segments"): (
        "order key v is recency/frequency over a ts-pinned corpus (both "
        "engines filter ts IS NOT NULL); the per-user reduction's "
        "localCheckpoint (22x-scan fix) erases the lineage"
    ),
    ("null", "sessionize_two_phase"): (
        "chunk summaries pass through the two-phase merge's checkpoint; "
        "_bucket derives from the query's pinned ts upstream of it"
    ),
    ("null", "events_fill_gaps"): (
        "value columns ride the ffill ordering only as an explicit "
        "asc_nulls_first determinism tiebreak, inert here because the "
        "input is pre-resampled to one row per (group, tick)"
    ),
    ("null", "variant_extract_fields"): (
        "boolean 'flag' is EXTRACTED payload (variant_get), where NULL "
        "is a legitimate data value both engines produce identically — "
        "coalescing would misreport absent fields as false"
    ),
    ("replay", "timeseries_interpolate"): (
        "prev_v/prev_t (and next_v/next_t) are synchronized BY "
        "CONSTRUCTION: both read through the same v_obs-keyed when() — "
        "obs_tick is NULL exactly when v_obs is, so the two reads cannot "
        "resolve to different rows (DEVNOTES session 4 hand-audit)"
    ),
    ("replay", "events_fill_gaps"): (
        "per-column forward-fill is the DOCUMENTED per-metric semantics "
        "(operators/dashboard.py:91-133): each metric carries its own "
        "last observation independently, like independent sensor ffill — "
        "atomic struct replay would be wrong here"
    ),
    ("vacuity", "pysource_ramp_scan", "scale-insensitive"): (
        "the Python DataSource V2 slot GENERATES its rows (a "
        "deterministic arithmetic ramp) — it exercises reader "
        "plumbing (partition planning, Arrow batches), not the "
        "corpus; input-independence is its contract"
    ),
    ("vacuity", "join_dormant_balances_q22", "empty"): (
        "dormant high-balance accounts (above-mean balance AND zero "
        "orders) genuinely don't exist in the sf<=0.01 corpora — "
        "every above-mean customer has at least one order; the shape "
        "is non-vacuously covered at sf0.1 (1 row) and by the "
        "nasty-dims battery (orphaned MACHINERY customer row)"
    ),
}

# An erroring query cannot pass the check it was meant to be gated by, and
# a silent n0/n1 divergence is the bug class those probes exist to find.
NEVER_EXEMPT = {"error", "diverges"}


def _kind(finding: str) -> str:
    return finding.split(":", 1)[0]


# --------------------------------------------------------------------------
# Walk
# --------------------------------------------------------------------------


@contextlib.contextmanager
def scoped_conf(spark, conf: dict[str, str]):
    """Set ``conf`` on the session for the block, then restore every key
    to its previous value (unsetting keys that were unset)."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class Query:
    """One registered query on one corpus. Its frame is built on first use
    and shared by every check that reads it; a build error is kept and
    re-raised to each of them."""

    def __init__(self, spark, name, fn, sf_dir, oracle):
        self.spark, self.name, self.fn = spark, name, fn
        self.sf_dir, self.oracle = sf_dir, oracle
        self._df = None

    @property
    def df(self):
        if self._df is None:
            try:
                self._df = self.fn(self.spark, self.sf_dir)
            except Exception as exc:  # noqa: BLE001 — re-raised per check
                self._df = exc
        if isinstance(self._df, Exception):
            raise self._df
        return self._df


@dataclass
class Report:
    findings: dict[tuple[str, str, str], list[str]] = field(default_factory=dict)
    audited: set[tuple[str, str, str]] = field(default_factory=set)
    # per-check working state shared across corpora: vacuity hashes,
    # explain sections, and DuckDB connections while the run lasts
    state: dict[str, dict] = field(default_factory=dict)

    def unexempted(self, check: str | None = None) -> list[tuple[str, str, str, list[str]]]:
        out = []
        for (c, sf, name), fs in sorted(self.findings.items()):
            if check not in (None, c):
                continue
            bad = [f for f in fs if _exemption(c, name, f) is None]
            if bad:
                out.append((c, sf, name, bad))
        return out

    def stale_exemptions(self, check: str | None = None) -> list[tuple[str, ...]]:
        fired = {
            _exemption(c, name, f)
            for (c, _, name), fs in self.findings.items()
            for f in fs
        }
        audited = {(c, name) for c, _, name in self.audited}
        return [
            key
            for key in EXEMPT
            if check in (None, key[0]) and key[:2] in audited and key not in fired
        ]

    def problems(self, check: str | None = None) -> list[str]:
        """Every unexempted finding and stale exemption, one line each."""
        lines = [
            f"{c} {name} @ {sf}: {'; '.join(fs)}"
            for c, sf, name, fs in self.unexempted(check)
        ]
        lines += [
            f"STALE exemption (no longer fires — delete it): {key}"
            for key in self.stale_exemptions(check)
        ]
        return lines


def _exemption(check: str, name: str, finding: str):
    kind = _kind(finding)
    if kind in NEVER_EXEMPT:
        return None
    for key in ((check, name), (check, name, kind)):
        if key in EXEMPT:
            return key
    return None


@dataclass(frozen=True)
class Check:
    fn: Callable[[Query, Report], list[str]]
    # default corpora; None means the check picks its own (see _corpora)
    sf_dirs: tuple[str, ...] | None
    batch_only: bool = False
    wants: Callable[[str, str, Report], bool] = lambda name, sf, report: True


def _scale(sf_dir: str) -> float:
    m = re.search(r"sf([\d.]+)$", sf_dir)
    return float(m.group(1)) if m else 0.0


def run(
    spark,
    checks,
    names=None,
    sf_dirs=None,
    queries: dict | None = None,
    oracles: dict | None = None,
) -> Report:
    """Run ``checks`` over the registry (or the ``queries``/``oracles``
    given, for self-tests), restricted to ``names`` if set. ``sf_dirs``
    replaces the default corpora of the checks that take one."""
    if queries is None:
        from enterprise_iot_bigdata_pipeline_spark.plans import (
            all_oracles,
            all_queries,
        )

        queries, oracles = all_queries(), all_oracles()
    oracles = oracles or {}
    report = Report()
    with tempfile.TemporaryDirectory(prefix="gate_corpus_") as tmp:
        per_sf: dict[str, list[str]] = {}
        for c in checks:
            for sf in _corpora(c, sf_dirs, tmp):
                per_sf.setdefault(sf, []).append(c)
        try:
            _walk(spark, per_sf, names, queries, oracles, report)
        finally:
            for con in report.state.pop("duck", {}).values():
                con.close()
    return report


def _walk(spark, per_sf, names, queries, oracles, report: Report) -> None:
    """Build each (corpus, query) frame at most once and hand it to every
    check in ``per_sf[corpus]`` that wants the query."""
    for sf in sorted(per_sf, key=_scale):
        for name in sorted(queries):
            if names and name not in names:
                continue
            todo = [
                c
                for c in per_sf[sf]
                if not (CHECKS[c].batch_only and name.startswith("streaming_"))
                and CHECKS[c].wants(name, sf, report)
            ]
            if not todo:
                continue
            q = Query(spark, name, queries[name], sf, oracles.get(name))
            for c in todo:
                report.audited.add((c, sf, name))
                try:
                    fs = CHECKS[c].fn(q, report)
                except Exception as exc:  # noqa: BLE001 — report, don't die
                    fs = [f"error: {type(exc).__name__}: {str(exc)[:200]}"]
                if fs:
                    report.findings.setdefault((c, sf, name), []).extend(fs)


def _corpora(check: str, sf_dirs, tmp: str) -> tuple[str, ...]:
    if check == "vacuity":
        return (SF_SMOKE, SF_CORRECT, SF_ESCALATE)
    if check in ("n0", "n1"):
        return (build_tiny_corpus(str(Path(tmp) / check), int(check[1])),)
    return tuple(sf_dirs) if sf_dirs else CHECKS[check].sf_dirs


def _duck(report: Report, sf_dir: str, threads: int | None = None):
    cons = report.state.setdefault("duck", {})
    if (sf_dir, threads) not in cons:
        con = duck_connection(sf_dir)
        if threads is not None:
            con.execute(f"SET threads={threads}")
        cons[(sf_dir, threads)] = con
    return cons[(sf_dir, threads)]


def _rows_hash(pdf) -> str:
    return canonical_hash(canonical_rows(pdf))


# --------------------------------------------------------------------------
# null: NULL-semantics lint over optimized plans
# --------------------------------------------------------------------------
#
# Two cross-engine divergence classes are mechanically detectable from a
# query's logical plan and output schema:
#
# 1. Un-pinned nullable ORDER keys where order changes VALUES. The driver
#    compare hashes values order-insensitively, so a bare global sort is
#    harmless — but a nullable ordering key diverges engines in a window
#    function's orderSpec (lag/rank/running sums compute DIFFERENT values
#    under Spark's ASC-NULLS-FIRST vs DuckDB's NULLS-LAST default) and in a
#    sort feeding a LIMIT (the NULL block lands at opposite ends, changing
#    which rows survive truncation). The fix pattern is an IS NOT NULL pin
#    on the key in BOTH engines; the lint requires a provable non-NULL
#    witness for the key (or a non-nullable key).
# 2. Nullable BOOLEAN output columns. pandas reprs of NULL booleans diverge
#    per engine; coalesce(x, lit(False)) narrows the flag.

# Table PRIMARY keys: non-NULL by the data model (TESTDATA.md generators)
# AND by every adversarial battery (tests/test_nasty_*.py build PKs as
# i+1; only foreign keys, dates, values, and text columns are nullified).
# An ordering tiebreaker on a PK cannot produce the NULL-placement
# divergence this lint hunts, whatever the parquet nullability flag
# says — FOREIGN keys (o_custkey, l_partkey, ...) stay strict: the
# orders/dims batteries nullify those deliberately.
# (l_orderkey is NOT here: in lineitem it is a FOREIGN key the orders
# battery nullifies — whitelisting it hid the fifo_return_allocation
# NULL-ordering divergence until the r11 decorrelated battery hit it.)
# tests/test_whitelist_derivation.py RECOMPUTES this set from the data:
# every entry must exist in a corpus table, be NULL-free at all three
# SFs, and be NULL-free in its nasty-battery generator.
NONNULL_KEYS = {
    "event_id",
    "doc_id",
    "vec_id",
    "o_orderkey",
    "l_linenumber",
    "c_custkey",
    "s_suppkey",
    "p_partkey",
    "n_nationkey",
    "r_regionkey",
}


def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


# Expression classes whose output is non-NULL whenever every child is
# non-NULL (null-intolerant scalars). ANSI mode (the Spark 4 default this
# engine pins) turns the "partial" cases — divide-by-zero, decimal
# overflow — into raised errors rather than NULLs, so arithmetic belongs
# here. Anything NOT listed is treated as possibly-NULL-introducing
# (lag/lead, sum-over-group, get_json_object, element_at, ...).
NULL_INTOLERANT = {
    "Alias", "Cast", "UpCast", "CheckOverflow", "PromotePrecision",
    "KnownFloatingPointNormalized", "NormalizeNaNAndZero", "KnownNotNull",
    "Add", "Subtract", "Multiply", "Divide", "Remainder", "Pmod",
    "IntegralDivide", "UnaryMinus", "UnaryPositive", "Abs",
    "Round", "BRound", "Floor", "Ceil", "Ceiling", "Exp", "Log", "Sqrt",
    "Pow", "Least", "Greatest",
    "Md5", "Sha1", "Sha2", "Conv", "Substring", "Lower", "Upper",
    "Concat", "Length", "OctetLength", "StringTrim", "StringRepeat",
    "TruncTimestamp", "TruncDate", "DateAdd", "DateSub", "DateDiff",
    "TimestampAdd", "TimestampDiff", "Year", "Month", "DayOfMonth",
    "DayOfWeek", "Hour", "Minute", "Second", "WeekOfYear", "Quarter",
    "UnixMicros", "UnixMillis", "UnixSeconds", "MicrosToTimestamp",
    "MillisToTimestamp", "SecondsToTimestamp", "UnixTimestamp",
    "ToUnixTimestamp", "DateFormatClass", "LastDay",
    # lint-level approximation: a struct FIELD can be NULL under a
    # non-NULL struct, but every registry use is window(ts)["start"] /
    # struct-packed sort keys whose fields are non-NULL with the struct
    "TimeWindow", "GetStructField", "CreateNamedStruct",
}

_MAX_PROOF_DEPTH = 24


def _defining_alias(plan, expr_id):
    """(alias child expression, defining node's first child) for the
    Alias that produces ``expr_id`` anywhere in ``plan``'s subtree."""
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        exprs = None
        if kind == "Project":
            exprs = _seq(node.projectList())
        elif kind == "Aggregate":
            exprs = _seq(node.aggregateExpressions())
        elif kind == "Window":
            exprs = _seq(node.windowExpressions())
        if exprs is not None:
            for e in exprs:
                if (
                    e.getClass().getSimpleName() == "Alias"
                    and e.exprId().id() == expr_id
                ):
                    kids = _children(node)
                    return e.child(), (kids[0] if kids else None)
        stack.extend(_children(node))
    return None, None


def _provably_nonnull(expr, env_plan, depth: int = 0) -> bool:
    """Can ``expr`` (evaluated against ``env_plan``'s output) be proven
    never-NULL? Sound but incomplete: False means "couldn't prove", not
    "can be NULL". Attributes are proven by the env's propagated
    constraint set, the PK whitelist, or by chasing their defining Alias
    deeper into the plan; composites recurse through the null-intolerant
    whitelist (Coalesce needs just one provable branch)."""
    if depth > _MAX_PROOF_DEPTH:
        return False
    if not expr.nullable():
        return True
    kind = expr.getClass().getSimpleName()
    if kind == "AttributeReference":
        if expr.name() in NONNULL_KEYS:
            return True
        if env_plan is not None:
            pin = f"isnotnull({expr.name()}#{expr.exprId().id()}"
            if pin in env_plan.constraints().toString():
                return True
            aliased, sub_env = _defining_alias(env_plan, expr.exprId().id())
            if aliased is not None:
                return _provably_nonnull(aliased, sub_env, depth + 1)
        return False
    kids = [expr.children().apply(i) for i in range(expr.children().size())]
    if kind == "Coalesce":
        return any(_provably_nonnull(k, env_plan, depth + 1) for k in kids)
    if kind == "WindowExpression":
        # ranking window functions never produce NULL; an aggregate over
        # a frame that ALWAYS contains the current row (rows/range
        # lower=unboundedPreceding|currentRow .. upper>=currentRow) is
        # non-NULL when its argument is — the current row's value is in
        # every frame, so sum/min/max/avg cannot see an empty input
        inner = kids[0]
        iname = inner.getClass().getSimpleName()
        if iname in ("RowNumber", "Rank", "DenseRank", "NTile"):
            return True
        if iname == "AggregateExpression":
            fn = inner.children().apply(0)
            fname = fn.getClass().getSimpleName()
            if fname == "Count":
                return True
            if fname in ("Sum", "Min", "Max", "Average"):
                spec = kids[1]
                frame = spec.frameSpecification().toString().lower()
                covers_current = (
                    "unboundedpreceding$(), currentrow$()" in frame
                    or "currentrow$(), unboundedfollowing$()" in frame
                    or "unboundedpreceding$(), unboundedfollowing$()" in frame
                )
                if covers_current:
                    arg = fn.children().apply(0)
                    return _provably_nonnull(arg, env_plan, depth + 1)
        return False
    if kind == "AggregateExpression":
        # reached only via a groupBy Aggregate node's alias (window
        # aggregates are handled under WindowExpression with frame
        # reasoning): groups are non-empty by construction, so count()
        # is always non-NULL and min/max/sum/avg are non-NULL whenever
        # their argument provably is
        fn = kids[0] if kids else None
        fname = fn.getClass().getSimpleName() if fn is not None else ""
        if fname == "Count":
            return True
        if fname in ("Sum", "Min", "Max", "Average"):
            arg = fn.children().apply(0)
            return _provably_nonnull(arg, env_plan, depth + 1)
        return False
    if kind in NULL_INTOLERANT:
        return all(_provably_nonnull(k, env_plan, depth + 1) for k in kids)
    return False


def _unpinned_nullable_keys(sort_orders, child_plan) -> list[str]:
    """Ordering keys that are nullable with no provable non-NULL witness.

    Direction filter: DuckDB's ``default_null_order`` is NULLS LAST for
    BOTH directions, while Spark defaults NULLS FIRST on ASC and NULLS
    LAST on DESC — so a DESC key with Spark's default null ordering
    already agrees cross-engine and only ASC/NULLS-FIRST (or an explicit
    DESC/NULLS-FIRST) placement can diverge."""
    bad = []
    for so in sort_orders:
        if so.nullOrdering().sql() == "NULLS LAST":
            continue  # matches DuckDB's default on either direction
        child = so.child()
        if not _provably_nonnull(child, child_plan):
            bad.append(child.toString())
    return bad


def null_findings(df) -> list[str]:
    """Violations in one DataFrame's optimized plan and output schema."""
    violations = []
    for f in df.schema.fields:
        if f.dataType.typeName() == "boolean" and f.nullable:
            violations.append(f"nullable boolean output column '{f.name}'")

    plan = df._jdf.queryExecution().optimizedPlan()
    stack = [(plan, False)]  # (node, under_limit)
    while stack:
        node, under_limit = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "Window":
            sub = node.child()
            for key in _unpinned_nullable_keys(_seq(node.orderSpec()), sub):
                violations.append(f"window orderSpec on un-pinned nullable {key}")
        elif kind == "Sort" and under_limit:
            sub = node.child()
            for key in _unpinned_nullable_keys(_seq(node.order()), sub):
                violations.append(f"limit-feeding sort on un-pinned nullable {key}")
        here_limit = under_limit or kind in ("GlobalLimit", "LocalLimit")
        for c in _children(node):
            stack.append((c, here_limit))
    return violations


# --------------------------------------------------------------------------
# replay: struct-replay lint over optimized plans
# --------------------------------------------------------------------------
#
# Multi-column as-of/replay state must travel as ONE
# last(struct(...), ignorenulls=True) read (the join_point_in_time desync:
# a probe took one version's NUMBER but the previous version's STATUS).
# The lint groups every ignore-nulls window read (first/last aggregates,
# lag/lead/nth_value offsets) by (window spec, function class, offset) —
# the reads that CLAIM to observe the same source row — and flags any
# group holding >= 2 distinct argument expressions. Same-spec first + last
# of one column is NOT flagged: picking two different rows is the point.

_AGG_READS = {"First", "Last"}
_OFFSET_READS = {"Lag", "Lead", "NthValue"}


def _ignore_nulls(fn) -> bool:
    try:
        return bool(fn.ignoreNulls())
    except Exception:  # noqa: BLE001 — expression class without the flag
        return False


def _reads_in_window(node) -> list[tuple[str, str, str]]:
    """(group_key, arg_string, display) per ignore-nulls read in one
    Window node. group_key identifies the source row the read claims to
    observe: window spec + function class + offset (for lag/lead/nth)."""
    reads = []
    for e in _seq(node.windowExpressions()):
        expr = e
        if expr.getClass().getSimpleName() == "Alias":
            expr = expr.child()
        if expr.getClass().getSimpleName() != "WindowExpression":
            continue
        fn = expr.windowFunction()
        spec = expr.windowSpec().toString()
        kind = fn.getClass().getSimpleName()
        if kind == "AggregateExpression":
            inner = fn.children().apply(0)
            iname = inner.getClass().getSimpleName()
            if iname in _AGG_READS and _ignore_nulls(inner):
                arg = inner.children().apply(0).toString()
                reads.append((f"{spec}|{iname}", arg, f"{iname.lower()}({arg})"))
        elif kind in _OFFSET_READS and _ignore_nulls(fn):
            kids = [fn.children().apply(i) for i in range(fn.children().size())]
            arg = kids[0].toString()
            offset = kids[1].toString() if len(kids) > 1 else ""
            reads.append(
                (f"{spec}|{kind}|{offset}", arg, f"{kind.lower()}({arg}, {offset})")
            )
    return reads


def replay_findings(df) -> list[str]:
    """Violations in one DataFrame's optimized plan."""
    groups: dict[str, dict[str, str]] = {}
    plan = df._jdf.queryExecution().optimizedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Window":
            for key, arg, display in _reads_in_window(node):
                groups.setdefault(key, {})[arg] = display
        stack.extend(_children(node))
    violations = []
    for key, args in groups.items():
        if len(args) >= 2:
            fn = key.split("|", 1)[1]
            violations.append(
                f"{len(args)} independent ignore-nulls {fn} reads over one "
                f"window spec ({', '.join(sorted(args.values()))}) — replay "
                "multi-column state as ONE last(struct(...)) or exempt"
            )
    return violations


# --------------------------------------------------------------------------
# scan: parquet scans per executed plan
# --------------------------------------------------------------------------
#
# A plan whose scan count far exceeds its distinct-table count is repeating
# a shared subtree — Spark does not fire ReusedExchange across arbitrary
# branch shapes, so a multiply-consumed reduction re-scans the fact table
# once per consumer. The fix is a lazy localCheckpoint on the SMALL
# reduction. Legitimate multi-scan shapes stay under the cap: per-table
# unions, set-operation branches, two-pass percentiles, composition evals
# and star joins over distinct dimension tables.

SCAN_CAP = 12  # above every legitimate multi-scan shape in the registry


def _scan(q: Query, report: Report) -> list[str]:
    plan = q.df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("Scan parquet")
    if n <= SCAN_CAP:
        return []
    tables = set(re.findall(r"/(\w+)\.parquet", plan))
    return [f"over-cap: {n} scans over {len(tables)} tables (cap {SCAN_CAP})"]


# --------------------------------------------------------------------------
# vacuity: a green oracle hash must also MEAN something
# --------------------------------------------------------------------------
#
# Flags, per query: empty (zero rows at sf0.001), constant (several rows,
# one distinct), and scale-insensitive (the sf0.01 hash equals the sf0.001
# hash AND, on lazy escalation, the sf0.1 hash does too). The escalation
# exists because the documents/embeddings tables are generated at the SAME
# size for sf0.001 and sf0.01 and only grow at sf0.1.


def _vacuity(q: Query, report: Report) -> list[str]:
    seen = report.state.setdefault("vacuity", {}).setdefault(q.name, {})
    try:
        rows = canonical_rows(q.df.toPandas())
    except Exception as exc:  # noqa: BLE001 — an erroring query IS a violation
        seen["error"] = True
        return [f"error: at {q.sf_dir}: {type(exc).__name__}: {exc}"[:300]]
    if q.sf_dir == SF_SMOKE:
        seen["small"] = (canonical_hash(rows), len(rows))
        if not rows:
            return ["empty: zero rows at sf0.001"]
        if len(rows) > 1 and len(set(rows)) == 1:
            return [f"constant: {len(rows)} rows, 1 distinct at sf0.001"]
        return []
    small_hash, n_small = seen["small"]
    if q.sf_dir == SF_CORRECT:
        seen["escalate"] = n_small > 0 and canonical_hash(rows) == small_hash
        return []
    if canonical_hash(rows) == small_hash:
        return [
            f"scale-insensitive: identical {n_small}-row output "
            "at sf0.001, sf0.01 AND sf0.1"
        ]
    return []


def _vacuity_wants(name: str, sf_dir: str, report: Report) -> bool:
    seen = report.state.get("vacuity", {}).get(name, {})
    if sf_dir == SF_SMOKE:
        return True
    if seen.get("error"):
        return False
    return sf_dir == SF_CORRECT or seen.get("escalate", False)


# --------------------------------------------------------------------------
# dop / ansi: results must not depend on the session configuration
# --------------------------------------------------------------------------
#
# dop: a query whose output changes with the partition count (float sums in
# shuffle order, under-ordered windows, first()-style picks) ships green
# from one DOP and corrupts answers at cluster DOP. Each oracle is also run
# under DuckDB threads=1 and 8: an order-sensitive oracle would make the
# cross-engine gate compare against a moving target.
# ansi: production clusters commonly run ansi=false; values must not change
# with the flag (a silent NULL where ANSI raises, wrapping casts).

AXES = {
    "dop": (
        {
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.files.maxPartitionBytes": "4m",
        },
        {
            "spark.sql.shuffle.partitions": "7",
            "spark.sql.files.maxPartitionBytes": "512k",
            "spark.sql.files.openCostInBytes": "0",
        },
        "value hash changes between (shuffle=32, split=4m) and "
        "(shuffle=7, split=512k)",
    ),
    "ansi": (
        {"spark.sql.ansi.enabled": "true"},
        {"spark.sql.ansi.enabled": "false"},
        "value hash changes between ansi=true and ansi=false",
    ),
}


def _invariance(axis: str):
    conf_a, conf_b, sensitive_msg = AXES[axis]

    def check(q: Query, report: Report) -> list[str]:
        hashes = []
        for label, conf in (("CONF_A", conf_a), ("CONF_B", conf_b)):
            with scoped_conf(q.spark, conf):
                try:
                    hashes.append(_rows_hash(q.fn(q.spark, q.sf_dir).toPandas()))
                except Exception as exc:  # noqa: BLE001
                    return [
                        f"error: under {axis} {label}: {type(exc).__name__}: {exc}"[:300]
                    ]
        found = [] if hashes[0] == hashes[1] else [f"{axis}-sensitive: {sensitive_msg}"]
        if axis == "dop" and q.oracle is not None:
            h1, h8 = (
                _rows_hash(_duck(report, q.sf_dir, t).sql(q.oracle).fetchdf())
                for t in (1, 8)
            )
            if h1 != h8:
                found.append("oracle-dop-sensitive: DuckDB threads=1 vs 8 differ")
        return found

    return check


# --------------------------------------------------------------------------
# n0 / n1: every query, both engines, a zero-row or one-row corpus
# --------------------------------------------------------------------------
#
# n0 is the fresh-partition hazard: a pipeline that has only seen populated
# tables meets an empty one and crashes (driver-side collect()[0], a
# constant-folded 1/0 under ANSI) or diverges (SUM over empty is NULL,
# COUNT is 0). n1 stresses n−1 variance denominators, one-point
# interpolation, all-NULL lag/lead and all-orphan joins. Both sides
# succeed -> hashes must match; both raise -> exemptible as a loud,
# documented contract ("raises"); one side raises or values differ ->
# "diverges", never exemptible.


def build_tiny_corpus(out_dir: str, rows: int = 0) -> str:
    """Write a ``rows``-row copy of every corpus table: the first rows of
    the sf0.001 files, through pyarrow so physical types (events.ts
    TIMESTAMP(NANOS)) survive, and ``rows=0`` is schema-identical empty."""
    import pyarrow.parquet as pq

    from enterprise_iot_bigdata_pipeline_spark.plans.tables import TABLES

    d = Path(out_dir)
    d.mkdir(parents=True, exist_ok=True)
    for name in TABLES:
        src = f"{SF_SMOKE}/{name}.parquet"
        table = (
            pq.read_schema(src).empty_table()
            if rows == 0
            else pq.read_table(src).slice(0, rows)
        )
        pq.write_table(table, str(d / f"{name}.parquet"))
    return str(d)


def _tiny(q: Query, report: Report) -> list[str]:
    label = f"n={Path(q.sf_dir).name[1:]}"
    try:
        sp_rows = canonical_rows(q.df.toPandas())
        sp_err = None
    except Exception as exc:  # noqa: BLE001
        sp_rows, sp_err = None, f"{type(exc).__name__}: {exc}"[:200]
    if q.oracle is None:
        if sp_err is not None:
            return [f"raises: spark-only (no oracle) failed on {label} — {sp_err}"]
        return []
    try:
        rel = _duck(report, q.sf_dir).sql(q.oracle)
        du = rel.fetchdf()
        for col, typ in zip(rel.columns, rel.types):
            if str(typ) == "DATE":
                du[col] = du[col].dt.date
        du_rows = canonical_rows(du)
        du_err = None
    except Exception as exc:  # noqa: BLE001
        du_rows, du_err = None, f"{type(exc).__name__}: {exc}"[:200]

    if sp_err and du_err:
        return [f"raises: BOTH engines fail on {label} (spark: {sp_err} | duck: {du_err})"]
    if sp_err:
        return [f"diverges: spark raises on {label} ({sp_err}), oracle returns {len(du_rows)} rows"]
    if du_err:
        return [f"diverges: oracle raises on {label} ({du_err}), spark returns {len(sp_rows)} rows"]
    if len(sp_rows) != len(du_rows):
        return [f"diverges: {label} row counts spark={len(sp_rows)} duck={len(du_rows)}"]
    if canonical_hash(sp_rows) != canonical_hash(du_rows):
        diffs = [(a, b) for a, b in zip(sp_rows, du_rows) if a != b][:3]
        return [f"diverges: {label} value mismatch, first diffs {diffs}"]
    return []


# --------------------------------------------------------------------------
# oracle: the driver's Spark-vs-DuckDB compare
# --------------------------------------------------------------------------


def _oracle(q: Query, report: Report) -> list[str]:
    if q.oracle is None:
        q.df.count()
    else:
        compare(q.df, q.oracle, _duck(report, q.sf_dir), q.name)
    return []


def driver_session():
    """A plain session like the driver's own, with a non-UTC probe zone:
    plans must pin their own time semantics, never rely on get_spark."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "Asia/Makassar")
        .getOrCreate()
    )


def sweep_artifact(report: Report, oracles: dict) -> dict:
    """The oracle check's result in the SWEEP_r*.json format."""
    result: dict[str, dict[str, str]] = {}
    for c, sf, name in sorted(report.audited):
        if c != "oracle":
            continue
        fs = report.findings.get((c, sf, name))
        status = "ok" if name in oracles else "rows-only-ok"
        result.setdefault(sf, {})[name] = f"FAIL: {fs[0][:200]}" if fs else status
    n_queries = len({name for c, _, name in report.audited if c == "oracle"})
    n_fail = sum(v.startswith("FAIL") for st in result.values() for v in st.values())
    return {"sf_dirs": result, "n_queries": n_queries, "n_failures": n_fail}


# --------------------------------------------------------------------------
# explain: plan-hygiene assertions (tables in tools/explain_audit.py)
# --------------------------------------------------------------------------


def _explain(q: Query, report: Report) -> list[str]:
    overrides = explain_audit.CONF_OVERRIDES.get(q.name, {})
    streaming = q.name in explain_audit.STREAM_AUDITED
    with scoped_conf(q.spark, overrides):
        df = q.fn(q.spark, q.sf_dir) if overrides else q.df
        if streaming:
            from enterprise_iot_bigdata_pipeline_spark.plans.ingest import STREAM_PLANS

            # the returned frame is a memory-sink/parquet readback; audit
            # the streaming plan that actually executed. A missing capture
            # fails this slot's checks visibly.
            plan = STREAM_PLANS.get(q.name, f"<streaming plan capture missing for {q.name}>")
            simple = ""
        else:
            plan = df._jdf.queryExecution().executedPlan().toString()
            simple = df._jdf.queryExecution().simpleString()
    # count real shuffles only (broadcast/single-partition are cheap)
    n_exchanges = len(re.findall(r"Exchange (hash|range)partitioning", plan))
    lines = [f"## {q.name}", ""]
    if streaming:
        lines += [
            "_streaming plan (explainInternal of the executed "
            "availableNow run; the returned frame is the sink readback)_",
            "",
        ]
    found = []
    for needle, expected, why in explain_audit.CHECKS.get(q.name, []):
        ok = (needle in plan or needle in simple) == expected
        want = "present" if expected else "absent"
        lines.append(f"- {'✓' if ok else '✗ FAILED'} `{needle}` {want} — {why}")
        if not ok:
            found.append(f"plan: `{needle}` should be {want} — {why}")
    lines += [f"- shuffle exchanges: {n_exchanges}", "", "```", plan.strip()[:4000], "```", ""]
    report.state.setdefault("explain", {})[q.name] = lines
    return found


def explain_markdown(report: Report, sf_dir: str) -> str:
    """EXPLAIN.md: the curated AUDITED order leads (stable diffs), every
    other audited query follows in name order."""
    sections = report.state.get("explain", {})
    order = [n for n in explain_audit.AUDITED if n in sections]
    order += sorted(set(sections) - set(order))
    out = [
        "# EXPLAIN — physical plans of the headline queries",
        "",
        f"Generated by `python tools/gate.py explain` at `{sf_dir}`. Automated checks",
        "assert the plan properties each operator is designed around.",
        "",
    ]
    for name in order:
        out += sections[name]
    return "\n".join(out)


CHECKS: dict[str, Check] = {
    "null": Check(lambda q, r: null_findings(q.df), (SF_SMOKE,), batch_only=True),
    "replay": Check(lambda q, r: replay_findings(q.df), (SF_SMOKE,), batch_only=True),
    "scan": Check(_scan, (SF_SMOKE,), batch_only=True),
    "vacuity": Check(_vacuity, None, wants=_vacuity_wants),
    "dop": Check(_invariance("dop"), (SF_SMOKE,)),
    "ansi": Check(_invariance("ansi"), (SF_SMOKE,)),
    "n0": Check(_tiny, None),
    "n1": Check(_tiny, None),
    "oracle": Check(_oracle, (SF_SMOKE, SF_CORRECT)),
    "explain": Check(_explain, (SF_CORRECT,)),
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("checks", nargs="+", choices=sorted(CHECKS))
    ap.add_argument("--sf", action="append", help="corpus dir (repeatable)")
    ap.add_argument("--names", help="comma-separated subset of the registry")
    ap.add_argument("--out", help="write the oracle check's SWEEP artifact here")
    args = ap.parse_args(argv)
    if "oracle" in args.checks and len(args.checks) > 1:
        ap.error("oracle runs alone: it needs the driver-like session")
    if args.out and "oracle" not in args.checks:
        ap.error("--out writes the oracle check's artifact")
    names = set(args.names.split(",")) if args.names else None

    from enterprise_iot_bigdata_pipeline_spark.plans import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    unknown = sorted((names or set()) - set(queries))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if "oracle" in args.checks:
        spark = driver_session()
    else:
        from enterprise_iot_bigdata_pipeline_spark.session import get_spark

        spark = get_spark(app_name="gate")
    report = run(spark, args.checks, names, args.sf, queries, oracles)
    problems = report.problems()
    for line in problems:
        print("FAIL", line)
    for c in args.checks:
        n = len({name for cc, _, name in report.audited if cc == c})
        flagged = {name for cc, _, name in report.findings if cc == c}
        print(f"{c}: {n} queries, {len(flagged)} with findings")
    if "explain" in args.checks and names is None:
        sf_dir = (args.sf or CHECKS["explain"].sf_dirs)[0]
        (REPO / "EXPLAIN.md").write_text(explain_markdown(report, sf_dir))
        print("wrote EXPLAIN.md")
    if args.out:
        artifact = sweep_artifact(report, oracles)
        Path(args.out).write_text(json.dumps(artifact, indent=1) + "\n")
        print(f"wrote {args.out}")
    spark.stop()
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())

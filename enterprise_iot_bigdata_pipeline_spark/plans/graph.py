"""Graph analytics over the trade network: weighted PageRank on the
customer-nation → supplier-nation edge graph.

The reference has no graph surface; next to the Shiloach–Vishkin
connected components (operators/dedup.py) this adds the OTHER canonical
iterative graph algorithm, with a full oracle: the Spark side runs the
power iteration as a driver loop of tiny joins, and the DuckDB oracle
unrolls the same 10 iterations as generated CTEs (recursive CTEs can't
re-aggregate per step, so the iteration count is pinned and the SQL is
generated — same trick as the unrolled dot products in plans/vectors.py).

Scale shape: the HEAVY part is building the edge list — a fact-scale
4-way join (orders ⋈ customer ⋈ lineitem ⋈ supplier, dimensions
broadcast) reduced to a |nations|² aggregate — and it runs ONCE behind a
localCheckpoint; without the checkpoint Spark's lineage would re-execute
the fact join on every one of the 10 iterations. The iterations
themselves join 625-row frames. At web scale (edges ≫ memory) the same
loop holds with the rank frame checkpoint-persisted per iteration and
the edge table pre-partitioned by src — the contribution join then
reuses one co-partitioning across all iterations.

Cross-engine determinism: ranks round to 12 dp each iteration and
contributions round to 18 dp BEFORE the DECIMAL(38,18) accumulation, so
every sum is exact and every float op is a single correctly-rounded
step shared by both engines (README parity rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.plans import register
from enterprise_iot_bigdata_pipeline_spark.plans.tables import t

_N_ITER = 10
_N_NATIONS = 25
_DAMP = 0.85
_BASE = 0.006  # (1 - 0.85) / 25, exact decimal literal in both engines
_R0 = 0.04  # 1 / 25


def _pagerank_oracle() -> str:
    steps = []
    prev = "r0"
    for k in range(1, _N_ITER + 1):
        steps.append(
            f"""c{k} AS (
        SELECT e.dst,
               sum(CAST(round(r.r * e.w / e.ow, 18) AS DECIMAL(38,18))) AS sc
        FROM e JOIN {prev} r ON e.src = r.node GROUP BY e.dst
    ),
    r{k} AS (
        SELECT n.node,
               round({_BASE} + {_DAMP} * CAST(coalesce(c.sc, 0) AS DOUBLE), 12) AS r
        FROM nodes n LEFT JOIN c{k} c ON n.node = c.dst
    )"""
        )
        prev = f"r{k}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    ow AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    e AS (SELECT edges.src, edges.dst, edges.w, ow.ow
          FROM edges JOIN ow ON edges.src = ow.src),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    r0 AS (SELECT node, CAST({_R0} AS DOUBLE) AS r FROM nodes),
    {chain}
    SELECT n.n_name AS nation, fin.node, fin.r AS pagerank
    FROM {prev} fin JOIN nation n ON n.n_nationkey = fin.node
    """


@register("graph_pagerank_nations", _pagerank_oracle())
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    lineitem = t(spark, sf_dir, "lineitem")
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")

    edges = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ow = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # ONE execution of the fact-scale join: the 10-iteration loop below
    # would otherwise re-run it per iteration through lineage. The edge
    # frame is |nations|²-bounded (625 rows), so ONE partition is its
    # natural parallelism — a web-scale node set would instead keep the
    # hash partitioning on src and reuse it across iterations.
    e = edges.join(ow, "src").coalesce(1).localCheckpoint()

    # |nations|-bounded (25 rows): pin the node table and every iterate
    # frame to ONE partition like the edge frame above — the default
    # shuffle width would run cluster-width stages over 25-row frames on
    # every iteration (r12; a web-scale node set keeps hash partitioning).
    nodes = nation.select(F.col("n_nationkey").alias("node")).coalesce(1).localCheckpoint()
    ranks = nodes.select("node", F.lit(_R0).cast("double").alias("r"))
    for it in range(_N_ITER):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select(
                "dst",
                F.round(F.col("r") * F.col("w") / F.col("ow"), 18)
                .cast("decimal(38,18)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("sc"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            F.round(
                F.lit(_BASE) + F.lit(_DAMP) * F.coalesce(F.col("sc").cast("double"), F.lit(0.0)),
                12,
            ).alias("r"),
        )
        # flatten the plan every OTHER step: without any checkpoint the
        # final plan nests 10 iterations of joins and planning time
        # dominates (measured 7.1 s vs 3.7 s); every-step checkpoints
        # overpay in job launches (4.4 s). At a web-scale node set this is
        # the same reliability checkpoint any iterative distributed
        # PageRank needs anyway, cadence tuned to plan depth.
        if it % 2 == 1:
            ranks = ranks.coalesce(1).localCheckpoint()
    return ranks.join(
        F.broadcast(nation), ranks.node == nation.n_nationkey
    ).select(F.col("n_name").alias("nation"), "node", F.col("r").alias("pagerank"))


# --- Triangle counting on the part co-purchase graph (degree-ordered
#     wedge join — the MapReduce-era Cohen / Suri-Vassilvitskii scheme,
#     expressed as three DataFrame joins). Nodes are parts; an edge links
#     two parts co-purchased in the SAME order at least twice across the
#     corpus (the ≥2 support filter keeps the graph sparse at every SF —
#     raw co-occurrence has avg degree ~120 and would make the wedge join
#     quadratic). Per-node triangle participation is the output.
#
#     Why this shape survives 100×: the only corpus-scaled work is the
#     per-order pair expansion (fan-out bounded by order size, ≤7
#     lineitems) and one hash aggregate to edge weights. Every edge is
#     then oriented from its lower-(degree, id) endpoint to the higher —
#     a total order — so each triangle is emitted exactly once at its
#     minimum corner, and the out-degree of any node in the oriented
#     graph is O(√m): the wedge self-join can't blow up on hubs. Degrees
#     join by node key (NOT broadcast — node count scales with the
#     corpus).
#
#     Reuse discipline: the edge set feeds FIVE downstream consumers
#     (degrees, orientation, both wedge legs, closure probe, corners) —
#     without a checkpoint Spark's lineage would re-run the fact-scale
#     pair expansion for each one (first cut planned 118 shuffle
#     exchanges). `e`, the oriented graph and the triangle set are
#     localCheckpointed — all three are support-filtered/sublinear frames
#     (at real scale: persisted tables, same as pagerank's edge build). ----

_TRI_MIN_W = 2

_TRI_EDGE_CTE = f"""
    li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (SELECT a.p AS pa, b.p AS pb, count(*) AS w
           FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
    e AS (SELECT pa, pb FROM e0 WHERE w >= {_TRI_MIN_W}),
    und AS (SELECT pa AS n FROM e UNION ALL SELECT pb AS n FROM e),
    d AS (SELECT n, count(*) AS dg FROM und GROUP BY n),
    o AS (
      SELECT CASE WHEN (da.dg < db.dg) OR (da.dg = db.dg AND e.pa < e.pb)
                  THEN e.pa ELSE e.pb END AS src,
             CASE WHEN (da.dg < db.dg) OR (da.dg = db.dg AND e.pa < e.pb)
                  THEN e.pb ELSE e.pa END AS dst
      FROM e JOIN d da ON e.pa = da.n JOIN d db ON e.pb = db.n
    ),
    o2 AS (SELECT o.src, o.dst, d.dg AS ddg FROM o JOIN d ON o.dst = d.n),
    tri AS (
      SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
      FROM o2 w1 JOIN o2 w2 ON w1.src = w2.src
        AND ((w1.ddg < w2.ddg) OR (w1.ddg = w2.ddg AND w1.dst < w2.dst))
      JOIN o ON o.src = w1.dst AND o.dst = w2.dst
    )"""


@register(
    "graph_triangle_count",
    f"""
    WITH {_TRI_EDGE_CTE},
    corners AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT node, count(*) AS tri_cnt FROM corners GROUP BY node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # r13: edge build via one groupBy(order) + in-bucket pair explode
    # instead of the fact-scale self-join — see _part_pair_edges.
    e = _part_pair_edges(li, _TRI_MIN_W).localCheckpoint()
    und = e.select(F.explode(F.array("pa", "pb")).alias("n"))
    d = und.groupBy("n").agg(F.count(F.lit(1)).alias("dg"))
    da = d.select(F.col("n").alias("pa"), F.col("dg").alias("dga"))
    db = d.select(F.col("n").alias("pb"), F.col("dg").alias("dgb"))
    ej = e.join(da, "pa").join(db, "pb")
    fwd = (F.col("dga") < F.col("dgb")) | (
        (F.col("dga") == F.col("dgb")) & (F.col("pa") < F.col("pb"))
    )
    o = ej.select(
        F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
    ).localCheckpoint()
    o2 = o.join(d.select(F.col("n").alias("dst"), F.col("dg").alias("ddg")), "dst")
    w1 = o2.select(F.col("src"), F.col("dst").alias("y"), F.col("ddg").alias("dy"))
    w2 = o2.select(F.col("src"), F.col("dst").alias("z"), F.col("ddg").alias("dz"))
    wedges = w1.join(w2, "src").filter(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    tri = (
        wedges.join(
            o.select(F.col("src").alias("y"), F.col("dst").alias("z")), ["y", "z"]
        )
        .select(F.col("src").alias("x"), "y", "z")
        .localCheckpoint()
    )
    corners = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("tri_cnt"))


# --- Hop-bounded BFS through Spark 4's NATIVE recursive CTE
#     (SPARK-24497, `WITH RECURSIVE`): min-hop distance and trade-path
#     counts from nation 0 over each nation's top-3 trade partners.
#     The engine surface is the point — the UnionLoop execution of a
#     self-referencing CTE, verified against DuckDB's recursive CTE
#     running the IDENTICAL SQL text (both engines: UNION ALL recursion,
#     anchor + step). The pagerank/components loops above are
#     driver-driven iteration; this is the declarative form.
#
#     Scale + termination design: Spark (like every UNION ALL recursive
#     engine) enumerates WALKS, not visited sets — a distinct-frontier
#     `UNION` recursion is unsupported (UNION_NOT_SUPPORTED_IN_
#     RECURSIVE_CTE, checked on 4.1.2) — so an unbounded recursion on a
#     cyclic graph diverges. Two bounds keep the walk set finite and
#     tiny: out-degree ≤ 3 (top-3 partners by weight, ties by dst) and
#     hop < 6 ⇒ ≤ Σ 3^h ≈ 1.1k walk rows from one source. For
#     corpus-scaled graphs the iterative frontier loop with per-round
#     dedup (operators/dedup.py::connected_components' pattern) stays
#     the right tool; this query documents exactly where the declarative
#     form's applicability ends.
#
#     The fact-scale 4-way edge build runs ONCE, as a DataFrame with a
#     localCheckpoint, and only the recursion itself is SQL: measured at
#     sf0.1, inlining the edge build into the recursive WITH costs
#     14.1 s vs 1.4 s — Spark's UnionLoop replans the full tree per
#     step, so non-recursive CTEs ahead of the recursion re-execute
#     their lineage every iteration (the same lineage trap as the
#     pagerank/triangle loops, in declarative clothing). The oracle runs
#     the single full SQL text (_BFS_SQL) — DuckDB materializes CTEs
#     once — so hash-green also proves the split form ≡ the inline form. --

_BFS_SQL = """
    WITH RECURSIVE edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ),
    e AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rk
            FROM edges
        ) WHERE rk <= 3
    ),
    walks AS (
        SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop
        UNION ALL
        SELECT e.dst, w.hop + CAST(1 AS BIGINT)
        FROM walks w JOIN e ON e.src = w.node
        WHERE w.hop < 6
    )
    SELECT node, min(hop) AS hops, CAST(count(*) AS BIGINT) AS n_walks
    FROM walks GROUP BY node
"""


_BFS_REC_SQL = """
    WITH RECURSIVE walks AS (
        SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop
        UNION ALL
        SELECT e.dst, w.hop + CAST(1 AS BIGINT)
        FROM walks w JOIN bfs_top3_edges e ON e.src = w.node
        WHERE w.hop < 6
    )
    SELECT node, min(hop) AS hops, CAST(count(*) AS BIGINT) AS n_walks
    FROM walks GROUP BY node
"""


@register("graph_bfs_recursive", _BFS_SQL)
def graph_bfs_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    lineitem = t(spark, sf_dir, "lineitem")
    supplier = t(spark, sf_dir, "supplier")
    edges = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    top3 = (
        edges.withColumn(
            "rk",
            F.row_number().over(W.partitionBy("src").orderBy(F.desc("w"), "dst")),
        )
        .filter(F.col("rk") <= 3)
        .select("src", "dst")
        .localCheckpoint()
    )
    top3.createOrReplaceTempView("bfs_top3_edges")
    return spark.sql(_BFS_REC_SQL)


# --- k-core decomposition (k=2) of the part co-purchase graph — the
#     third iterate-to-fixpoint graph kernel beside pagerank (value
#     iteration) and connected components (label propagation): peel
#     nodes of degree < k until stable; what survives is the densely
#     connected trading core (the 2-core = the cycle-containing
#     subgraph, the standard prefilter before community/cycle analytics).
#
#     Iteration contract: the Spark loop runs ≤ _KCORE_ROUNDS peels with
#     an early exit on edge-count fixpoint; the oracle unrolls exactly
#     _KCORE_ROUNDS rounds as generated MATERIALIZED CTEs (the BPE
#     lesson: DuckDB inlines multiply-referenced CTEs, and each round
#     references its predecessor three times — un-hinted, the chain
#     re-evaluates in a 3^r tree). Peeling a stable graph is the
#     identity, so "early-exit at fixpoint" ≡ "all R rounds" whenever
#     convergence takes ≤ R — probed before registering (session-3
#     rule): fixpoint at rounds 1/4/7 for sf0.001/0.01/0.1, R=12 gives
#     headroom. A corpus where 12 rounds can't converge would need the
#     degeneracy-ordering algorithm instead; the round cap makes that
#     failure loud (hash mismatch), not silent.
#
#     Scale shape: the fact-scaled pair expansion runs ONCE
#     (localCheckpoint, as in triangle counting); each peel is two hash
#     aggregates + two key joins over the shrinking support-filtered
#     edge set, checkpointed per round to keep plans constant-depth.
#     The per-round edge count is observed on that round's checkpoint
#     job (no probe job), never row data. ---------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 12


def _kcore_oracle() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""d{r} AS MATERIALIZED (
        SELECT n, count(*) AS c FROM (
            SELECT pa AS n FROM {prev} UNION ALL SELECT pb FROM {prev}
        ) GROUP BY n
    ),
    e{r} AS MATERIALIZED (
        SELECT p.pa, p.pb FROM {prev} p
        JOIN d{r} a ON p.pa = a.n AND a.c >= {_KCORE_K}
        JOIN d{r} b ON p.pb = b.n AND b.c >= {_KCORE_K}
    )"""
        )
        prev = f"e{r}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS MATERIALIZED (
        SELECT a.p AS pa, b.p AS pb
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    {chain}
    SELECT n AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM (SELECT pa AS n FROM {prev} UNION ALL SELECT pb FROM {prev})
    GROUP BY n
    """


def _part_pair_edges(li: DataFrame, min_w: int) -> DataFrame:
    """Support-filtered part co-purchase edges (pa < pb, ≥ min_w orders):
    the shared edge build of the triangle/k-core queries.

    r13 (§2.3/§2.4): formerly a fact-scale SELF-JOIN on l_orderkey — the
    fact table shuffled TWICE (both SMJ sides) plus two sorts. The order
    key's fan-out is structurally bounded (≤7 lineitems per order at any
    SF), so the same multiset of in-order pairs comes out of ONE shuffle:
    groupBy(order) → sorted part list → in-bucket pair explode, then the
    (pa,pb) support count. Strict a<b on VALUES drops same-part pairs
    exactly like the join's a.p < b.p predicate, and duplicates of a part
    in one order contribute the same pair multiplicity as the join's row
    pairing (i<j index pairs over a value-sorted list ≡ unordered row
    pairs with a.p < b.p). Measured: edge checkpoint 2.9 s → ~1 s at
    sf0.1; the fact crosses the network once instead of twice."""
    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import _pairs_of_sorted

    return (
        # the join it replaced (a.o = b.o) never paired NULL order keys;
        # groupBy keeps NULL as a group, so drop them first
        li.filter(F.col("o").isNotNull())
        .groupBy("o")
        .agg(F.array_sort(F.collect_list("p")).alias("ps"))
        .select(F.explode(_pairs_of_sorted(F.col("ps"))).alias("q"))
        .filter(F.col("q.a") < F.col("q.b"))
        .groupBy(F.col("q.a").alias("pa"), F.col("q.b").alias("pb"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= min_w)
        .drop("w")
    )


@register("graph_kcore_parts", _kcore_oracle())
def graph_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # support filter (the oracle's HAVING >= 2)
    peeled = _kcore_peel(_part_pair_edges(li, 2))
    return (
        peeled.select(F.explode(F.array("pa", "pb")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def _kcore_solve(n_nodes, iu, iv):
    """The k-core peel over node indices: the distributed loop's
    round-pinned algebra (``_KCORE_ROUNDS`` rounds, keep edges whose both
    ends have degree ≥ ``_KCORE_K``, early-stop on a stable round),
    vectorized."""
    import numpy as np

    for _ in range(_KCORE_ROUNDS):
        if iu.size == 0:
            break
        deg = np.bincount(iu, minlength=n_nodes) + np.bincount(iv, minlength=n_nodes)
        ok = deg >= _KCORE_K
        m = ok[iu] & ok[iv]
        if m.all():  # stable round — the distributed loop's early stop
            break
        iu, iv = iu[m], iv[m]
    return iu, iv


def _kcore_peel(e: DataFrame, local_max_edges: int | None = None) -> DataFrame:
    """12-round k-core peel of the (pa, pb) edge frame ``e``: drop edges
    touching a node of current degree < ``_KCORE_K`` each round,
    early-stopping when a round removes nothing. ``_small_graph_fixpoint``
    stages ``e`` and picks the one-task kernel or the distributed join
    loop."""
    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import (
        _small_graph_fixpoint,
    )

    return _small_graph_fixpoint(e, ("pa", "pb"), _kcore_solve, _kcore_loop, local_max_edges)


def _kcore_loop(e: DataFrame, n_edges: int, parts: int) -> DataFrame:
    """The distributed peel (unchanged r12 shape) over the staged edges,
    hash-partitioned ``parts`` wide."""
    from pyspark.sql import Observation

    e = e.repartition(parts, "pa").localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        if n_edges == 0:
            break
        deg = (
            e.select(F.explode(F.array("pa", "pb")).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        keep = deg.filter(F.col("c") >= _KCORE_K).select("n")
        obs_r = Observation()
        e2 = (
            e.join(keep.withColumnRenamed("n", "pa"), "pa")
            .join(keep.withColumnRenamed("n", "pb"), "pb")
            .select("pa", "pb")
            .repartition(parts, "pa")
            .observe(obs_r, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        n2 = int(obs_r.get["n"])
        stable = n2 == n_edges
        e, n_edges = e2, n2
        if stable:
            break
    return e


# --- Markov stationary distribution of the event-type transition
#     chain: where does a user's session settle in the long run? The
#     third fixed-point kernel expressed declaratively: the transition
#     matrix comes from events_transition_matrix's lag algebra (ONE
#     user-keyed window sort + one |types|² aggregate — the only
#     corpus-scaled work), and the power iteration runs 12 unrolled
#     steps over the |types|²-bounded matrix (pagerank's generated-CTE
#     oracle trick; no damping — the observed chain is irreducible at
#     every SF, probed before registering). Cross-engine float
#     discipline = pagerank's: per-step contributions round to 18 dp
#     BEFORE the DECIMAL(38,18) sum; the new vector rounds to 12 dp.
#     Start vector is uniform over the states observed as transition
#     SOURCES. ---------------------------------------------------------

_MKV_ITER = 12


def _markov_oracle() -> str:
    steps = []
    prev = "r0"
    for k in range(1, _MKV_ITER + 1):
        steps.append(
            f"""r{k} AS (
        SELECT p.t_to AS state,
               round(CAST(sum(CAST(round(r.pr * p.p, 18) AS DECIMAL(38,18)))
                          AS DOUBLE), 12) AS pr
        FROM p JOIN {prev} r ON p.t_from = r.state
        GROUP BY p.t_to
    )"""
        )
        prev = f"r{k}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
        WHERE ts IS NOT NULL
    ),
    c AS (
        SELECT prev_type AS t_from, event_type AS t_to, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT t_from, sum(n) AS tn FROM c GROUP BY t_from),
    p AS (
        SELECT c.t_from, c.t_to,
               round(CAST(c.n AS DOUBLE) / CAST(tot.tn AS DOUBLE), 12) AS p
        FROM c JOIN tot ON c.t_from = tot.t_from
    ),
    states AS (SELECT DISTINCT t_from AS state FROM c),
    ns AS (SELECT count(*) AS m FROM states),
    r0 AS (
        SELECT state, round(1.0 / ns.m, 12) AS pr FROM states CROSS JOIN ns
    ),
    {chain}
    SELECT state, pr AS stationary_p FROM {prev}
    """


@register("graph_markov_stationary", _markov_oracle())
def graph_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("t_from")
    ).filter(F.col("t_from").isNotNull())
    c = seq.groupBy("t_from", F.col("event_type").alias("t_to")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.groupBy("t_from").agg(F.sum("n").alias("tn"))
    p = (
        c.join(tot, "t_from")
        .select(
            "t_from",
            "t_to",
            F.round(F.col("n").cast("double") / F.col("tn").cast("double"), 12).alias(
                "p"
            ),
        )
        .coalesce(1)
        .localCheckpoint()
    )
    states = p.select(F.col("t_from").alias("state")).distinct()
    m = states.count()  # |types|-bounded control-plane scalar
    # EMPTY input: states has no rows, so the uniform prior 1.0/m is never
    # evaluated against data — but Catalyst constant-folds the literal
    # division at plan time and ANSI mode raises DIVIDE_BY_ZERO before the
    # zero-row shape can short-circuit (empty-corpus probe, round 12)
    m = max(m, 1)
    r = states.select("state", F.round(F.lit(1.0) / m, 12).alias("pr"))
    for it in range(_MKV_ITER):
        contrib = p.join(r, p.t_from == r.state).select(
            F.col("t_to").alias("state"),
            F.round(F.col("pr") * F.col("p"), 18).cast("decimal(38,18)").alias("cc"),
        )
        r = contrib.groupBy("state").agg(
            F.round(F.sum("cc").cast("double"), 12).alias("pr")
        )
        if it % 3 == 2:
            # |types|-bounded iterate frame — one partition, like p above
            r = r.coalesce(1).localCheckpoint()
    return r.select("state", F.col("pr").alias("stationary_p"))

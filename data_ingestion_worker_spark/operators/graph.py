"""Graph analytics over the customer–supplier interaction graph.

The reference (rpdevelops/data-ingestion-worker) has no graph surface;
these operators extend the engine the way ``operators/dedup.py``'s
connected components does — iterative relational algebra over an edge
list, no graph library.

The graph: an undirected bipartite customer↔supplier graph induced by
``lineitem ⋈ orders`` (a customer is linked to every supplier that
shipped a line of one of its orders).  Node encoding packs both key
spaces into one BIGINT axis: ``2·custkey`` for customers,
``2·suppkey + 1`` for suppliers.

Determinism contract: PageRank mass is carried as a BIGINT scaled by
10¹² and every step is integer arithmetic — ``div`` for the per-edge
contribution split and the 0.85 damping (17/20) — so shuffle order
cannot perturb a single bit, and the DuckDB oracle (the same three
iterations unrolled as CTEs) matches exactly.  Float PageRank would
accumulate in shuffle order and never hash-match across engines.

Scale notes (100 TB): the edge list is the only large intermediate —
it is distinct-ed once (one shuffle) and marked for a *lazy* local
checkpoint, so the first action materializes it once and all three
iteration references reuse those partitions instead of re-scanning the
fact table per iteration (operator construction itself stays
side-effect-free, per the engine-wide rule).  Each iteration is then
one shuffle join (ranks ⋈ edges on src) + one partial-agg shuffle
(sum by dst) — the classic Pregel superstep expressed relationally.
Every lineage cut below goes through ``functions.checkpoint.
cut_lineage``: localCheckpoint by default, reliable ``checkpoint()``
as soon as the deployment sets a checkpoint directory — the
fault-tolerance swap is one session setting, not a code change.

Each repeated piece has one definition, on both engines:

- the PageRank superstep — :func:`_pr_start` (degree, ``V``, initial
  ranks) and :func:`_pr_step` (message + damped update), with the
  contribution expression as a value — serves the fixed, adaptive and
  weighted variants; :func:`_pr_oracle` unrolls it for all three;
- the BFS frontier expansion :func:`_expand_frontier`, keyed by
  ``node`` (single-source BFS) or ``(node, lm)`` (landmark closeness),
  unrolled by :func:`_frontier_oracle`;
- the customer–supplier edge list :func:`_edges` / :data:`_EDGES_CTE`
  and its weighted form :func:`_weighted_edges` /
  :func:`_weighted_edges_cte`;
- the node-axis decode :func:`_node_kind` / :data:`_KIND_SQL`;
- the part co-order edge list :func:`_co_order_edges` /
  :data:`_CO_ORDER_CTE` and its degree-ordered orientation
  :func:`_orient` (triangle count, DOULION, k-truss support), unrolled
  with the triangle close by :func:`_oriented_ctes`;
- the raw (customer, supplier) pairs :func:`_cust_supp` /
  :data:`_CS_CTE` (HITS and the link-prediction indices), and the
  hub-cut posting lists :func:`_hub_cut` + :func:`_supplier_pairs` /
  :data:`_KEPT_CTE` of the four link-prediction indices.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, GroupedData, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64, hash64_sql
from ..spec import QuerySpec
from ..tables import load_table
from ..functions.checkpoint import cut_lineage
from .dedup import _TRIANGLE
from .events import _PEARSON_R, _pearson_sums, _pearson_sums_sql

#: Rank mass scale: 1.0 of probability mass == 10¹² scaled units.
PR_SCALE = 1_000_000_000_000
PR_ITERATIONS = 3


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (src, dst) edge list, one row per direction."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


#: DuckDB twin of :func:`_edges`, materialized once per oracle.
_EDGES_CTE = """pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
)"""


def _cust_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer ``c``, supplier ``s``) purchase pairs in raw
    keys — the directed graph of :func:`graph_hits` and the posting
    lists of the link-prediction indices.  Uncut: each caller cuts it
    where its own reads need."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey",
                                                   "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"),
                F.col("l_suppkey").alias("s"))
        .distinct()
    )


#: DuckDB twin of :func:`_cust_supp`.
_CS_CTE = """cs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)"""


def _weighted_edges(spark: SparkSession, sf_dir: str,
                    weight: str = "1 + 1000 div cnt") -> DataFrame:
    """Undirected weighted edges on the customer–supplier graph, ``w`` =
    ``weight`` (an SQL expression over ``cnt``, the pair's distinct
    co-orders).  The default is the SSSP edge cost ``1 + 1000 div cnt``
    — frequently-trading pairs are cheap to traverse (an integer proxy
    for ``-log strength``), so shortest paths prefer strong commercial
    links; weighted PageRank passes ``cnt`` itself.  Integer weights
    keep the algebra exact in both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.countDistinct("l_orderkey").alias("cnt"))
        .select("c", "s", F.expr(weight).alias("w"))
    )
    return pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w")
    )


def _weighted_edges_cte(weight: str) -> str:
    """DuckDB twin of :func:`_weighted_edges` (``weight`` over ``cnt``)."""
    return f"""pairs AS (
  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
         count(DISTINCT l_orderkey) AS cnt
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst, {weight} AS w FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst, {weight} AS w FROM pairs
)"""


def _node_kind() -> list[Column]:
    """Decode the shared node axis: ``kind`` (even → customer, odd →
    supplier) and ``key`` (``node div 2``)."""
    return [
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier")).alias("kind"),
        F.expr("node div 2").alias("key"),
    ]


#: DuckDB twin of :func:`_node_kind`'s ``kind`` column.
_KIND_SQL = ("CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END"
             " AS kind")

#: The damped rank update ``(1−d)/V + d·Σ`` with d = 17/20, in integers.
_PR_UPDATE = f"(3 * {PR_SCALE}) div (20 * v) + (17 * s) div 20"


def _pr_start(edges: DataFrame, deg_agg: Column
              ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """PageRank set-up over a checkpointed edge list: the per-node
    ``deg`` table (``deg_agg`` over each node's out-edges), the one-row
    node count ``v`` and the initial ranks ``r₀ = SCALE div V``."""
    # deg is referenced by V and by every superstep's rank update; a
    # lazy local checkpoint materializes its shuffle once — without it
    # the plan re-executes the groupBy subtree per reference (no
    # ReusedExchange across the iteration joins, verified empirically).
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        deg_agg.alias("deg")
    ).transform(cut_lineage)
    v = deg.agg(F.count(F.lit(1)).alias("v"))
    ranks = deg.crossJoin(F.broadcast(v)).select(
        "node", "deg", F.expr(f"{PR_SCALE} div v").alias("r")
    )
    return deg, v, ranks


def _pr_step(ranks: DataFrame, edges: DataFrame, v: DataFrame,
             base: DataFrame, contrib: str, *keep: str) -> DataFrame:
    """One PageRank superstep: each node sends ``contrib`` (an SQL
    expression over the rank row and its edge) along every out-edge;
    the sum arriving at a node, joined onto ``base`` (``node``, ``deg``
    and the ``keep`` columns), becomes its damped new rank ``r``."""
    incoming = (
        ranks.join(edges, ranks.node == edges.src)
        .select("dst", F.expr(contrib).alias("c"))
        .groupBy(F.col("dst").alias("node")).agg(F.sum("c").alias("s"))
    )
    return (
        base.join(incoming, "node")
        .crossJoin(F.broadcast(v))
        .select("node", "deg", F.expr(_PR_UPDATE).alias("r"), *keep)
    )


def _pagerank(edges: DataFrame, deg_agg: Column, contrib: str) -> DataFrame:
    """``PR_ITERATIONS`` fixed supersteps, no cut between them."""
    deg, v, ranks = _pr_start(edges, deg_agg)
    for _ in range(PR_ITERATIONS):
        ranks = _pr_step(ranks, edges, v, deg, contrib)
    return ranks.select(*_node_kind(), F.col("r").alias("rank_scaled"))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-scaled PageRank (damping 0.85, 3 fixed iterations).

    ``r₀ = SCALE div V``; per step each node sends ``r div deg`` along
    every incident edge and receives
    ``(3·SCALE) div (20·V) + (17·Σ contrib) div 20``.  Because the
    graph is undirected, every node has deg ≥ 1 and receives at least
    one contribution, so no dangling-mass term is needed.
    """
    return _pagerank(_edges(spark, sf_dir).transform(cut_lineage),
                     F.count(F.lit(1)), "r div deg")


#: Iteration cap for the adaptive variant (and its unrolled oracle).
PR_MAX_ITERATIONS = 6


def graph_pagerank_adaptive(spark: SparkSession, sf_dir: str,
                            max_iterations: int = PR_MAX_ITERATIONS,
                            epsilon_scaled: int = 0) -> DataFrame:
    """PageRank with a per-superstep convergence check (capped).

    Same integer-exact superstep as :func:`graph_pagerank`, but the
    driver loop stops as soon as ``max |Δr| <= epsilon_scaled`` — at
    100× scale the iteration budget becomes adaptive instead of a fixed
    unroll.  The convergence flag rides the rank frame (|Δr| computed in
    the same pass and marked for a lazy cut), so the check is one full
    ``filter().count()`` whose job also materializes that cut — no extra
    shuffle, the same pattern as ``dedup_connected_components``.

    The registry entry uses ``epsilon_scaled=0``: with pure-integer
    arithmetic, Δ=0 means an exact fixpoint, so early exit is
    bit-identical to running out the cap — which is why the DuckDB
    oracle can stay a fixed ``PR_MAX_ITERATIONS``-deep unroll and still
    hash-match whether or not the loop exits early.  Production callers
    pass a real tolerance (e.g. ``PR_SCALE // 10**6``) and trade exact
    parity for fewer supersteps.

    Each superstep's checkpoint also truncates lineage: without it,
    round N re-analyzes rounds 1..N-1 (quadratic planning) and the
    convergence action would re-execute the whole prefix.
    """
    edges = _edges(spark, sf_dir).transform(cut_lineage)
    _, v, ranks = _pr_start(edges, F.count(F.lit(1)))
    for _ in range(max_iterations):
        new_ranks = (
            _pr_step(ranks, edges, v, ranks.withColumnRenamed("r", "r_prev"),
                     "r div deg", "r_prev")
            .withColumn("delta", F.abs(F.col("r") - F.col("r_prev")))
            .transform(cut_lineage)
        )
        # Full count over the lazily-checkpointed frame: one job both
        # materializes the checkpoint and answers convergence (the
        # eager-checkpoint-then-limit-count shape paid two scheduler
        # round-trips per superstep for the same answer).
        moving = new_ranks.filter(F.col("delta") > epsilon_scaled).count()
        ranks = new_ranks.drop("r_prev", "delta")
        if moving == 0:
            break  # fixpoint (within epsilon): further supersteps no-op
    return ranks.select(*_node_kind(), F.col("r").alias("rank_scaled"))


def _pr_oracle(n_iterations: int = PR_ITERATIONS, edges_cte: str = _EDGES_CTE,
               deg_agg: str = "count(*)",
               contrib: str = "r.r // r.deg") -> str:
    """DuckDB unroll of ``n_iterations`` :func:`_pr_step` supersteps;
    ``deg_agg`` and ``contrib`` mirror the Spark degree aggregate and
    contribution expression."""
    base = f"(3 * {PR_SCALE}) // (20 * v)"
    iters = []
    prev = "r0"
    for i in range(1, n_iterations + 1):
        iters.append(f"""
c{i} AS (
  SELECT e.dst AS node, sum({contrib}) AS s
  FROM edges e JOIN {prev} r ON e.src = r.node GROUP BY 1
),
r{i} AS (
  SELECT d.node, d.deg,
         CAST({base} + (17 * c{i}.s) // 20 AS BIGINT) AS r
  FROM deg d JOIN c{i} ON d.node = c{i}.node CROSS JOIN v
)""")
        prev = f"r{i}"
    return f"""
WITH {edges_cte},
deg AS (
  SELECT src AS node, CAST({deg_agg} AS BIGINT) AS deg
  FROM edges GROUP BY 1
),
v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM deg),
r0 AS (
  SELECT node, deg, CAST({PR_SCALE} // v AS BIGINT) AS r
  FROM deg CROSS JOIN v
),{",".join(iters)}
SELECT {_KIND_SQL},
       node // 2 AS key, r AS rank_scaled
FROM {prev}
"""


PAGERANK_ORACLE = _pr_oracle()
PAGERANK_ADAPTIVE_ORACLE = _pr_oracle(PR_MAX_ITERATIONS)


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution per node kind — the skew diagnostic you run
    *before* any per-node iteration (a power-law hub means the rank
    join needs salting; a flat histogram means it does not)."""
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        deg.groupBy(_node_kind()[0], "deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


DEGREE_ORACLE = f"""
WITH {_EDGES_CTE},
deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY 1
)
SELECT {_KIND_SQL},
       deg, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1, 2
"""


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected part co-order edges (u < v): parts appearing
    as lines of the same order.

    Bucket aggregation, not a self-join (the dedup_minhash_lsh band
    pattern): ONE exchange groups each order's distinct part set
    (map-side partial collect_set), and the pairs expand locally inside
    each bucket as an array expression — the self-join formulation
    shuffles the (order, part) table twice more and materializes the
    same pairs through a join.  Per-bucket fan-out is bounded by order
    width (≤ 7 lines ⇒ ≤ 21 pairs), so the expansion can never skew.
    """
    lo = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("s")
    )
    buckets = lo.groupBy("ok").agg(
        F.sort_array(F.collect_set("s")).alias("ids"))
    return (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode(F.expr(_TRIANGLE.format(ids="ids"))).alias("p"))
        .select(F.col("p.d1").alias("u"), F.col("p.d2").alias("v"))
        .distinct()
    )


#: DuckDB twin of :func:`_co_order_edges`: distinct (order, part) lines
#: ``lo`` and the canonical (u < v) edge list ``und``.
_CO_ORDER_CTE = """lo AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS s FROM lineitem
),
und AS MATERIALIZED (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM lo a JOIN lo b ON a.ok = b.ok AND a.s < b.s
)"""


def _oriented_ctes(und: str, i: int | str = "") -> str:
    """DuckDB twin of :func:`_orient` + :func:`_closed_triangles` over
    the canonical edge CTE ``und``: the degree table ``deg{i}``, the
    arcs ``o{i}`` and one (a, b, c) row per triangle in ``tri{i}``."""
    return f"""deg{i} AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM {und} UNION ALL SELECT v AS node FROM {und}
  ) GROUP BY 1
),
o{i} AS (
  SELECT CASE WHEN (du.deg, u) < (dv.deg, v) THEN u ELSE v END AS src,
         CASE WHEN (du.deg, u) < (dv.deg, v) THEN v ELSE u END AS dst,
         CASE WHEN (du.deg, u) < (dv.deg, v) THEN dv.deg ELSE du.deg END
           AS ddeg
  FROM {und}
  JOIN deg{i} du ON du.node = {und}.u
  JOIN deg{i} dv ON dv.node = {und}.v
),
tri{i} AS (
  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
  FROM o{i} o1
  JOIN o{i} o2 ON o1.src = o2.src
              AND (o1.ddeg, o1.dst) < (o2.ddeg, o2.dst)
  JOIN o{i} cl ON cl.src = o1.dst AND cl.dst = o2.dst
)"""


#: Arc-count ceiling for broadcasting the per-tail neighbor-array table
#: of the triangle close (same total entries as the arc table, ~50 B/arc
#: built ⇒ ≤ a few hundred MB at the cap).  Past it both neighbor
#: attachments fall back to shuffle joins of the arc table — the right
#: shape once the arc table itself is cluster-scale.
_CLOSE_BROADCAST_MAX_ARCS = 4_000_000


def _closed_triangles(oriented: DataFrame) -> DataFrame:
    """Close triangles on a degree-ordered arc table: one (a, b, c) row
    per triangle.

    Adjacency-intersection form (r11): group the arcs ONCE into per-tail
    neighbor arrays N⁺(x); the orientation is a DAG under the (deg, id)
    total order, so each triangle a<b<c appears exactly once as
    c ∈ N⁺(a) ∩ N⁺(b) at its lowest arc (a, b).  The previous shape
    enumerated the O(m^{3/2}) wedge stream as join rows (41 M at sf0.1
    vs 1.2 M arcs on the part co-order graph) and probed the broadcast
    arc table per wedge; here the same element comparisons happen inside
    ``array_intersect`` on the arc rows — no wedge row is ever
    materialized, and only ~1 row per triangle leaves the operator.
    The inner join on the head's neighbor array doubles as the §3.2
    semi-join prune: an arc whose head has no out-arcs can close
    nothing and is dropped before any intersection.

    The neighbor-array build rides one exchange (same bytes as the arc
    table, regrouped); it broadcasts under the same arc-count guard as
    before (count read from the checkpointed arc frame — a ~ms job once
    materialized).  Past the guard both attachments fall back to
    shuffles of the ARC table (m rows) — still never the wedge stream.
    """
    nbrs = oriented.groupBy("src").agg(F.collect_list("dst").alias("nb"))
    if oriented.count() <= _CLOSE_BROADCAST_MAX_ARCS:
        nbrs = F.broadcast(nbrs)
    na = nbrs.select(F.col("src").alias("_ta"), F.col("nb").alias("nb_a"))
    nb = nbrs.select(F.col("src").alias("_tb"), F.col("nb").alias("nb_b"))
    return (
        oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(na, F.col("a") == F.col("_ta"))
        .join(nb, F.col("b") == F.col("_tb"))
        .select("a", "b",
                F.explode(F.array_intersect("nb_a", "nb_b")).alias("c"))
    )


def _orient(und: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree table ``deg`` (node, deg) and degree-ordered orientation
    ``oriented`` (src, dst, ddeg) of a canonical (u < v) edge list: one
    arc per undirected edge, from the endpoint smaller by (deg, id),
    carrying the head's degree ``ddeg``.

    Both are cut: ``deg`` is read by both orientation joins,
    ``oriented`` three times by :func:`_closed_triangles`.  Without the
    lazy checkpoints Catalyst re-executes the edge-building subtree per
    reference (no ReusedExchange across differently-aliased joins — same
    finding as the pagerank degree table) — measured 20.4 s → each tier
    materialized once and the wedge join dominates as it should.
    """
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        .transform(cut_lineage)
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    u_first = (
        F.struct(F.col("du.deg"), F.col("u"))
        < F.struct(F.col("dv.deg"), F.col("v"))
    )
    oriented = (
        und.join(du, F.col("u") == F.col("du.node"))
        .join(dv, F.col("v") == F.col("dv.node"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv.deg")).otherwise(F.col("du.deg"))
            .alias("ddeg"),
        )
        .transform(cut_lineage)
    )
    return deg, oriented


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the part co-order graph, via
    degree-ordered edge orientation.

    Graph: parts u—v linked when both appear as lines of the same order
    (the "bought-together" unipartite projection; the bipartite graph in
    :func:`_edges` has no odd cycles, hence no triangles).  The *part*
    projection is the sparse one — the supplier projection densifies to
    >90% of the complete graph at sf0.1 (998 suppliers shipping 150k
    orders), which makes triangle counting O(n³) on any engine; picking
    the projection whose node count grows with the data is itself part
    of the scale story.

    The scale-critical choice is the *orientation*: each undirected edge
    becomes one arc from its (degree, id)-smaller endpoint, and wedges
    are enumerated only at the arc tail.  This is the standard
    MapReduce triangle-count mitigation for "the curse of the last
    reducer" — per-tail out-degree is O(√m) on any graph, so the wedge
    join produces O(m^{3/2}) rows total instead of Σ deg² centered on
    hub nodes.  Each triangle {a,b,c} then materializes exactly once:
    its orientation DAG has one node with two out-arcs, and the closing
    arc direction is forced by the same (deg, id) order.  Everything is
    joins + integer counts — deterministic under any shuffle schedule.
    """
    # und feeds both deg and the orientation join; deg (cut in _orient)
    # also feeds the final left join.
    und = _co_order_edges(spark, sf_dir).transform(cut_lineage)
    deg, oriented = _orient(und)
    tri = _closed_triangles(oriented)
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            F.col("node").alias("partkey"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint")
            .alias("n_triangles"),
        )
    )


TRIANGLE_ORACLE = f"""
WITH {_CO_ORDER_CTE},
{_oriented_ctes("und")},
per_node AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
  ) GROUP BY 1
)
SELECT d.node AS partkey, d.deg AS degree,
       COALESCE(p.n_triangles, 0) AS n_triangles
FROM deg d LEFT JOIN per_node p ON p.node = d.node
"""


#: DOULION edge-sampling rate in thousandths (250 = keep 25% of edges).
#: Chosen so the 1/p³ scale-up (64) is an exact integer — the estimate
#: stays pure BIGINT arithmetic on both engines.
DOULION_P_MILLI = 250
_DOULION_SCALE = 1000**3 // DOULION_P_MILLI**3   # 1/p³ = 64


def graph_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION triangle-count estimate (Tsourakakis et al., KDD'09):
    keep each undirected edge with probability p via a deterministic
    hash gate, run the same degree-ordered wedge count on the sparsified
    graph, scale by 1/p³.

    The production twin of :func:`graph_triangle_count` — the exact
    count is the bench's heaviest analytic (the O(m^{3/2}) wedge join);
    sampling at p=0.25 cuts wedge work ≈ p² and closing-join output
    ≈ p³ (~1.6% of exact) while the estimator stays unbiased with
    relative error ~ sqrt((1/p³−1)/T).  The coin is
    ``hash64('tri:'||u||':'||v) mod 1000 < 250`` — reproducible in
    DuckDB, re-shard-stable, and pinned against the exact count by
    ``tests/test_graph_ops.py::test_doulion_relative_error``.

    The scale-up factor is the exact integer 64, so the estimate is
    BIGINT end-to-end — no float summation anywhere.
    """
    und = _co_order_edges(spark, sf_dir) \
        .transform(cut_lineage)   # feeds total count + the gate
    coin = F.pmod(
        hash64(F.concat(F.lit("tri:"), F.col("u").cast("string"),
                        F.lit(":"), F.col("v").cast("string"))),
        F.lit(1000),
    )
    sampled = und.filter(coin < DOULION_P_MILLI) \
        .transform(cut_lineage)   # degrees + orientation join
    _, oriented = _orient(sampled)
    tri_s = _closed_triangles(oriented) \
        .agg(F.count(F.lit(1)).alias("tri_sampled"))
    totals = und.agg(F.count(F.lit(1)).alias("n_edges"))
    kept = sampled.agg(F.count(F.lit(1)).alias("n_edges_kept"))
    return (
        tri_s.crossJoin(F.broadcast(totals)).crossJoin(F.broadcast(kept))
        .select(
            "n_edges", "n_edges_kept", "tri_sampled",
            (F.col("tri_sampled") * F.lit(_DOULION_SCALE))
            .cast("bigint").alias("tri_est"),
        )
    )


_DOULION_HASH = hash64_sql(
    "'tri:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")
DOULION_ORACLE = f"""
WITH {_CO_ORDER_CTE},
sampled AS (
  SELECT u, v FROM und WHERE {_DOULION_HASH} % 1000 < {DOULION_P_MILLI}
),
{_oriented_ctes("sampled")}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM sampled) AS n_edges_kept,
       CAST(count(*) AS BIGINT) AS tri_sampled,
       CAST(count(*) * {_DOULION_SCALE} AS BIGINT) AS tri_est
FROM tri
"""


#: Fixed synchronous label-propagation rounds (unrolled in the oracle).
LPA_ITERATIONS = 2


def graph_label_propagation(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Community detection by deterministic synchronous label
    propagation: each round every node adopts its neighbors'
    most-frequent label (ties → smallest label), run for a fixed
    ``LPA_ITERATIONS`` rounds.

    Classic LPA breaks ties randomly and is therefore unreproducible;
    this variant pins (count DESC, label ASC) so the fixpoint path is a
    pure function of the graph — the determinism contract every
    operator here carries.  A fixed unroll (rather than
    propagate-to-convergence) keeps the oracle expressible as plain
    CTEs; convergence-looped variants follow the
    ``dedup_connected_components`` pattern.

    Scale shape: per round, one shuffle join (edges ⋈ labels on dst)
    + one count aggregate + one argmax window *partitioned by node* —
    parallel across nodes, each partition bounded by the node's
    distinct neighbor-label count.  Labels are checkpointed per round
    (iterative-lineage rule).
    """
    edges = _edges(spark, sf_dir).transform(cut_lineage)
    return _lpa_labels(edges).select(
        *_node_kind(), F.col("label").alias("community"))


def _lpa_labels(edges: DataFrame) -> DataFrame:
    """Deterministic synchronous label propagation over a checkpointed
    edge list; returns the (node, label) table after the fixed rounds
    (shared by the community listing and the modularity score)."""
    labels = (
        edges.select("src").distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
        .transform(cut_lineage)
    )
    for _ in range(LPA_ITERATIONS):
        cnt = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("src").orderBy(F.desc("cnt"), "label")
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "label")
            .transform(cut_lineage)
        )
    return labels


def _lpa_oracle(n_iterations: int = LPA_ITERATIONS,
                tail: str | None = None) -> str:
    """Unrolled LPA CTE chain; ``tail`` (with a ``{prev}`` placeholder
    for the final label table) overrides the default community listing —
    the modularity oracle builds its scoring on the same chain."""
    iters = []
    prev = "l0"
    for i in range(1, n_iterations + 1):
        iters.append(f"""
c{i} AS (
  SELECT e.src, l.label, count(*) AS cnt
  FROM edges e JOIN {prev} l ON e.dst = l.node GROUP BY 1, 2
),
l{i} AS (
  SELECT src AS node, label FROM (
    SELECT src, label,
           row_number() OVER (PARTITION BY src
                              ORDER BY cnt DESC, label) AS rn
    FROM c{i}
  ) WHERE rn = 1
)""")
        prev = f"l{i}"
    return f"""
WITH {_EDGES_CTE},
l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
),
{','.join(iters)}
{(tail or DEFAULT_LPA_TAIL).format(prev=prev)}
"""


DEFAULT_LPA_TAIL = f"""
SELECT {_KIND_SQL},
       node // 2 AS key, label AS community
FROM {{prev}}
"""


LPA_ORACLE = _lpa_oracle()


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities, per community.

    The quality metric that tells a pipeline owner whether the detected
    communities are real structure or noise: each community contributes
    ``e_c/m − (d_c/2m)²`` (intra-edge share minus the share expected
    under random wiring at the same degrees).  Emitted per community —
    community id, node count, degree sum d_c, intra-edge count e_c and
    the contribution — so the global Q is the consumer's one-line sum
    and weak communities are directly rankable.

    Determinism: with the directed edge representation (2m rows), every
    term is an exact integer (d_c = directed edges leaving c, intra_dir
    = 2·e_c, D = 2m) and the contribution is (D·intra_dir − d_c²)/D² —
    DECIMAL(38)-exact numerator, one double division, floor-truncated
    to 6 dp.  Scale shape: the LPA rounds dominate; scoring adds one
    edges⋈labels⋈labels join (shuffle on node), a per-community
    aggregate, and a one-row D scalar broadcast.
    """
    edges = _edges(spark, sf_dir).transform(cut_lineage)
    labels = _lpa_labels(edges)
    lu, lv = labels.alias("lu"), labels.alias("lv")
    joined = (
        edges.join(lu, edges.src == F.col("lu.node"))
        .join(lv, edges.dst == F.col("lv.node"))
        .select(
            F.col("lu.label").alias("community"),
            (F.col("lu.label") == F.col("lv.label")).cast("long")
            .alias("intra"),
        )
    )
    pc = joined.groupBy("community").agg(
        F.count(F.lit(1)).alias("degree_sum"),
        F.sum("intra").alias("intra_dir"),
    )
    nn = labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    d_tot = pc.agg(F.sum("degree_sum").alias("_d"))
    dd = F.col("_d").cast("decimal(38,0)")
    ds = F.col("degree_sum").cast("decimal(38,0)")
    num = (dd * F.col("intra_dir").cast("decimal(38,0)")
           - ds * ds).cast("double")
    q = num / (dd * dd).cast("double")
    return (
        pc.join(nn, "community")
        .crossJoin(F.broadcast(d_tot))
        .select(
            "community", "n_nodes", "degree_sum",
            F.expr("intra_dir div 2").alias("intra_edges"),
            (F.floor(q * 1000000.0) / 1000000.0).alias("q_contrib"),
        )
    )


MODULARITY_TAIL = """
, nodes AS (SELECT node, label FROM {prev}),
joined AS (
  SELECT lu.label AS community,
         CASE WHEN lu.label = lv.label THEN 1 ELSE 0 END AS intra
  FROM edges e JOIN nodes lu ON e.src = lu.node
               JOIN nodes lv ON e.dst = lv.node
),
pc AS (
  SELECT community, CAST(count(*) AS BIGINT) AS degree_sum,
         CAST(sum(intra) AS BIGINT) AS intra_dir
  FROM joined GROUP BY 1
),
nn AS (SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
       FROM nodes GROUP BY 1),
d AS (SELECT CAST(sum(degree_sum) AS DECIMAL(38,0)) AS dd FROM pc)
SELECT pc.community, nn.n_nodes, pc.degree_sum,
       CAST(pc.intra_dir // 2 AS BIGINT) AS intra_edges,
       floor(CAST(d.dd * CAST(pc.intra_dir AS DECIMAL(38,0))
                  - CAST(pc.degree_sum AS DECIMAL(38,0))
                    * CAST(pc.degree_sum AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(d.dd * d.dd AS DOUBLE) * 1000000.0) / 1000000.0
         AS q_contrib
FROM pc JOIN nn ON pc.community = nn.community CROSS JOIN d
"""

MODULARITY_ORACLE = _lpa_oracle(tail=MODULARITY_TAIL)


def graph_community_conductance(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Conductance of every LPA community — modularity's cut-based
    companion: ``φ_c = cut_c / min(vol_c, 2m − vol_c)`` (fraction of a
    community's edge volume that escapes it; low φ = well-separated).
    Modularity rewards density above random expectation; conductance
    directly prices the CUT, which is what a partitioner (or a
    bucketing layout derived from communities) actually pays at scale.

    Integer-exact: over the directed edge list, vol_c = edges leaving
    the community's nodes (exact count), cut_c = vol_c − intra_dir, D =
    2m a one-row scalar — conductance in integer ppm.

    Scale: the LPA rounds dominate; scoring is one edges⋈labels⋈labels
    join (shuffle on node) + a per-community aggregate, exactly the
    modularity plan with a different readout.
    """
    edges = _edges(spark, sf_dir).transform(cut_lineage)
    labels = _lpa_labels(edges)
    lu, lv = labels.alias("lu"), labels.alias("lv")
    per_c = (
        edges.join(lu, edges.src == F.col("lu.node"))
        .join(lv, edges.dst == F.col("lv.node"))
        .groupBy(F.col("lu.label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("vol"),
            F.sum((F.col("lu.label") == F.col("lv.label")).cast("long"))
            .alias("intra_dir"),
        )
        .transform(cut_lineage)   # rows AND the D scalar
    )
    d = per_c.agg(F.sum("vol").alias("dd"))
    out = per_c.crossJoin(F.broadcast(d)).select(
        "community",
        F.col("vol").cast("long").alias("vol"),
        (F.col("vol") - F.col("intra_dir")).cast("long")
        .alias("cut_edges"),
        F.least(F.col("vol"), F.col("dd") - F.col("vol")).alias("denom"),
    )
    return out.where(F.col("denom") > 0).select(
        "community", "vol", "cut_edges",
        F.expr("(1000000 * cut_edges) div denom").alias("conductance_ppm"),
    )


CONDUCTANCE_TAIL = """
, nodes AS (SELECT node, label FROM {prev}),
pc AS (
  SELECT lu.label AS community,
         CAST(count(*) AS BIGINT) AS vol,
         CAST(sum(CASE WHEN lu.label = lv.label THEN 1 ELSE 0 END)
              AS BIGINT) AS intra_dir
  FROM edges e JOIN nodes lu ON e.src = lu.node
               JOIN nodes lv ON e.dst = lv.node
  GROUP BY 1
),
d AS (SELECT CAST(sum(vol) AS BIGINT) AS dd FROM pc)
SELECT community, vol,
       CAST(vol - intra_dir AS BIGINT) AS cut_edges,
       (1000000 * (vol - intra_dir)) // least(vol, dd - vol)
         AS conductance_ppm
FROM pc, d
WHERE least(vol, dd - vol) > 0
"""

CONDUCTANCE_ORACLE = _lpa_oracle(tail=CONDUCTANCE_TAIL)


#: Hub cutoff for common-neighbor similarity: customers linked to more
#: than this many suppliers are dropped before pairing (the graph twin
#: of the shingle DF cutoff — a hub's pair expansion is O(deg²) and its
#: similarity signal is near zero).
CN_HUB_CUTOFF = 64
CN_TOP_K = 50


def _hub_cut(cs: DataFrame) -> DataFrame:
    """The (c, s) pairs of customers with at most ``CN_HUB_CUTOFF``
    suppliers."""
    return (
        cs.withColumn(
            "cdeg", F.count(F.lit(1)).over(Window.partitionBy("c"))
        )
        .filter(F.col("cdeg") <= CN_HUB_CUTOFF)
        .select("c", "s")
    )


def _supplier_pairs(kept: DataFrame, *weights: Column) -> GroupedData:
    """Supplier pairs (s1 < s2) grouped for aggregation, one input row
    per shared customer: each customer's sorted posting list of ≥ 2
    suppliers expands locally inside its bucket, next to the per-bucket
    ``weights`` (expressions over the bucket array ``ids``)."""
    buckets = (
        kept.groupBy("c")
        .agg(F.sort_array(F.collect_list("s")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return buckets.select(
        F.explode(F.expr(_TRIANGLE.format(ids="ids"))).alias("p"), *weights
    ).groupBy(F.col("p.d1").alias("s1"), F.col("p.d2").alias("s2"))


#: DuckDB twin of :func:`_hub_cut` over :data:`_CS_CTE`; ``kept`` also
#: carries the customer degree ``cdeg`` that RA and AA weigh by.
_KEPT_CTE = f"""{_CS_CTE},
kept AS (
  SELECT c, s, cdeg FROM (
    SELECT c, s, count(*) OVER (PARTITION BY c) AS cdeg FROM cs
  ) WHERE cdeg <= {CN_HUB_CUTOFF}
)"""


def graph_common_neighbors_topk(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Top-50 supplier pairs by shared-customer Jaccard — neighborhood
    similarity on the bipartite graph, the standard link-prediction /
    substitute-detection signal.

    Same sub-quadratic shape as the document Jaccard: customers are the
    posting lists (sorted supplier lists per customer, hub customers
    cut at ``CN_HUB_CUTOFF``), pairs expand locally inside each bucket,
    and degrees (post-cutoff, so the score is consistent with the
    candidates) come from one aggregate.  Ties at the top-k boundary
    break on (supplier, supplier), and the ranking compiles to
    TakeOrderedAndProject.
    """
    # cs has one reader, the hub-cut window, so its cut saves no
    # recompute; kept feeds buckets + degrees.
    cs = _cust_supp(spark, sf_dir).transform(cut_lineage)
    kept = _hub_cut(cs).transform(cut_lineage)
    deg = kept.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    pairs = _supplier_pairs(kept).agg(F.count(F.lit(1)).alias("inter"))
    da, db = deg.alias("da"), deg.alias("db")
    jac = F.col("inter").cast("double") / (
        F.col("da.n") + F.col("db.n") - F.col("inter")
    )
    return (
        pairs.join(da, F.col("s1") == F.col("da.s"))
        .join(db, F.col("s2") == F.col("db.s"))
        .select("s1", "s2", "inter",
                (F.floor(jac * 10000.0) / 10000.0).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(CN_TOP_K)
    )


COMMON_NEIGHBORS_ORACLE = f"""
WITH {_KEPT_CTE},
deg AS (SELECT s, count(*) AS n FROM kept GROUP BY 1),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS inter
  FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
  GROUP BY 1, 2
)
SELECT s1, s2, inter,
       floor(CAST(inter AS DOUBLE) / (da.n + db.n - inter) * 10000.0)
         / 10000.0 AS jaccard
FROM pairs
JOIN deg da ON s1 = da.s
JOIN deg db ON s2 = db.s
ORDER BY jaccard DESC, s1, s2
LIMIT {CN_TOP_K}
"""


#: Resource-allocation contributions carried as ``RA_SCALE div deg``
#: integers — the sum is exact BIGINT, immune to shuffle order.
RA_SCALE = 1_000_000_000


def graph_link_prediction_ra(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Top-50 supplier pairs by Resource-Allocation index —
    ``RA(s1,s2) = Σ_{c ∈ Γ(s1)∩Γ(s2)} 1/deg(c)`` — the link-prediction
    score that, unlike raw common-neighbor counts, discounts shared
    customers by how promiscuous they are (Zhou/Lü/Zhang 2009's RA
    index; the strongest of the classic local similarity indices).

    Determinism: each shared customer contributes the *integer*
    ``RA_SCALE div deg(c)``, so the pair score is an exact BIGINT sum.
    Same sub-quadratic posting-list shape as
    :func:`graph_common_neighbors_topk` — customers are buckets (hubs
    cut at ``CN_HUB_CUTOFF``), pairs expand locally, and because the
    hub cutoff is applied per customer, ``deg(c) == size(bucket)`` is
    available for free inside the bucket (no degree join at all).  The
    top-k compiles to TakeOrderedAndProject with (score, s1, s2)
    tie-breaks.
    """
    kept = _hub_cut(_cust_supp(spark, sf_dir))
    w = F.expr(f"{RA_SCALE} div size(ids)").alias("w")
    return (
        _supplier_pairs(kept, w)
        .agg(F.count(F.lit(1)).alias("n_common"),
             F.sum("w").alias("ra_scaled"))
        .orderBy(F.desc("ra_scaled"), "s1", "s2")
        .limit(CN_TOP_K)
    )


LINK_PREDICTION_RA_ORACLE = f"""
WITH {_KEPT_CTE}
SELECT a.s AS s1, b.s AS s2,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum({RA_SCALE} // a.cdeg) AS BIGINT) AS ra_scaled
FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
GROUP BY 1, 2
ORDER BY ra_scaled DESC, s1, s2
LIMIT {CN_TOP_K}
"""


#: Adamic–Adar contributions ``floor(AA_SCALE / ln(deg))`` precomputed
#: in Python for the bounded degree domain 2..CN_HUB_CUTOFF — ln is
#: libm-dependent (Java Math.log vs DuckDB can differ in the last ulp,
#: and the floor would amplify that to ±1), so both engines consume the
#: SAME integer literals instead of computing the log themselves (the
#: stats_benford expectation-literal pattern).
AA_SCALE = 1_000_000_000
_AA_WEIGHTS = [
    int(AA_SCALE // __import__("math").log(d))
    for d in range(2, 65)
]
_AA_WEIGHTS_CSV = ", ".join(str(w) for w in _AA_WEIGHTS)


def graph_link_prediction_aa(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Top-50 supplier pairs by Adamic–Adar index —
    ``AA(s1,s2) = Σ_{c ∈ Γ(s1)∩Γ(s2)} 1/ln(deg(c))`` — the classic
    log-discounted link-prediction score (Adamic/Adar 2003): gentler
    on mid-degree shared neighbours than RA's 1/deg, harsher than raw
    common-neighbour counts.

    Same sub-quadratic posting-list shape as
    :func:`graph_link_prediction_ra`; the only change is the per-bucket
    weight, read from the precomputed :data:`_AA_WEIGHTS` literal table
    by ``size(ids)`` so the pair score stays an exact BIGINT sum.
    """
    kept = _hub_cut(_cust_supp(spark, sf_dir))
    w = F.expr(f"element_at(array({_AA_WEIGHTS_CSV}), size(ids) - 1)") \
        .cast("bigint").alias("w")
    return (
        _supplier_pairs(kept, w)
        .agg(F.count(F.lit(1)).alias("n_common"),
             F.sum("w").alias("aa_scaled"))
        .orderBy(F.desc("aa_scaled"), "s1", "s2")
        .limit(CN_TOP_K)
    )


LINK_PREDICTION_AA_ORACLE = f"""
WITH {_KEPT_CTE}
SELECT a.s AS s1, b.s AS s2,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(list_extract([{_AA_WEIGHTS_CSV}], a.cdeg - 1))
            AS BIGINT) AS aa_scaled
FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
GROUP BY 1, 2
ORDER BY aa_scaled DESC, s1, s2
LIMIT {CN_TOP_K}
"""


def graph_degree_assortativity(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–supplier graph: the Pearson
    correlation of endpoint degrees over all (directed-both-ways)
    edges — negative means hubs attach to leaves (the usual shape of
    bipartite commerce graphs), positive means rich-club clustering.
    The one-number structural diagnostic read before choosing graph
    partitioning / skew strategies.

    All five moments are exact BIGINT sums over the edge list (degrees
    are integers), so the single correlation expression — one shared
    SQL fragment — is bit-identical on both engines.  Scale shape: the
    degree table joins the edge list twice (src, dst) on already-
    shuffled keys; the moments collapse in one partial aggregate to a
    single row.
    """
    edges = _edges(spark, sf_dir).transform(cut_lineage)
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .transform(cut_lineage)
    )
    ds = deg.select(F.col("node").alias("src"), F.col("deg").alias("x"))
    dd = deg.select(F.col("node").alias("dst"), F.col("deg").alias("y"))
    j = edges.join(ds, "src").join(dd, "dst")
    return _pearson_sums(j).select(
        F.col("n").alias("n_edges"),
        F.round(F.expr(_PEARSON_R), 6).alias("assortativity"),
    )


ASSORTATIVITY_ORACLE = f"""
WITH {_EDGES_CTE},
deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY 1
),
deg_pairs AS (
  SELECT a.deg AS x, b.deg AS y
  FROM edges e
  JOIN deg a ON a.node = e.src
  JOIN deg b ON b.node = e.dst
),
agg AS ({_pearson_sums_sql("deg_pairs")})
SELECT n AS n_edges, round({_PEARSON_R}, 6) AS assortativity
FROM agg
"""


def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: edge weight = distinct co-orders on the link.

    The unweighted walk treats a one-order supplier relationship the
    same as a hundred-order one; here each node splits its rank over
    incident edges proportionally to weight — contribution along an
    edge is ``(r * w) div deg(src)`` with ``deg`` the weighted degree
    Σw (integer, so shuffle-order-exact like the unweighted operator).
    Same damping, same :func:`_pr_step` superstep and the same
    fixed-iteration oracle unroll as :func:`graph_pagerank`.
    """
    return _pagerank(_weighted_edges(spark, sf_dir, "cnt")
                     .transform(cut_lineage), F.sum("w"), "(r * w) div deg")


PAGERANK_WEIGHTED_ORACLE = _pr_oracle(
    PR_ITERATIONS, _weighted_edges_cte("cnt"), "sum(w)",
    "(r.r * e.w) // r.deg")


#: Fixed peeling rounds for the k-core operator (and unrolled oracle).
KCORE_ROUNDS = 3


def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling: iteratively drop nodes of degree < k.

    k-core decomposition is the classic graph-quality filter (web-graph
    curation keeps the dense core and sheds spammy low-degree fringe).
    ``k`` adapts to the graph instead of being a magic constant: half
    the integer mean degree, ``Σdeg div 2V`` — a one-row scalar both
    engines compute identically (the full mean over-peels: this graph's
    degree distribution is hub-skewed, so most nodes sit below the
    mean and the core collapses to empty at small scale).  ``KCORE_ROUNDS`` peel rounds run regardless of
    convergence (fixed iteration count keeps the DuckDB oracle an exact
    unrolled mirror, the PageRank pattern); the output is every node
    still carrying an edge plus its degree inside the peeled subgraph.

    Scale: each round is one partial-agg shuffle (degrees) and two
    shuffled semi-joins (endpoint filter) — no per-node state on the
    driver, nothing quadratic; survivors shrink monotonically so rounds
    get cheaper.  Edge/keep frames are lazily localCheckpoint-ed because
    each is consumed by multiple joins in the next round.
    """
    edges = _edges(spark, sf_dir).transform(cut_lineage)
    deg0 = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).transform(cut_lineage)
    kv = deg0.agg(
        F.expr("sum(deg) div (count(1) * 2)").cast("long").alias("k")
    )
    e = edges
    deg = deg0
    for _ in range(KCORE_ROUNDS):
        keep = (
            deg.crossJoin(F.broadcast(kv))
            .filter(F.col("deg") >= F.col("k"))
            .select("node")
            .transform(cut_lineage)
        )
        e = (
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .transform(cut_lineage)
        )
        deg = e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
    return deg.select(*_node_kind(), F.col("deg").alias("core_deg"))


def _kcore_oracle(rounds: int = KCORE_ROUNDS) -> str:
    parts = []
    prev_e, prev_d = "edges", "deg0"
    for i in range(1, rounds + 1):
        parts.append(f"""
keep{i} AS (
  SELECT node FROM {prev_d} CROSS JOIN kv WHERE deg >= k
),
e{i} AS (
  SELECT e.src, e.dst FROM {prev_e} e
  JOIN keep{i} a ON e.src = a.node
  JOIN keep{i} b ON e.dst = b.node
),
deg{i} AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM e{i} GROUP BY 1
)""")
        prev_e, prev_d = f"e{i}", f"deg{i}"
    return f"""
WITH {_EDGES_CTE},
deg0 AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY 1
),
kv AS (SELECT CAST(sum(deg) // (count(*) * 2) AS BIGINT) AS k FROM deg0),{",".join(parts)}
SELECT {_KIND_SQL},
       node // 2 AS key, deg AS core_deg
FROM {prev_d}
"""


KCORE_ORACLE = _kcore_oracle()


#: k-truss parameters: keep edges supported by >= KTRUSS_K - 2
#: triangles, for KTRUSS_ROUNDS bounded peel rounds (the k-core /
#: PageRank fixed-unroll pattern — the oracle mirrors each round
#: exactly; full convergence would need data-dependent iteration).
KTRUSS_K = 4
KTRUSS_ROUNDS = 2


def _edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support of a canonical (u < v) edge list —
    the degree-ordered oriented-wedge enumeration of
    :func:`graph_triangle_count` (same O(m^1.5) bound, cited there),
    with each triangle exploded back to its three canonical edges."""
    _, oriented = _orient(und)
    tri = _closed_triangles(oriented)
    edges3 = tri.select(F.explode(F.array(
        F.struct(F.least("a", "b").alias("u"),
                 F.greatest("a", "b").alias("v")),
        F.struct(F.least("a", "c").alias("u"),
                 F.greatest("a", "c").alias("v")),
        F.struct(F.least("b", "c").alias("u"),
                 F.greatest("b", "c").alias("v")),
    )).alias("e")).select("e.u", "e.v")
    return edges3.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("sup"))


def graph_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-truss peeling on the part co-order graph: iteratively
    drop edges supported by fewer than k−2 triangles — the EDGE-grade
    density filter one notch stronger than k-core (a k-core keeps a
    sparse star's hub; a k-truss keeps only edges embedded in
    triangle-dense neighborhoods — cohesive "bought-together" motifs,
    not mere popularity).  Cohen (2008)'s trusses, as bounded rounds.

    Each round recomputes per-edge support INSIDE the surviving
    subgraph via the same degree-ordered oriented wedge enumeration as
    :func:`graph_triangle_count` (O(m^1.5) wedges, no hub blowup) and
    keeps edges with support ≥ KTRUSS_K−2; edges in no triangle have
    no support row and fall out of the inner join.  KTRUSS_ROUNDS
    fixed rounds (the k-core unroll pattern — the oracle mirrors each
    round); output = the surviving edges with their support as
    measured in the LAST round's subgraph (the value the final filter
    judged — documented, so no third enumeration is spent on
    reporting).

    Exactness: everything is joins and integer counts.  Scale: wedge
    volume shrinks monotonically per round; each round is the
    triangle-count plan plus one edge-key aggregate.
    """
    und = _co_order_edges(spark, sf_dir).transform(cut_lineage)
    for _ in range(KTRUSS_ROUNDS):
        # Support keys are edges of `und` in >= 1 triangle (a subset of
        # und), so the filtered support table IS the surviving edge
        # list — triangle-free edges fall out with it.
        sup = _edge_support(und.select("u", "v"))
        und = (
            sup.filter(F.col("sup") >= KTRUSS_K - 2)
            .transform(cut_lineage)
        )
    return und.select(
        F.col("u").alias("part_u"), F.col("v").alias("part_v"),
        F.col("sup").alias("support"),
    )


def _ktruss_oracle(rounds: int = KTRUSS_ROUNDS) -> str:
    parts = []
    prev = "und"
    for i in range(1, rounds + 1):
        parts.append(f"""
{_oriented_ctes(prev, i)},
sup{i} AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
    SELECT least(a, b) AS u, greatest(a, b) AS v FROM tri{i}
    UNION ALL SELECT least(a, c), greatest(a, c) FROM tri{i}
    UNION ALL SELECT least(b, c), greatest(b, c) FROM tri{i}
  ) GROUP BY 1, 2
),
und{i} AS MATERIALIZED (
  SELECT e.u, e.v, s.sup FROM {prev} e
  JOIN sup{i} s ON s.u = e.u AND s.v = e.v
  WHERE s.sup >= {KTRUSS_K - 2}
)""")
        prev = f"und{i}"
    return f"""
WITH {_CO_ORDER_CTE},{",".join(parts)}
SELECT u AS part_u, v AS part_v, sup AS support FROM {prev}
"""


KTRUSS_ORACLE = _ktruss_oracle()


#: Rich-club degree thresholds — a fixed geometric ladder (literal in
#: both engines) so the curve is comparable across corpus scales.
RICH_CLUB_KS = [1, 2, 4, 8, 16, 32, 64, 128]


def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve of the part co-order graph
    (Colizza et al., Nature Physics 2006): for each degree threshold
    k, the edge density among nodes of degree > k —
    φ(k) = 2·E_k / (N_k·(N_k−1)).  A rising φ(k) says the hubs form
    their own densely-wired club (popular parts co-ordered with each
    other, not just with the long tail) — the structural signal behind
    hub-first partitioning and cache-the-club serving layouts, and the
    natural companion of :func:`graph_degree_assortativity` (one
    number) — this is the full curve.

    Exactness: N_k and E_k are integer counts (an edge is in the club
    iff the SMALLER endpoint degree exceeds k); φ is one integer ppm
    division per threshold.  Scale: one degree aggregate, one
    edges⋈deg join to tag each edge with min(deg_u, deg_v), then a
    |K|-fan-out conditional count — the threshold ladder is a
    broadcast literal, never a data-dependent domain.
    """
    edges = _co_order_edges(spark, sf_dir).transform(cut_lineage)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        .transform(cut_lineage)
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    emin = (
        edges.join(du, F.col("u") == F.col("du.node"))
        .join(dv, F.col("v") == F.col("dv.node"))
        .select(F.least("du.deg", "dv.deg").alias("mind"))
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k).cast("long")
                            for k in RICH_CLUB_KS])).alias("k"))
    e_k = (
        ks.join(emin, F.col("mind") > F.col("k"))
        .groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    n_k = (
        ks.join(deg, F.col("deg") > F.col("k"))
        .groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    out = (
        n_k.join(e_k, "k", "left")
        .select("k", "n_nodes",
                F.coalesce("n_edges", F.lit(0)).alias("n_edges"))
        .filter(F.col("n_nodes") >= 2)
    )
    return out.select(
        "k", "n_nodes", "n_edges",
        F.expr("(2000000 * n_edges) div (n_nodes * (n_nodes - 1))")
        .cast("long").alias("phi_ppm"),
    )


def _rich_club_oracle() -> str:
    ks_csv = ", ".join(str(k) for k in RICH_CLUB_KS)
    return f"""
WITH {_CO_ORDER_CTE},
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY 1
),
emin AS (
  SELECT least(du.deg, dv.deg) AS mind
  FROM und JOIN deg du ON du.node = und.u
           JOIN deg dv ON dv.node = und.v
),
ks AS (SELECT CAST(unnest([{ks_csv}]) AS BIGINT) AS k),
e_k AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
  FROM ks JOIN emin ON mind > k GROUP BY 1
),
n_k AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
  FROM ks JOIN deg ON deg > k GROUP BY 1
)
SELECT n_k.k, n_nodes, coalesce(n_edges, 0) AS n_edges,
       (2000000 * coalesce(n_edges, 0)) // (n_nodes * (n_nodes - 1))
         AS phi_ppm
FROM n_k LEFT JOIN e_k ON n_k.k = e_k.k
WHERE n_nodes >= 2
"""


RICH_CLUB_ORACLE = _rich_club_oracle()

#: BFS hop bound (and the unrolled-oracle depth).
BFS_MAX_HOPS = 3


def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS: min hop distance from a pinned seed node.

    The seed is the supplier with the smallest key (a deterministic
    one-row scalar), encoded onto the shared node axis.  Frontier
    expansion is the relational Pregel step (:func:`_expand_frontier`
    keyed by ``node``): join the frontier to the edge list, dedup,
    anti-join out already-visited nodes, stamp the hop number.
    ``BFS_MAX_HOPS`` bounds the unrolled oracle; nodes farther than the
    bound (or disconnected) are absent from the result.

    Scale: per hop one shuffle join (frontier ⋈ edges) + one distinct +
    one anti-join against visited — frontier and visited are node-id
    sets, never edge-sized; visited is lazily localCheckpoint-ed since
    hop ``d+1`` consumes it twice (anti-join + union).
    """
    edges = _edges(spark, sf_dir).transform(cut_lineage)
    supplier = load_table(spark, sf_dir, "supplier")
    seeds = supplier.agg(F.min("s_suppkey").alias("k")).select(
        (F.col("k") * 2 + 1).cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    visited = _expand_frontier(edges, seeds, ["node"], BFS_MAX_HOPS)
    return visited.select(*_node_kind(), "dist")


def _expand_frontier(edges: DataFrame, seeds: DataFrame, keys: list[str],
                     hops: int) -> DataFrame:
    """``hops`` BFS supersteps from ``seeds`` (the ``keys`` columns plus
    ``dist`` 0): join the frontier to the edge list, dedup, anti-join
    out the visited ``keys``, stamp the hop number.  ``keys`` starts
    with ``node``; any further key (a landmark id) rides along, so one
    expansion runs one BFS per key value.  Returns every visited row
    with its hop distance."""
    visited = frontier = seeds.transform(cut_lineage)
    for d in range(1, hops + 1):
        reached = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), *keys[1:])
            .distinct()
            .join(visited.select(*keys), keys, "left_anti")
            .withColumn("dist", F.lit(d).cast("long"))
            .transform(cut_lineage)
        )
        visited = visited.unionByName(reached).transform(cut_lineage)
        frontier = reached
    return visited


def _frontier_oracle(hops: int, keys: list[str]) -> str:
    """DuckDB unroll of :func:`_expand_frontier` from a ``v0`` seed CTE:
    the ``f1, v1, …`` CTE chain, ending at ``v{hops}``."""
    also = "".join(f", f.{k}" for k in keys[1:])
    match = "".join(f" AND x.{k} = f.{k}" for k in keys[1:])
    cols = ", ".join(keys)
    parts = []
    for d in range(1, hops + 1):
        prev_v = f"v{d - 1}"
        prev_f = f"f{d - 1}" if d > 1 else "v0"
        parts.append(f"""
f{d} AS (
  SELECT DISTINCT e.dst AS node{also} FROM edges e
  JOIN {prev_f} f ON e.src = f.node
  WHERE NOT EXISTS (SELECT 1 FROM {prev_v} x WHERE x.node = e.dst{match})
),
v{d} AS MATERIALIZED (
  SELECT {cols}, dist FROM {prev_v}
  UNION ALL
  SELECT {cols}, CAST({d} AS BIGINT) AS dist FROM f{d}
)""")
    return ",".join(parts)


def _bfs_oracle(hops: int = BFS_MAX_HOPS) -> str:
    return f"""
WITH {_EDGES_CTE},
v0 AS (
  SELECT CAST(min(s_suppkey) * 2 + 1 AS BIGINT) AS node,
         CAST(0 AS BIGINT) AS dist
  FROM supplier
),{_frontier_oracle(hops, ["node"])}
SELECT {_KIND_SQL},
       node // 2 AS key, dist
FROM v{hops}
"""


BFS_ORACLE = _bfs_oracle()


#: HITS: L1-normalized score scale and fixed mutual-reinforcement rounds.
HITS_SCALE = PR_SCALE
HITS_ITERATIONS = 2


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) on the DIRECTED customer→
    supplier purchase graph: a customer is a good *hub* when it buys
    from good suppliers; a supplier a good *authority* when good hubs
    buy from it.  The natural bipartite reading of the purchase data —
    and the directed complement to :func:`graph_pagerank`, which runs on
    the undirected projection.

    Determinism: scores are BIGINTs scaled by :data:`HITS_SCALE`,
    L1-normalized each half-step by integer division ``(raw·S) div Σraw``
    (summands DECIMAL(38)-promoted BEFORE the sum — a BIGINT edge-sum
    overflows once |E|·S passes 2⁶³, which a 100 TB graph does).  The
    per-step totals are one-row broadcast scalars; shuffle order cannot
    perturb a bit, so the DuckDB oracle (the same rounds unrolled as
    HUGEINT CTEs) hash-matches exactly.

    Scale shape: the distinct edge list materializes once (lazy local
    checkpoint); each half-step is one shuffle join (scores ⋈ edges) +
    one partial-agg shuffle + a one-row total — 4 shuffles per round,
    the same Pregel-superstep budget as PageRank.
    """
    cs = _cust_supp(spark, sf_dir).transform(cut_lineage)
    hubs = cs.select("c").distinct().select(
        F.col("c").alias("node"), F.lit(HITS_SCALE).alias("h")
    )

    def _normalize(raw: DataFrame, out: str) -> DataFrame:
        # The raw frame feeds both the one-row total and the division;
        # the lazy checkpoint also truncates the per-round lineage —
        # without it each half-step re-plans every earlier round and
        # the final plan carries O(rounds²) exchanges (audit caught
        # this at 134 exchanges for 4 rounds; 8 after).
        raw = raw.transform(cut_lineage)
        tot = raw.agg(F.sum("raw").alias("tot"))
        return raw.crossJoin(F.broadcast(tot)).select(
            "node", F.expr(f"CAST((raw * {HITS_SCALE}) div tot AS BIGINT)")
            .alias(out)
        )

    auths = None
    for _ in range(HITS_ITERATIONS):
        a_raw = (
            cs.join(hubs, cs.c == hubs.node)
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("raw"))
        )
        auths = _normalize(a_raw, "a")
        h_raw = (
            cs.join(auths, cs.s == auths.node)
            .groupBy(F.col("c").alias("node"))
            .agg(F.sum(F.col("a").cast("decimal(38,0)")).alias("raw"))
        )
        hubs = _normalize(h_raw, "h")
    return hubs.select(
        F.lit("hub").alias("kind"), F.col("node").alias("key"),
        F.col("h").alias("score_scaled"),
    ).unionAll(auths.select(
        F.lit("authority").alias("kind"), F.col("node").alias("key"),
        F.col("a").alias("score_scaled"),
    ))


def _hits_oracle(n_iterations: int = HITS_ITERATIONS) -> str:
    s = HITS_SCALE
    iters = []
    prev_h = "h0"
    for i in range(1, n_iterations + 1):
        iters.append(f"""
ar{i} AS (
  SELECT p.s AS node, sum(CAST(h.h AS HUGEINT)) AS raw
  FROM cs p JOIN {prev_h} h ON p.c = h.node GROUP BY 1
),
at{i} AS (SELECT sum(raw) AS tot FROM ar{i}),
a{i} AS (
  SELECT node, CAST((raw * {s}) // tot AS BIGINT) AS a
  FROM ar{i} CROSS JOIN at{i}
),
hr{i} AS (
  SELECT p.c AS node, sum(CAST(a.a AS HUGEINT)) AS raw
  FROM cs p JOIN a{i} a ON p.s = a.node GROUP BY 1
),
ht{i} AS (SELECT sum(raw) AS tot FROM hr{i}),
h{i} AS (
  SELECT node, CAST((raw * {s}) // tot AS BIGINT) AS h
  FROM hr{i} CROSS JOIN ht{i}
)""")
        prev_h = f"h{i}"
    return f"""
WITH {_CS_CTE},
h0 AS (
  SELECT DISTINCT c AS node, CAST({s} AS HUGEINT) AS h FROM cs
),{",".join(iters)}
SELECT 'hub' AS kind, node AS key, h AS score_scaled FROM h{n_iterations}
UNION ALL
SELECT 'authority' AS kind, node AS key, a AS score_scaled
FROM a{n_iterations}
"""


HITS_ORACLE = _hits_oracle()


#: Landmark-based closeness: number of BFS sources and the hop cap that
#: bounds both the superstep count and the unrolled oracle.
CLOSENESS_LANDMARKS = 4
CLOSENESS_MAX_HOPS = 4


def graph_closeness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-approximated closeness + harmonic centrality: BFS from
    the :data:`CLOSENESS_LANDMARKS` highest-degree nodes (ties broken by
    node id) runs as ONE multi-source frontier expansion keyed by
    ``(node, landmark)``, and every node's centrality is estimated from
    its distances to the landmark set — the standard way to get
    closeness at graph sizes where all-pairs BFS is off the table
    (landmark/pivot sampling, cf. Indyk-style distance oracles).

    Integer determinism: distances are hop counts; closeness is
    ``(reached·10⁶) div Σd`` and harmonic is ``Σ (10⁶ div d)`` — no
    floats anywhere.  Scale shape: per hop one shuffle join (frontier ⋈
    edges) + one distinct + one anti-join, all keyed by (node, lm) —
    state is at most |V|·L rows, never edge-sized; the landmark pick is
    a TakeOrdered of the degree table, broadcast into the seed frame.
    """
    edges = _edges(spark, sf_dir).transform(cut_lineage)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    landmarks = deg.orderBy(F.col("deg").desc(), F.col("node")) \
        .limit(CLOSENESS_LANDMARKS)
    seeds = landmarks.select(
        "node", F.col("node").alias("lm"),
        F.lit(0).cast("long").alias("dist"),
    )
    visited = _expand_frontier(edges, seeds, ["node", "lm"],
                               CLOSENESS_MAX_HOPS)
    per_node = visited.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("dist").alias("sum_dist"),
        F.sum(F.when(F.col("dist") > 0,
                     F.expr("1000000 div dist")).otherwise(F.lit(0)))
        .alias("harmonic_micro"),
    )
    return per_node.select(
        *_node_kind(),
        "n_reached", "sum_dist", "harmonic_micro",
        F.when(F.col("sum_dist") > 0,
               F.expr("(n_reached * 1000000) div sum_dist"))
        .alias("closeness_micro"),
    )


def _closeness_oracle(hops: int = CLOSENESS_MAX_HOPS) -> str:
    return f"""
WITH {_EDGES_CTE},
deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY 1
),
v0 AS (
  SELECT node, node AS lm, CAST(0 AS BIGINT) AS dist
  FROM (SELECT node FROM deg ORDER BY deg DESC, node
        LIMIT {CLOSENESS_LANDMARKS})
),{_frontier_oracle(hops, ["node", "lm"])}
SELECT {_KIND_SQL},
       node // 2 AS key,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(dist) AS BIGINT) AS sum_dist,
       CAST(sum(CASE WHEN dist > 0 THEN 1000000 // dist ELSE 0 END)
            AS BIGINT) AS harmonic_micro,
       CASE WHEN sum(dist) > 0
            THEN (count(*) * 1000000) // sum(dist)
       END AS closeness_micro
FROM v{hops}
GROUP BY 1, 2
"""


CLOSENESS_ORACLE = _closeness_oracle()


def graph_local_clustering(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the part co-order
    graph: ``lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1))`` for nodes with
    degree ≥ 2 — the standard "how clique-like is this node's
    neighborhood" readout (Watts–Strogatz), and the per-node refinement
    of :func:`graph_triangle_count`'s global story.

    Determinism: both T(v) and deg(v) are exact BIGINTs from the
    degree-ordered triangle enumeration, and the coefficient is
    reported in parts-per-million via *integer* division
    ``(2·T·10⁶) div (deg·(deg−1))`` — no float ever exists, so shuffle
    order cannot perturb a bit.

    Scale shape: inherits the O(m^{3/2}) oriented wedge join from the
    triangle count (the curse-of-the-last-reducer mitigation); the
    coefficient itself is a zero-shuffle projection on top.
    """
    t = graph_triangle_count(spark, sf_dir)
    return t.filter(F.col("degree") >= 2).select(
        "partkey", "degree", "n_triangles",
        F.expr("(2 * n_triangles * 1000000)"
               " div (degree * (degree - 1))").alias("lcc_ppm"),
    )


LOCAL_CLUSTERING_ORACLE = f"""
WITH tri_base AS ({TRIANGLE_ORACLE})
SELECT partkey, degree, n_triangles,
       (2 * n_triangles * 1000000) // (degree * (degree - 1)) AS lcc_ppm
FROM tri_base WHERE degree >= 2
"""


#: Bounded Bellman-Ford rounds for weighted SSSP (diameter cap; nodes
#: beyond the cap keep the best distance found within it, exactly like
#: BFS_MAX_HOPS bounds the hop oracle).
SSSP_ROUNDS = 4


def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths: ``SSSP_ROUNDS`` rounds of
    relational Bellman-Ford from the min-key supplier.

    Each round is ``dist ⋈ edges`` (shuffle on the node key) followed
    by a min-combine over the union with the previous front — the
    classic iterative-relaxation shape every distributed graph engine
    reduces to.  The dist frame never exceeds node cardinality, weights
    and distances are integers (exact min-plus), and each round's
    result is lazily ``localCheckpoint``-ed because round ``i+1``
    consumes it twice (join input + union).  The oracle unrolls the
    same rounds as nested CTEs — identical algebra, so values hash-
    match exactly.
    """
    edges = _weighted_edges(spark, sf_dir).transform(cut_lineage)
    supplier = load_table(spark, sf_dir, "supplier")
    dist = supplier.agg(F.min("s_suppkey").alias("k")).select(
        (F.col("k") * 2 + 1).cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).transform(cut_lineage)
    for _ in range(SSSP_ROUNDS):
        relaxed = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).cast("long").alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(cut_lineage)
        )
    return dist.select(*_node_kind(), "dist")


def _sssp_oracle(rounds: int = SSSP_ROUNDS) -> str:
    parts = []
    prev = "d0"
    for i in range(1, rounds + 1):
        parts.append(f"""
r{i} AS (
  SELECT e.dst AS node, min(d.dist + e.w) AS dist
  FROM {prev} d JOIN edges e ON e.src = d.node GROUP BY 1
),
d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL SELECT node, dist FROM r{i}
  ) GROUP BY 1
)""")
        prev = f"d{i}"
    return f"""
WITH {_weighted_edges_cte("1 + 1000 // cnt")},
d0 AS (
  SELECT CAST(min(s_suppkey) * 2 + 1 AS BIGINT) AS node,
         CAST(0 AS BIGINT) AS dist
  FROM supplier
),{",".join(parts)}
SELECT {_KIND_SQL},
       node // 2 AS key, CAST(dist AS BIGINT) AS dist
FROM {prev}
"""


SSSP_ORACLE = _sssp_oracle()


#: Random-walk sampling: walk length and the seed stride (every
#: WALK_SEED_MOD-th supplier node starts one walk).
WALK_STEPS = 4
WALK_SEED_MOD = 10


def graph_random_walk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over the customer–supplier
    graph: from every ``WALK_SEED_MOD``-th supplier, a ``WALK_STEPS``-hop
    walk whose "random" neighbor choice at each step is the argmin of
    the cross-engine hash ``h(seed:step:dst)`` — the DeepWalk/node2vec
    sampling primitive (walk corpora feed embedding trainers), made
    re-shard-stable the same way every draw in this engine is.

    Each step is one shuffle join (frontier ⋈ edges on the current
    node) followed by a per-walk argmin — min_by on the hash, a
    combiner-friendly aggregate, never a window over the edge fan-out.
    The frontier stays one row per walk.  The argmin key is the
    zero-padded hash string concatenated with the dst — ONE totally
    ordered VARCHAR both engines compare identically, so even a
    60-bit hash collision (absent in practice) breaks ties the same
    way.  The oracle unrolls the same steps.
    """
    edges = _edges(spark, sf_dir).transform(cut_lineage)
    supplier = load_table(spark, sf_dir, "supplier")
    seeds = (
        supplier.where(F.col("s_suppkey") % WALK_SEED_MOD == 0)
        .select((F.col("s_suppkey") * 2 + 1).cast("long").alias("seed"))
    )
    walk = seeds.select(
        "seed", F.col("seed").alias("node"),
        F.lit(0).cast("int").alias("step"),
    ).transform(cut_lineage)
    out = walk
    for s in range(1, WALK_STEPS + 1):
        hop = (
            walk.join(edges, walk.node == edges.src)
            .select(
                "seed",
                F.col("dst"),
                hash64(F.concat(
                    F.col("seed").cast("string"), F.lit(f":{s}:"),
                    F.col("dst").cast("string"))).alias("h"),
            )
            .select(
                "seed",
                F.concat(
                    F.lpad(F.col("h").cast("string"), 19, "0"),
                    F.lit(":"), F.col("dst").cast("string"),
                ).alias("pick_key"),
            )
            .groupBy("seed")
            .agg(F.min("pick_key").alias("pick"))
            .select(
                "seed",
                F.split(F.col("pick"), ":").getItem(1)
                .cast("long").alias("node"),
                F.lit(s).cast("int").alias("step"),
            )
            .transform(cut_lineage)
        )
        out = out.unionByName(hop)
        walk = hop
    return out.select("seed", "step", *_node_kind())


def _walk_oracle(steps: int = WALK_STEPS) -> str:
    parts = []
    prev = "w0"
    h = hash64_sql("CAST(seed AS VARCHAR) || ':{s}:' || "
                   "CAST(e.dst AS VARCHAR)")
    for s in range(1, steps + 1):
        parts.append(f"""
w{s} AS MATERIALIZED (
  SELECT seed,
         CAST(string_split(min(lpad(CAST({h.replace('{s}', str(s))}
                  AS VARCHAR), 19, '0') || ':'
                  || CAST(e.dst AS VARCHAR)), ':')[2] AS BIGINT) AS node,
         {s} AS step
  FROM {prev} w JOIN edges e ON e.src = w.node
  GROUP BY seed
)""")
        prev = f"w{s}"
    sel = "\nUNION ALL\n".join(
        f"SELECT seed, step, node FROM w{s}" for s in range(steps + 1))
    return f"""
WITH {_EDGES_CTE},
w0 AS (
  SELECT CAST(s_suppkey * 2 + 1 AS BIGINT) AS seed,
         CAST(s_suppkey * 2 + 1 AS BIGINT) AS node, 0 AS step
  FROM supplier WHERE s_suppkey % {WALK_SEED_MOD} = 0
),{",".join(parts)}
SELECT seed, CAST(step AS INT) AS step,
       {_KIND_SQL},
       node // 2 AS key
FROM ({sel})
"""


RANDOM_WALK_ORACLE = _walk_oracle()


def graph_link_prediction_jaccard(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Top-50 supplier pairs by neighborhood Jaccard —
    ``J(s1,s2) = |Γ(s1)∩Γ(s2)| / |Γ(s1)∪Γ(s2)|`` — the NORMALIZED
    member of the local link-prediction family (CN counts raw overlap,
    RA/AA discount by neighbor degree; Jaccard divides by the union, so
    a hub pair sharing 5 of 500 customers scores far below a niche pair
    sharing 5 of 6).  All-integer: score is the exact ppm ratio
    ``1e6·common div (deg1 + deg2 − common)``.

    Same sub-quadratic posting-list shape as the other indices:
    customers are buckets (hubs cut at ``CN_HUB_CUTOFF``), pairs expand
    only inside buckets, and supplier degrees over the SAME kept graph
    (documented: degrees count non-hub customers, consistent with the
    pair generation) attach via two tiny joins to the |suppliers|-row
    degree table.  Top-k is TakeOrderedAndProject with full tie-breaks.
    """
    kept = _hub_cut(_cust_supp(spark, sf_dir)) \
        .transform(cut_lineage)   # buckets AND the degree table
    deg = kept.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    common = _supplier_pairs(kept).agg(F.count(F.lit(1)).alias("n_common"))
    d1 = deg.select(F.col("s").alias("s1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("deg").alias("deg2"))
    return (
        common.join(F.broadcast(d1), "s1").join(F.broadcast(d2), "s2")
        .select(
            "s1", "s2", "n_common", "deg1", "deg2",
            F.expr("(1000000 * n_common) div (deg1 + deg2 - n_common)")
            .cast("long").alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "s1", "s2")
        .limit(CN_TOP_K)
    )


LINK_PREDICTION_JACCARD_ORACLE = f"""
WITH {_KEPT_CTE},
deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM kept GROUP BY 1),
common AS (
  SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS n_common
  FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
  GROUP BY 1, 2
)
SELECT s1, s2, n_common, d1.deg AS deg1, d2.deg AS deg2,
       (1000000 * n_common) // (d1.deg + d2.deg - n_common)
         AS jaccard_ppm
FROM common JOIN deg d1 ON d1.s = common.s1
            JOIN deg d2 ON d2.s = common.s2
ORDER BY jaccard_ppm DESC, s1, s2
LIMIT {CN_TOP_K}
"""


def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reciprocity (Squartini & Garlaschelli 2013) of the
    DIRECTED behavioural transition graph — the edge weights of
    ``ev_markov_transitions`` (adjacent event-type pairs per user's
    (ts, event_id)-ordered stream), self-loops excluded:
    r = Σ_{i≠j} min(w_ij, w_ji) / Σ_{i≠j} w_ij.  How symmetric the
    behaviour flows are: r = 1 means every i→j transition volume is
    matched by j→i; r near 0 means a strongly ordered funnel.  The
    graph-level scalar next to the matrix the Markov twin emits.

    Exactness: pure integer LEAST/sums over the |types|²-bounded
    weight matrix; ``reciprocity_ppm`` is one integer division.
    Scale: one user-partitioned lead() window over the fact (the
    Markov scan), a |types|²-row partial-agg shuffle, then a
    matrix-sized self-join — nothing corpus-sized past the window.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("ft"),
            F.lead("event_type").over(w).alias("tt"),
        )
        .filter(F.col("tt").isNotNull() & (F.col("ft") != F.col("tt")))
        .groupBy("ft", "tt").agg(F.count(F.lit(1)).alias("n"))
    )
    rev = pairs.select(F.col("ft").alias("rt"), F.col("tt").alias("rf"),
                       F.col("n").alias("rn"))
    j = pairs.join(rev, (F.col("ft") == F.col("rf"))
                   & (F.col("tt") == F.col("rt")), "left")
    return j.agg(
        F.sum("n").cast("long").alias("total_w"),
        F.sum(F.least(F.col("n"), F.coalesce(F.col("rn"), F.lit(0))))
        .cast("long").alias("reciprocal_w"),
    ).select(
        "total_w", "reciprocal_w",
        F.expr("(1000000 * reciprocal_w) div total_w").cast("long")
        .alias("reciprocity_ppm"),
    )


RECIPROCITY_ORACLE = """
WITH pairs AS (
  SELECT ft, tt, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT event_type AS ft,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS tt
    FROM events
  )
  WHERE tt IS NOT NULL AND ft <> tt
  GROUP BY 1, 2
),
j AS (
  SELECT a.n, least(a.n, coalesce(b.n, 0)) AS rw
  FROM pairs a LEFT JOIN pairs b ON b.ft = a.tt AND b.tt = a.ft
)
SELECT CAST(sum(n) AS BIGINT) AS total_w,
       CAST(sum(rw) AS BIGINT) AS reciprocal_w,
       (1000000 * sum(rw)) // sum(n) AS reciprocity_ppm
FROM j
"""


SPECS: dict[str, QuerySpec] = {
    "graph_reciprocity": QuerySpec(graph_reciprocity,
                                   RECIPROCITY_ORACLE),
    "graph_link_prediction_jaccard": QuerySpec(
        graph_link_prediction_jaccard, LINK_PREDICTION_JACCARD_ORACLE),
    "graph_random_walk_sample": QuerySpec(graph_random_walk_sample,
                                          RANDOM_WALK_ORACLE),
    "graph_sssp_weighted": QuerySpec(graph_sssp_weighted, SSSP_ORACLE),
    "graph_community_conductance": QuerySpec(graph_community_conductance,
                                             CONDUCTANCE_ORACLE),
    "graph_pagerank": QuerySpec(graph_pagerank, PAGERANK_ORACLE),
    "graph_hits": QuerySpec(graph_hits, HITS_ORACLE),
    "graph_closeness_landmarks": QuerySpec(graph_closeness_landmarks,
                                           CLOSENESS_ORACLE),
    "graph_common_neighbors_topk": QuerySpec(graph_common_neighbors_topk,
                                             COMMON_NEIGHBORS_ORACLE),
    "graph_link_prediction_ra": QuerySpec(graph_link_prediction_ra,
                                          LINK_PREDICTION_RA_ORACLE),
    "graph_link_prediction_aa": QuerySpec(graph_link_prediction_aa,
                                          LINK_PREDICTION_AA_ORACLE),
    "graph_label_propagation": QuerySpec(graph_label_propagation,
                                         LPA_ORACLE),
    "graph_modularity": QuerySpec(graph_modularity, MODULARITY_ORACLE),
    "graph_pagerank_adaptive": QuerySpec(graph_pagerank_adaptive,
                                         PAGERANK_ADAPTIVE_ORACLE),
    "graph_degree_stats": QuerySpec(graph_degree_stats, DEGREE_ORACLE),
    "graph_local_clustering": QuerySpec(graph_local_clustering,
                                        LOCAL_CLUSTERING_ORACLE),
    "graph_triangle_count": QuerySpec(graph_triangle_count,
                                      TRIANGLE_ORACLE),
    "graph_triangle_doulion": QuerySpec(graph_triangle_doulion,
                                        DOULION_ORACLE),
    "graph_degree_assortativity": QuerySpec(graph_degree_assortativity,
                                            ASSORTATIVITY_ORACLE),
    "graph_k_core": QuerySpec(graph_k_core, KCORE_ORACLE),
    "graph_k_truss": QuerySpec(graph_k_truss, KTRUSS_ORACLE),
    "graph_rich_club": QuerySpec(graph_rich_club, RICH_CLUB_ORACLE),
    "graph_bfs_distance": QuerySpec(graph_bfs_distance, BFS_ORACLE),
    "graph_pagerank_weighted": QuerySpec(graph_pagerank_weighted,
                                         PAGERANK_WEIGHTED_ORACLE),
}

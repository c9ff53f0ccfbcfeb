"""Graph analytics beyond connected components (which lives with dedup —
``operators/dedup.py::connected_components``): weighted PageRank over the
event-type transition graph.

The graph: nodes are event types, a directed edge (src → dst) carries the
count of observed per-user transitions (the q_event_transitions matrix),
row-normalized into transition probabilities. PageRank over it ranks
event types by behavioral centrality — the same computation over a
user-interaction or document-link graph at 100 TB is the classic Spark
iterative workload.

Determinism (the iterative twist on SURVEY §7.3 hard part 5): each
iteration's rank is re-quantized with the repo's FLOOR(x·10^12 + 0.5)
rounding, and the per-node mass sum runs through decimal(18,12)
per-addend sums — so iteration k+1 starts from bit-identical inputs on
both engines, and divergence cannot compound. The oracle UNROLLS the
three iterations as chained CTEs (recursive CTEs cannot aggregate in the
recursive member).

Scale notes: each iteration is one edge-keyed join + one dst-keyed
aggregate — the standard Pregel-as-DataFrame shape. The plan grows
linearly with iterations; for big graphs / many rounds the lineage must
be cut per round (``localCheckpoint``, exactly as the star rounds of
``connected_components_star`` at ``dedup.py`` do); at 3 rounds the plan is
small enough to leave uncut so Catalyst sees the whole pipeline.
Dangling nodes (no out-edges) get no redistribution here — the event
graph is strongly connected in practice; a web-scale variant adds the
dangling-mass term as one extra scalar aggregate per round."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from breweries_case_spark.io.reader import load_table

DAMPING = 0.85
N_ITERATIONS = 3
RANK_SCALE = 1e12  # per-iteration re-quantization (FLOOR(x*1e12 + 0.5))


def _requantize(col):
    return (F.floor(col * F.lit(RANK_SCALE) + F.lit(0.5)) / F.lit(RANK_SCALE)).cast(
        "double"
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration weighted PageRank over event-type transitions."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    out_tot = counts.groupBy("src").agg(F.sum("n").alias("tot"))
    edges = counts.join(out_tot, "src").select(
        "src", "dst", (F.col("n").cast("double") / F.col("tot")).alias("w")
    )
    nodes = (
        counts.select(F.col("src").alias("node"))
        .unionByName(counts.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count("*").cast("double").alias("n_nodes"))
    base = nodes.crossJoin(n_nodes)  # 1-row broadcast scalar

    ranks = base.select(
        "node", "n_nodes", _requantize(F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    for _ in range(N_ITERATIONS):
        mass = (
            edges.join(ranks, edges.src == ranks.node)
            .groupBy(edges.dst.alias("node"))
            .agg(
                F.sum((F.col("rank") * F.col("w")).cast("decimal(18,12)"))
                .cast("double")
                .alias("acc")
            )
        )
        ranks = (
            base.join(mass, "node", "left")
            .select(
                "node",
                "n_nodes",
                _requantize(
                    (F.lit(1.0) - F.lit(DAMPING)) / F.col("n_nodes")
                    + F.lit(DAMPING) * F.coalesce(F.col("acc"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select(F.col("node").alias("event_type"), "rank")


#: co-purchase edge support threshold — the production dial that keeps the
#: graph at the "repeatedly co-bought" signal instead of one-off noise
TRIANGLE_MIN_SUPPORT = 2

#: BFS hop budget (events graph diameter is far below it)
BFS_MAX_HOPS = 6


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph —
    triangle counting, the standard graph-analytics kernel for cohesion
    / community signal (Suri & Vassilvitskii's MapReduce node-iterator,
    public). Nodes are parts; an undirected edge connects two parts
    co-occurring in ≥ TRIANGLE_MIN_SUPPORT distinct orders.

    Scale design: the edge build collects each order's DISTINCT part
    set (bounded basket, ~4-7 lines/order) and expands the C(basket, 2)
    co-occurrence pairs IN-ROW (sorted set + after-me slice, so pa < pb
    with no filter) — quadratic only in basket size, linear in orders.
    r14 (optimization round 2): this replaces the former
    distinct + orderkey self-join, whose plan paid one exchange for the
    distinct and another to co-partition the join, with ONE orderkey
    exchange and zero joins — the pair multiset is identical
    (combinations of a set ≡ the pa < pb half of its self-product).
    Triangle enumeration orients every
    edge from the lower (degree, key) endpoint to the higher; orienting
    along this total order (a) counts each triangle exactly once with NO
    post-hoc dedup and (b) bounds every node's out-degree by O(√E), so
    the wedge join (e1 ⋈ e2 on the middle node) — the only quadratic
    risk — generates at most O(E^1.5) candidate wedges instead of
    Σ deg² (the hub-explosion failure mode on skewed degree
    distributions). The support filter cuts
    the edge set before any node-keyed shuffle. The oriented edge set
    feeds THREE join branches, so it is localCheckpoint-ed (the
    materialize-once pattern of ``connected_components`` at ``dedup.py``) —
    without it Catalyst re-derives the whole pair-build per branch and
    the fact table is scanned six times."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= TRIANGLE_MIN_SUPPORT)
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = pairs.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    e = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint()
    e1 = e.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = e.select(F.col("s").alias("b"), F.col("t").alias("c"))
    e3 = e.select(F.col("s").alias("a"), F.col("t").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "p_partkey"
            )
        )
        .groupBy("p_partkey")
        .agg(F.count("*").alias("triangles"))
    )


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances over the event-type transition
    graph (source = MIN(src), a deterministic query parameter).
    Frontier-iterated: each round joins ONLY the newly-reached frontier
    against the edge list and anti-joins the visited set — the classic
    Pregel/BSP shape where per-round work is O(frontier out-edges), not
    O(graph). The driver-side empty-frontier early exit is one tiny
    count per round, the same stopping job every iterative Spark
    algorithm pays (cf. the per-round count of
    ``connected_components_star`` at ``dedup.py``).

    The oracle is a recursive CTE enumerating all walk depths ≤
    BFS_MAX_HOPS then taking MIN per node — first-visit depth and
    min-over-walks are the same function, so the iterative engine form
    is checked against a declarative spelling, not a twin of itself.
    At real scale the per-round lineage is cut with ``localCheckpoint``
    (as ``connected_components_star`` does); at ≤6 rounds on a
    handful-of-nodes graph the plan stays whole so Catalyst sees it."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .distinct()
    )
    dist = edges.agg(F.min("src").alias("node")).select(
        "node", F.lit(0).cast("int").alias("hops")
    )
    frontier = dist
    for h in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), F.lit(h).cast("int").alias("hops"))
            .distinct()
            .join(dist, "node", "left_anti")
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist


def _oracle_iteration(prev: str, cur: str) -> str:
    return f"""
        {cur} AS (
            SELECT b.node, b.n_nodes,
                   FLOOR(((1.0 - {DAMPING}) / b.n_nodes
                          + {DAMPING} * COALESCE(m.acc, 0.0)) * 1e12 + 0.5)
                       / 1e12 AS rank
            FROM base b LEFT JOIN (
                SELECT e.dst AS node,
                       CAST(SUM(CAST(p.rank * e.w AS DECIMAL(18,12)))
                            AS DOUBLE) AS acc
                FROM edges e JOIN {prev} p ON e.src = p.node
                GROUP BY e.dst) m USING (node))"""


QUERIES = {
    "q_pagerank": q_pagerank,
    "q_graph_triangles": q_graph_triangles,
    "q_graph_bfs": q_graph_bfs,
}


ORACLES = {
    "q_graph_triangles": f"""
        WITH op AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        pairs AS (
            SELECT a.pk AS u, b.pk AS v
            FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY 1, 2
            HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}),
        deg AS (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT u AS node FROM pairs
                UNION ALL SELECT v FROM pairs) GROUP BY 1),
        e AS (
            SELECT CASE WHEN (du.deg, p.u) < (dv.deg, p.v)
                        THEN p.u ELSE p.v END AS s,
                   CASE WHEN (du.deg, p.u) < (dv.deg, p.v)
                        THEN p.v ELSE p.u END AS t
            FROM pairs p
            JOIN deg du ON du.node = p.u
            JOIN deg dv ON dv.node = p.v),
        tri AS (
            SELECT e1.s AS a, e1.t AS b, e2.t AS c
            FROM e e1
            JOIN e e2 ON e2.s = e1.t
            JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t)
        SELECT node AS p_partkey, COUNT(*) AS triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
        GROUP BY 1
    """,
    "q_graph_bfs": f"""
        WITH RECURSIVE edges AS (
            SELECT DISTINCT src, dst FROM (
                SELECT event_type AS src,
                       LEAD(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS dst
                FROM events)
            WHERE dst IS NOT NULL),
        walk(node, hops) AS (
            SELECT (SELECT MIN(src) FROM edges), 0
            UNION
            SELECT e.dst, w.hops + 1
            FROM walk w JOIN edges e ON e.src = w.node
            WHERE w.hops < {BFS_MAX_HOPS})
        SELECT node, CAST(MIN(hops) AS INT) AS hops
        FROM walk GROUP BY node
    """,
    "q_pagerank": f"""
        WITH seq AS (
            SELECT event_type AS src,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM events),
        counts AS (
            SELECT src, dst, COUNT(*) AS n FROM seq
            WHERE dst IS NOT NULL GROUP BY 1, 2),
        edges AS (
            SELECT src, dst,
                   CAST(n AS DOUBLE)
                       / SUM(n) OVER (PARTITION BY src) AS w
            FROM counts),
        nodes AS (
            SELECT src AS node FROM counts
            UNION SELECT dst FROM counts),
        base AS (
            SELECT node,
                   (SELECT CAST(COUNT(*) AS DOUBLE) FROM nodes) AS n_nodes
            FROM nodes),
        it0 AS (
            SELECT node, n_nodes,
                   FLOOR((1.0 / n_nodes) * 1e12 + 0.5) / 1e12 AS rank
            FROM base),{_oracle_iteration("it0", "it1")},{_oracle_iteration("it1", "it2")},{_oracle_iteration("it2", "it3")}
        SELECT node AS event_type, rank FROM it3
    """,
}

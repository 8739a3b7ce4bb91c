"""Graph suite (operators/graph.py): bounded-iteration PageRank and
triangle counting over the part co-occurrence graph.

Both rows are bit-exact against chained-CTE DuckDB replays — PageRank
because every operation is scaled-integer (SCALE=1e12 ranks, floor
divisions, integer damping), triangles because they are pure counts.
The edge list comes from ADJACENT lineitem lines of one order (bounded
per-order fan-out — the all-pairs-in-basket form would grow
quadratically with basket size; see operators/graph.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.operators import graph as G

PR_ITER = 5
PR_DAMPING = 85


def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration damped PageRank over the part co-occurrence graph —
    one (node, rank_scaled) row per part with at least one edge. The
    iterative-algorithm family member alongside BPE training: each round
    is one edges-join-ranks shuffle + one grouped sum, state is one row
    per node, and the oracle replays all five rounds as chained CTEs."""
    li = tables.load(spark, sf_dir, "lineitem")
    edges = G.consecutive_line_edges(li)
    return G.pagerank(edges, PR_ITER, PR_DAMPING)


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-edge triangle count (a<b<c chains closed by the (a,c)
    edge) with node/edge totals — the classic two-self-join graph metric,
    intermediate bounded by sum of squared degrees."""
    li = tables.load(spark, sf_dir, "lineitem")
    return G.triangle_count(G.consecutive_line_edges(li))


def graph_cc_event_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the per-user event chain graph: each
    user's events, ordered by (ts, event_id), form a path (edge between
    consecutive events). Components here coincide with users BY
    CONSTRUCTION — which is the point of the oracle: DuckDB labels each
    event with min(event_id) OVER (PARTITION BY user_id), an exact,
    formulation-independent answer, while the Spark side must EARN it by
    running general star-contraction CC over a path forest of diameter
    up to ~99 — the graph shape where O(diameter) min-label propagation
    would need ~99 rounds and large-star/small-star needs ~10. Any
    contraction bug (dropped connectivity, wrong star roots, premature
    convergence) diverges on some of the 10k per-node labels."""
    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chain = ev.select(
        F.col("event_id"), F.lag("event_id").over(w).alias("prev_id")
    )
    edges = chain.filter(F.col("prev_id").isNotNull()).select(
        F.col("prev_id").alias("src"), F.col("event_id").alias("dst")
    )
    labels = G.connected_components(edges)
    return (
        ev.select(F.col("event_id").alias("node"))
        .join(labels, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
        .orderBy("node")
    )


LPA_ITER = 4


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation over the part
    co-occurrence graph (r07, operators/graph.py label_propagation) —
    community detection completing the iterative trio beside PageRank
    and star-contraction CC. Ties break (count desc, label asc) instead
    of the classic coin flip, so all 4 replayed rounds are bit-exact in
    both engines."""
    li = tables.load(spark, sf_dir, "lineitem")
    return G.label_propagation(G.consecutive_line_edges(li), LPA_ITER)


BFS_HOPS = 3


def graph_bfs_hop_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded-hop BFS (r12, operators/graph.bfs_hop_distances)
    — minimum hop distance from the deterministic source set (parts with
    p_partkey % 97 == 0) to every part within 3 undirected hops of the
    co-occurrence graph, the unweighted-shortest-path classic beside
    PageRank / CC / triangles / label propagation. Frontier expansion
    with an anti-join visited set, one checkpointed join per hop. The
    oracle is a DuckDB RECURSIVE CTE walking the same symmetric edge
    list with min(dist) — a formulation-independent answer any dropped
    frontier row, premature stop, or re-labeling bug diverges from."""
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    sources = part.filter(F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("node")
    )
    out = G.bfs_hop_distances(G.consecutive_line_edges(li), sources, BFS_HOPS)
    return out.orderBy("node")


QUERIES = {
    "graph_bfs_hop_distances": graph_bfs_hop_distances,
    "graph_pagerank_parts": graph_pagerank_parts,
    "graph_triangle_count": graph_triangle_count,
    "graph_cc_event_chains": graph_cc_event_chains,
    "graph_label_propagation": graph_label_propagation,
}

ORACLES = {
    "graph_bfs_hop_distances": f"""
WITH RECURSIVE e AS ({G.oracle_edges_sql()}),
sym AS (
  SELECT src AS u, dst AS v FROM e
  UNION
  SELECT dst AS u, src AS v FROM e
),
src AS (SELECT p_partkey AS node FROM part WHERE p_partkey % 97 = 0),
walk(node, dist) AS (
  SELECT node, 0 FROM src
  UNION
  SELECT sym.v, walk.dist + 1
  FROM walk JOIN sym ON walk.node = sym.u
  WHERE walk.dist < {BFS_HOPS}
)
SELECT node, CAST(min(dist) AS INT) AS dist
FROM walk GROUP BY node ORDER BY node
""",
    "graph_pagerank_parts": G.oracle_pagerank_sql(PR_ITER, PR_DAMPING),
    "graph_triangle_count": G.oracle_triangles_sql(),
    "graph_label_propagation": G.oracle_label_propagation_sql(LPA_ITER),
    # exact independent formulation: the chain graph's components are the
    # users, so the component label (= component-min node id) is simply
    # the user's minimum event_id — no recursion, no closure, exact at
    # any SF. The Spark side cannot "see" this shortcut: it runs the
    # general contraction algorithm on the edge list alone.
    "graph_cc_event_chains": """
SELECT event_id AS node,
       min(event_id) OVER (PARTITION BY user_id) AS component
FROM events
ORDER BY node
""",
}


SSSP_HOPS = 3
SSSP_SRC_MOD = 397


def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded-hop weighted shortest paths (r12,
    operators/graph.sssp_weighted): minimum total cost from the
    deterministic source set (p_partkey % 397 == 0) to every part
    within 3 undirected edges of the co-occurrence graph, edge cost
    1 + 64 DIV multiplicity (strong ties are short) — the weighted
    generalization of graph_bfs_hop_distances via frontier-only
    Bellman-Ford relaxation, one checkpointed join + grouped min per
    hop. The oracle is a DuckDB RECURSIVE CTE accumulating cost along
    the same symmetric weighted edge list with a final min — a
    formulation-independent answer any missed relaxation, premature
    convergence, or wrong merge diverges from."""
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    sources = part.filter(F.col("p_partkey") % SSSP_SRC_MOD == 0).select(
        F.col("p_partkey").alias("node")
    )
    out = G.sssp_weighted(
        G.consecutive_line_weighted_edges(li), sources, SSSP_HOPS
    )
    return out.orderBy("node")


QUERIES["graph_sssp_weighted"] = graph_sssp_weighted
ORACLES["graph_sssp_weighted"] = f"""
WITH RECURSIVE ew AS ({G.oracle_weighted_edges_sql()}),
sym AS (
  SELECT u, v, CAST(min(w) AS BIGINT) AS w FROM (
    SELECT src AS u, dst AS v, w FROM ew
    UNION ALL
    SELECT dst AS u, src AS v, w FROM ew
  ) b GROUP BY u, v
),
src AS (SELECT p_partkey AS node FROM part WHERE p_partkey % {SSSP_SRC_MOD} = 0),
walk(node, cost, hops) AS (
  SELECT node, CAST(0 AS BIGINT), 0 FROM src
  UNION
  SELECT sym.v, walk.cost + sym.w, walk.hops + 1
  FROM walk JOIN sym ON walk.node = sym.u
  WHERE walk.hops < {SSSP_HOPS}
)
SELECT node, CAST(min(cost) AS BIGINT) AS cost
FROM walk GROUP BY node ORDER BY node
"""


LP_TOPK = 100
LP_MIN_CN = 2


def graph_link_prediction_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction (r12,
    operators/graph.link_prediction_topk — Liben-Nowell & Kleinberg
    2003): the 100 strongest missing edges of the part co-occurrence
    graph by neighborhood Jaccard (>= 2 shared neighbors, existing
    edges anti-joined away) — the classic recommendation/graph-
    completion feature completing the analytics set beside PageRank /
    CC / triangles / LPA / BFS / SSSP. Wedge self-join bounded by
    sum(deg^2); jaccard is one correctly-rounded division of exact
    integers, ties to the pair key."""
    li = tables.load(spark, sf_dir, "lineitem")
    return G.link_prediction_topk(
        G.consecutive_line_edges(li), LP_TOPK, LP_MIN_CN
    )


QUERIES["graph_link_prediction_topk"] = graph_link_prediction_topk
ORACLES["graph_link_prediction_topk"] = G.oracle_link_prediction_sql(
    LP_TOPK, LP_MIN_CN
)


def graph_link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (r12, graph.link_prediction_aa_topk):
    the degree-weighted evidence model beside the Jaccard scorer — each
    shared neighbor contributes micro-rounded 1/ln(deg), so rare shared
    parts outrank hub parts; per-pair scores are INTEGER sums, immune
    to fold order and libm ulps at selection time."""
    li = tables.load(spark, sf_dir, "lineitem")
    return G.link_prediction_aa_topk(
        G.consecutive_line_edges(li), LP_TOPK, LP_MIN_CN
    )


QUERIES["graph_link_prediction_aa"] = graph_link_prediction_aa
ORACLES["graph_link_prediction_aa"] = G.oracle_link_prediction_aa_sql(
    LP_TOPK, LP_MIN_CN
)


K_CORE = 18
KCORE_ROUNDS = 8


def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (r13, operators/graph.kcore): the 18-core of
    the part co-occurrence graph — one (node, core_degree) row per
    member with the in-plan fixpoint verdict riding every row. k=18
    makes the peeling genuinely iterative on this fixture (2/5/6
    synchronous rounds to converge at sf0.001/0.01/0.1, with real
    cascades — nodes above k initially that fall below it as their
    neighbors peel) while leaving a non-empty core (185/1853/18743
    nodes); k=20 would need ~20 rounds at sf0.1 and k=22 dissolves the
    whole graph. The oracle replays all 8 synchronous rounds as chained
    CTEs; peeling confluence (docstring of kcore) is what makes the
    replay exact rather than order-sensitive."""
    li = tables.load(spark, sf_dir, "lineitem")
    return G.kcore(G.consecutive_line_edges(li), K_CORE, KCORE_ROUNDS)


QUERIES["graph_kcore_membership"] = graph_kcore_membership
ORACLES["graph_kcore_membership"] = G.oracle_kcore_sql(K_CORE, KCORE_ROUNDS)

"""Graph operators (operators/graph.py): python-replay parity of the
scaled-integer PageRank, hand-computed triangle counts, edge semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from executor_u1mindexer_spark import plans
from executor_u1mindexer_spark.operators import graph as G


def _py_pagerank(edges, n_iter, damping_pct):
    """Sequential replay of the exact integer arithmetic."""
    directed = []
    for s, d in edges:
        directed.append((s, d))
        directed.append((d, s))
    nodes = sorted({s for s, _ in directed})
    deg = {}
    for s, _ in directed:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    base = G.SCALE // n
    rank = {u: base for u in nodes}
    for _ in range(n_iter):
        contrib = {u: 0 for u in nodes}
        for s, d in directed:
            contrib[d] += rank[s] // deg[s]
        rank = {
            u: ((100 - damping_pct) * base + damping_pct * contrib[u]) // 100
            for u in nodes
        }
    return rank


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_pagerank_matches_python_replay(spark):
    # a small irregular graph: star + chain + triangle
    edges = [(1, 2), (1, 3), (1, 4), (4, 5), (5, 6), (2, 3), (6, 7), (3, 7)]
    got = {
        r.node: r.rank_scaled
        for r in G.pagerank(_edges_df(spark, edges), 5, 85).collect()
    }
    assert got == _py_pagerank(edges, 5, 85)


def test_pagerank_hub_outranks_leaf(spark):
    edges = [(1, 2), (1, 3), (1, 4), (1, 5)]
    got = {
        r.node: r.rank_scaled
        for r in G.pagerank(_edges_df(spark, edges), 5, 85).collect()
    }
    assert got[1] > got[2] == got[3] == got[4] == got[5]


def test_triangle_count_hand_cases(spark):
    # K4 has 4 triangles; canonical edges
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    row = G.triangle_count(_edges_df(spark, k4)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)
    # a square (no diagonal) has none
    sq = [(1, 2), (2, 3), (3, 4), (1, 4)]
    row = G.triangle_count(_edges_df(spark, sq)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 4, 0)
    # hub-heavy graph (the degree-orientation case): node 0 connects to
    # all of 1..40, plus consecutive rim edges (i, i+1) — every triangle
    # is (0, i, i+1), 39 total; the hub's wedge fan-out must not explode
    hub = [(0, i) for i in range(1, 41)] + [(i, i + 1) for i in range(1, 40)]
    row = G.triangle_count(_edges_df(spark, hub)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (41, 79, 39)
    # ties in (degree, id) ordering: a triangle among three degree-2 nodes
    tri = [(7, 9), (9, 8), (7, 8)]
    row = G.triangle_count(_edges_df(spark, tri)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (3, 3, 1)


def test_triangle_count_noncanonical_input_is_normalized(spark):
    # ADVICE r09: both directions of every edge + self-loops must fold to
    # the canonical form, not double-orient onto the same lo->hi arc
    # (which would multiply chain matches) — same answer as the clean K4
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    dirty = k4 + [(b, a) for a, b in k4] + [(n, n) for n in range(1, 5)]
    row = G.triangle_count(_edges_df(spark, dirty)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)


def test_consecutive_line_edges_are_canonical_and_adjacent_only(spark):
    li = spark.createDataFrame(
        [
            (1, 1, 10),
            (1, 2, 20),
            (1, 3, 30),  # order 1: 10-20, 20-30 but NOT 10-30
            (2, 1, 40),
            (2, 2, 40),  # same part adjacent: no self edge
        ],
        "l_orderkey long, l_linenumber int, l_partkey long",
    )
    got = {(r.src, r.dst) for r in G.consecutive_line_edges(li).collect()}
    assert got == {(10, 20), (20, 30)}
    assert all(s < d for s, d in got)


def test_pagerank_params_validated(spark):
    e = _edges_df(spark, [(1, 2)])
    with pytest.raises(ValueError, match="n_iter"):
        G.pagerank(e, 0)
    with pytest.raises(ValueError, match="damping_pct"):
        G.pagerank(e, 5, 101)


def _py_components(edges):
    """Union-find ground truth: node -> component-min label."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            # union by min keeps the root the smallest id
            lo, hi = min(rs, rd), max(rs, rd)
            parent[hi] = lo
    return {u: find(u) for u in parent}


def test_connected_components_matches_union_find(spark):
    import random

    rng = random.Random(20260814)
    for trial in range(4):
        n = rng.randrange(10, 120)
        m = rng.randrange(5, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(s, d) for s, d in edges if s != d]
        if not edges:
            continue
        got = {
            r.node: r.component
            for r in G.connected_components(_edges_df(spark, edges)).collect()
        }
        assert got == _py_components(edges), f"trial {trial}"


def test_connected_components_chain_converges_logarithmically(spark):
    """The reason this algorithm exists next to dedup_clusters: a 200-hop
    path must converge in O(log^2 n) star rounds, not O(diameter). The
    round budget (12) would be exceeded ~17x over by per-hop propagation."""
    chain = [(i, i + 1) for i in range(200)]
    got = {
        r.node: r.component
        for r in G.connected_components(
            _edges_df(spark, chain), max_rounds=12
        ).collect()
    }
    assert got == {i: 0 for i in range(201)}


def test_connected_components_edge_cases(spark):
    # two disjoint pairs + reversed/duplicate/self edges normalize away
    edges = [(2, 1), (1, 2), (3, 3), (5, 4)]
    got = {
        r.node: r.component
        for r in G.connected_components(_edges_df(spark, edges)).collect()
    }
    assert got == {1: 1, 2: 1, 4: 4, 5: 4}
    with pytest.raises(ValueError, match="max_rounds"):
        G.connected_components(_edges_df(spark, [(1, 2)]), max_rounds=0)


def test_connected_components_plan_depth_constant_across_sizes(spark):
    """Like the pagerank pin: every contraction round ends in an eager
    localCheckpoint, so the RESULT plan must not grow with the number of
    rounds the input needs (chains of 8 vs 120 hops need ~2x the rounds;
    a lost checkpoint would nest the per-round join+agg plans)."""
    depths = []
    for n in (8, 120):
        chain = [(i, i + 1) for i in range(n)]
        depths.append(len(plans.nodes(G.connected_components(_edges_df(spark, chain)))))
    assert max(depths) - min(depths) <= 2, depths


def test_pagerank_plan_depth_bounded_by_checkpoint_window(spark):
    """VERDICT r06 #7 pin, updated for windowed checkpointing: the plan
    depth one step past a truncation point must equal the depth at one
    iteration — a lost checkpoint would nest the per-round join+agg
    without bound and this test is the tripwire (the bench entry is the
    other half)."""
    edges = [(i, i + 1) for i in range(40)] + [(0, j) for j in range(2, 12)]
    e = _edges_df(spark, edges)

    def depth(n_iter):
        return len(plans.nodes(G.pagerank(e, n_iter)))

    # CHECKPOINT_WINDOW (8): iteration 9 sits one past the truncation at
    # 8, so its residual plan is exactly a single round's — same as n_iter=1
    assert abs(depth(9) - depth(1)) <= 2
    # and within a window the growth is linear-bounded, never explosive:
    # 6 unchecked rounds stay under 6x a single round's plan
    assert depth(6) < 6 * depth(1)


def test_pagerank_adjacency_exchange_reused_within_window(spark):
    """The windowed checkpoint's 100 TB payoff, pinned: in the shuffle-join
    regime (broadcast off — a billion-node share table does not broadcast)
    the final adaptive plan must REUSE the loop-invariant adjacency/degree
    exchanges across in-window iterations instead of re-shuffling the edge
    arrays per round. A regression here silently restores O(E)-per-round
    shuffle traffic while all value tests stay green."""
    edges = [(i, i + 1) for i in range(200)] + [(0, j) for j in range(2, 50)]
    e = _edges_df(spark, edges)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = G.pagerank(e, 5)
        df.collect()
        assert df._jdf.queryExecution().executedPlan().isFinalPlan()
        plan = [n.name for n in plans.nodes(df)]
        # r16 loop shape: the ONE loop-invariant table (adj, carrying
        # __outdeg in-row) is re-read once per in-window iteration — the
        # deg share-join and dangling-join re-reads no longer exist at
        # all (strictly less traffic, not reuse). 5 iterations re-read
        # adj 5x; pin a conservative floor of 4 reuses.
        assert plan.count("ReusedExchange") >= 4, plan.count("ReusedExchange")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)



# -- hypothesis property test: CC vs union-find on arbitrary graphs ----------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=1,
        max_size=80,
    )
)
def test_connected_components_property(spark, edges):
    edges = [(s, d) for s, d in edges if s != d]
    if not edges:
        return
    got = {
        r.node: r.component
        for r in G.connected_components(_edges_df(spark, edges)).collect()
    }
    assert got == _py_components(edges)


def _py_lpa(edges, n_iter):
    directed = []
    for s, d in edges:
        directed += [(s, d), (d, s)]
    labels = {s: s for s, _ in directed}
    for _ in range(n_iter):
        votes = {}
        for s, d in directed:
            votes.setdefault(d, {}).setdefault(labels[s], 0)
            votes[d][labels[s]] += 1
        labels = {
            n: min(v, key=lambda lb: (-v[lb], lb)) for n, v in votes.items()
        }
    return labels


def test_label_propagation_matches_python_replay(spark):
    # two dense triangles joined by a bridge: communities form fast,
    # ties on the bridge exercise the (count desc, label asc) rule
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4),
             (7, 8)]
    for n_iter in (1, 2, 4):
        got = {
            r.node: r.label
            for r in G.label_propagation(
                _edges_df(spark, edges), n_iter
            ).collect()
        }
        assert got == _py_lpa(edges, n_iter), n_iter
    with pytest.raises(ValueError, match="n_iter"):
        G.label_propagation(_edges_df(spark, edges), 0)


def test_label_propagation_plan_depth_bounded_by_checkpoint_window(spark):
    """Windowed-checkpoint pin, same contract as the pagerank twin: the
    window must reset the residual plan to a single round's one step
    past a truncation point, and in-window growth must stay
    linear-bounded."""
    edges = [(i, i + 1) for i in range(30)]
    e = _edges_df(spark, edges)

    def depth(n_iter):
        return len(plans.nodes(G.label_propagation(e, n_iter)))

    assert abs(depth(9) - depth(1)) <= 2
    assert depth(4) < 4 * depth(1)


def test_connected_components_self_loops_only_is_empty(spark):
    # self-loops normalize away entirely -> empty labeling, no error
    out = G.connected_components(_edges_df(spark, [(3, 3), (7, 7)])).collect()
    assert out == []


def test_markov_transitions_matches_python_replay(spark):
    from executor_u1mindexer_spark.operators.events import markov_transitions

    rows = [
        # user 1: a -> b -> a -> c ; user 2: b -> b -> a
        (1, 1, 10, "a"), (2, 1, 20, "b"), (3, 1, 30, "a"), (4, 1, 40, "c"),
        (5, 2, 10, "b"), (6, 2, 20, "b"), (7, 2, 30, "a"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id int, ts long, event_type string"
    )
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.prob_micro)
        for r in markov_transitions(df).collect()
    }
    # from 'a': a->b (1), a->c (1) => 500000 each; from 'b': b->a (2),
    # b->b (1) => 666666 / 333333 (floor division)
    assert got == {
        ("a", "b"): (1, 500000),
        ("a", "c"): (1, 500000),
        ("b", "a"): (2, 666666),
        ("b", "b"): (1, 333333),
    }


def test_bfs_hop_distances_hand_graph(spark):
    """BFS levels on a hand graph: path 1-2-3-4-5 plus an isolated source
    7 and a shortcut 1-4; multi-source min semantics from {1, 7}."""
    from executor_u1mindexer_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)], "src long, dst long"
    )
    sources = spark.createDataFrame([(1,), (7,)], "node long")
    got = {
        r.node: r.dist
        for r in G.bfs_hop_distances(edges, sources, max_hops=3).collect()
    }
    # 4 is 1 hop via the shortcut (not 3 via the path); 7 isolated at 0
    assert got == {1: 0, 7: 0, 2: 1, 4: 1, 3: 2, 5: 2}

    # hop bound honored: with max_hops=1 node 3 and 5 are unreached
    got1 = {
        r.node: r.dist
        for r in G.bfs_hop_distances(edges, sources, max_hops=1).collect()
    }
    assert got1 == {1: 0, 7: 0, 2: 1, 4: 1}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hops"):
        G.bfs_hop_distances(edges, sources, max_hops=0)


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1,
        max_size=60,
    ),
    st.sets(st.integers(0, 24), min_size=1, max_size=4),
    st.integers(1, 4),
)
def test_bfs_property_matches_python_bfs(spark, edge_list, sources, hops):
    """Property: bfs_hop_distances equals a sequential Python BFS replay
    for any random graph, source set, and hop bound."""
    from collections import deque

    from executor_u1mindexer_spark.operators import graph as G

    adj: dict = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {s: 0 for s in sources}
    q = deque((s, 0) for s in sources)
    while q:
        u, d = q.popleft()
        if d == hops:
            continue
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = d + 1
                q.append((v, d + 1))
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_list], "src long, dst long"
    )
    src_df = spark.createDataFrame([(s,) for s in sources], "node long")
    got = {
        r.node: r.dist
        for r in G.bfs_hop_distances(edges, src_df, hops).collect()
    }
    assert got == want


def test_sssp_weighted_hand_graph(spark):
    """Weighted shortest paths on a hand graph: the 3-edge cheap path
    1-2-3-4 (cost 3) must beat the 1-edge expensive shortcut 1-4
    (cost 10) when hops allow, and lose to it under a tight hop bound."""
    from executor_u1mindexer_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 10)],
        "src long, dst long, w long",
    )
    sources = spark.createDataFrame([(1,)], "node long")
    got3 = {
        r.node: r.cost
        for r in G.sssp_weighted(edges, sources, max_hops=3).collect()
    }
    assert got3 == {1: 0, 2: 1, 3: 2, 4: 3}
    got1 = {
        r.node: r.cost
        for r in G.sssp_weighted(edges, sources, max_hops=1).collect()
    }
    assert got1 == {1: 0, 2: 1, 4: 10}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hops"):
        G.sssp_weighted(edges, sources, max_hops=0)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 19), st.integers(0, 19), st.integers(1, 9)
        ),
        min_size=1,
        max_size=50,
    ),
    st.sets(st.integers(0, 19), min_size=1, max_size=3),
    st.integers(1, 4),
)
def test_sssp_property_matches_python_bellman_ford(
    spark, edge_list, sources, hops
):
    """Property: sssp_weighted equals a sequential hop-bounded
    Bellman-Ford replay for any random weighted graph, source set, and
    hop bound (parallel edges keep the min weight, like the operator)."""
    from executor_u1mindexer_spark.operators import graph as G

    adj: dict = {}
    for a, b, w in edge_list:
        if a == b:
            continue
        for u, v in ((a, b), (b, a)):
            cur = adj.setdefault(u, {})
            cur[v] = min(cur.get(v, w), w)
    want = {s: 0 for s in sources}
    for _ in range(hops):
        nxt = dict(want)
        for u, d in want.items():
            for v, w in adj.get(u, {}).items():
                if v not in nxt or d + w < nxt[v]:
                    nxt[v] = d + w
        want = nxt
    edges = spark.createDataFrame(
        [(a, b, w) for a, b, w in edge_list], "src long, dst long, w long"
    )
    src_df = spark.createDataFrame([(s,) for s in sources], "node long")
    got = {
        r.node: r.cost
        for r in G.sssp_weighted(edges, src_df, hops).collect()
    }
    assert got == want


def test_link_prediction_hand_graph(spark):
    """Square 1-2-4-3-1 (no diagonal): both diagonals (1,4) and (2,3)
    have cn=2, jaccard 2/(2+2-2)=1.0; adding the (1,4) edge removes
    that pair from the predictions (anti-join) and leaves (2,3)."""
    from executor_u1mindexer_spark.operators import graph as G

    sq = [(1, 2), (2, 4), (3, 4), (1, 3)]
    edges = spark.createDataFrame(sq, "src long, dst long")
    got = {
        (r.a, r.b): (r.cn, r.deg_a, r.deg_b, r.jaccard)
        for r in G.link_prediction_topk(edges, k=10, min_cn=2).collect()
    }
    assert got == {(1, 4): (2, 2, 2, 1.0), (2, 3): (2, 2, 2, 1.0)}

    edges2 = spark.createDataFrame(sq + [(1, 4)], "src long, dst long")
    got2 = {
        (r.a, r.b): r.cn
        for r in G.link_prediction_topk(edges2, k=10, min_cn=2).collect()
    }
    assert (1, 4) not in got2 and (2, 3) in got2

    import pytest as _pytest

    with _pytest.raises(ValueError):
        G.link_prediction_topk(edges, k=0)
    with _pytest.raises(ValueError):
        G.link_prediction_topk(edges, k=5, min_cn=0)


def test_link_prediction_matches_python_replay(spark):
    """Random-ish deterministic graph: predictions equal a sequential
    replay (neighbor sets, jaccard, min_cn filter, non-edges only)."""
    from executor_u1mindexer_spark.operators import graph as G

    pairs = sorted(
        {
            (min(a, b), max(a, b))
            for i in range(120)
            for a, b in [((i * 7) % 23, (i * 13 + 5) % 23)]
            if a != b
        }
    )
    edges = spark.createDataFrame(pairs, "src long, dst long")
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    nodes = sorted(adj)
    eset = set(pairs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) in eset:
                continue
            cn = len(adj[a] & adj[b])
            if cn >= 2:
                want[(a, b)] = (
                    cn,
                    len(adj[a]),
                    len(adj[b]),
                    cn / (len(adj[a]) + len(adj[b]) - cn),
                )
    got = {
        (r.a, r.b): (r.cn, r.deg_a, r.deg_b, r.jaccard)
        for r in G.link_prediction_topk(edges, k=10_000, min_cn=2).collect()
    }
    assert got == want


def test_link_prediction_aa_weighs_rare_middles_higher(spark):
    """Two candidate pairs with one shared neighbor each... both need
    cn >= 2, so build pairs with two middles: pair (1,2) via two
    degree-2 middles, pair (5,6) via two hub middles (degree 4) — AA
    must rank (1,2) first while raw CN ties them; exact micro scores
    replayed in python."""
    import math

    from executor_u1mindexer_spark.operators import graph as G

    edges = [
        (1, 10), (2, 10), (1, 11), (2, 11),          # middles 10, 11: deg 2
        (5, 20), (6, 20), (5, 21), (6, 21),          # middles 20, 21...
        (20, 30), (20, 31), (21, 32), (21, 33),      # ...fan out to deg 4
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.a, r.b): (r.cn, r.aa_micro)
        for r in G.link_prediction_aa_topk(df, k=100, min_cn=2).collect()
    }
    w = lambda d: round(1_000_000.0 / math.log(d))  # noqa: E731
    assert got[(1, 2)] == (2, 2 * w(2))
    assert got[(5, 6)] == (2, 2 * w(4))
    assert got[(1, 2)][1] > got[(5, 6)][1]


def test_kcore_peels_pendant_path_cascade(spark):
    """k=2 core of a triangle with a pendant 3-node path: the path peels
    one node per synchronous round (a genuine cascade — node 4 has
    degree 2 until node 5 goes), leaving exactly the triangle with
    core degrees 2; converged verdict true. A second check: k=3 on the
    same graph dissolves everything (empty result)."""
    from executor_u1mindexer_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )
    rows = {r.node: r for r in G.kcore(edges, 2, max_rounds=8).collect()}
    assert set(rows) == {1, 2, 3}
    assert all(r.core_degree == 2 and r.converged for r in rows.values())
    assert G.kcore(edges, 3, max_rounds=8).count() == 0


def test_kcore_self_loops_contribute_no_degree(spark):
    """ADVICE r13: the self-loop guard must apply to the UNION result,
    not only the first leg — otherwise a self-loop re-enters via the
    reversed leg and counts 1 toward degree. Square 1-2-3-4 (a 2-core)
    plus node 5 holding one real edge and a self-loop: under the bug
    node 5 reads degree 2 and survives k=2 forever; fixed, it peels."""
    from executor_u1mindexer_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 5), (5, 5)],
        "src long, dst long",
    )
    rows = {r.node: r for r in G.kcore(edges, 2, max_rounds=8).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert all(r.core_degree == 2 and r.converged for r in rows.values())


def test_kcore_insufficient_rounds_flags_not_converged(spark):
    """max_rounds smaller than the cascade depth must flag converged
    False on the surviving rows, never silently emit a non-core."""
    from executor_u1mindexer_spark.operators import graph as G

    # triangle + 4-node pendant path: needs 3 rounds to fully peel
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7)],
        "src long, dst long",
    )
    out = G.kcore(edges, 2, max_rounds=1).collect()
    assert any(not r.converged for r in out)
    full = {r.node for r in G.kcore(edges, 2, max_rounds=8).collect()}
    assert full == {1, 2, 3}


def test_kcore_matches_reference_peeling_on_random_graphs(spark):
    """Property: distributed synchronous peeling equals a python
    reference k-core on random graphs — the confluence claim tested
    rather than asserted."""
    import random

    from executor_u1mindexer_spark.operators import graph as G

    rng = random.Random(13)
    for trial in range(4):
        n = rng.randint(6, 18)
        m = rng.randint(n, 3 * n)
        edges = {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randint(0, n - 1), rng.randint(0, n - 1)) for _ in range(m)
            )
            if a != b
        }
        if not edges:
            continue
        k = rng.randint(2, 4)
        # python reference: peel to fixpoint (any order — confluent)
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        while True:
            rem = {u for u in alive if sum(v in alive for v in adj[u]) < k}
            if not rem:
                break
            alive -= rem
        want = {
            u: sum(v in alive for v in adj[u]) for u in alive
        }
        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        got = {
            r.node: r.core_degree
            for r in G.kcore(df, k, max_rounds=20).collect()
        }
        assert got == want, (trial, k)


def test_kcore_delta_peeling_matches_synchronous_recount_every_round(spark):
    """r16 internals pin: kcore now maintains surviving degrees by DELTA
    (full degree minus edges lost to removed neighbors, round by round)
    instead of recounting degrees over a re-checkpointed edge list. The
    two are equal by induction; this test replays the SYNCHRONOUS
    induced-subgraph recount in python and checks the operator's output
    — nodes, per-node core_degree, and the converged verdict — at EVERY
    max_rounds cut, converged or not, so a delta-accounting bug (e.g.
    double-subtracting a neighbor removed twice, or keeping a survivor
    whose last edge peeled) cannot hide behind fixpoint confluence."""
    from executor_u1mindexer_spark.operators import graph as G

    # triangle core + two pendant paths of different depths + a node
    # whose every neighbor eventually peels (degree hits 0 mid-peel)
    edges = [
        (1, 2), (2, 3), (1, 3),          # 2-core triangle
        (3, 4), (4, 5), (5, 6), (6, 7),  # deep cascade path
        (2, 8), (8, 9),                  # short path
        (9, 10),                         # 10 hangs off 9: peels to deg 0
    ]
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    df = spark.createDataFrame(edges, "src long, dst long")
    k = 2
    for max_rounds in range(1, 6):
        alive = set(adj)
        for _ in range(max_rounds):
            deg = {u: sum(v in alive for v in adj[u]) for u in alive}
            rem = {u for u in alive if deg[u] < k}
            alive -= rem
        want = {
            u: sum(v in alive for v in adj[u]) for u in alive
        }
        want = {u: d for u, d in want.items() if d >= 1}
        want_conv = (not want) or min(want.values()) >= k
        rows = G.kcore(df, k, max_rounds=max_rounds).collect()
        got = {r.node: r.core_degree for r in rows}
        assert got == want, max_rounds
        assert all(r.converged == want_conv for r in rows), max_rounds


# -- stop counts ride the checkpoint job ---------------------------------------


def _jobs_outside_materialize(spark, monkeypatch, group_job_ids, build):
    """Run ``build()`` (DataFrame construction only, no action) with every
    cache.materialize call under a job group of its own. Returns (job ids
    the build ran OUTSIDE any materialization, number of materializations)."""
    import uuid

    from executor_u1mindexer_spark import cache

    sc = spark.sparkContext
    outer = f"build-{uuid.uuid4().hex}"
    inner_groups: list[str] = []
    materialize = cache.materialize

    def grouped(df):
        g = f"{outer}-m{len(inner_groups)}"
        inner_groups.append(g)
        sc.setJobGroup(g, g)
        try:
            return materialize(df)
        finally:
            sc.setJobGroup(outer, outer)

    monkeypatch.setattr(cache, "materialize", grouped)
    sc.setJobGroup(outer, outer)
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
        monkeypatch.undo()
    assert all(group_job_ids(g) for g in inner_groups)  # each one ran
    return group_job_ids(outer), len(inner_groups)


_CASCADE = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]  # 3 peel rounds
_PATH = [(i, i + 1) for i in range(5)]  # 5 hops from node 0


@pytest.mark.parametrize(
    "build, min_materializations",
    [
        # sym + initial state + one survivor checkpoint per peel round
        pytest.param(
            lambda s: G.kcore(_edges_df(s, _CASCADE), 2, max_rounds=8), 5, id="kcore"
        ),
        # sym + visited + (frontier, visited) per hop; stops on an empty
        # frontier before the hop bound
        pytest.param(
            lambda s: G.bfs_hop_distances(
                _edges_df(s, _PATH), s.createDataFrame([(0,)], "node long"), 8
            ),
            7,
            id="bfs",
        ),
        pytest.param(
            lambda s: G.sssp_weighted(
                s.createDataFrame([(a, b, 1) for a, b in _PATH], "src long, dst long, w long"),
                s.createDataFrame([(0,)], "node long"),
                8,
            ),
            7,
            id="sssp",
        ),
        # adj + deg + the ranks at rounds 8 and 16
        pytest.param(lambda s: G.pagerank(_edges_df(s, _PATH), 17), 4, id="pagerank"),
    ],
)
def test_iterative_build_runs_jobs_only_inside_materializations(
    spark, monkeypatch, group_job_ids, build, min_materializations
):
    """A loop's stop count (frontier size, survivors below k, node count)
    is observed by the checkpoint job that wrote the frame, so building
    the operator's DataFrame runs no Spark job of its own: no isEmpty,
    limit(1).count() or count() probe over a frame just materialized."""
    outside, n_mat = _jobs_outside_materialize(
        spark, monkeypatch, group_job_ids, lambda: build(spark)
    )
    assert n_mat >= min_materializations, n_mat
    assert outside == [], outside


def test_connected_components_probes_only_at_the_fixpoint(
    spark, monkeypatch, group_job_ids
):
    """CC's per-round signature rides each contraction checkpoint; the one
    job sequence outside a materialization is the exceptAll confirmation
    at the candidate fixpoint. So the jobs outside materializations do not
    grow with the number of rounds: an 8-hop and a 120-hop chain differ
    in rounds but not in probe jobs."""
    seen = []
    for n in (8, 120):
        chain = _edges_df(spark, [(i, i + 1) for i in range(n)])
        outside, n_mat = _jobs_outside_materialize(
            spark, monkeypatch, group_job_ids,
            lambda: G.connected_components(chain),
        )
        seen.append((len(outside), n_mat))
    (short_jobs, short_mat), (long_jobs, long_mat) = seen
    assert long_mat > short_mat >= 3, seen
    assert short_jobs == long_jobs <= 3, seen

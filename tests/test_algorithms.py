"""Algorithm correctness on hand-computed fixture graphs (FIXTURES.md §3;
reference behavior: plugins/algorithms/*.rs, exercised by the reference's
tests/python/bases/test_algorithms.py)."""

from __future__ import annotations

import math

import pytest

from tests.conftest import rows


def edges_df(spark, triples, schema="src long, dst long"):
    return spark.createDataFrame(triples, schema)


# --------------------------------------------------------------------- #
# components
# --------------------------------------------------------------------- #


def test_connected_components(spark):
    from grafeo_spark.algorithms import connected_components

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    out = dict(rows(connected_components(e)))
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


@pytest.fixture
def coloring_peel(monkeypatch):
    """Run SCC on the distributed coloring peel only: with a driver bound
    of 0 no remainder is small enough to finish with Tarjan."""
    from grafeo_spark.algorithms import components

    monkeypatch.setattr(components, "DRIVER_ALGO_MAX_NODES", 0)


@pytest.mark.usefixtures("coloring_peel")
def test_scc_cycle_and_tail(spark):
    from grafeo_spark.algorithms import strongly_connected_components

    e = edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    out = dict(rows(strongly_connected_components(e)))
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4


@pytest.mark.usefixtures("coloring_peel")
def test_scc_two_cycles(spark):
    from grafeo_spark.algorithms import strongly_connected_components

    e = edges_df(spark, [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)])
    out = dict(rows(strongly_connected_components(e)))
    assert out[1] == out[2] and out[3] == out[4] and out[1] != out[3]


@pytest.mark.usefixtures("coloring_peel")
def test_scc_60_cycle_is_one_component(spark):
    """Fast-tier twin of the 120-cycle pin below: a directed cycle longer
    than the r12 bug's hardcoded 50-step cap must still resolve as ONE
    SCC (the inner fixpoint bound is |V|+1 with convergence early-exit;
    pointer jumping keeps the forward pass O(log n))."""
    from grafeo_spark.algorithms import strongly_connected_components

    n = 60
    e = edges_df(spark, [(i, (i + 1) % n) for i in range(n)])
    out = dict(rows(strongly_connected_components(e)))
    assert len(out) == n
    assert set(out.values()) == {0}


@pytest.mark.slow
@pytest.mark.usefixtures("coloring_peel")
def test_scc_long_cycle_is_one_component(spark):
    """A directed cycle LONGER than any fixed superstep cap is one SCC.
    r12 regression pin: the inner coloring/reachability fixpoints used a
    hardcoded 50-step bound, so a 120-cycle silently split into 50 wrong
    singletons with 70 vertices never assigned. The bound is now |V|+1
    with convergence early-exit."""
    from grafeo_spark.algorithms import strongly_connected_components

    n = 120
    e = edges_df(spark, [(i, (i + 1) % n) for i in range(n)])
    out = dict(rows(strongly_connected_components(e)))
    assert len(out) == n  # every vertex assigned
    assert set(out.values()) == {0}  # one SCC, labeled by its min id


@pytest.mark.usefixtures("coloring_peel")
def test_scc_singleton_chain_dual_peel(spark):
    """An ascending-id chain of singleton SCCs: forward-only coloring
    peels ONE root per round (O(#SCCs) rounds = O(n²) supersteps total);
    the backward pass makes every chain vertex a root simultaneously, so
    the whole chain resolves in the FIRST round — max_iter=2 would fail
    under the old one-directional peel. (The forward coloring still pays
    its O(diameter) supersteps before the backward peel fires — that part
    is the documented iterative-family bound, same as BFS depth.)"""
    from grafeo_spark.algorithms import strongly_connected_components

    n = 100
    e = edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    out = dict(rows(strongly_connected_components(e, max_iter=2)))
    assert out == {i: i for i in range(n)}  # all singletons, own-id labels


@pytest.mark.usefixtures("coloring_peel")
def test_scc_descending_chain_single_round(spark):
    """The mirror shape: a DESCENDING-id chain makes every vertex a
    forward root at superstep 1, so the forward peel alone resolves it in
    one cheap round — pins that the dual peel never regresses the shapes
    the forward pass was already good at."""
    from grafeo_spark.algorithms import strongly_connected_components

    n = 300
    e = edges_df(spark, [(i + 1, i) for i in range(n - 1)])
    out = dict(rows(strongly_connected_components(e, max_iter=2)))
    assert out == {i: i for i in range(n)}


@pytest.mark.usefixtures("coloring_peel")
def test_scc_max_iter_exhaustion_raises(spark):
    """Exhausting the round budget RAISES instead of returning a silent
    partial assignment (the old behavior)."""
    from grafeo_spark.algorithms import strongly_connected_components

    # two independent 3-cycles with ids interleaved so each direction's
    # coloring still resolves them — but max_iter=0 forbids any round
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1)])
    with pytest.raises(ValueError, match="unassigned"):
        strongly_connected_components(e, max_iter=0)


def test_topological_sort(spark):
    from grafeo_spark.algorithms import topological_sort

    # diamond: 1 -> 2,3 -> 4
    e = edges_df(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    out = dict(rows(topological_sort(e)))
    assert out == {1: 0, 2: 1, 3: 1, 4: 2}


def test_topological_sort_cycle_raises(spark):
    from grafeo_spark.algorithms import topological_sort

    with pytest.raises(ValueError, match="cycle"):
        topological_sort(edges_df(spark, [(1, 2), (2, 1)]))


@pytest.mark.slow
def test_topological_sort_deep_chain_within_budget(spark):
    """Kahn is inherently O(depth) rounds; pin that a 300-deep chain (300
    rounds of cheap jobs) completes inside a sane wall budget and yields
    level == position, and that max_iter exhaustion raises rather than
    returning a partial order."""
    import time

    from grafeo_spark.algorithms import topological_sort

    n = 300
    e = edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    t0 = time.perf_counter()
    out = dict(rows(topological_sort(e, max_iter=n + 1)))
    wall = time.perf_counter() - t0
    assert out == {i: i for i in range(n)}
    assert wall < 240
    with pytest.raises(ValueError, match="max_iter"):
        topological_sort(e, max_iter=10)


def _jobs_run_by(spark, group, fn):
    """Run ``fn()`` under a job group and return (its result, the number of
    Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _scc_testbed(seed):
    """38 vertices: a giant SCC on 0..19 (a cycle plus random chords),
    one-way edges from it into a sparse random tail on 20..34 that holds
    one 3-cycle, and 35..37 reached only from the giant, so a remainder
    without the giant leaves them with no edges."""
    import random

    rng = random.Random(seed)
    giant = [(i, (i + 1) % 20) for i in range(20)]
    giant += [tuple(rng.sample(range(20), 2)) for _ in range(15)]
    tail = [(20, 21), (21, 22), (22, 20)]
    tail += [tuple(rng.sample(range(20, 35), 2)) for _ in range(12)]
    bridges = [(rng.randrange(20), v) for v in rng.sample(range(20, 38), 8)]
    bridges += [(rng.randrange(20), v) for v in (35, 36, 37)]
    return sorted(set(giant + tail + bridges))


@pytest.mark.parametrize("regime,bound", [
    ("local", None), ("distributed", 0), ("mixed", 25),
])
def test_scc_matches_networkx(spark, monkeypatch, regime, bound):
    """SCCs (labelled by min member id) equal networkx's on a seeded
    testbed in each regime: Tarjan on the whole graph (default bound),
    coloring peel only (bound 0), and a bound between the giant SCC and
    the total, so round 1 peels the giant on Spark and Tarjan finishes
    the tail, edgeless vertices included."""
    import networkx as nx

    from grafeo_spark.algorithms import components

    edges = _scc_testbed(seed=3)
    g = nx.DiGraph(edges)
    want = {v: min(c) for c in nx.strongly_connected_components(g) for v in c}
    assert max(map(len, nx.strongly_connected_components(g))) == 20
    if bound is not None:
        monkeypatch.setattr(components, "DRIVER_ALGO_MAX_NODES", bound)
    finished = []
    tarjan = components._tarjan_scc
    monkeypatch.setattr(
        components, "_tarjan_scc", lambda adj: finished.append(len(adj)) or tarjan(adj)
    )
    out = dict(rows(components.strongly_connected_components(edges_df(spark, edges))))
    assert out == want
    n = g.number_of_nodes()
    if regime == "mixed":
        assert len(finished) == 1 and 0 < finished[0] <= n - 20
    else:
        assert finished == {"local": [n], "distributed": []}[regime]


def test_tarjan_scc_deep_chain_needs_no_recursion():
    """The driver finish is iterative: a 5000-deep path of singletons
    plus one closing cycle, far past Python's recursion limit."""
    from grafeo_spark.algorithms.components import _tarjan_scc

    n = 5000
    adj = {i: [i + 1] for i in range(n - 1)}
    adj[n - 1] = [n - 3]
    out = _tarjan_scc(adj)
    assert out == {i: (n - 3 if i >= n - 3 else i) for i in range(n)}


def test_scc_small_graph_job_count(spark):
    """The battery's 60-vertex ring-plus-star shape (one ring per nation,
    one-way edges from the global-min hub to every other hub) fits the
    driver from round 1: the init's checkpoint-plus-count job and the
    collect, at most 4 jobs with the caller's collect (the coloring peel
    ran 22)."""
    from grafeo_spark.algorithms import strongly_connected_components

    nations: dict[int, list[int]] = {}
    for k in range(1, 61):
        nations.setdefault(k * 7 % 25, []).append(k)
    ring = [(m[i], m[(i + 1) % len(m)]) for m in nations.values() for i in range(len(m))]
    hubs = sorted(min(m) for m in nations.values())
    e = edges_df(spark, ring + [(hubs[0], h) for h in hubs[1:]])
    out, jobs = _jobs_run_by(
        spark, "scc-small-jobs", lambda: strongly_connected_components(e).collect()
    )
    assert {r.id: r.component for r in out} == {
        k: min(m) for m in nations.values() for k in m
    }
    assert jobs <= 4, jobs


def test_topological_sort_matches_networkx_generations(spark):
    """Kahn levels on a seeded random DAG equal networkx's topological
    generations (level = longest-path depth from a source)."""
    import random

    import networkx as nx

    from grafeo_spark.algorithms import topological_sort

    rng = random.Random(11)
    n = 40
    label = list(range(100, 100 + n))
    rng.shuffle(label)  # ids not in topological order
    pairs = {tuple(sorted(rng.sample(range(n), 2))) for _ in range(90)}
    edges = [(label[u], label[v]) for u, v in sorted(pairs)]
    g = nx.DiGraph(edges)
    want = {
        v: lvl for lvl, gen in enumerate(nx.topological_generations(g)) for v in gen
    }
    assert len(set(want.values())) > 3
    assert dict(rows(topological_sort(edges_df(spark, edges)))) == want


def test_topological_sort_job_count_tracks_depth(spark):
    """Each Kahn level costs one superstep job: a 20-deep chain runs at
    most depth + 8 jobs in total, init and result included."""
    from grafeo_spark.algorithms import topological_sort

    depth = 20
    e = edges_df(spark, [(i, i + 1) for i in range(depth - 1)])
    out, jobs = _jobs_run_by(
        spark, "toposort-chain-jobs", lambda: dict(rows(topological_sort(e)))
    )
    assert out == {i: i for i in range(depth)}
    assert jobs <= depth + 8, jobs


# --------------------------------------------------------------------- #
# centrality
# --------------------------------------------------------------------- #


def test_pagerank_cycle_uniform(spark):
    from grafeo_spark.algorithms import pagerank

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    out = dict(rows(pagerank(e, max_iter=10)))
    for v in (1, 2, 3, 4):
        assert abs(out[v] - 0.25) < 1e-9


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from grafeo_spark.algorithms import pagerank

    # star + chain + dangling node, exercises every code path
    pairs = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 4)]
    ids = sorted({x for p in pairs for x in p})
    ix = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    alpha, iters = 0.85, 25
    pr = np.full(n, 1.0 / n)
    out_deg = np.zeros(n)
    for s, _ in pairs:
        out_deg[ix[s]] += 1
    for _ in range(iters):
        nxt = np.zeros(n)
        dangling = pr[out_deg == 0].sum()
        for s, d in pairs:
            nxt[ix[d]] += pr[ix[s]] / out_deg[ix[s]]
        pr = (1 - alpha) / n + alpha * (nxt + dangling / n)
    got = dict(rows(pagerank(edges_df(spark, pairs), alpha=alpha, max_iter=iters)))
    for v in ids:
        assert abs(got[v] - pr[ix[v]]) < 1e-9, v


@pytest.mark.slow
def test_pagerank_convergence_early_exit(spark):
    """tol stops the superstep loop once max |Δpr| < tol: a cycle's
    uniform distribution is stationary, so iteration 2 measures delta 0
    and exits — identical ranks, far fewer supersteps than max_iter."""
    from grafeo_spark.algorithms import pagerank

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    out = pagerank(e, max_iter=30, tol=1e-9)
    assert out.iterations_run < 30
    got = dict(rows(out))
    for v in (1, 2, 3, 4):
        assert abs(got[v] - 0.25) < 1e-9
    # tol=None keeps exact fixed-iteration semantics (oracle parity)
    fixed = pagerank(e, max_iter=7)
    assert fixed.iterations_run == 7
    # on a non-trivial graph, converged ranks match a long fixed run
    pairs = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 4)]
    conv = pagerank(edges_df(spark, pairs), max_iter=100, tol=1e-12)
    assert conv.iterations_run < 100
    long_run = dict(rows(pagerank(edges_df(spark, pairs), max_iter=60)))
    for v, pr in rows(conv):
        assert abs(pr - long_run[v]) < 1e-9


def test_degree_centrality(spark):
    from grafeo_spark.algorithms import degree_centrality

    e = edges_df(spark, [(1, 2), (1, 3), (2, 3)])
    assert dict(rows(degree_centrality(e, "out"))) == {1: 2, 2: 1}
    assert dict(rows(degree_centrality(e, "in"))) == {2: 1, 3: 2}
    assert dict(rows(degree_centrality(e, "both"))) == {1: 2, 2: 2, 3: 2}


def test_closeness_path_graph(spark):
    from grafeo_spark.algorithms import closeness_centrality

    # path 1-2-3 undirected; closeness(2) = 2/2 * 2/2 = 1.0 (WF-improved)
    out = dict(rows(closeness_centrality(edges_df(spark, [(1, 2), (2, 3)]))))
    assert abs(out[2] - 1.0) < 1e-9
    assert abs(out[1] - (2 / 3) * 1.0) < 1e-9  # (r/total)*(r/(n-1)) = (2/3)*(2/2)


@pytest.mark.parametrize("max_hops", [20, 0])
def test_closeness_long_path_closed_form(spark, max_hops):
    from grafeo_spark.algorithms import closeness_centrality

    # undirected path 0-1-..-6: vertex i reaches every j with
    # 0 < |i-j| <= max_hops at distance |i-j|, so WF-improved closeness is
    # (r/total)*(r/(n-1)) in closed form; max_hops=0 reaches nothing
    n = 7
    want = {}
    for i in range(n):
        d = [abs(i - j) for j in range(n) if 0 < abs(i - j) <= max_hops]
        if d:
            want[i] = len(d) / sum(d) * len(d) / (n - 1)
    e = edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    got = dict(rows(closeness_centrality(e, max_hops=max_hops)))
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


def test_betweenness_path_graph(spark):
    from grafeo_spark.algorithms import betweenness_centrality

    out = dict(rows(betweenness_centrality(edges_df(spark, [(1, 2), (2, 3)]))))
    assert out == {1: 0.0, 2: 1.0, 3: 0.0}


def _brandes_oracle(pairs, directed, normalized):
    """Textbook sequential Brandes — the in-test oracle for the distributed
    DataFrame implementation."""
    from collections import deque

    adj: dict[int, list[int]] = {}
    if not directed:
        # undirected = one edge per unordered pair (NetworkX semantics;
        # reciprocal input rows collapse rather than double sigma)
        und = {(min(s, d), max(s, d)) for s, d in pairs}
        for s, d in und:
            adj.setdefault(s, []).append(d)
            adj.setdefault(d, []).append(s)
    else:
        for s, d in pairs:
            adj.setdefault(s, []).append(d)
            adj.setdefault(d, adj.get(d, []))
    nodes = sorted(adj)
    bc = {v: 0.0 for v in nodes}
    for s in nodes:
        stack, pred = [], {v: [] for v in nodes}
        sigma = {v: 0.0 for v in nodes}
        dist = {v: -1 for v in nodes}
        sigma[s], dist[s] = 1.0, 0
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj.get(v, ()):
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    pred[w].append(v)
        delta = {v: 0.0 for v in nodes}
        while stack:
            w = stack.pop()
            for v in pred[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    n = len(nodes)
    if not directed:
        bc = {v: x / 2.0 for v, x in bc.items()}
    if normalized and n > 2:
        scale = 1.0 / ((n - 1) * (n - 2)) if directed else 2.0 / ((n - 1) * (n - 2))
        bc = {v: x * scale for v, x in bc.items()}
    return bc


@pytest.mark.parametrize("directed,normalized,graph", [
    pytest.param(False, True, "random", id="False-True"),
    pytest.param(False, False, "random", id="False-False"),
    pytest.param(True, True, "random", id="True-True"),
    pytest.param(True, False, "random", id="True-False"),
    pytest.param(False, True, "path12", id="path12-undirected"),
    pytest.param(True, True, "path12", id="path12-directed"),
])
def test_betweenness_matches_brandes_oracle(spark, directed, normalized, graph):
    """Distributed multi-source Brandes vs the sequential textbook oracle
    on a seeded random graph with parallel shortest paths (sigma > 1), and
    on a 12-vertex path whose 11 BFS levels cross several seen-set
    re-partitions."""
    import random

    from grafeo_spark.algorithms import betweenness_centrality

    if graph == "path12":
        pairs = [(i, i + 1) for i in range(11)]
    else:
        rng = random.Random(1407)
        n = 14
        pairs = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(40)
                        if True} - {(i, i) for i in range(n)})
        # a diamond guarantees sigma=2 paths exist
        pairs += [(100, 101), (100, 102), (101, 103), (102, 103)]
    want = _brandes_oracle(pairs, directed, normalized)
    got = dict(rows(betweenness_centrality(
        edges_df(spark, pairs), normalized=normalized, directed=directed)))
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


def test_betweenness_never_collects_graph(spark, monkeypatch):
    """Behavior guard: the driver must never materialize the graph — the
    r13 verdict's weak #1. Any .collect()/.toPandas()/.toLocalIterator()
    during the algorithm raises."""
    from pyspark.sql import DataFrame

    from grafeo_spark.algorithms import betweenness_centrality

    def _boom(self, *a, **k):
        raise AssertionError("betweenness_centrality materialized a frame on the driver")

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (2, 4)])
    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    monkeypatch.setattr(DataFrame, "toLocalIterator", _boom)
    out = betweenness_centrality(e)
    monkeypatch.undo()
    got = dict(rows(out))
    want = _brandes_oracle([(1, 2), (2, 3), (3, 4), (2, 4)], False, True)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9


def test_betweenness_sampled_sources_star(spark):
    """sample_sources bounds work to k BFS pivots and rescales by n/k: on a
    star every leaf source yields delta(center) = n-2, so the estimator is
    near-exact for the center regardless of which leaves get sampled.
    Also the scale story: a graph this wide at full pivot count is a
    cluster job; the knob is what makes 100 TB betweenness runnable."""
    from pyspark.sql import functions as F

    from grafeo_spark.algorithms import betweenness_centrality

    n = 2_000
    leaves = spark.range(1, n).select(
        F.lit(0).alias("src"), F.col("id").alias("dst"))
    out = betweenness_centrality(leaves, normalized=False, sample_sources=8)
    center = out.filter(F.col("id") == 0).head().betweenness
    worst_leaf = out.filter(F.col("id") != 0).agg(
        F.max(F.abs(F.col("betweenness")))).head()[0]
    # exact center bc = (n-1)(n-2)/2; estimator from k leaf pivots is
    # k(n-2)/2 * n/k = n(n-2)/2 (exactly, if no pivot is the center)
    exact = (n - 1) * (n - 2) / 2.0
    assert abs(center - exact) / exact < 0.01
    assert worst_leaf == 0.0


# --------------------------------------------------------------------- #
# paths / traversal
# --------------------------------------------------------------------- #


def test_bfs_depths(spark):
    from grafeo_spark.algorithms import bfs

    e = edges_df(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    out = {(r[0], r[1]): r[2] for r in rows(bfs(e, [1]))}
    assert out == {(1, 1): 0, (1, 2): 1, (1, 3): 1, (1, 4): 2}


@pytest.mark.parametrize("max_depth,deepest", [
    (20, 10),  # ends on an empty frontier after 3 seen-set re-partitions
    (6, 6),  # the depth cap stops the walk first
    (0, 0),  # depth 0 is the source itself (traversal.rs layers)
])
def test_bfs_chain_depths(spark, max_depth, deepest):
    from grafeo_spark.algorithms import bfs

    e = edges_df(spark, [(i, i + 1) for i in range(10)])
    got = rows(bfs(e, [0], max_depth=max_depth))
    assert got == [(0, i, i) for i in range(deepest + 1)]


def test_shortest_paths_weighted(spark):
    from grafeo_spark.algorithms import dijkstra

    e = edges_df(
        spark,
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0), (3, 4, 1.0)],
        "src long, dst long, weight double",
    )
    out = dict(rows(dijkstra(e, 1)))
    assert out == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}


def test_floyd_warshall_agrees_with_sssp(spark):
    from grafeo_spark.algorithms import floyd_warshall, shortest_paths

    e = edges_df(
        spark,
        [(1, 2, 2.0), (2, 3, 2.0), (1, 3, 3.0), (3, 1, 1.0)],
        "src long, dst long, weight double",
    )
    fw = {(r[0], r[1]): r[2] for r in rows(floyd_warshall(e, weight_col="weight"))}
    ss = dict(rows(shortest_paths(e, [1], weight_col="weight")))
    for v, d in ss.items():
        assert fw[(1, v)] == d


def test_a_star_path(spark):
    from grafeo_spark.algorithms import a_star

    e = edges_df(
        spark,
        [(1, 2, 1.0), (2, 4, 1.0), (1, 3, 1.0), (3, 4, 5.0)],
        "src long, dst long, weight double",
    )
    path, cost = a_star(e, 1, 4, weight_col="weight")
    assert path == [1, 2, 4] and cost == 2.0


def test_dfs_preorder(spark):
    from grafeo_spark.algorithms import dfs

    e = edges_df(spark, [(1, 2), (1, 3), (2, 4)])
    out = dict(rows(dfs(e, 1)))
    assert out == {1: 0, 2: 1, 4: 2, 3: 3}  # ascending-id neighbor order


# --------------------------------------------------------------------- #
# clustering / community / structure
# --------------------------------------------------------------------- #


def two_triangles(spark):
    # triangles {1,2,3} and {4,5,6} joined by bridge 3-4
    return edges_df(
        spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    )


def test_triangle_count(spark):
    from grafeo_spark.algorithms import triangle_count, triangle_count_per_vertex

    e = two_triangles(spark)
    assert triangle_count(e) == 2
    per = dict(rows(triangle_count_per_vertex(e)))
    assert per == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1}


def test_clustering_coefficient(spark):
    from grafeo_spark.algorithms import clustering_coefficient

    e = two_triangles(spark)
    out = dict(rows(clustering_coefficient(e)))
    assert out[1] == 1.0 and out[2] == 1.0
    assert abs(out[3] - 1 / 3) < 1e-9  # deg 3, one triangle: 2*1/(3*2)


def test_label_propagation_two_cliques(spark):
    from grafeo_spark.algorithms import label_propagation

    out = dict(rows(label_propagation(two_triangles(spark), max_iter=10)))
    # communities must be internally consistent
    assert out[1] == out[2] and out[4] == out[5] == out[6]


def test_louvain_two_triangles(spark):
    from grafeo_spark.algorithms import louvain

    out = dict(rows(louvain(two_triangles(spark))))
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[4]


def test_modularity_known_value(spark):
    from grafeo_spark.algorithms import modularity

    e = two_triangles(spark)
    comm = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)], "id long, community long"
    )
    # m=7: intra 12/14; degree sums 7,7 -> Q = 6/7 - 2*(1/2)^2 = 5/14
    assert abs(modularity(e, comm) - (12 / 14 - 0.5)) < 1e-9


def test_k_core(spark):
    from grafeo_spark.algorithms import k_core

    # 4-clique with a pendant vertex
    e = edges_df(
        spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    )
    assert sorted(r[0] for r in rows(k_core(e, 3))) == [1, 2, 3, 4]
    assert rows(k_core(e, 4)) == []


def test_core_number(spark):
    from grafeo_spark.algorithms import core_number

    e = edges_df(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    out = dict(rows(core_number(e)))
    assert out == {1: 2, 2: 2, 3: 2, 4: 1}


def _random_graph(n, m, seed):
    import random

    rng = random.Random(seed)
    pairs: set = set()
    while len(pairs) < m:
        u, v = rng.sample(range(n), 2)
        pairs.add((u, v))
    return sorted(pairs)


@pytest.mark.parametrize("k", [2, 3, 4])
def test_k_core_matches_networkx(spark, k):
    import networkx as nx

    from grafeo_spark.algorithms import k_core

    edges = _random_graph(60, 150, seed=0)
    want = sorted(nx.k_core(nx.Graph(edges), k).nodes)
    assert want  # the seeded graph has a non-empty k-core for every k here
    assert sorted(r[0] for r in rows(k_core(edges_df(spark, edges), k))) == want


def test_k_core_cascade(spark):
    """A 4-clique with a 5-vertex pendant path: the path peels one vertex
    per round from its free end, five rounds before the 2-core settles."""
    import networkx as nx

    from grafeo_spark.algorithms import k_core

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    path = [(4, 5), (5, 6), (6, 7), (7, 8), (8, 9)]
    e = edges_df(spark, clique + path)
    for k in (2, 3):
        want = sorted(nx.k_core(nx.Graph(clique + path), k).nodes)
        assert want == [1, 2, 3, 4]
        assert sorted(r[0] for r in rows(k_core(e, k))) == want


@pytest.mark.parametrize("n,short,enough", [
    (12, 5, 6),
    # ~230 supersteps: the default max_iter=100 case
    pytest.param(250, None, 200, marks=pytest.mark.slow),
])
def test_k_core_exhaustion_raises(spark, n, short, enough):
    """An n-vertex path peels two vertices per round, so its empty 2-core
    needs n/2 rounds: a shorter max_iter (at n=250, the default 100)
    raises instead of returning the vertices left in the middle."""
    from grafeo_spark.algorithms import k_core

    e = edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    with pytest.raises(ValueError, match="max_iter"):
        k_core(e, 2) if short is None else k_core(e, 2, max_iter=short)
    assert rows(k_core(e, 2, max_iter=enough)) == []


def test_k_core_init_is_one_job(spark):
    """peel_degrees plans its init with AQE off, so one job sizes the
    loop and materializes both lazy checkpoints: k=2 on a 6-edge path is
    that job, 5 supersteps (4 peel rounds and the empty one) and the
    caller's collect."""
    from grafeo_spark.algorithms import k_core

    e = edges_df(spark, [(i, i + 1) for i in range(6)])
    out, jobs = _jobs_run_by(spark, "kcore-init-jobs", lambda: rows(k_core(e, 2)))
    assert out == []
    assert jobs <= 1 + 5 + 1, jobs


def test_articulation_and_bridges(spark):
    from grafeo_spark.algorithms import articulation_points, find_bridges

    e = two_triangles(spark)
    assert [r[0] for r in rows(articulation_points(e))] == [3, 4]
    assert rows(find_bridges(e)) == [(3, 4)]


@pytest.mark.parametrize("which", ["articulation", "bridges", "louvain"])
def test_driver_guards_raise_before_collect(spark, monkeypatch, which):
    """Over-limit graphs must raise the size guard WITHOUT materializing
    the edge list on the driver (verdict r14 weak #1: the old code
    collected first, so a 100x graph OOMed before the guard fired)."""
    from pyspark.sql import DataFrame

    from grafeo_spark.algorithms import (
        articulation_points,
        find_bridges,
        louvain,
    )

    e = two_triangles(spark)

    def _boom(self, *a, **k):
        raise AssertionError(f"{which} collected an over-limit graph")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    with pytest.raises(ValueError, match="guard|size"):
        if which == "articulation":
            articulation_points(e, max_nodes=3)
        elif which == "bridges":
            find_bridges(e, max_nodes=3)
        else:
            louvain(e, max_nodes=3)


def test_mst_registered(db):
    # both spellings reachable through the registry (the tree variant was
    # exported but unregistered before)
    from grafeo_spark.algorithms import list_algorithms

    names = set(list_algorithms())
    assert {"minimum_spanning_forest", "minimum_spanning_tree"} <= names


def test_mst_weight(spark):
    from grafeo_spark.algorithms import minimum_spanning_forest

    e = edges_df(
        spark,
        [(1, 2, 1.0), (2, 3, 2.0), (1, 3, 3.0), (3, 4, 1.5), (2, 4, 4.0)],
        "src long, dst long, weight double",
    )
    mst = rows(minimum_spanning_forest(e))
    assert len(mst) == 3
    assert abs(sum(w for _, _, w in mst) - 4.5) < 1e-9  # 1.0 + 2.0 + 1.5


def test_mst_multi_round_contraction(spark):
    # r15 pin: Borůvka now merges on the CONTRACTED component graph.
    # Two 3-cliques bridged by a heavy edge need >= 2 rounds (round 1
    # builds each clique's tree, round 2 picks the bridge); the unique
    # MST is the two light spanning paths + the bridge.
    from grafeo_spark.algorithms import minimum_spanning_forest

    e = edges_df(
        spark,
        [
            (1, 2, 1.0), (2, 3, 1.1), (1, 3, 5.0),      # clique A
            (11, 12, 1.2), (12, 13, 1.3), (11, 13, 5.0),  # clique B
            (3, 11, 9.0),                                  # bridge
        ],
        "src long, dst long, weight double",
    )
    mst = {(s, d): w for s, d, w in rows(minimum_spanning_forest(e))}
    assert mst == {
        (1, 2): 1.0, (2, 3): 1.1, (11, 12): 1.2, (12, 13): 1.3, (3, 11): 9.0
    }


def test_mst_component_state_keeps_default_size_estimate(spark, monkeypatch):
    """Every Borůvka round checkpoints the component labels through
    ``_ckpt_strip_stats``, so each round's component state reports the
    session default size estimate. A plain checkpoint inherits the merge
    join's estimate, which multiplies every round (its digit count went
    20 -> 137 -> 726 -> 3668 -> 18377 over rounds 0-4 on a 256-vertex
    path) until planning the round dominates it."""
    import importlib

    mst_mod = importlib.import_module("grafeo_spark.algorithms.mst")
    from grafeo_spark.algorithms import minimum_spanning_forest

    # weight = trailing zeros of (i + 1): every round merges components
    # pairwise, so a 32-vertex path takes 5 merge rounds
    n = 32
    path = [(i, i + 1, float(((i + 1) & -(i + 1)).bit_length() - 1)) for i in range(n - 1)]
    default = int(spark._jsparkSession.sessionState().conf().defaultSizeInBytes())
    sizes = []
    real = mst_mod._ckpt_strip_stats

    def spy(frame, eager):
        out = real(frame, eager)
        sizes.append(_size_in_bytes(out))
        return out

    monkeypatch.setattr(mst_mod, "_ckpt_strip_stats", spy)
    e = edges_df(spark, path, "src long, dst long, weight double")
    forest = rows(minimum_spanning_forest(e))
    assert sorted(forest) == sorted(path)
    assert sizes == [default] * 5


def test_iter_width_scoping_restores_on_failure(spark):
    # r15 pin: the scoped loop width (and the tiny-regime AQE toggle) is
    # restored even when the loop body raises — the ADVICE-r14 leak class.
    from pyspark.sql import functions as F

    from grafeo_spark.algorithms.pregel import scoped_shuffle_width

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    with pytest.raises(RuntimeError):
        with scoped_shuffle_width(spark, 4, rows=0):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe


def test_width_rules_curves(spark):
    # r15 pin: the two sizing rules' measured anchor points. iter_width
    # (cached co-partitioned loops) grows at ~100k rows/task between the
    # tiny clamp and the parallelism/2M-budget ceiling — 750k edges -> 8
    # (the sf0.1 pagerank sweep winner), and the sf50-validated 2M/task
    # sizing (375M -> >= parallelism band) is preserved. full_width
    # (loops that reshuffle their input per round) keeps the
    # defaultParallelism floor — the closeness A/B anchor.
    from grafeo_spark.algorithms.pregel import full_width, iter_width

    dp = spark.sparkContext.defaultParallelism
    assert iter_width(50_000, spark) == 4
    # 750k rows -> 8 tasks of ~94k rows, clipped by the parallelism
    # ceiling (8 on the 32-core bench box; the test session may be narrower)
    assert iter_width(750_000, spark) == min(8, max(dp, 4))
    assert iter_width(100_000 * max(dp, 4), spark) == max(dp, 4)  # saturates
    assert iter_width(375_000_000, spark) == max(dp, 188)  # sf50 sizing kept
    assert full_width(50_000, spark) == 4
    assert full_width(750_000, spark) == max(dp, 4)  # parallelism floor
    assert full_width(375_000_000, spark) == max(dp, 188)


def test_max_flow(spark):
    from grafeo_spark.algorithms import max_flow

    # classic CLRS-style network, max flow 1->4 = 4 (2 via 2, 2 via 3)
    e = edges_df(
        spark,
        [(1, 2, 2.0), (1, 3, 2.0), (2, 4, 2.0), (3, 4, 2.0), (2, 3, 1.0)],
        "src long, dst long, capacity double",
    )
    assert max_flow(e, 1, 4, "capacity") == 4.0


def test_min_cost_flow(spark):
    from grafeo_spark.algorithms import min_cost_flow

    # two unit paths, costs 1 and 3; flow of 2 => cost 1*1 + 1*3 = 4
    e = edges_df(
        spark,
        [(1, 2, 1.0, 1.0), (2, 4, 1.0, 0.0), (1, 3, 1.0, 3.0), (3, 4, 1.0, 0.0)],
        "src long, dst long, capacity double, cost double",
    )
    flow, cost = min_cost_flow(e, 1, 4, 2.0)
    assert flow == 2.0 and cost == 4.0


def test_min_cost_flow_antiparallel_edges(spark):
    """Anti-parallel priced edges must not corrupt each other's residual
    costs (the r5 review finding): (1,2,cost=3) and (2,1,cost=5) are split
    through synthetic arcs, so forward flow on (1,2) prices at 3, not -5."""
    from grafeo_spark.algorithms import min_cost_flow

    e = edges_df(
        spark,
        [(1, 2, 2.0, 3.0), (2, 1, 2.0, 5.0), (2, 4, 2.0, 1.0)],
        "src long, dst long, capacity double, cost double",
    )
    flow, cost, assigned = min_cost_flow(e, 1, 4, 2.0, with_edges=True)
    assert flow == 2.0 and cost == 8.0  # 2 * (3 + 1), NOT 2 * (-5 + 1)
    assert (1, 2, 2.0, 3.0) in assigned and (2, 4, 2.0, 1.0) in assigned
    assert all(u in (1, 2, 4) and v in (1, 2, 4) for u, v, _, _ in assigned)
    # parallel duplicates with distinct costs: cheap one first
    e2 = edges_df(
        spark,
        [(1, 2, 1.0, 1.0), (1, 2, 1.0, 9.0), (2, 4, 2.0, 0.0)],
        "src long, dst long, capacity double, cost double",
    )
    flow2, cost2 = min_cost_flow(e2, 1, 4, 2.0)
    assert flow2 == 2.0 and cost2 == 10.0  # 1*1 + 1*9


def test_registry_dispatch(spark):
    from grafeo_spark import algorithms as alg

    e = edges_df(spark, [(1, 2), (2, 3)])
    out = dict(rows(alg.run("connected_components", e)))
    assert out == {1: 1, 2: 1, 3: 1}
    assert "pagerank" in alg.list_algorithms()
    alg.register("noop", lambda edges: edges, "identity")
    assert alg.run("noop", e) is e


def test_bfs_self_loop_source_not_reemitted(spark):
    """traversal.rs:150: the source is discovered at depth 0 — a
    self-loop (or longer cycle) back to it must not re-emit it."""
    from grafeo_spark.algorithms import bfs

    e = spark.createDataFrame([(1, 1), (1, 2), (2, 1)], "src long, dst long")
    got = sorted(tuple(r) for r in bfs(e, [1]).collect())
    assert got == [(1, 1, 0), (1, 2, 1)]


def test_bfs_missing_source_yields_no_rows(spark):
    """traversal.rs:146: get_node(start).is_none() -> empty layers."""
    from grafeo_spark.algorithms import bfs

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert bfs(e, [99]).count() == 0
    # multi-source: the existing source still runs
    got = sorted(tuple(r) for r in bfs(e, [1, 99]).collect())
    assert got == [(1, 1, 0), (1, 2, 1)]


def test_dfs_missing_source_yields_no_rows(spark):
    """traversal.rs:233: dfs_with_visitor checks get_node(start) first."""
    from grafeo_spark.algorithms import dfs

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert dfs(e, 99).count() == 0
    # a dst-only vertex exists (no out-edges): one row at order 0
    got = [tuple(r) for r in dfs(e, 2).collect()]
    assert got == [(2, 0)]


# --------------------------------------------------------------------- #
# driver-side size guards must fire BEFORE the collect they guard
# (verdict r13 "What's wrong" #2)
# --------------------------------------------------------------------- #


def _no_collect(monkeypatch):
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):
        raise AssertionError("guard collected the graph before checking size")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    monkeypatch.setattr(DataFrame, "toLocalIterator", _boom)


def test_dfs_guard_fires_without_collect(spark, monkeypatch):
    from grafeo_spark.algorithms import dfs

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    _no_collect(monkeypatch)
    with pytest.raises(ValueError, match="dfs guard"):
        dfs(e, 1, max_nodes=2)


def test_floyd_warshall_guard_fires_without_collect(spark, monkeypatch):
    from grafeo_spark.algorithms import floyd_warshall

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    _no_collect(monkeypatch)
    with pytest.raises(ValueError, match="floyd_warshall guard"):
        floyd_warshall(e, max_nodes=2)


def test_a_star_guard_fires_without_collect(spark, monkeypatch):
    from grafeo_spark.algorithms import a_star

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    _no_collect(monkeypatch)
    with pytest.raises(ValueError, match="a_star guard"):
        a_star(e, 1, 4, max_nodes=0)


def test_flow_guard_fires_without_collect(spark, monkeypatch):
    from grafeo_spark.algorithms import flow as flow_mod

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, capacity double"
    )
    monkeypatch.setattr(flow_mod, "DRIVER_FLOW_MAX_EDGES", 1)
    _no_collect(monkeypatch)
    with pytest.raises(ValueError, match="flow guard"):
        flow_mod.max_flow(e, 1, 3)


def test_min_label_jump_converges_within_log_budget(spark):
    """Pointer jumping (r16): an ascending 200-chain needs 199 supersteps
    under plain min-label propagation; with recursive doubling active
    from superstep JUMP_AFTER a label's reach doubles per superstep, so
    the fixpoint must arrive inside a JUMP_AFTER + O(log n) budget. The
    tight max_iter makes this a behavioral pin — if jumping stops firing
    (or stops being sound) the loop exits unconverged and the assert
    fails."""
    from grafeo_spark.algorithms.components import _min_label_fixpoint
    from grafeo_spark.algorithms.pregel import JUMP_AFTER, vertices_from_edges

    n = 200
    e = edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    budget = JUMP_AFTER + 22  # ~2*log2(200) + slack; plain needs n-1
    out = _min_label_fixpoint(e, vertices_from_edges(e), max_iter=budget)
    assert dict(rows(out)) == {i: 0 for i in range(n)}


def test_min_label_fixpoint_matches_reachability_min(spark):
    """_min_label_fixpoint semantics pin: color(v) = min id over vertices
    that reach v along edge direction (v included), on a shape mixing a
    cycle, a tail, and an isolated pair."""
    from grafeo_spark.algorithms.components import _min_label_fixpoint
    from grafeo_spark.algorithms.pregel import vertices_from_edges

    e = edges_df(spark, [(5, 6), (6, 7), (7, 5), (7, 2), (10, 11)])
    out = dict(rows(_min_label_fixpoint(e, vertices_from_edges(e), max_iter=20)))
    # cycle {5,6,7} colors to 5; 2 is reached by the cycle (min 2 vs 5 -> 2
    # itself is min since 2 < 5? ids reaching 2: {2,5,6,7} -> min 2);
    # 10 -> 10, 11 -> 10
    assert out == {5: 5, 6: 5, 7: 5, 2: 2, 10: 10, 11: 10}


def test_scoped_width_nested_same_thread_restores(spark):
    """scoped_shuffle_width nesting pin (r16): same-thread nesting (the
    SCC outer-scope + inner-coloring shape) restores LIFO-correctly."""
    from grafeo_spark.algorithms.pregel import scoped_shuffle_width

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_shuffle_width(spark, 3, rows=10):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        with scoped_shuffle_width(spark, 2, rows=10):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_scoped_width_cross_thread_raises(spark):
    """Concurrent scopes from ANOTHER thread on the same session must fail
    loudly (the conf is session-global; silent overlap corrupts both
    loops' widths — VERDICT r15 #3)."""
    import threading

    from grafeo_spark.algorithms.pregel import scoped_shuffle_width

    result: dict = {}

    def other():
        try:
            with scoped_shuffle_width(spark, 2, rows=10):
                result["entered"] = True
        except RuntimeError as ex:
            result["error"] = str(ex)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_shuffle_width(spark, 3, rows=10):
        t = threading.Thread(target=other)
        t.start()
        t.join()
    assert "error" in result and "another thread" in result["error"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# --------------------------------------------------------------------- #
# the public pregel() kernel and the fixpoint driver
# --------------------------------------------------------------------- #


def _counting(update):
    """Wrap a pregel ``update`` so the test can read how many supersteps
    ran: the kernel builds each superstep's plan by calling it once."""
    calls = []

    def wrapped(j):
        calls.append(1)
        return update(j)

    return wrapped, calls


@pytest.mark.parametrize("max_levels,levels,repartitions", [
    (3, 3, 0),  # capped on a re-partition level: nothing reads the seen set again
    (4, 4, 1),
    (20, 10, 3),  # after levels 3, 6 and 9; level 11 comes back empty
])
def test_frontier_levels_repartitions_seen_set_between_levels(
    spark, monkeypatch, max_levels, levels, repartitions
):
    from pyspark.sql import functions as F

    from grafeo_spark.algorithms.pregel import frontier_levels

    e = edges_df(spark, [(i, i + 1) for i in range(10)])
    seed = e.filter(F.col("src") == 0).select(
        F.col("src").alias("origin"), F.col("dst").alias("cur")
    )

    def step(f):
        return f.join(e, f["cur"] == e["src"]).select("origin", F.col("dst").alias("cur"))

    calls = []
    cls = type(seed)
    orig = cls.repartition
    monkeypatch.setattr(
        cls, "repartition", lambda self, *a, **k: calls.append(a) or orig(self, *a, **k)
    )
    got, seen_rows = frontier_levels(seed, step, ["origin", "cur"], max_levels, 10)
    monkeypatch.undo()
    assert [rows(lv) for lv in got] == [[(0, i)] for i in range(1, levels + 1)]
    assert seen_rows == levels
    assert len(calls) == repartitions


def test_pregel_send_to_src_flows_against_edges(spark):
    """send_to_src messages travel dst -> src: each vertex ends with the
    max id it can REACH, so on a chain every vertex reads the chain's
    end (a message along the edges would leave 1 at 2, not 4)."""
    from pyspark.sql import functions as F

    from grafeo_spark.algorithms.pregel import pregel, vertices_from_edges

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    v = vertices_from_edges(e).withColumn("val", F.col("id"))

    def update(j):
        new = F.greatest(F.col("val"), F.coalesce(F.col("_msg"), F.col("val")))
        return j.select("id", new.alias("val"), (new > F.col("val")).alias("_changed"))

    out = pregel(
        v, e, send_to_dst=None, agg_msg=F.max("msg"), update=update,
        max_iter=20, send_to_src=F.col("v_val"),
    )
    assert dict(rows(out)) == {1: 4, 2: 4, 3: 4, 4: 4, 10: 11, 11: 11}


def test_pregel_changed_update_stops_at_fixpoint(spark):
    """A non-delta update that emits _changed stops one superstep after
    the last change: min-label on a 4-chain changes in supersteps 1-3 and
    superstep 4 confirms the fixpoint, far below max_iter."""
    from pyspark.sql import functions as F

    from grafeo_spark.algorithms.pregel import pregel, vertices_from_edges

    e = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    v = vertices_from_edges(e).withColumn("lab", F.col("id"))

    def update(j):
        new = F.least(F.col("lab"), F.coalesce(F.col("_msg"), F.col("lab")))
        return j.select("id", new.alias("lab"), (new < F.col("lab")).alias("_changed"))

    update, calls = _counting(update)
    out = pregel(
        v, e, send_to_dst=F.col("v_lab"), agg_msg=F.min("msg"), update=update,
        max_iter=50,
    )
    assert dict(rows(out)) == {1: 1, 2: 1, 3: 1, 4: 1}
    assert "_changed" not in out.columns
    assert len(calls) == 4


def test_pregel_update_without_changed_runs_max_iter(spark):
    """An update without _changed has no convergence test: it runs
    exactly max_iter supersteps. val += sum of in-neighbour vals on the
    chain 1->2->3 from val=1 reads {1, 4, 7} after 3 supersteps (after 2
    it would be {1, 3, 4})."""
    from pyspark.sql import functions as F

    from grafeo_spark.algorithms.pregel import pregel, vertices_from_edges

    e = edges_df(spark, [(1, 2), (2, 3)])
    v = vertices_from_edges(e).withColumn("val", F.lit(1).cast("long"))

    def update(j):
        return j.select(
            "id", (F.col("val") + F.coalesce(F.col("_msg"), F.lit(0))).alias("val")
        )

    update, calls = _counting(update)
    out = pregel(
        v, e, send_to_dst=F.col("v_val"), agg_msg=F.sum("msg"), update=update,
        max_iter=3,
    )
    assert dict(rows(out)) == {1: 1, 2: 4, 3: 7}
    assert len(calls) == 3


def test_shortest_paths_exhaustion_raises(spark):
    """A 60-edge unit chain needs 61 supersteps (60 that reach a new
    vertex plus one that confirms): the default max_iter=50 must raise
    instead of returning the first 51 distances."""
    from grafeo_spark.algorithms import dijkstra

    n = 60
    e = edges_df(
        spark, [(i, i + 1, 1.0) for i in range(n)], "src long, dst long, weight double"
    )
    with pytest.raises(ValueError, match="max_iter"):
        dijkstra(e, 0)
    assert dict(rows(dijkstra(e, 0, max_iter=n + 1))) == {
        i: float(i) for i in range(n + 1)
    }


def test_connected_components_exhaustion_raises(spark):
    from grafeo_spark.algorithms import connected_components

    e = edges_df(spark, [(i, i + 1) for i in range(10)])
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(e, max_iter=3)


def _size_in_bytes(df) -> int:
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def test_ckpt_strip_stats_resets_size_estimate(spark, monkeypatch):
    """Pins the private-API stats strip (_jdf, internalCreateDataFrame):
    the stripped checkpoint reports the session's default size estimate,
    not the origin plan's, and the state of consecutive pointer-jump
    supersteps keeps one constant estimate. Without the strip the jump
    self-join multiplies the estimate every superstep."""
    import importlib

    # the package re-exports the pregel() function under the module's name
    pregel_mod = importlib.import_module("grafeo_spark.algorithms.pregel")
    from grafeo_spark.algorithms.components import _min_label_fixpoint
    from grafeo_spark.algorithms.pregel import _ckpt_strip_stats, vertices_from_edges

    from pyspark.sql import functions as F

    def chain(n):  # a Range origin: its plan has a finite size estimate
        return spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )

    default = int(spark._jsparkSession.sessionState().conf().defaultSizeInBytes())
    df = chain(3)
    assert _size_in_bytes(df.localCheckpoint(eager=False)) != default
    assert _size_in_bytes(_ckpt_strip_stats(df, False)) == default

    sizes = []
    real = pregel_mod._ckpt_strip_stats

    def spy(frame, eager):
        out = real(frame, eager)
        sizes.append(_size_in_bytes(out))
        return out

    monkeypatch.setattr(pregel_mod, "_ckpt_strip_stats", spy)
    n = 64
    e = chain(n)
    out = _min_label_fixpoint(e, vertices_from_edges(e), max_iter=n)
    assert dict(rows(out)) == {i: 0 for i in range(n)}
    assert len(sizes) >= 3
    assert sizes[:3] == [default] * 3


def test_pagerank_and_betweenness_respect_cross_thread_guard(spark):
    """PageRank and betweenness scope their width through
    scoped_shuffle_width, so while another thread holds a scope on the
    session both raise instead of running at that thread's width."""
    import threading

    from grafeo_spark.algorithms import betweenness_centrality, pagerank
    from grafeo_spark.algorithms.pregel import scoped_shuffle_width

    e = edges_df(spark, [(1, 2), (2, 3), (3, 1)])
    errors: dict = {}

    def other():
        for name, fn in (("pagerank", pagerank), ("betweenness", betweenness_centrality)):
            try:
                fn(e).collect()
            except RuntimeError as ex:
                errors[name] = str(ex)

    with scoped_shuffle_width(spark, 3, rows=10):
        t = threading.Thread(target=other)
        t.start()
        t.join(timeout=300)
        assert not t.is_alive()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert set(errors) == {"pagerank", "betweenness"}
    assert all("another thread" in msg for msg in errors.values())

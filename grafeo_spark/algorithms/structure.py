"""Structural analysis: k-core, articulation points, bridges.

Reference: crates/grafeo-adapters/src/plugins/algorithms/structure.rs
(articulation_points :392, bridges :428, k_core :473). k-core is the
classic iterative degree peel — naturally distributed, one peel round per
superstep of ``pregel.peel_degrees``. Articulation points and bridges use
Tarjan/Hopcroft lowpoint DFS, which is sequential; they run driver-side
behind a size guard (the reference is in-memory too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafeo_spark.algorithms.pregel import (
    DRIVER_ALGO_MAX_NODES,
    canonical_undirected,
    peel_degrees,
    undirect,
)


def k_core(edges: DataFrame, k: int, max_iter: int = 100) -> DataFrame:
    """(id) vertices of the k-core (structure.rs:473): peel every vertex
    of degree < k until none is left, one peel round per ``peel_degrees``
    superstep over both orientations of each undirected edge. Raises
    ``ValueError`` if the peel has not settled after ``max_iter``
    rounds."""
    state, converged = peel_degrees(
        undirect(canonical_undirected(edges)), F.col("deg") < k, max_iter
    )
    if not converged:
        raise ValueError(
            f"k_core: peeling did not settle within max_iter={max_iter} "
            "rounds; raise max_iter"
        )
    return state.filter(F.col("level").isNull()).select("id")


def core_number(edges: DataFrame, max_k: int = 100) -> DataFrame:
    """(id, core) — largest k such that the vertex is in the k-core."""
    spark = edges.sparkSession
    out = None
    for k in range(1, max_k + 1):
        members = k_core(edges, k)
        if members.isEmpty():
            break
        cur = members.withColumn("core", F.lit(k).cast("long"))
        out = cur if out is None else out.unionByName(cur)
    if out is None:
        return spark.createDataFrame([], "id long, core long")
    return out.groupBy("id").agg(F.max("core").alias("core"))


def _collect_undirected_adj(edges: DataFrame, max_nodes: int):
    canon = canonical_undirected(edges)
    # Distributed node count BEFORE collect: on a 100x graph the old
    # post-collect check died of driver OOM before it could raise.
    n_nodes = (
        canon.select(F.col("src").alias("id"))
        .unionAll(canon.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    if n_nodes > max_nodes:
        raise ValueError(f"size guard: {n_nodes} nodes > {max_nodes}")
    e = canon.collect()
    adj: dict[int, set[int]] = {}
    for r in e:
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    return adj


def _lowpoint_dfs(adj):
    """Iterative Tarjan lowpoint DFS → (articulation set, bridge set)."""
    disc: dict[int, int] = {}
    low: dict[int, int] = {}
    parent: dict[int, int | None] = {}
    arts: set[int] = set()
    bridges: set[tuple[int, int]] = set()
    timer = 0
    for root in sorted(adj):
        if root in disc:
            continue
        parent[root] = None
        root_children = 0
        stack: list[tuple[int, iter]] = [(root, iter(sorted(adj[root])))]
        disc[root] = low[root] = timer
        timer += 1
        while stack:
            v, it = stack[-1]
            advanced = False
            for w in it:
                if w not in disc:
                    parent[w] = v
                    if v == root:
                        root_children += 1
                    disc[w] = low[w] = timer
                    timer += 1
                    stack.append((w, iter(sorted(adj[w]))))
                    advanced = True
                    break
                elif w != parent[v]:
                    low[v] = min(low[v], disc[w])
            if not advanced:
                stack.pop()
                p = parent[v]
                if p is not None:
                    low[p] = min(low[p], low[v])
                    if low[v] > disc[p]:
                        bridges.add((min(p, v), max(p, v)))
                    if p != root and low[v] >= disc[p]:
                        arts.add(p)
        if root_children > 1:
            arts.add(root)
    return arts, bridges


def articulation_points(
    edges: DataFrame, max_nodes: int = DRIVER_ALGO_MAX_NODES
) -> DataFrame:
    """(id) cut vertices (structure.rs:392) — driver-side lowpoint DFS."""
    adj = _collect_undirected_adj(edges, max_nodes)
    arts, _ = _lowpoint_dfs(adj)
    return edges.sparkSession.createDataFrame([(v,) for v in sorted(arts)], "id long")


def find_bridges(edges: DataFrame, max_nodes: int = DRIVER_ALGO_MAX_NODES) -> DataFrame:
    """(src, dst) cut edges (structure.rs:428) — driver-side lowpoint DFS."""
    adj = _collect_undirected_adj(edges, max_nodes)
    _, bridges = _lowpoint_dfs(adj)
    return edges.sparkSession.createDataFrame(
        [(a, b) for a, b in sorted(bridges)], "src long, dst long"
    )

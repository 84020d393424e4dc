"""Community detection.

Reference: crates/grafeo-adapters/src/plugins/algorithms/community.rs
(label_propagation :363, louvain :408). LPA is a synchronous majority-vote
DataFrame loop (deterministic tie-break: smallest label among the modes).
Louvain's greedy modularity optimization is sequential by construction, so
it runs driver-side behind a size guard (matching the reference's
in-memory envelope); `modularity` itself is a distributed aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafeo_spark.algorithms.pregel import (
    fixpoint,
    loop_edges,
    undirect,
    vertices_from_edges,
)

DRIVER_ALGO_MAX_NODES = 100_000


def label_propagation(edges: DataFrame, max_iter: int = 10) -> DataFrame:
    """(id, label) — synchronous LPA (community.rs:363).

    Per iteration: neighbor labels → per-(vertex,label) counts → pick the
    most frequent (ties: smallest label) via one aggregate. Stops early
    when no label changed. Synchronous updates can oscillate on bipartite
    structures — max_iter caps that (the reference caps iterations too),
    so a capped run returns its last labels rather than raising.
    """
    n_und = edges.count() * 2  # bounds the distinct undirected edges
    und = undirect(edges.select("src", "dst")).distinct()

    def step(labels: DataFrame, it: int) -> tuple[DataFrame, bool]:
        nbr = (
            e.join(labels, e["dst"] == labels["id"], "inner")
            .select(e["src"].alias("_id"), F.col("label").alias("nlabel"))
            .groupBy("_id", "nlabel")
            .agg(F.count("*").alias("cnt"))
        )
        # argmax by (cnt desc, nlabel asc) as a plain aggregate: min
        # over struct(-cnt, nlabel). Replaces the row_number window —
        # same exchange on _id, but no per-partition sort and the
        # partial (map-side) aggregation halves what it shuffles
        # (guide §2.3 "aggregate before you shuffle").
        best = (
            nbr.groupBy("_id")
            .agg(F.min(F.struct((-F.col("cnt")).alias("_nc"), F.col("nlabel"))).alias("_p"))
            .select("_id", F.col("_p.nlabel").alias("new_label"))
        )
        new = F.coalesce(F.col("new_label"), F.col("label"))
        nxt = labels.join(best, labels["id"] == best["_id"], "left").select(
            "id", new.alias("label"), (new != F.col("label")).alias("_changed")
        )
        return nxt, False

    with loop_edges(und, "dst", n_und) as (e, _):
        labels = vertices_from_edges(edges).withColumn("label", F.col("id"))
        return fixpoint(labels, step, max_iter, n_und)[0]


def modularity(edges: DataFrame, communities: DataFrame) -> float:
    """Newman modularity of a partition — distributed aggregate.
    ``communities``: (id, label/community)."""
    lab_col = communities.columns[1]
    und = undirect(edges.select("src", "dst"))
    m2 = und.count()  # = 2m for the undirected graph
    if m2 == 0:
        return 0.0
    cs = communities.select(F.col("id").alias("src"), F.col(lab_col).alias("_cs"))
    cd = communities.select(F.col("id").alias("dst"), F.col(lab_col).alias("_cd"))
    intra = (
        und.join(cs, "src").join(cd, "dst").filter(F.col("_cs") == F.col("_cd")).count()
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    # sum over communities of (dsum/2m)^2 as a DISTRIBUTED aggregate —
    # only the final scalar comes to the driver (a per-community collect
    # would be O(#communities) driver memory; LPA at scale yields millions)
    sq = (
        deg.join(cs, "src")
        .groupBy("_cs")
        .agg(F.sum("deg").alias("dsum"))
        .agg(F.sum(F.pow(F.col("dsum") / F.lit(float(m2)), F.lit(2.0))).alias("_sq"))
        .first()["_sq"]
    )
    q = intra / m2 - (sq or 0.0)
    return float(q)


def louvain(
    edges: DataFrame,
    max_levels: int = 5,
    max_nodes: int = DRIVER_ALGO_MAX_NODES,
) -> DataFrame:
    """(id, community) — multi-level Louvain (community.rs:408), driver-side
    greedy modularity with deterministic sweep order, behind a size guard.
    For cluster scale use `label_propagation` + `modularity` instead."""
    und = (
        undirect(edges.select("src", "dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # Distributed node count BEFORE collect (same guard-ordering fix as
    # paths.py/flow.py r14): the old code collected first and could OOM
    # the driver on an over-limit graph before the guard fired.
    n_nodes = (
        und.select(F.col("src").alias("id"))
        .unionAll(und.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    if n_nodes > max_nodes:
        raise ValueError(f"louvain guard: {n_nodes} nodes > {max_nodes}")
    rows = und.collect()
    spark = edges.sparkSession
    nodes = sorted({r.src for r in rows} | {r.dst for r in rows})

    # weighted adjacency over current super-graph
    adj: dict[int, dict[int, float]] = {v: {} for v in nodes}
    for r in rows:
        adj[r.src][r.dst] = adj[r.src].get(r.dst, 0.0) + 1.0
    member = {v: v for v in nodes}  # original -> community (final answer)
    cur = {v: [v] for v in nodes}  # community -> original members

    for _level in range(max_levels):
        m2 = sum(sum(nb.values()) for nb in adj.values())  # 2m (both dirs)
        if m2 == 0:
            break
        comm = {v: v for v in adj}
        ctot = {v: sum(adj[v].values()) for v in adj}  # community total degree
        deg = dict(ctot)
        improved = False
        for _sweep in range(10):
            moved = False
            for v in sorted(adj):
                cv = comm[v]
                # weights to neighboring communities
                wc: dict[int, float] = {}
                for nb, w in adj[v].items():
                    if nb != v:
                        wc[comm[nb]] = wc.get(comm[nb], 0.0) + w
                ctot[cv] -= deg[v]
                best_c, best_gain = cv, 0.0
                base = wc.get(cv, 0.0) - ctot[cv] * deg[v] / m2
                for c, w in sorted(wc.items()):
                    gain = (w - ctot[c] * deg[v] / m2) - base
                    if gain > best_gain + 1e-12:
                        best_c, best_gain = c, gain
                ctot[best_c] = ctot.get(best_c, 0.0) + deg[v]
                if best_c != cv:
                    comm[v] = best_c
                    moved = improved = True
            if not moved:
                break
        if not improved:
            break
        # contract communities into super-nodes
        remap: dict[int, int] = {}
        for v in sorted(adj):
            remap.setdefault(comm[v], min(u for u in adj if comm[u] == comm[v]))
        new_cur: dict[int, list[int]] = {}
        for v, members in cur.items():
            c = remap[comm[v]]
            new_cur.setdefault(c, []).extend(members)
        cur = new_cur
        for c, members in cur.items():
            for orig in members:
                member[orig] = c
        new_adj: dict[int, dict[int, float]] = {}
        for v, nbs in adj.items():
            cv = remap[comm[v]]
            tgt = new_adj.setdefault(cv, {})
            for nb, w in nbs.items():
                cn = remap[comm[nb]]
                tgt[cn] = tgt.get(cn, 0.0) + w
        adj = new_adj

    return spark.createDataFrame(
        sorted(member.items()), "id long, community long"
    )

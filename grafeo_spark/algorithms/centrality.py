"""Centrality algorithms.

Reference: crates/grafeo-adapters/src/plugins/algorithms/centrality.rs
(PageRank :442, degree :489, closeness :535, betweenness :580). All four
are fully distributed DataFrame programs; betweenness runs Brandes'
algorithm batched over ALL sources at once (forward BFS keyed by a
``source`` column + level-synchronous reverse dependency accumulation),
with ``sample_sources`` as the work-bounding pivot estimator at 100 TB.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafeo_spark.algorithms.pregel import (
    DISK_ONLY_ROWS,
    aqe_off,
    collect_garbage,
    endpoint_degrees,
    frontier_levels,
    full_width,
    iter_width,
    loop_edges,
    storage_level,
    undirect,
    vertices_from_edges,
)


def degree_centrality(edges: DataFrame, direction: str = "both") -> DataFrame:
    """(id, degree) — one partial-aggregated shuffle (centrality.rs:489)."""
    if direction == "out":
        key = edges.select(F.col("src").alias("id"))
    elif direction == "in":
        key = edges.select(F.col("dst").alias("id"))
    else:
        key = edges.select(F.col("src").alias("id")).unionAll(
            edges.select(F.col("dst").alias("id"))
        )
    return key.groupBy("id").agg(F.count("*").alias("degree"))


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    vertices: Optional[DataFrame] = None,
    tol: Optional[float] = None,
) -> DataFrame:
    """Normalized PageRank with dangling-mass redistribution
    (centrality.rs:442 semantics; matches the textbook/NetworkX definition).

    Per iteration: one shuffle for the contribution sum plus one tiny
    scalar job for the dangling mass, read from the checkpointed state
    (cached partitions — a driver round-trip, but measurably cheaper than
    folding the scalar in as a broadcast-exchange branch, which adds a
    blocking broadcast job whose lineage re-plans the whole superstep).
    State (id, pr, outdeg) is checkpointed every superstep so each
    superstep executes exactly once.

    ``tol``: convergence early-exit — stop once ``max |Δpr| < tol``
    (one extra scalar aggregate per superstep, read from the
    already-checkpointed state). Default None runs exactly ``max_iter``
    supersteps, matching fixed-iteration oracles (NetworkX's
    ``tol`` semantics differ: it sums per-node error — use
    ``tol=n*nx_tol`` for parity).
    """
    if vertices is not None:
        outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        state = (
            vertices.select("id")
            .join(outdeg.withColumnRenamed("src", "id"), "id", "left")
            .fillna({"outdeg": 0})
        )
    else:
        # vertex set + out-degree in ONE shuffle
        state = endpoint_degrees(edges, "src", "dst", out=True).withColumnRenamed(
            "deg", "outdeg"
        )
    # ONE init job (r15 fusion), planned under aqe_off: the lazy checkpoint
    # materializes under a single aggregate that reads off n, the edge
    # count (sum of out-degrees — no extra edge scan) and the dangling-
    # vertex count together. The old init paid 5 jobs for the same facts
    # (two eager checkpoints, a count, an edge-sum aggregate, a dangling-
    # mass aggregate).
    with aqe_off(edges.sparkSession):
        state = state.localCheckpoint(eager=False)
        _init = state.agg(
            F.count(F.lit(1)),
            F.sum("outdeg"),
            F.sum(F.when(F.col("outdeg") == 0, 1).otherwise(0)),
        ).first()
    n = int(_init[0])
    if n == 0:
        return state.select("id", F.lit(0.0).alias("pagerank"))
    # superstep 1's dangling mass: pr is uniformly 1/n before the loop
    dang = int(_init[2] or 0) / n
    # a plain projection over the materialized checkpoint — re-deriving it
    # per superstep-1 consumer is cheaper than a second checkpoint job
    state = state.withColumn("pr", F.lit(1.0 / n))
    # The loop scope (loop_edges) is sized to the MEASURED edge count —
    # the sum of out-degrees over the already-checkpointed state, no
    # extra edge scan: at sf50 (375M directed edges) the contribution
    # aggregation into the session's default partitions plus a memory-
    # held edge cache starved execution memory outright
    # (SparkOutOfMemoryError UNABLE_TO_ACQUIRE_MEMORY, BENCH_SCALE r14).
    from pyspark.sql import Observation

    ne = int(_init[1] or 0)
    ckpt_level = storage_level(ne)
    it = 0
    # Dangling mass for superstep 1 came from the fused init aggregate
    # above (pr is uniform there); every later superstep's dang (and tol
    # delta) rides along on the checkpoint job itself as an observation
    # metric (r15): the old loop paid one extra aggregate job per
    # superstep (~0.4s × iterations at sf0.1; a full state pass at scale)
    # for a scalar the materializing job already sees every row of.
    cached = edges.select(F.col("src").alias("_es"), F.col("dst").alias("_ed"))
    with loop_edges(cached, "_es", ne, iter_width) as (e, _):
        for it in range(1, max_iter + 1):
            # shuffle_hash hint on the STATE side (r16): without it,
            # Catalyst broadcast-exchanged the EDGE CACHE every superstep
            # once its materialized size sat under the broadcast threshold
            # (superstep plan: BroadcastHashJoin BuildLeft over the 750k-row
            # InMemoryTableScan at sf0.1 — a driver collect + hash build +
            # broadcast per superstep, defeating the co-partitioning). With
            # the hint, both sides are already hash-partitioned on the join
            # key at the loop width, so the join runs with ZERO exchange,
            # zero sort, and a per-partition build of the small state side.
            contrib = (
                e.join(state.hint("shuffle_hash"), e["_es"] == state["id"], "inner")
                .select(
                    F.col("_ed").alias("id"),
                    (F.col("pr") / F.col("outdeg")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("contrib"))
            )
            # keep the previous rank only when convergence is checked — the
            # tol=None path would otherwise checkpoint a dead column per superstep
            prev = (
                state.withColumnRenamed("pr", "_prev")
                if tol is not None
                else state.drop("pr")
            )
            # shuffle_hash on contrib: it is already hash(id)-partitioned by
            # its aggregate, so the update join is exchange-free and the
            # hint removes the per-superstep SortMergeJoin sort as well —
            # the superstep's ONLY exchange is the contribution aggregate's
            state = (
                prev.join(contrib.hint("shuffle_hash"), "id", "left")
                .withColumn(
                    "pr",
                    F.lit((1.0 - alpha) / n + alpha * dang / n)
                    + F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0)),
                )
                .drop("contrib")
            )
            metrics = [
                F.coalesce(
                    F.sum(F.when(F.col("outdeg") == 0, F.col("pr"))), F.lit(0.0)
                ).alias("dang")
            ]
            if tol is not None:
                metrics.append(F.max(F.abs(F.col("pr") - F.col("_prev"))).alias("delta"))
            obs = Observation(f"pagerank_superstep_{it}")
            state = state.observe(obs, *metrics)
            state = state.localCheckpoint(eager=True, storageLevel=ckpt_level)
            vals = obs.get  # collected by the checkpoint job above
            dang = vals["dang"] or 0.0
            collect_garbage(n)
            if tol is not None:
                delta = vals.get("delta")
                state = state.drop("_prev")
                if delta is not None and delta < tol:
                    break
    out = state.select("id", F.col("pr").alias("pagerank"))
    # diagnostic for tests/tuning: how many supersteps actually ran
    out.iterations_run = it  # type: ignore[attr-defined]
    return out


def closeness_centrality(
    edges: DataFrame, max_hops: int = 20, wf_improved: bool = True
) -> DataFrame:
    """Closeness over unweighted shortest paths (centrality.rs:535).

    Uses the level-synchronous all-sources BFS (`bfs_pairs`) — the
    state is bounded by reachable (src,dst) pairs; for very large graphs
    restrict to a sampled vertex subset upstream. ``max_hops=0`` reaches
    nothing and returns an empty frame.
    """
    from grafeo_spark.operators.expand import bfs_pairs

    und = undirect(edges.select("src", "dst"))
    n = vertices_from_edges(edges).count()
    # drop src==dst pairs: an undirected walk returns to its origin in two
    # hops, but distance-to-self is 0 by definition
    pairs = bfs_pairs(und, max_hops).filter(F.col("src") != F.col("dst"))
    agg = pairs.groupBy("src").agg(
        F.count("*").alias("r"), F.sum("hops").alias("total")
    )
    # closeness = (r) / total; Wasserman-Faust scales by r/(n-1)
    c = F.col("r") / F.col("total")
    if wf_improved:
        c = c * (F.col("r") / F.lit(max(n - 1, 1)))
    return agg.select(F.col("src").alias("id"), c.alias("closeness"))


def betweenness_centrality(
    edges: DataFrame,
    normalized: bool = True,
    directed: bool = False,
    sample_sources: Optional[int] = None,
    seed: int = 42,
) -> DataFrame:
    """Brandes' betweenness (centrality.rs:580), distributed over sources.

    Multi-source Brandes as DataFrame iteration (SURVEY §2.10: "parallelize
    over sources"): every per-source BFS runs simultaneously, keyed by a
    ``source`` column.

    - **Forward**: level-synchronous BFS over ``(source, id)`` pairs; path
      counts (sigma) combine as a ``groupBy(source, id).sum(sigma)`` —
      exactly Brandes' sigma recurrence, since in an unweighted BFS DAG all
      shortest-path predecessors of a level-d node sit at level d-1. One
      shuffle per level; the visited anti-join state is bounded by
      reachable (source, id) pairs (same envelope as closeness).
    - **Reverse**: level-synchronous dependency accumulation from the
      deepest level down — delta(v) = Σ_w sigma_v/sigma_w · (1 + delta_w)
      over successor levels, again a join + groupBy per level.
    - Nothing graph-sized ever reaches the driver: the only actions are
      per-level ``count()`` on checkpointed frontiers and the final
      result the caller collects.

    Both passes run on ``pregel.loop_edges`` at ``full_width(nv)``, the
    forward pass on ``pregel.frontier_levels``.

    ``sample_sources=k`` runs the pivot BFS from a deterministic k-vertex
    sample (ordered xxhash64(id, seed)) and rescales by n/k — the standard
    Brandes-pivot estimator, and the knob that bounds total work at
    cluster scale. Default (None) is exact.
    """
    e = edges.select("src", "dst").distinct()
    if not directed:
        e = undirect(e).distinct()
    spark = e.sparkSession
    # lazy checkpoints: the nv count below materializes the edge set and
    # the vertex set in ONE job (r15 fusion — eager paid a job per frame)
    e = e.localCheckpoint(eager=False)
    verts = vertices_from_edges(e).localCheckpoint(eager=False)
    nv = verts.count()
    empty = spark.createDataFrame([], "id long, betweenness double")
    if nv == 0:
        return empty

    sources = verts
    n_sources = nv
    if sample_sources is not None and sample_sources < nv:
        sources = verts.orderBy(
            F.xxhash64(F.col("id"), F.lit(seed)), F.col("id")
        ).limit(sample_sources)
        n_sources = sample_sources

    # every forward and every reverse level joins on id == src, so the
    # edge cache is partitioned on src once for both passes. Below
    # DISK_ONLY_ROWS the reverse pass is planned here but runs in the
    # caller's action, after the cache is dropped: its edge reads then
    # come from the cache's shuffle output, which the forward pass wrote.
    # The merge hint keeps each level's join co-partitioned against the
    # cache: a materialized cache under the broadcast threshold would
    # otherwise be broadcast, one job per level.
    with loop_edges(e, "src", nv, full_width) as (e, _):
        return _betweenness_core(
            e.hint("merge"), verts, nv, sources, n_sources, normalized,
            directed, empty,
        )


def _betweenness_core(e, verts, nv, sources, n_sources, normalized, directed, empty):
    # ---- forward multi-source BFS with shortest-path counts ------
    lvl0 = sources.select(
        F.col("id").alias("source"), F.col("id"), F.lit(1.0).alias("sigma")
    )

    def step(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("source"), F.col("dst").alias("id"), F.col("sigma"))
            .groupBy("source", "id")
            .agg(F.sum("sigma").alias("sigma"))
        )

    # a shortest path has at most nv - 1 edges: nv levels including lvl0
    levels, seen_rows = frontier_levels(lvl0, step, ["source", "id"], nv, nv)
    # The algorithm's memory envelope is the RETAINED level set: every
    # forward level's checkpoint stays pinned until the reverse pass has
    # consumed it, so the reverse checkpoints follow the storage rule of
    # the seen rows.
    ckpt_level = storage_level(seen_rows)

    # ---- reverse dependency accumulation, deepest level first --------
    deepest = len(levels) - 1
    bc_parts: list[DataFrame] = []
    delta_next = levels[deepest].withColumn("delta", F.lit(0.0))
    for lev in range(deepest - 1, 0, -1):
        v = levels[lev]
        succ = delta_next.select(
            F.col("source"),
            F.col("id").alias("_w"),
            F.col("sigma").alias("_sigma_w"),
            F.col("delta").alias("_delta_w"),
        )
        contrib = (
            v.join(e, v["id"] == e["src"])
            .select(F.col("source"), F.col("id"), F.col("sigma"), F.col("dst").alias("_w"))
            .join(succ, ["source", "_w"])
            .groupBy("source", "id")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("_sigma_w") * (F.lit(1.0) + F.col("_delta_w"))
                ).alias("delta")
            )
        )
        delta_lev = v.join(contrib, ["source", "id"], "left").select(
            "source",
            "id",
            "sigma",
            F.coalesce(F.col("delta"), F.lit(0.0)).alias("delta"),
        )
        # Below the single-node boundary the checkpoint is LAZY — the
        # final aggregation materializes the whole reverse chain in one
        # job (each checkpoint still computes exactly once; delta_lev is
        # referenced both by the result union and as the next level's
        # succ, so the checkpoint stays load-bearing), saving one driver
        # job per level. At scale it stays EAGER: that is what lets the
        # retained level set SHRINK through the reverse pass instead of
        # pinning forward-total + reverse-total blocks until the end.
        delta_lev = delta_lev.localCheckpoint(
            eager=seen_rows > DISK_ONLY_ROWS, storageLevel=ckpt_level
        )
        bc_parts.append(delta_lev.select("id", "delta"))
        delta_next = delta_lev
        # a forward level is fully consumed once its delta checkpoint
        # materializes (delta_lev carries sigma forward; levels[lev+1]'s
        # rows live on in delta_next's own checkpoint) — drop the
        # reference so the gated gc can free its blocks and the retained
        # set SHRINKS through the reverse pass instead of peaking at
        # forward-total + reverse-total
        levels[lev + 1] = None
        collect_garbage(seen_rows)

    # deepest-level deltas are 0 (no successors) and the source itself
    # (level 0) is excluded by Brandes (w != s) — only levels 1..D-1
    # contribute. bc(w) = Σ_sources delta_s(w).
    if bc_parts:
        allc = bc_parts[0]
        for p in bc_parts[1:]:
            allc = allc.unionByName(p)
        bc = allc.groupBy("id").agg(F.sum("delta").alias("betweenness"))
    else:
        bc = empty
    out = verts.join(bc, "id", "left").select(
        "id", F.coalesce(F.col("betweenness"), F.lit(0.0)).alias("betweenness")
    )
    factor = 1.0
    if not directed:
        factor /= 2.0
    if n_sources < nv:
        factor *= nv / n_sources
    if normalized and nv > 2:
        factor *= (
            1.0 / ((nv - 1) * (nv - 2)) if directed else 2.0 / ((nv - 1) * (nv - 2))
        )
    if factor != 1.0:
        out = out.select(
            "id", (F.col("betweenness") * F.lit(factor)).alias("betweenness")
        )
    return out

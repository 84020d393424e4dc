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
    AQE_OFF_ROWS,
    DISK_ONLY_ROWS,
    GC_ROWS,
    SMALL_ROWS,
    loop_edges,
    scoped_shuffle_width,
    undirect,
    vertices_from_edges,
)

DRIVER_ALGO_MAX_NODES = 100_000

# betweenness: re-partition the visited set and collect old checkpoints
# every this many BFS levels
_CHECKPOINT_EVERY = 3


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
        # vertex set + out-degree in ONE shuffle: every edge contributes
        # (src, 1) and (dst, 0), so the grouped sum is the out-degree and
        # the key set is exactly the endpoint union
        state = (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("src").alias("id"), F.lit(1).alias("d")),
                        F.struct(F.col("dst").alias("id"), F.lit(0).alias("d")),
                    )
                ).alias("x")
            )
            .select("x.id", "x.d")
            .groupBy("id")
            .agg(F.sum("d").alias("outdeg"))
        )
    # ONE init job (r15 fusion): the lazy checkpoint materializes under a
    # single aggregate that reads off n, the edge count (sum of out-degrees
    # — no extra edge scan) and the dangling-vertex count together. The old
    # init paid 5 jobs for the same facts (two eager checkpoints, a count,
    # an edge-sum aggregate, a dangling-mass aggregate).
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
    # Past DISK_ONLY_ROWS the per-superstep checkpoints go DISK_ONLY too.
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    ne = int(_init[1] or 0)
    ckpt_level = StorageLevel.DISK_ONLY if ne > DISK_ONLY_ROWS else None
    it = 0
    # Dangling mass for superstep 1 came from the fused init aggregate
    # above (pr is uniform there); every later superstep's dang (and tol
    # delta) rides along on the checkpoint job itself as an observation
    # metric (r15): the old loop paid one extra aggregate job per
    # superstep (~0.4s × iterations at sf0.1; a full state pass at scale)
    # for a scalar the materializing job already sees every row of.
    cached = edges.select(F.col("src").alias("_es"), F.col("dst").alias("_ed"))
    with loop_edges(cached, "_es", ne) as (e, _):
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
            if n > GC_ROWS:
                # big-state runs only: free the previous superstep's
                # checkpoint blocks eagerly — see pregel.fixpoint:
                # unreferenced checkpoints otherwise pile up in the block
                # store until a chance GC. Gated on n so small-graph runs
                # don't pay ~0.1s/superstep of driver GC for blocks that
                # total a few MB.
                import gc

                gc.collect()
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

    Uses the level-synchronous all-sources BFS (`reachable_pairs`) — the
    state is bounded by reachable (src,dst) pairs; for very large graphs
    restrict to a sampled vertex subset upstream.
    """
    from grafeo_spark.operators.expand import reachable_pairs

    und = undirect(edges.select("src", "dst"))
    n = vertices_from_edges(edges).count()
    # drop src==dst pairs: an undirected walk returns to its origin in two
    # hops, but distance-to-self is 0 by definition
    pairs = reachable_pairs(und, 1, max_hops, early_exit=True).filter(
        F.col("src") != F.col("dst")
    )
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
      per-level ``count()`` on eagerly checkpointed frontiers and the
      final result the caller collects.

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

    # Per-level eager checkpoints keep state bounded and lineage flat; on
    # a SMALL graph the dominant cost is then job overhead × diameter (a
    # 25-node path = ~50 driver round-trips), so the whole iteration —
    # including the pre-partitioned edge side, which must share the width
    # or every level re-exchanges it — runs at a scoped-down partition
    # count with AQE off (~2·diameter tiny per-level jobs: AQE's
    # per-exchange re-planning dominates them, the pregel.AQE_OFF_ROWS
    # rationale). A bigger graph keeps the session's width and AQE; the
    # scope then only guards the session against a concurrent loop.
    small = nv <= SMALL_ROWS
    eff_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if small:
        eff_parts = min(eff_parts, 4)
    with scoped_shuffle_width(spark, eff_parts, rows=nv if small else AQE_OFF_ROWS):
        # hash-partition edges on the join key ONCE: every forward level and
        # every reverse level joins on id == src, so a pre-partitioned edge
        # side never re-exchanges (2·diameter exchanges saved; the frontier
        # side shuffles regardless since it arrives grouped by (source, id))
        # lazy: the first forward level's count materializes the
        # repartitioned edge side and lvl0 together (r15 fusion)
        e = e.repartition(eff_parts, "src").localCheckpoint(eager=False)

        sources = verts
        n_sources = nv
        if sample_sources is not None and sample_sources < nv:
            sources = verts.orderBy(
                F.xxhash64(F.col("id"), F.lit(seed)), F.col("id")
            ).limit(sample_sources)
            n_sources = sample_sources

        # ---- forward multi-source BFS with shortest-path counts ------
        return _betweenness_core(
            e, verts, nv, sources, n_sources, eff_parts, normalized, directed,
            empty,
        )


def _betweenness_core(
    e, verts, nv, sources, n_sources, eff_parts, normalized, directed, empty,
):
    import gc

    from pyspark import StorageLevel

    lvl0 = sources.select(
        F.col("id").alias("source"), F.col("id"), F.lit(1.0).alias("sigma")
    ).localCheckpoint(eager=False)  # materialized by level 1's count
    levels = [lvl0]
    visited = lvl0.select("source", "id")
    frontier = lvl0
    seen_rows = n_sources
    # The algorithm's memory envelope is the RETAINED level set: every
    # forward level's checkpoint stays pinned until the reverse pass has
    # consumed it. Past the same single-node boundary pagerank uses
    # (DISK_ONLY_ROWS retained rows) new checkpoints switch to
    # DISK_ONLY: a sequential re-read per level costs seconds; pinned
    # memory blocks cost the job (the sf50 pagerank lesson, r14).
    ckpt_level = None
    d = 0
    while d <= nv:
        d += 1
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("source"), F.col("dst").alias("id"), F.col("sigma"))
            .groupBy("source", "id")
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["source", "id"], "left_anti")
            # lazy + count fusion: one job per level (r15; see pregel.py)
            .localCheckpoint(eager=False, storageLevel=ckpt_level)
        )
        n_new = nxt.count()
        if n_new == 0:
            break
        seen_rows += n_new
        if seen_rows > DISK_ONLY_ROWS:
            ckpt_level = StorageLevel.DISK_ONLY
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("source", "id"))
        if d % _CHECKPOINT_EVERY == 0:
            # hash-partition the seen state on the anti-join key, sized to
            # the observed state (the reachable_pairs pattern) so per-task
            # state stays bounded however large the reachable set grows;
            # explicit gc frees superseded checkpoint blocks (py4j cycles
            # defeat refcounting — the pregel.py r13 finding).
            parts = max(eff_parts, -(-seen_rows // 2_000_000))
            visited = visited.repartition(parts, "source", "id").localCheckpoint(
                eager=True, storageLevel=ckpt_level
            )
            gc.collect()
        frontier = nxt

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
        if lev % _CHECKPOINT_EVERY == 0:
            gc.collect()

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

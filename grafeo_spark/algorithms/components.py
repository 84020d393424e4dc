"""Connected components, SCC, topological sort.

Reference: crates/grafeo-adapters/src/plugins/algorithms/components.rs
(UnionFind :23, connected_components :361, scc :389, topological_sort :417).
The union-find becomes min-label propagation (hash-to-min) on the Pregel
kernel; SCC uses the forward-max-coloring + backward-reachability scheme;
toposort is Kahn's in-degree peeling, one level per superstep of
``pregel.peel_degrees`` — all pure DataFrame loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafeo_spark.algorithms.pregel import (
    JUMP_AFTER,
    fixpoint,
    full_width,
    iter_width,
    loop_edges,
    peel_degrees,
    scoped_shuffle_width,
    undirect,
    vertices_from_edges,
)


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """(id, component) — weakly connected; component = min reachable id.

    Min-label propagation (GraphX ConnectedComponents semantics, replacing
    components.rs:361's union-find), since r16 on the one-exchange-per-
    superstep :func:`_min_label_fixpoint` loop with pointer jumping —
    O(log diameter) supersteps on chain shapes instead of O(diameter);
    undirected semantics via both edge orientations."""
    und = undirect(edges.select("src", "dst"))
    out = _min_label_fixpoint(und, vertices_from_edges(edges), max_iter=max_iter)
    return out.select("id", F.col("color").alias("component"))


def strongly_connected_components(edges: DataFrame, max_iter: int = 200) -> DataFrame:
    """(id, component) with component = min id of the SCC (components.rs:389).

    Coloring-peel algorithm: propagate the minimum id through unassigned
    vertices; a vertex whose color equals its own id is a root, and
    everything reachable from the root against the coloring direction
    *within the same color* is exactly the root's SCC (both directions
    label an SCC by its min member id, so the peels compose). The
    backward pass exists for the adversarial shapes where forward
    coloring yields a single root per round — e.g. a directed chain of
    singleton SCCs with ascending ids collapses in ONE backward round
    where forward-only peeling needs O(#SCCs) rounds. It is CONDITIONAL
    (r13): a healthy forward round clears most of the remaining graph,
    so the reverse peel runs only when the forward round assigned <25%
    of the remaining vertices — the adversarial-chain detector. r12 ran
    it unconditionally, costing +37% wall on normal graphs for a pass
    that cleared almost nothing.

    Bounds (the iterative-family contract, same as BFS/WCC): each inner
    fixpoint runs with convergence early exit and POINTER JUMPING
    (recursive doubling, r16 — ``_min_label_fixpoint``): a label crosses
    distance 2^k after k supersteps, so chain/cycle shapes converge in
    O(log diameter) supersteps instead of O(diameter); the bound passed
    down stays |V|+1, so even without jumping a long cycle colors
    CORRECTLY rather than truncating (r12 fix: the old hardcoded 50-step
    cap silently split any SCC with diameter > 50). Worst-case outer
    rounds remain O(#SCCs) on shapes adversarial to both directions;
    ``max_iter`` caps them and exhaustion RAISES (never a silent partial
    result). For singleton-heavy pathological graphs prefer the driver
    NetworkX bridge at small scale, or raise max_iter deliberately.
    """
    # lazy checkpoints: the depth count below materializes the edge set and
    # the vertex set in ONE job (r15 fusion — eager paid a job per frame)
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    remaining = vertices_from_edges(e).localCheckpoint(eager=False)
    spark = e.sparkSession
    assigned = spark.createDataFrame([], "id long, component long")
    depth = remaining.count() + 1  # converged-fixpoint bound for inner loops
    _scc_rows = max(depth - 1, e.count())
    _width = scoped_shuffle_width(spark, full_width(_scc_rows, spark), rows=_scc_rows)

    def _peel(sub_e: DataFrame, verts: DataFrame, reverse: bool) -> DataFrame:
        """Color along one direction, return the root SCCs (id, component).

        r16: the backward pass is a second min-label coloring over the
        SAME-COLOR reversed edges instead of a per-root BFS
        (reachable_pairs). Within a forward color class the root r is the
        class MINIMUM id (any smaller member would have colored r), so
        back(v) — the min id v can reach inside its class — equals r
        exactly when v reaches the root, i.e. ``back == color`` IS root-SCC
        membership. Both directions now converge in O(log diameter)
        supersteps via pointer jumping, where the old BFS paid O(diameter)
        hop jobs per peel; and the BFS's own setup jobs (hop-frame count +
        repartition, seed count) disappear."""
        fwd = (
            sub_e
            if not reverse
            else sub_e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # sub_e's endpoints all lie in verts (vertices_from_edges(e) at
        # first, then _shrink semi-joins both ends), so no restriction
        colors = _min_label_fixpoint(fwd, verts, max_iter=depth, edge_rows=_scc_rows)
        rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        back = _min_label_fixpoint(
            _same_color_edges(rev, colors), verts, max_iter=depth, edge_rows=_scc_rows
        ).withColumnRenamed("color", "_back")
        # lazy: both consumers (the assigned union and _shrink's anti/semi
        # joins) share ONE materialization, fired by the round's n_after
        # count (r15 fusion)
        return (
            colors.join(back, "id")
            .filter(F.col("color") == F.col("_back"))
            .select("id", F.col("color").alias("component"))
            .localCheckpoint(eager=False)
        )

    def _shrink(sub_e: DataFrame, verts: DataFrame, scc: DataFrame):
        # lazy: the caller's count (or the next peel's pregel edge count)
        # is the materializing action — one job saved per shrink (r15)
        verts = verts.join(scc.select("id"), "id", "left_anti").localCheckpoint(
            eager=False
        )
        # lazy: the next peel's pregel edge count is the materializing
        # action — and on the FINAL round (n_after == 0) the shrunk edge
        # set is never computed at all (r15 fusion)
        sub_e = (
            sub_e.join(verts.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(verts.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
        return sub_e, verts

    # one count action per shrink: n_after carries into the next round as
    # n_before instead of re-counting the identical frame (ADVICE r13);
    # the initial value reuses the depth count above (same frame, r15)
    n_before = depth - 1
    # outer-loop shuffles (shrink anti-joins, union checkpoints, the
    # backward reachability) share the measured-size width; the inner
    # pregel coloring scopes itself the same way (pregel.py sizing rule)
    with _width:
      for _round in range(max_iter):
        if n_before == 0:
            return assigned
        scc = _peel(e, remaining, reverse=False)
        # lazy: assigned is only read by the caller's final action (or the
        # exhausted-loop check); each round's checkpoint still computes
        # exactly once when that action fires (r15 fusion). Every 8th
        # round the chain is eagerly truncated: stacked lazy checkpoints
        # are never lineage-truncated by descendant actions (doCheckpoint
        # stops at the first marked RDD), so an unbounded peel count
        # would otherwise grow the serialized plan per round — the scc
        # frames are cached, so the fuse job is a cheap union scan.
        assigned = assigned.unionByName(scc).localCheckpoint(
            eager=(_round % 8 == 7)
        )
        e, remaining = _shrink(e, remaining, scc)
        n_after = remaining.count()
        if n_after == 0:
            return assigned
        if (n_before - n_after) * 4 < n_before:
            # forward cleared <25% of the remainder — the shape is
            # hostile to forward coloring; pay for the reverse peel
            scc = _peel(e, remaining, reverse=True)
            assigned = assigned.unionByName(scc).localCheckpoint(eager=False)
            e, remaining = _shrink(e, remaining, scc)
            n_after = remaining.count()
        n_before = n_after
    if not remaining.isEmpty():
        raise ValueError(
            f"strongly_connected_components: {remaining.count()} vertices "
            f"unassigned after {max_iter} peel rounds — the graph's SCC "
            "structure is adversarial to coloring-peel in both directions. "
            "Raise max_iter, or use the NetworkX bridge for small graphs."
        )
    return assigned


def _same_color_edges(edges: DataFrame, colors: DataFrame) -> DataFrame:
    cs = colors.select(F.col("id").alias("src"), F.col("color").alias("_sc"))
    cd = colors.select(F.col("id").alias("dst"), F.col("color").alias("_dc"))
    return (
        edges.join(cs, "src")
        .join(cd, "dst")
        .filter(F.col("_sc") == F.col("_dc"))
        .select("src", "dst")
    )


def _min_label_fixpoint(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int,
    edge_rows: int | None = None,
) -> DataFrame:
    """(id, color) — color = min id over vertices that reach v along edge
    direction (v included). The SCC peel's inner loop, rebuilt r16 as a
    ONE-EXCHANGE-per-superstep aggregation instead of the general pregel
    kernel's join+aggregate+join shape (guide §1.2 step 1, §2.4):

    - state (id, color) is hash-partitioned on id at the loop width and
      STAYS so (the aggregate's own output partitioning); the edge frame
      is partitioned on src once and persisted — the per-superstep message
      join is then co-partitioned (zero exchange) and built as a
      shuffled-hash join (zero sort; the general kernel paid a state
      exchange plus two SMJ sorts here).
    - new state = groupBy(id).min over (state ∪ messages) — ONE exchange,
      hash aggregate with map-side partial agg, no join for the update
      (the kernel paid a second exchange + left join). The old color rides
      along as min(color) over the state row alone, so the _changed flag
      needs no comparison join.
    - POINTER-JUMP messages (recursive doubling) from
      superstep JUMP_AFTER on: color(color(v)) reaches v by transitivity,
      so the fixpoint is unchanged but a label crosses distance 2^k per
      superstep — O(JUMP_AFTER + log d) supersteps on chain/cycle shapes
      instead of O(d) (measured: the 120-cycle forward coloring converges
      in 9 supersteps with jumping vs 120 without). The jump self-join
      squares the checkpoint's inherited sizeInBytes ESTIMATE, so jump
      supersteps strip origin stats (pregel._ckpt_strip_stats — without
      it the BigInt stats arithmetic became the wall). Jump starts late
      so short-diameter loops never pay the extra state self-join.

    ``edge_rows``: known upper bound on the edge count — skips the sizing
    count job (shrink loops already hold a bound; a stale larger bound
    only errs wide).

    Raises ``ValueError`` if the labels have not converged after
    ``max_iter`` supersteps."""
    ne = int(edge_rows) if edge_rows is not None else edges.count()
    cached = edges.select(F.col("src").alias("_es"), F.col("dst").alias("_ed"))

    def step(state: DataFrame, it: int) -> tuple[DataFrame, bool]:
        state = state.drop("_changed")
        use_jump = it > JUMP_AFTER
        msgs = (
            e.join(
                state.hint("shuffle_hash"), F.col("_es") == F.col("id")
            ).select(
                F.col("_ed").alias("id"),
                F.col("color"),
                F.lit(True).alias("_m"),
            )
        )
        if use_jump:
            ptr = state.filter(F.col("color") != F.col("id")).select(
                F.col("id").alias("_jid"), F.col("color").alias("_jp")
            )
            tgt = state.select(
                F.col("id").alias("_tid"), F.col("color").alias("_tc")
            )
            jm = ptr.join(tgt, F.col("_jp") == F.col("_tid")).select(
                F.col("_jid").alias("id"),
                F.col("_tc").alias("color"),
                F.lit(True).alias("_m"),
            )
            msgs = msgs.unionByName(jm)
        agg = (
            state.withColumn("_m", F.lit(False))
            .unionByName(msgs)
            .groupBy("id")
            .agg(
                F.min("color").alias("color"),
                # exactly one state row per id → its color is the
                # previous superstep's value; no comparison join
                F.min(F.when(~F.col("_m"), F.col("color"))).alias("_oc"),
            )
        )
        nxt = agg.select(
            "id", "color", (F.col("color") < F.col("_oc")).alias("_changed")
        )
        return nxt, use_jump

    with loop_edges(cached, "_es", ne, iter_width) as (e, w):
        state = (
            vertices.select("id", F.col("id").alias("color"))
            .repartition(w, "id")
            .localCheckpoint(eager=False)
        )
        out, converged = fixpoint(state, step, max_iter, ne)
    if not converged:
        raise ValueError(
            f"min-label propagation did not converge within max_iter={max_iter} "
            "supersteps; raise max_iter"
        )
    return out


def topological_sort(edges: DataFrame, max_iter: int = 200) -> DataFrame:
    """(id, level) — Kahn's in-degree peeling (components.rs:417).

    level = longest-path depth from any source; order within a level is by
    id. Raises on cycles (matching the reference's error behavior).

    Round bound: inherently O(longest-path depth) Spark jobs — Kahn peels
    one level per ``peel_degrees`` superstep, and that IS the right
    distributed algorithm (the levels are the parallel schedule a consumer
    wants anyway). A deep chain therefore costs O(n) supersteps of cheap
    jobs; ``max_iter`` caps the levels and exhaustion raises.
    tests/test_algorithms.py pins a 300-deep chain inside a wall budget.
    """
    state, converged = peel_degrees(
        edges.select("src", "dst").distinct(), F.col("deg") == 0, max_iter
    )
    if not converged:
        raise ValueError(f"topological_sort: max_iter={max_iter} exceeded")
    if not state.filter(F.col("level").isNull()).isEmpty():
        raise ValueError("topological_sort: graph has a cycle")
    return state.select("id", "level")

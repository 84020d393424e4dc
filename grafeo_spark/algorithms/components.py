"""Connected components, SCC, topological sort.

Reference: crates/grafeo-adapters/src/plugins/algorithms/components.rs
(UnionFind :23, connected_components :361, scc :389, topological_sort :417).
The union-find becomes min-label propagation (hash-to-min) on the Pregel
kernel; SCC uses the forward-max-coloring + backward-reachability scheme;
toposort is iterative in-degree peeling (Kahn) — all pure DataFrame loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafeo_spark.algorithms.pregel import (
    JUMP_AFTER,
    fixpoint,
    full_width,
    loop_edges,
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
    out = _min_label_fixpoint(
        und, vertices_from_edges(edges), max_iter=max_iter, jump=True
    )
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
        # edges_restricted: sub_e is always confined to verts here — the
        # initial frame's vertex set IS vertices_from_edges(e), and every
        # _shrink output is semi-joined to the surviving verts on both
        # endpoints — so the peel skips the two identity semi-joins the
        # general entry point pays (r15: two joins inside the pregel edge
        # materialization per peel round, for nothing)
        colors = connected_min_color_forward(
            fwd, verts, max_iter=depth, edges_restricted=True, jump=True,
            edge_rows=_scc_rows,
        )
        rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        back = connected_min_color_forward(
            _same_color_edges(rev, colors), verts, max_iter=depth,
            edges_restricted=True, jump=True, edge_rows=_scc_rows,
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


def connected_min_color_forward(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 50,
    edges_restricted: bool = False,
    jump: bool = False,
    edge_rows: int | None = None,
) -> DataFrame:
    """Propagate min id along edge direction within the given vertex set.

    ``edges_restricted=True`` declares both edge endpoints already confined
    to ``vertices`` (the SCC peel loop's invariant), skipping the two
    restriction semi-joins — on an already-checkpointed edge frame they are
    identity operations that would still cost two joins inside the pregel
    edge materialization per call (r15).

    ``jump=True`` enables pointer jumping after ``pregel.JUMP_AFTER``
    supersteps; ``edge_rows`` skips the sizing count (see
    :func:`_min_label_fixpoint`)."""
    sub = (
        edges
        if edges_restricted
        else edges.join(vertices.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(vertices.withColumnRenamed("id", "dst"), "dst", "left_semi")
    )
    return _min_label_fixpoint(
        sub, vertices, max_iter=max_iter, jump=jump, edge_rows=edge_rows
    )


def _min_label_fixpoint(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int,
    jump: bool = True,
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
    - ``jump=True`` adds POINTER-JUMP messages (recursive doubling) from
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
        use_jump = jump and it > JUMP_AFTER
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

    with loop_edges(cached, "_es", ne) as (e, w):
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
    one level per round, and that IS the right distributed algorithm (the
    levels are the parallel schedule a consumer wants anyway). A deep
    chain therefore costs O(n) rounds of cheap jobs; ``max_iter`` caps it
    and exhaustion raises. tests/test_algorithms.py pins a 300-deep chain
    inside a wall budget.
    """
    # lazy: the state count below materializes the edge set and the
    # in-degree state in ONE job (r15 fusion)
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    spark = e.sparkSession
    # Kahn via MAINTAINED in-degrees: state is (id, indeg); each round
    # peels indeg=0, then decrements successors by the count of edges
    # LEAVING the peeled frontier. The old loop instead re-derived
    # has_in = distinct(dst) over the full remaining edge set and
    # anti-joined/checkpointed BOTH the vertex and edge frames every
    # round — O(E) shuffled+rewritten per level; the decrement join
    # touches each edge exactly once across the whole run (guide §2.4:
    # remove per-round shuffles outright).
    state = (
        vertices_from_edges(e)
        .join(
            e.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("indeg")),
            "id",
            "left",
        )
        .fillna({"indeg": 0})
        .localCheckpoint(eager=False)
    )
    n_remaining = state.count()
    out = spark.createDataFrame([], "id long, level long")
    level = 0
    # per-level shuffles sized to the measured state (pregel.py sizing rule)
    with scoped_shuffle_width(spark, full_width(n_remaining, spark), rows=n_remaining):
        while n_remaining > 0:
            if level >= max_iter:
                raise ValueError("topological_sort: max_iter exceeded")
            sources = (
                state.filter(F.col("indeg") == 0)
                .select("id")
                .localCheckpoint(eager=False)  # materialized by the count
            )
            n_src = sources.count()
            if n_src == 0:
                raise ValueError("topological_sort: graph has a cycle")
            out = out.unionByName(sources.withColumn("level", F.lit(level).cast("long")))
            # no broadcast hint: a wide DAG's first frontier can be most of
            # the graph — AQE sees the checkpointed frontier's true size and
            # picks broadcast itself exactly when it fits
            dec = (
                e.join(sources.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count("*").alias("_d"))
            )
            state = (
                state.filter(F.col("indeg") > 0)
                .join(dec, "id", "left")
                .select(
                    "id",
                    (F.col("indeg") - F.coalesce(F.col("_d"), F.lit(0))).alias("indeg"),
                )
                # EAGER, deliberately (r15 measured): a lazy state here
                # stacks UNDER the lazy sources checkpoint, and Spark's
                # doCheckpoint only finalizes the FIRST marked RDD on the
                # path from an action — state's lineage then never
                # truncates and a 300-level chain overflows the task
                # serializer (test_topological_sort_deep_chain pins it).
                .localCheckpoint(eager=True)
            )
            n_remaining -= n_src
            level += 1
    return out

"""Connected components, SCC, topological sort.

Reference: crates/grafeo-adapters/src/plugins/algorithms/components.rs
(UnionFind :23, connected_components :361, scc :389, topological_sort :417).
The union-find becomes min-label propagation (hash-to-min) on the Pregel
kernel; SCC peels whole components with forward min-coloring plus
same-color backward coloring, and finishes the remainder with an
iterative Tarjan on the driver once it has at most
``DRIVER_ALGO_MAX_NODES`` vertices and edges (round 1 included, so a
small graph never colors at all); toposort is Kahn's in-degree peeling,
one level per superstep of ``pregel.peel_degrees``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafeo_spark.algorithms.pregel import (
    DRIVER_ALGO_MAX_NODES,
    JUMP_AFTER,
    aqe_off,
    endpoint_degrees,
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

    Local finish (Multistep's serial tail): every outer round, round 1
    included, starts by checking the remainder. Once it has at most
    ``DRIVER_ALGO_MAX_NODES`` vertices and at most that many edges, it
    is collected (vertices whose edges were all peeled included, as
    singletons) and finished by an iterative Tarjan on the driver, which
    counts as one round. Every peel removes whole SCCs, so the SCCs of
    the remainder are SCCs of the input. A graph that fits from the
    start costs two jobs: the init's checkpoint-plus-count and the
    collect (the battery's 60-vertex SCC entry went from 51 jobs to 7).

    Bounds (the iterative-family contract, same as BFS/WCC): each inner
    fixpoint runs with convergence early exit and POINTER JUMPING
    (recursive doubling, r16 — ``_min_label_fixpoint``): a label crosses
    distance 2^k after k supersteps, so chain/cycle shapes converge in
    O(log diameter) supersteps instead of O(diameter); the bound passed
    down stays |V|+1, so even without jumping a long cycle colors
    CORRECTLY rather than truncating (r12 fix: the old hardcoded 50-step
    cap silently split any SCC with diameter > 50). The tail bound: the
    worst case of O(#SCCs) outer rounds, on shapes adversarial to both
    directions, is paid only while more than ``DRIVER_ALGO_MAX_NODES``
    vertices or edges remain; ``max_iter`` caps the rounds and
    exhaustion RAISES (never a silent partial result).
    """
    spark = edges.sparkSession
    # init, planned under aqe_off: the lazy checkpoints are materialized
    # by ONE job, the aggregate that reads off |V| (the rows of the
    # endpoint-degree frame) and |E| (its degree sum)
    with aqe_off(spark):
        e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
        deg = endpoint_degrees(e, "src", "dst", out=True).localCheckpoint(eager=False)
        sizes = deg.agg(F.count(F.lit(1)), F.sum("deg")).first()
    remaining = deg.select("id")
    assigned = spark.createDataFrame([], "id long, component long")
    n_edges = int(sizes[1] or 0)
    depth = int(sizes[0]) + 1  # converged-fixpoint bound for inner loops
    _scc_rows = max(depth - 1, n_edges)
    _width = scoped_shuffle_width(spark, full_width(_scc_rows, spark), rows=_scc_rows)

    def _fits_driver(n_verts: int) -> bool:
        """Whether the remainder of ``n_verts`` vertices finishes locally.
        ``n_edges`` bounds the remaining edges from above (peels only
        shrink them), so they are recounted only while it is too big."""
        nonlocal n_edges
        if n_verts > DRIVER_ALGO_MAX_NODES:
            return False
        if n_edges > DRIVER_ALGO_MAX_NODES:
            n_edges = e.count()
        return n_edges <= DRIVER_ALGO_MAX_NODES

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
        # sub_e's endpoints all lie in verts (the endpoint set at first,
        # then _shrink semi-joins both ends), so no restriction
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
    # the initial value reuses the init count above (same frame, r15)
    n_before = depth - 1
    # outer-loop shuffles (shrink anti-joins, union checkpoints, the
    # backward reachability) share the measured-size width; the inner
    # pregel coloring scopes itself the same way (pregel.py sizing rule)
    with _width:
      for _round in range(max_iter):
        if _fits_driver(n_before):
            return assigned.unionByName(_driver_scc(e, remaining))
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
            "Raise max_iter."
        )
    return assigned


def _driver_scc(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """(id, component) of a remainder small enough for the driver: ONE
    collect of its edges and its vertices (a vertex row carries a null
    ``dst``, so vertices without edges stay in), then ``_tarjan_scc``."""
    rows = (
        edges.select("src", "dst")
        .unionByName(
            vertices.select(F.col("id").alias("src"), F.lit(None).alias("dst"))
        )
        .collect()
    )
    adj: dict[int, list[int]] = {}
    for src, dst in rows:
        out = adj.setdefault(src, [])
        if dst is not None:
            out.append(dst)
    comp = _tarjan_scc(adj)
    return edges.sparkSession.createDataFrame(
        list(comp.items()), "id long, component long"
    )


def _tarjan_scc(adj: dict[int, list[int]]) -> dict[int, int]:
    """Iterative Tarjan (no recursion, the ``structure._lowpoint_dfs``
    shape) → {vertex: min member id of its SCC}. ``adj`` has a key for
    every vertex."""
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    scc_stack: list[int] = []
    comp: dict[int, int] = {}
    for root in adj:
        if root in index:
            continue
        stack: list[tuple[int, iter]] = [(root, iter(adj[root]))]
        index[root] = low[root] = len(index)
        scc_stack.append(root)
        on_stack.add(root)
        while stack:
            v, it = stack[-1]
            for w in it:
                if w not in index:
                    index[w] = low[w] = len(index)
                    scc_stack.append(w)
                    on_stack.add(w)
                    stack.append((w, iter(adj[w])))
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            else:
                stack.pop()
                if stack:
                    p = stack[-1][0]
                    low[p] = min(low[p], low[v])
                if low[v] == index[v]:
                    members = []
                    while not members or members[-1] != v:
                        members.append(scc_stack.pop())
                        on_stack.discard(members[-1])
                    label = min(members)
                    for w in members:
                        comp[w] = label
    return comp


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

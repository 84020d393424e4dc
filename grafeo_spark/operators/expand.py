"""Iterative path-expansion operators.

Replaces the reference's ``VariableLengthExpandOperator`` (BFS frontier
queue, crates/grafeo-core/src/execution/operators/variable_length_expand.rs:15,
BFS at :217-240) and ``ShortestPathOperator`` (shortest_path.rs:1-18) with
distributed self-join loops:

- each hop is one join of the frontier against the (pre-projected, renamed)
  edge table — a shuffle on the join key; AQE handles skew;
- lineage is truncated with ``localCheckpoint`` every few hops so 10-hop
  expansions don't build 10-deep recursive plans;
- Cypher *trail* semantics (an edge may not repeat within one path) is kept
  by carrying the path's edge ids as an array column; use
  ``reachable_pairs`` when only distinct reachability matters — it is the
  100 TB-scale variant (per-hop dedup keeps the frontier bounded by
  |V|², not by path count);
- **seeding**: when the pattern binds the source side (e.g.
  ``(c {custkey: 1})-[:PLACED*1..3]->()``), pass ``src_ids`` so hop 1
  starts from the bound frontier instead of every edge in the graph —
  the difference between O(frontier) and O(|E|^hops) state at scale;
- **per-hop edge frames**: ``edges`` may be a *list* of frames, one per
  hop. The compiler builds these pruned by endpoint-label reachability
  (from a ``Customer`` hop 1 can only traverse ``PLACED``/``FROM_NATION``),
  so each hop scans only the edge types actually reachable there instead
  of the union of every type in the graph — at 100 TB the difference
  between a frontier-sized join and re-scanning the full edge set per hop.
  A list shorter than ``max_hops`` means the expansion provably dead-ends
  (no edge type leaves the reachable label set) and the loop stops early.

The edge frame(s) passed in are renamed to private column names (``_esrc``,
``_edst``, ``_eid``) before the loop, so frontier-vs-edge joins are never
ambiguous self-joins (the round-1 bug: joining a frame against a frame
derived from it).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CHECKPOINT_EVERY = 3

Edges = Union[DataFrame, Sequence[DataFrame]]


def _prep_edges(edges: DataFrame, id_col: Optional[str] = None) -> DataFrame:
    """Project edges to private names (_esrc, _edst, _eid).

    Edge identity for the trail no-repeat rule: an explicit ``id_col`` if
    given (the compiler stamps a precomputed ``_eid`` from catalog
    uniqueness metadata), else a hash over *all* columns. The hash arm
    collapses byte-identical parallel edges — callers that can see such
    duplicates must pass real ids (the reference tracks edge ids,
    variable_length_expand.rs:217-240).
    """
    if id_col is not None and id_col in edges.columns:
        eid = F.col(id_col).cast("long")
    else:
        eid = F.xxhash64(
            *[F.col(c) for c in edges.columns if c != "_eprops"]
        )
    sel = [
        F.col("src").alias("_esrc"),
        F.col("dst").alias("_edst"),
        eid.alias("_eid"),
    ]
    if "_eprops" in edges.columns:
        sel.append(F.col("_eprops"))
    return edges.select(*sel)


def _hop_list(edges: Edges, max_hops: int, id_col: Optional[str] = None) -> list[DataFrame]:
    """Normalize ``edges`` into a per-hop list of prepped frames.

    A single frame is reused for every hop; a sequence is prepped once per
    distinct frame object (the compiler reuses one object for consecutive
    hops with the same reachable type set, keeping the plan shared)."""
    if isinstance(edges, DataFrame):
        return [_prep_edges(edges, id_col)] * max_hops
    prepped: dict[int, DataFrame] = {}
    out = []
    for f in list(edges)[:max_hops]:
        if id(f) not in prepped:
            prepped[id(f)] = _prep_edges(f, id_col)
        out.append(prepped[id(f)])
    return out


def _seed(e: DataFrame, src_ids: Optional[DataFrame]) -> DataFrame:
    """Restrict hop-1 edges to those leaving the bound frontier (left-semi
    join; AQE picks broadcast when the seed set is small, which it usually
    is for a bound pattern side)."""
    if src_ids is None:
        return e
    seeds = src_ids.select(F.col(src_ids.columns[0]).alias("_esrc")).distinct()
    return e.join(seeds, "_esrc", "left_semi")


def var_length_expand(
    edges: Edges,
    min_hops: int,
    max_hops: int,
    src_ids: Optional[DataFrame] = None,
    id_col: Optional[str] = None,
    with_nodes: bool = False,
    with_edges: bool = False,
) -> DataFrame:
    """All trails of length in [min_hops, max_hops]: (src, dst, hops),
    one row per path (bag semantics, matching Cypher var-length MATCH).

    ``edges`` (frame or per-hop list) must have columns src, dst (+ any
    property columns, which feed edge identity). ``src_ids`` (single-column
    DataFrame) seeds the BFS frontier from the bound side of the pattern.
    ``with_nodes`` adds a ``path_nodes`` column — the node ids visited AFTER
    the source ([n1, .., dst]) — for named-path (`p = ...`)
    materialization. ``with_edges`` adds ``path_edges`` — the per-hop
    ``_eprops`` structs carried by the edge frames, in traversal order —
    for rel-list variable binding (all(r IN rs WHERE …)).
    """
    if min_hops < 0 or max_hops < min_hops:
        raise ValueError("need 0 <= min_hops <= max_hops")
    hop_e = _hop_list(edges, max_hops, id_col)
    eff_max = min(max_hops, len(hop_e))

    results = []
    if eff_max >= 1:
        # frontier: (origin, cur, hops, _path: array of traversed edge ids
        #            [, _pnodes: array of visited node ids after origin])
        first_cols = [
            F.col("_esrc").alias("origin"),
            F.col("_edst").alias("cur"),
            F.lit(1).alias("hops"),
            F.array(F.col("_eid")).alias("_path"),
        ]
        if with_edges:
            first_cols.append(F.array(F.col("_eprops")).alias("_epath"))
        first = _seed(hop_e[0], src_ids).select(*first_cols)
        if with_nodes:
            first = first.withColumn("_pnodes", F.array(F.col("cur")))
        frontier = first
        if min_hops <= 1:
            results.append(frontier)
        hop = 1
        while hop < eff_max:
            # a fresh subquery alias per hop: the frontier's array columns
            # keep lineage references into the (reused) edge frame, which
            # makes bare e["col"] ambiguous on the self-join — qualified
            # references resolve cleanly
            q = f"__vlhop{hop}"
            e = hop_e[hop].alias(q)
            hop += 1
            cols = [
                F.col("origin"),
                F.col(f"{q}._edst").alias("cur"),
                (F.col("hops") + 1).alias("hops"),
                F.array_append(F.col("_path"), F.col(f"{q}._eid")).alias("_path"),
            ]
            if with_nodes:
                cols.append(
                    F.array_append(F.col("_pnodes"), F.col(f"{q}._edst")).alias("_pnodes")
                )
            if with_edges:
                cols.append(
                    F.array_append(F.col("_epath"), F.col(f"{q}._eprops")).alias("_epath")
                )
            nxt = (
                frontier.join(e, frontier["cur"] == F.col(f"{q}._esrc"), "inner")
                .filter(~F.array_contains(F.col("_path"), F.col(f"{q}._eid")))
                .select(*cols)
            )
            if hop % _CHECKPOINT_EVERY == 0:
                nxt = nxt.localCheckpoint(eager=False)
            frontier = nxt
            if hop >= min_hops:
                results.append(frontier)

    if min_hops == 0:
        if src_ids is not None:
            src_nodes = src_ids.select(F.col(src_ids.columns[0]).alias("origin"))
        else:
            base = edges if isinstance(edges, DataFrame) else edges[0]
            src_nodes = base.select(F.col("src").alias("origin")).unionAll(
                base.select(F.col("dst").alias("origin"))
            )
        zero = src_nodes.distinct().select(
            "origin",
            F.col("origin").alias("cur"),
            F.lit(0).alias("hops"),
            F.array().cast("array<long>").alias("_path"),
        )
        if with_nodes:
            zero = zero.withColumn("_pnodes", F.array().cast("array<long>"))
        if with_edges:
            from pyspark.sql.types import ArrayType

            et = hop_e[0].schema["_eprops"].dataType
            zero = zero.withColumn("_epath", F.array().cast(ArrayType(et)))
        results.insert(0, zero)

    if not results:
        # pruning dead-ended before min_hops: nothing that long exists
        empty = hop_e[0].select(
            F.col("_esrc").alias("origin"),
            F.col("_edst").alias("cur"),
            F.lit(0).alias("hops"),
            F.array().cast("array<long>").alias("_path"),
        ).limit(0)
        if with_nodes:
            empty = empty.withColumn("_pnodes", F.array().cast("array<long>"))
        if with_edges:
            from pyspark.sql.types import ArrayType

            et = hop_e[0].schema["_eprops"].dataType
            empty = empty.withColumn("_epath", F.array().cast(ArrayType(et)))
        results = [empty]
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    sel = [F.col("origin").alias("src"), F.col("cur").alias("dst"), F.col("hops")]
    if with_nodes:
        sel.append(F.col("_pnodes").alias("path_nodes"))
    if with_edges:
        sel.append(F.col("_epath").alias("path_edges"))
    return out.select(*sel)


def reachable_pairs(
    edges: Edges,
    min_hops: int,
    max_hops: int,
    src_ids: Optional[DataFrame] = None,
    pairs_distinct: bool = False,
) -> DataFrame:
    """Distinct (src, dst, hops=first reached) — BFS with per-level dedup,
    as one lazy plan for the query compiler's small hop caps (a lazy
    checkpoint every ``_CHECKPOINT_EVERY`` hops bounds the plan depth).
    Algorithm callers with large caps use :func:`bfs_pairs`, which runs
    the levels eagerly and stops at the first empty one.

    The scale path: frontier size is bounded by reachable pairs, not path
    count, so a dense 100 TB graph cannot blow up the intermediate state the
    way enumerating trails would.

    Dedup strategy: the OUTPUT is always pair-distinct. With a single edge
    frame, ``pairs_distinct=True`` declares its (src, dst) pairs already
    distinct, skipping the edge-set dedup shuffle (otherwise the frame is
    deduped once and the result reused across every hop). With a
    per-hop frame LIST (the compiler's seeded path), edge frames are never
    pre-deduped — the frontier is deduped after each hop join instead, so
    the shuffle is bounded by the frontier size, not |E| (at 100 TB,
    pre-deduping a full edge type per query to serve a 10-row frontier is
    the wrong side of the join to clean).
    """
    is_list = not isinstance(edges, DataFrame)
    raw = _hop_list(edges, max_hops)
    eff_max = min(max_hops, len(raw))
    if eff_max == 0:
        raise ValueError("reachable_pairs: no hop frames")
    # preserve object identity across hops sharing a frame so the dedup
    # fires once per distinct frame, not once per hop
    xform: dict[int, DataFrame] = {}
    for e in raw:
        if id(e) not in xform:
            pe = e.select("_esrc", "_edst")
            xform[id(e)] = (
                pe if (is_list or pairs_distinct) else pe.distinct()
            )
    hop_e = [xform[id(e)] for e in raw]

    frontier = _seed(hop_e[0], src_ids).select(
        F.col("_esrc").alias("origin"), F.col("_edst").alias("cur")
    )
    if is_list or not pairs_distinct:
        frontier = frontier.distinct()
    results = [frontier.withColumn("hops", F.lit(1))] if min_hops <= 1 else []
    hop = 1
    all_seen = frontier
    while hop < eff_max:
        e = hop_e[hop]
        hop += 1
        nxt = (
            frontier.join(e, frontier["cur"] == e["_esrc"], "inner")
            .select(F.col("origin"), F.col("_edst").alias("cur"))
            .distinct()
            .join(all_seen, ["origin", "cur"], "left_anti")
        )
        if hop % _CHECKPOINT_EVERY == 0:
            nxt = nxt.localCheckpoint(eager=False)
        frontier = nxt
        # NO distinct here: frontier is already pair-distinct AND
        # anti-joined against all_seen, so the union is distinct by
        # construction — re-deduping it would shuffle the ENTIRE seen
        # state every level, the superlinear watermark the r8 sf25
        # measurement hit (BENCH_SCALE.md third decade).
        all_seen = all_seen.unionByName(frontier)
        if hop >= min_hops:
            results.append(frontier.withColumn("hops", F.lit(hop)))

    if not results:
        # pruning dead-ended before min_hops: nothing is reachable that far
        return frontier.select(
            F.col("origin").alias("src"), F.col("cur").alias("dst"), F.lit(0).alias("hops")
        ).limit(0)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.select(F.col("origin").alias("src"), F.col("cur").alias("dst"), "hops")


def bfs_pairs(
    edges: DataFrame, max_hops: int, src_ids: Optional[DataFrame] = None
) -> DataFrame:
    """Distinct (src, dst, hops=first reached) for 1 <= hops <= max_hops
    over one (src, dst) edge frame — :func:`reachable_pairs`' result, run
    by ``pregel.frontier_levels`` one level per job and stopped at the
    first empty level. For algorithm callers (BFS, closeness, SPARQL
    closures), whose hop caps are large and whose walks usually end well
    before them; each level materializes once instead of every later
    level's anti-join re-deriving it. ``src_ids`` (first column) seeds
    hop 1. ``max_hops=0`` returns no rows.

    The edge set is deduped once and cached hash-partitioned on its
    source at ``full_width``, not ``iter_width``: the loop state
    (reachable pairs) outgrows the edge count and every level's distinct
    and anti-join shuffle it — all-sources closeness measured 19.6s at
    the narrow band width vs ~4s at the parallelism floor (r15)."""
    from grafeo_spark.algorithms.pregel import frontier_levels, full_width, loop_edges

    e = edges.select(F.col("src").alias("_esrc"), F.col("dst").alias("_edst"))
    # lazy: the count materializes the deduped edge set it sizes the loop by
    e = e.distinct().localCheckpoint(eager=False)
    rows = e.count()
    with loop_edges(e, "_esrc", rows, full_width) as (cache, _):
        # merge hint: join co-partitioned against the cache, never
        # broadcast it (one job per level once it is materialized small)
        hinted = cache.hint("merge")

        def step(frontier: DataFrame) -> DataFrame:
            return (
                frontier.join(hinted, frontier["cur"] == hinted["_esrc"])
                .select(F.col("origin"), F.col("_edst").alias("cur"))
                .distinct()
            )

        # distinct edges make the seed pair-distinct already
        seed = _seed(cache, src_ids).select(
            F.col("_esrc").alias("origin"), F.col("_edst").alias("cur")
        )
        levels, _ = frontier_levels(seed, step, ["origin", "cur"], max_hops, rows)
    # limit(0) plans as an empty relation, which the unions below drop
    out = seed.withColumn("hops", F.lit(0)).limit(0)
    for hops, level in enumerate(levels, 1):
        out = out.unionByName(level.withColumn("hops", F.lit(hops)))
    return out.select(F.col("origin").alias("src"), F.col("cur").alias("dst"), "hops")


def shortest_path_lengths(
    edges: Edges,
    max_hops: int,
    src_ids: Optional[DataFrame] = None,
    pairs_distinct: bool = False,
) -> DataFrame:
    """(src, dst, hops) with hops = BFS shortest-path length (1..max_hops).

    Mirrors ShortestPathOperator's BFS (shortest_path.rs:65). Because levels
    are explored in order and previously-seen pairs are anti-joined away,
    the first time a pair appears IS its shortest distance.
    """
    return reachable_pairs(
        edges, 1, max_hops, src_ids=src_ids, pairs_distinct=pairs_distinct
    )


def all_shortest_paths(
    edges: Edges,
    max_hops: int,
    src_ids: Optional[DataFrame] = None,
    with_nodes: bool = False,
    with_edges: bool = False,
) -> DataFrame:
    """(src, dst, hops[, path_nodes]) — ONE ROW PER SHORTEST PATH.

    Cypher ``allShortestPaths`` semantics (reference plan.rs:578-598,
    shortest_path.rs:97-105): every minimum-length path between each
    reachable pair, so a pair connected by k tied-length routes yields k
    rows — parallel edges count as distinct paths, so the edge bag is NOT
    deduplicated here. BFS level order with a per-level anti-join against
    already-reached pairs prunes every non-minimal prefix as soon as it is
    one hop longer than the first reach — the frontier is bounded by the
    number of shortest paths, not all trails, and no trail-repeat filter is
    needed (a path that revisits a node is never minimal, so its prefix is
    already pruned).

    ``path_nodes`` (``with_nodes=True``) lists the node ids visited after
    the source ([n1, .., dst]), matching :func:`var_length_expand`.
    ``path_edges`` (``with_edges=True``) accumulates the per-hop
    ``_eprops`` structs of the traversed edges (hop frames must carry
    ``_eprops``), matching var_length_expand's rel-list contract.
    """
    keep = ["_esrc", "_edst"] + (["_eprops"] if with_edges else [])
    hop_e = [e.select(*keep) for e in _hop_list(edges, max_hops)]
    eff_max = min(max_hops, len(hop_e))
    if eff_max == 0:
        raise ValueError("all_shortest_paths: no hop frames")
    first_cols = [
        F.col("_esrc").alias("origin"),
        F.col("_edst").alias("cur"),
        F.lit(1).alias("hops"),
    ]
    if with_edges:
        first_cols.append(F.array(F.col("_eprops")).alias("_epath"))
    frontier = _seed(hop_e[0], src_ids).select(*first_cols)
    if with_nodes:
        frontier = frontier.withColumn("_pnodes", F.array(F.col("cur")))
    results = [frontier]
    seen = frontier.select("origin", "cur").distinct()
    hop = 1
    while hop < eff_max:
        # a fresh alias per hop: with _eprops the frontier's array column
        # keeps lineage into the (reused) edge frame, making bare column
        # references ambiguous on the self-join (same fix as
        # var_length_expand's qualified per-hop aliases)
        q = f"__sphop{hop}"
        e = hop_e[hop].alias(q)
        hop += 1
        cols = [
            F.col("origin"),
            F.col(f"{q}._edst").alias("cur"),
            (F.col("hops") + 1).alias("hops"),
        ]
        if with_nodes:
            cols.append(
                F.array_append(F.col("_pnodes"), F.col(f"{q}._edst")).alias("_pnodes")
            )
        if with_edges:
            cols.append(
                F.array_append(F.col("_epath"), F.col(f"{q}._eprops")).alias("_epath")
            )
        nxt = (
            frontier.join(e, frontier["cur"] == F.col(f"{q}._esrc"), "inner")
            .select(*cols)
            .join(seen, ["origin", "cur"], "left_anti")
        )
        if hop % _CHECKPOINT_EVERY == 0:
            nxt = nxt.localCheckpoint(eager=False)
        frontier = nxt
        seen = seen.unionByName(frontier.select("origin", "cur")).distinct()
        results.append(frontier)

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    sel = [F.col("origin").alias("src"), F.col("cur").alias("dst"), F.col("hops")]
    if with_nodes:
        sel.append(F.col("_pnodes").alias("path_nodes"))
    if with_edges:
        sel.append(F.col("_epath").alias("path_edges"))
    return out.select(*sel)

"""Pregel-style iterative kernel on DataFrames.

The Spark-native replacement for the reference's in-memory algorithm
plugins (crates/grafeo-adapters/src/plugins/algorithms/): a superstep
loop of

    messages = edges ⋈ vertex-state  →  groupBy(target).agg(msg)
    vertices = vertices ⟕ messages   →  update expressions

i.e. GraphX ``aggregateMessages`` semantics expressed as DataFrame joins.
The loop machinery around that join exists once, here:

- ``loop_edges`` sizes the loop width from the measured edge rows
  (``iter_width``), scopes it (``scoped_shuffle_width``), and caches the
  edge side co-partitioned on the message-join key for the loop's
  lifetime.
- ``fixpoint`` drives the supersteps. A step function maps the previous
  state to the next one, which carries a boolean ``_changed`` column, and
  says whether its plan self-joins the state (pointer jumping). The
  driver lazily checkpoints each new state (stripping inherited size
  statistics on self-join supersteps) and fuses that checkpoint with the
  count of changed rows: one job per superstep, which is also the
  convergence test. It collects old checkpoints on big loops and reports
  whether the loop converged; what exhaustion means is the caller's call.
- ``pregel`` is the generic step on top of both: message join, one
  aggregate per target, and a left-outer update.

Column conventions inside ``send_*`` expressions:
- vertex state columns of the *sending* side are prefixed ``v_``
- edge property columns are prefixed ``e_`` (``e_src``, ``e_dst``, props)
- the produced message expression is aliased ``msg`` by the kernel.
"""

from __future__ import annotations

import gc
from contextlib import contextmanager
from typing import Callable, Optional

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Loops over more than GC_ROWS measured rows collect Python garbage every
# CHECKPOINT_EVERY supersteps (see fixpoint).
CHECKPOINT_EVERY = 4
GC_ROWS = 2_000_000

# Target edge/state rows per task for iterative-loop shuffles — the
# pagerank/betweenness sizing rule (centrality.py:104): width grows with
# the measured input so per-task state stays bounded at cluster scale,
# and shrinks on small graphs where the session default width makes
# every superstep pay dozens of near-empty tasks.
ROWS_PER_TASK = 2_000_000

# Lower edge of the useful task size for iterative-loop shuffles: below
# ~100k rows a task is scheduling overhead, not compute (the r15 width
# sweep, iter_width docstring). Widths are sized so tasks carry at least
# this many rows until the 2048-partition cap pushes them toward
# ROWS_PER_TASK and beyond.
MIN_ROWS_PER_TASK = 100_000

# The documented single-node boundary (~150M rows, BENCH_SCALE r14): past
# it a loop's cached and retained frames go DISK_ONLY.
DISK_ONLY_ROWS = 150_000_000


# Below this many rows a loop is in the job-overhead regime: per-superstep
# planning/scheduling dominates and extra tasks are pure cost (the r14
# betweenness clamp measurement). Above it, compute dominates and the
# width must not drop below the available parallelism.
SMALL_ROWS = 100_000

# Pointer jumping (``jump=True``) starts at this superstep, not at 1: the
# jump self-join adds two state joins + a union to every superstep (~2-4x
# the superstep constant on a tiny graph, measured on the sf0.1 SCC
# battery graph whose colorings converge in <= 5 supersteps), while its
# payoff — O(log d) instead of O(d) supersteps — only exists once the
# diameter exceeds the superstep budget already spent. Starting at step
# JUMP_AFTER makes short loops pay nothing and deep loops converge in
# ~JUMP_AFTER + O(log d) supersteps (a label that has crawled k steps
# doubles its reach every jump superstep).
JUMP_AFTER = 6

# Below this many measured input rows an iterative loop's per-superstep
# AQE re-optimization (re-planning every exchange per materialized stage)
# costs more than runtime skew/coalescing can return: tasks carry a small
# fraction of the ROWS_PER_TASK budget, so there is nothing to coalesce
# or split. Four tasks' worth of budget is the measured crossover — an
# r15 A/B on the 750k-edge sf0.1 pagerank read 17.3s AQE-on vs 11.8s
# AQE-off (10 supersteps), while at sf25/sf50 (46-375M rows) AQE's skew
# handling is exactly what the decade runs needed. Size-derived, never a
# core-count constant.
AQE_OFF_ROWS = 4 * ROWS_PER_TASK


def iter_width(rows: int, spark=None) -> int:
    """Shuffle width for an iterative loop over ``rows`` state/edge rows.

    Tiny input (< SMALL_ROWS): clamp to 4 — each superstep is a handful
    of near-empty tasks whose scheduling is the dominant cost. Otherwise
    the width grows at ~MIN_ROWS_PER_TASK rows per task until it reaches
    the ceiling ``max(defaultParallelism, rows/ROWS_PER_TASK)`` (capped
    2048): a task below ~100k rows is launch-overhead, not compute, so
    spreading a mid-size loop across every core makes each superstep
    strictly slower — an r15 width sweep on the 750k-edge sf0.1
    pagerank measured 8 partitions (~94k rows/task) at 8.7-11.6s vs 32
    (defaultParallelism, ~23k rows/task) at 12.6-20s and the earlier
    4-partition clamp at 30s+. Past ~MIN_ROWS_PER_TASK × parallelism
    rows the rule saturates the cluster, and past ~ROWS_PER_TASK ×
    parallelism it reproduces the sf50-validated ~2M-rows/task sizing
    (the r14 OOM fix — e.g. 375M edges → 188 partitions) unchanged."""
    if rows < SMALL_ROWS:
        return 4
    dp = _default_parallelism(spark)
    ceiling = max(4, dp, min(2048, -(-rows // ROWS_PER_TASK)))
    return min(ceiling, max(4, -(-rows // MIN_ROWS_PER_TASK)))


def _default_parallelism(spark) -> int:
    if spark is None:
        return 0
    try:
        return int(spark.sparkContext.defaultParallelism)
    except Exception:
        return 0


def full_width(rows: int, spark=None) -> int:
    """Shuffle width for an iterative loop that RE-SHUFFLES its full
    input (or a state that outgrows it) every round — BFS-style frontier
    expansion over an un-cached edge side, shrink-and-peel loops, MST
    rounds. Unlike ``iter_width`` (whose 100k-rows/task band is measured
    on loops where the heavy side is cached co-partitioned and only tiny
    state moves), these loops are shuffle/compute-bound per round, so
    the width keeps the defaultParallelism floor: an r15 A/B that gave
    all-sources closeness the narrow band width read 19.6s vs 4.1s at
    the floor, while cached-edge pagerank moved the opposite way.
    Same tiny-input clamp and ~2M-rows/task scaling past the floor."""
    if rows < SMALL_ROWS:
        return 4
    return max(_default_parallelism(spark), min(2048, -(-rows // ROWS_PER_TASK)))


# Active scoped_shuffle_width scopes per SparkSession (id(session) ->
# thread idents holding a scope). The conf a scope mutates is SESSION-
# GLOBAL, so two loops scoping concurrently from different threads would
# silently run each other's jobs at the wrong width / AQE state and
# restore stale values — fail loudly instead (r16, VERDICT r15 #3).
# Same-thread NESTING is fine and load-bearing: the SCC outer loop scopes
# the peel rounds and each inner coloring re-scopes within it; because a
# scope captures the restore value at CONSTRUCTION (inside the outer
# scope), LIFO nesting restores correctly.
_ACTIVE_WIDTH_SCOPES: dict[int, list[int]] = {}


class scoped_shuffle_width:
    """Scope ``spark.sql.shuffle.partitions`` to an iterative loop and
    restore it on exit (exception-safe — the r14 betweenness ADVICE
    lesson: any work between the set and the try leaks the width).

    Below AQE_OFF_ROWS measured input rows (or, when ``rows`` is not
    supplied, in the width-clamped tiny regime) AQE is scoped OFF as
    well: each superstep job pays AQE's per-exchange re-optimization for
    data where runtime skew handling has nothing to do (measured ~12% on
    tiny loops, ~30% on the sf0.1 pagerank). At real sizes AQE stays on
    — skew/coalescing matter exactly there.

    SCOPE IS SESSION-GLOBAL: ``spark.conf.set`` applies to every query the
    session runs while the scope is active, not just this loop's. Nesting
    from the SAME thread is supported (LIFO restore); entering a scope
    while ANOTHER THREAD holds one on the same session raises — the
    alternative is silent cross-contamination of both loops' widths."""

    def __init__(self, spark, parts: int, rows: int | None = None):
        self._spark = spark
        self._parts = int(parts)
        self._prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
        self._prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        self._aqe_off = (
            (self._parts <= 4) if rows is None else (rows < AQE_OFF_ROWS)
        )

    def __enter__(self):
        import threading

        me = threading.get_ident()
        active = _ACTIVE_WIDTH_SCOPES.setdefault(id(self._spark), [])
        if any(t != me for t in active):
            raise RuntimeError(
                "scoped_shuffle_width: another thread holds a width scope on "
                "this SparkSession — shuffle.partitions/AQE are session-global "
                "conf, so concurrent scoped loops would corrupt each other. "
                "Run concurrent algorithm loops in separate sessions."
            )
        active.append(me)
        if self._parts != int(self._prev):
            self._spark.conf.set("spark.sql.shuffle.partitions", str(self._parts))
        if self._aqe_off and self._prev_aqe == "true":
            self._spark.conf.set("spark.sql.adaptive.enabled", "false")
        return self

    def __exit__(self, *exc):
        active = _ACTIVE_WIDTH_SCOPES.get(id(self._spark))
        if active:
            import threading

            me = threading.get_ident()
            if me in active:
                active.remove(me)
            if not active:
                _ACTIVE_WIDTH_SCOPES.pop(id(self._spark), None)
        if self._parts != int(self._prev):
            self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)
        if self._aqe_off and self._prev_aqe == "true":
            self._spark.conf.set("spark.sql.adaptive.enabled", self._prev_aqe)
        return False


def _prefixed(df: DataFrame, prefix: str) -> DataFrame:
    return df.select(*[F.col(c).alias(prefix + c) for c in df.columns])


def _ckpt_strip_stats(df: DataFrame, eager: bool) -> DataFrame:
    """``localCheckpoint`` + re-wrap the checkpointed plan in a fresh
    ``LogicalRDD`` WITHOUT origin statistics (r16).

    A checkpoint's LogicalRDD carries the origin plan's size ESTIMATE
    (``sizeInBytes``). A loop whose superstep plan inner-joins the state
    with ITSELF (pointer jumping) then SQUARES that estimate every
    superstep: the BigInt's digit count doubles per superstep (measured:
    4.8k → 9.6k → … → 19.6M digits) and Catalyst's stats computation —
    BigInteger multiplications in SizeInBytesOnlyStatsPlanVisitor —
    becomes the wall (driver jstack; supersteps flat ~0.4s through step
    16, then 2.9/8/16/48/164s). Wrapping the SAME checkpointed RDD via
    ``internalCreateDataFrame`` resets the leaf to the session's default
    size estimate (a constant), keeping stats work O(1) per superstep.
    Materialization and lineage-truncation semantics are unchanged — the
    wrapped plan scans the same checkpoint-marked RDD, so the lazy
    checkpoint + count fusion still fires it. Ordinary (non-self-join)
    loops keep the plain checkpoint: their origin estimates grow only
    additively, and the real estimate is what lets the planner pick
    broadcast builds where it fits."""
    jdf = df._jdf.localCheckpoint(eager)
    js = df.sparkSession._jsparkSession
    wrapped = js.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(wrapped, df.sparkSession)


@contextmanager
def loop_edges(edges: DataFrame, key: str, rows: int):
    """Scope an iterative loop over ``rows`` measured edge rows and yield
    ``(edge cache, width)``.

    The width is ``iter_width(rows)``, entered as a ``scoped_shuffle_width``
    for the whole loop. The edge side is hash-partitioned on ``key`` at
    that width and persisted, so every superstep's message join co-locates
    against the cache and only the (much smaller) vertex state moves — the
    iterative-graph analogue of GraphX caching the graph. The cache is
    planned inside the scope, so on a small loop its exchanges run with
    AQE off as well, in the first superstep's job instead of AQE stage
    jobs of their own. Past DISK_ONLY_ROWS the cache goes DISK_ONLY: a
    sequential re-read per superstep costs seconds; pinned storage blocks
    cost the job (the sf50 pagerank OOM, BENCH_SCALE r14). The cache is
    dropped on exit, so the loop must return checkpointed state that does
    not depend on it."""
    spark = edges.sparkSession
    parts = iter_width(rows, spark)
    with scoped_shuffle_width(spark, parts, rows=rows):
        e = edges.repartition(parts, key)
        e = e.persist(StorageLevel.DISK_ONLY) if rows > DISK_ONLY_ROWS else e.persist()
        try:
            yield e, parts
        finally:
            e.unpersist()


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], tuple[DataFrame, bool]],
    max_iter: int,
    rows: int,
) -> tuple[DataFrame, bool]:
    """Run ``step`` for at most ``max_iter`` supersteps; return the final
    state (``_changed`` dropped) and whether it converged.

    ``step(state, it)`` gets the previous state — from superstep 2 on it
    still carries that superstep's ``_changed`` flag, which delta loops
    use as their frontier — and the 1-based superstep number. It returns
    the next state with a boolean ``_changed`` column, and whether that
    superstep's plan joins the state with ITSELF (pointer jumping).

    Each superstep is ONE job: a lazy checkpoint whose materialization is
    fused with the full count of changed rows (r15; count, not isEmpty —
    isEmpty's limit-1 plan can leave checkpoint partitions uncomputed).
    Self-join supersteps checkpoint through ``_ckpt_strip_stats``. The
    loop converges on the first superstep that changes no row.

    Supersteps are never chained lazily between checkpoints: a step reads
    the previous state more than once (message sender and update side),
    so a lazy k-chain is a 2^k plan, not a pipeline (r15 A/B at k=4: WCC
    1.9s -> 25s, MST 5.3s -> 46s)."""
    for it in range(1, max_iter + 1):
        nxt, self_join = step(state, it)
        nxt = (
            _ckpt_strip_stats(nxt, False)
            if self_join
            else nxt.localCheckpoint(eager=False)
        )
        if nxt.filter(F.col("_changed")).count() == 0:
            return nxt.drop("_changed"), True
        state = nxt
        if rows > GC_ROWS and it % CHECKPOINT_EVERY == 0:
            # Old checkpoints' storage blocks are freed only when their
            # Python DataFrame objects are collected (ContextCleaner acts
            # on GC; py4j cycles defeat refcounting). Left to chance, a
            # big-graph run accumulates every superstep's state in the
            # block store and the executor GC-churns — measured at sf25
            # (46M vertices): supersteps fluctuated 29-60s vs a flat ~17s
            # with explicit collection (BENCH_SCALE.md r13). Gated on size
            # so small loops pay no driver GC for a few MB of blocks.
            gc.collect()
    return state.drop("_changed"), False


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    send_to_dst: Optional[Column],
    agg_msg: Column,
    update: Callable[[DataFrame], DataFrame],
    max_iter: int = 20,
    send_to_src: Optional[Column] = None,
    delta_only: bool = False,
) -> DataFrame:
    """Run supersteps until ``max_iter`` or until no row has
    ``_changed = true`` (if ``update`` emits that column). Returns the
    state reached, converged or capped.

    Parameters
    ----------
    vertices : DataFrame with column ``id`` plus state columns.
    edges : DataFrame with ``src``, ``dst`` plus property columns.
    send_to_dst / send_to_src : message expression over ``v_*`` (sender
        state) and ``e_*`` (edge) columns; None = no message that direction.
    agg_msg : aggregate over column ``msg`` (e.g. ``F.sum("msg")``).
    update : maps the joined frame (old state + ``_msg``, null when no
        message arrived) to the next vertex frame; must keep ``id`` and the
        state columns, and may emit ``_changed`` to request convergence
        detection. Without it the loop runs exactly ``max_iter`` supersteps.
    delta_only : frontier messaging (r16, guide §2.3 — shuffle fewer
        bytes): only vertices whose ``_changed`` flag was set by the LAST
        update send messages. Sound whenever an unchanged sender's message
        is redundant — true for monotone min/max relaxations (Bellman-Ford:
        a vertex whose dist did not improve already delivered that dist to
        every neighbor in the superstep after it last changed). The message
        join then touches only the frontier's out-edges instead of every
        reached vertex's, every superstep. Requires ``update`` to emit
        ``_changed``; superstep 1 (no flag yet) sends from all vertices.
    """
    return _pregel(
        vertices, edges, send_to_dst, agg_msg, update, max_iter, send_to_src,
        delta_only,
    )[0]


def _pregel(
    vertices, edges, send_to_dst, agg_msg, update, max_iter, send_to_src,
    delta_only,
) -> tuple[DataFrame, bool]:
    """``pregel`` returning ``fixpoint``'s (state, converged) pair."""

    def step(cur: DataFrame, it: int) -> tuple[DataFrame, bool]:
        sender = cur
        if not delta_only:
            cur = sender = cur.drop("_changed")
        elif "_changed" in cur.columns:
            # frontier messaging: unchanged vertices' messages are
            # redundant under a monotone relaxation (see delta_only)
            sender = cur.filter(F.col("_changed"))
        v = _prefixed(sender, "v_")
        msgs = None
        if send_to_dst is not None:
            msgs = e.join(v, F.col("e_src") == F.col("v_id"), "inner").select(
                F.col("e_dst").alias("_mid"), send_to_dst.alias("msg")
            )
        if send_to_src is not None:
            m = e.join(v, F.col("e_dst") == F.col("v_id"), "inner").select(
                F.col("e_src").alias("_mid"), send_to_src.alias("msg")
            )
            msgs = m if msgs is None else msgs.unionByName(m)
        if msgs is None:
            raise ValueError("at least one of send_to_dst/send_to_src required")
        inbox = msgs.groupBy("_mid").agg(agg_msg.alias("_msg"))
        nxt = update(cur.join(inbox, cur["id"] == inbox["_mid"], "left").drop("_mid"))
        if "_changed" not in nxt.columns:
            # no convergence test: every superstep counts as a change
            nxt = nxt.withColumn("_changed", F.lit(True))
        return nxt, False

    ne = edges.count()
    key = "e_src" if send_to_dst is not None else "e_dst"
    with loop_edges(_prefixed(edges, "e_"), key, ne) as (e, _):
        return fixpoint(vertices, step, max_iter, ne)


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing in the edge set."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def undirect(edges: DataFrame) -> DataFrame:
    """Both orientations of each edge (for undirected-semantics algorithms)."""
    cols = [c for c in edges.columns if c not in ("src", "dst")]
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *[F.col(c) for c in cols]
    )
    return edges.unionByName(rev)


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges as (min, max) pairs, self-loops dropped —
    the normal form for triangle/clustering/k-core algorithms."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )

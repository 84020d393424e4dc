"""Minimum spanning tree / forest.

Reference: crates/grafeo-adapters/src/plugins/algorithms/mst.rs
(Kruskal :288, Prim :353). Both are sequential union-find/heap algorithms;
the distributed equivalent is Borůvka: every component picks its minimum
outgoing edge each round, components merge, O(log V) rounds — each round a
couple of shuffles. Deterministic tie-break by (weight, src, dst) keeps the
result cycle-free and reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafeo_spark.algorithms.components import connected_components
from grafeo_spark.algorithms.pregel import (
    _ckpt_strip_stats,
    full_width,
    scoped_shuffle_width,
    vertices_from_edges,
)


def minimum_spanning_forest(
    edges: DataFrame, weight_col: str = "weight", max_iter: int = 30
) -> DataFrame:
    """(src, dst, weight) edges of the minimum spanning forest (Borůvka)."""
    e = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col(weight_col).cast("double").alias("weight"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
        # lazy: the _n_e count below materializes the reduced edge set
        # (r15 fusion — eager paid a standalone job first)
        .localCheckpoint(eager=False)
    )
    spark = e.sparkSession
    comp = vertices_from_edges(e).withColumn("component", F.col("id"))
    mst = spark.createDataFrame([], "src long, dst long, weight double")

    # lazy: round 1's best.count() (whose cross join reads comp)
    # materializes the initial labels — no standalone init job
    comp = comp.localCheckpoint(eager=False)
    # round shuffles sized to the measured edge count (pregel.py rule);
    # the inner component-merge pregel scopes itself the same way
    # full_width: each round re-joins the FULL remaining edge frame
    # against the component labels (no cached co-partitioned side), so
    # the parallelism floor applies — see pregel.full_width
    _n_e = e.count()
    _width = scoped_shuffle_width(spark, full_width(_n_e, spark), rows=_n_e)
    with _width:
      for _ in range(max_iter):
        cs = comp.select(F.col("id").alias("src"), F.col("component").alias("_cs"))
        cd = comp.select(F.col("id").alias("dst"), F.col("component").alias("_cd"))
        cross = (
            e.join(cs, "src").join(cd, "dst").filter(F.col("_cs") != F.col("_cd"))
        )
        # carry the component endpoints through the pick: (weight, src, dst)
        # already identifies the edge uniquely (e is min-reduced per pair),
        # so the extra struct fields never influence the min
        pick = F.struct("weight", "src", "dst", "_cs", "_cd").alias("pick")
        cand = cross.select(F.col("_cs").alias("c"), pick).unionAll(
            cross.select(F.col("_cd").alias("c"), pick)
        )
        # checkpoint the (tiny: <= one row per component) picked-edge set and
        # test THAT for emptiness — the old code's cross.isEmpty() ran the
        # full two-sided join once for the test and again for the pick
        best = (
            cand.groupBy("c")
            .agg(F.min("pick").alias("p"))
            .select("p.src", "p.dst", "p.weight", "p._cs", "p._cd")
            .distinct()
            .localCheckpoint(eager=False)  # materialized by the count
        )
        if best.count() == 0:
            break
        # LAZY: the accumulated forest is only read at the caller's final
        # action — the chained checkpoints each materialize once there,
        # and one eager-materialization job per round is saved
        mst = (
            mst.unionByName(best.select("src", "dst", "weight"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Merge components on the COMPONENT-level graph (Borůvka
        # contraction): each picked edge links the two components that
        # picked it, so connected components over <= 2 rows per component
        # yields the merged partition. The old code re-ran the min-label
        # fixpoint over the ENTIRE accumulated vertex-level MST edge set
        # every round — O(rounds x mst-diameter) supersteps over a frame
        # that only grows; the contracted graph instead SHRINKS
        # geometrically with the component count. Labels agree (min
        # component id = min vertex id of the merged group), so the
        # per-round picks — and the returned forest — are identical.
        ce = best.select(F.col("_cs").alias("src"), F.col("_cd").alias("dst"))
        merge = connected_components(ce).select(
            F.col("id").alias("component"), F.col("component").alias("_newc")
        )
        # LAZY + fused with the next round's best.count() (which scans the
        # cross join referencing comp) — the r15 checkpoint/count pattern.
        # The merge join's plan reads comp itself, so a plain checkpoint
        # would multiply the size estimate every round; strip it.
        comp = _ckpt_strip_stats(
            comp.join(merge, "component", "left").select(
                "id", F.coalesce(F.col("_newc"), F.col("component")).alias("component")
            ),
            False,
        )
    return mst


def minimum_spanning_tree(edges: DataFrame, weight_col: str = "weight") -> DataFrame:
    """Alias (mst.rs Kruskal/Prim parity surface)."""
    return minimum_spanning_forest(edges, weight_col)

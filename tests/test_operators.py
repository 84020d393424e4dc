"""Unit tests for the iterative path operators and the PropertyGraph API
(reference behavior: variable_length_expand.rs:217-240, shortest_path.rs:65,
mutation.rs, merge.rs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows


def _edges(spark, pairs):
    return spark.createDataFrame([(i, s, d) for i, (s, d) in enumerate(pairs)], "id long, src long, dst long")


def test_var_length_trail_counts(spark):
    # diamond with a tail: 1->2, 1->3, 2->4, 3->4, 4->5
    from grafeo_spark.operators.expand import var_length_expand

    e = _edges(spark, [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)])
    out = rows(var_length_expand(e, 1, 3, id_col="id"))
    # hops=1: 5 edges; hops=2: 1-2-4, 1-3-4, 2-4-5, 3-4-5; hops=3: 1-2-4-5, 1-3-4-5
    assert len(out) == 5 + 4 + 2
    assert out.count((1, 4, 2)) == 2  # two distinct 2-hop paths 1=>4


def test_var_length_trail_no_edge_repeat(spark):
    from grafeo_spark.operators.expand import var_length_expand

    # 2-cycle: 1->2, 2->1 — trails can't reuse an edge, so max trail length 2
    e = _edges(spark, [(1, 2), (2, 1)])
    out = rows(var_length_expand(e, 1, 5, id_col="id"))
    assert max(h for _, _, h in out) == 2


def test_var_length_parallel_edges_distinct(spark):
    from grafeo_spark.operators.expand import var_length_expand

    # two parallel edges 1->2 (distinct ids) then 2->3: 2 two-hop trails
    e = spark.createDataFrame(
        [(1, 1, 2), (2, 1, 2), (3, 2, 3)], "id long, src long, dst long"
    )
    out = rows(var_length_expand(e, 2, 2, id_col="id"))
    assert out == [(1, 3, 2), (1, 3, 2)]


def test_var_length_seeded(spark):
    from grafeo_spark.operators.expand import var_length_expand

    e = _edges(spark, [(1, 2), (2, 3), (9, 8)])
    seeds = spark.createDataFrame([(1,)], "id long")
    out = rows(var_length_expand(e, 1, 2, src_ids=seeds, id_col="id"))
    assert out == [(1, 2, 1), (1, 3, 2)]  # 9->8 component never explored


def test_reachable_pairs_dedup(spark):
    from grafeo_spark.operators.expand import reachable_pairs

    e = _edges(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    out = rows(reachable_pairs(e, 1, 3))
    # (1,4) appears once, at its first (shortest) hop count
    assert out.count((1, 4, 2)) == 1 and (1, 4, 3) not in out


def test_lazy_reachable_pairs_build_runs_no_jobs(spark):
    """The query-compile path runs no level loop: building the plans
    counts nothing and checkpoints nothing eagerly. AQE is off for the
    build because an AQE plan runs its shuffle stages as soon as a lazy
    ``localCheckpoint`` is taken (hop 3 here), which is not a level job."""
    from grafeo_spark.operators.expand import reachable_pairs, shortest_path_lengths

    e = _edges(spark, [(i, i + 1) for i in range(10)])
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("lazy-reachable-build", "lazy reachable_pairs build")
    try:
        reachable_pairs(e, 1, 5)
        shortest_path_lengths(e, 5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert sc.statusTracker().getJobIdsForGroup("lazy-reachable-build") == []


def test_shortest_path_lengths(spark):
    from grafeo_spark.operators.expand import shortest_path_lengths

    # direct long edge + shortcut: shortest 1->4 is 1 (direct), 1->3 is 2
    e = _edges(spark, [(1, 2), (2, 3), (1, 4), (4, 3)])
    out = dict(((s, d), h) for s, d, h in rows(shortest_path_lengths(e, 5)))
    assert out[(1, 4)] == 1 and out[(1, 3)] == 2


def test_var_length_duplicate_parallel_edges(spark):
    """Two BYTE-IDENTICAL edge rows are two distinct edges: a trail may use
    both (the reference tracks real edge ids, variable_length_expand.rs:217).
    Exercises the compiler's occurrence-number identity fallback — the graph
    declares no distinct_pairs/edge_keys metadata for REL."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    rel = spark.createDataFrame([(1, 2), (1, 2), (2, 3)], "src long, dst long")
    db = GrafeoSpark(spark, PropertyGraph({"N": nodes}, {"REL": rel}))
    out = db.cypher("MATCH (a:N)-[*2..2]->(b:N) RETURN count(*) AS n").collect()
    assert out[0].n == 2  # 1=>2=>3 via each copy of the duplicated edge
    # and the 2-cycle rule still holds: a single edge can't repeat
    out = db.cypher("MATCH (a:N)-[*1..1]->(b:N) RETURN count(*) AS n").collect()
    assert out[0].n == 3


def test_hop_frames_label_reachability_pruning(spark):
    """Per-hop edge frames include only types whose start label is reachable
    at that hop (from A: hop 1 = AB only, hop 2 = BC only), and dead-end
    when nothing is reachable."""
    from grafeo_spark.plans.compiler import Compiler
    from grafeo_spark.graph import PropertyGraph

    n = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id long")
    e = lambda pairs: spark.createDataFrame(pairs, "src long, dst long")
    g = PropertyGraph(
        {"A": n(1), "B": n(10), "C": n(100)},
        {"AB": e([(1, 10)]), "BC": e([(10, 100)])},
        endpoints={"AB": ("A", "B"), "BC": ("B", "C")},
        disjoint_labels=True,
        distinct_pairs={"AB", "BC"},
    )
    c = Compiler(g, spark)
    frames = c._hop_edge_frames((), "out", "A", 4, "pairs")
    # hop 1: AB only; hop 2: BC only; hop 3: dead end (C has no out-edges)
    assert len(frames) == 2
    assert [tuple(r) for r in frames[0].collect()] == [(1, 10)]
    assert [tuple(r) for r in frames[1].collect()] == [(10, 100)]
    # unknown source label: no pruning at hop 1, then ends are known
    # (hop 2 = BC only, hop 3 dead-ends: C has no out-edges)
    frames = c._hop_edge_frames((), "out", None, 3, "pairs")
    assert len(frames) == 2 and frames[0].count() == 2


def test_var_length_both_direction_no_edge_reuse(db):
    """Undirected (BOTH) trails: traversing an edge forward then backward
    is a repeat (identity is computed on the stored orientation). From
    Alice: 1-2-3, 1-3-2, 1-3-4 — never 1-2-1 over the same edge."""
    out = db.cypher(
        "MATCH (a:Person {name: 'Alice'})-[*2..2]-(b) RETURN count(*) AS n"
    ).collect()
    assert out[0].n == 3


def test_var_length_dead_end_before_min_hops(spark):
    """Pruning (or a short graph) that dead-ends before min_hops returns
    ZERO rows, not an error — `MATCH (a:A)-[r*3..3]->(b)` on a 2-hop chain."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    n = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id long")
    e = lambda pairs: spark.createDataFrame(pairs, "src long, dst long")
    g = PropertyGraph(
        {"A": n(1), "B": n(10), "C": n(100)},
        {"AB": e([(1, 10)]), "BC": e([(10, 100)])},
        endpoints={"AB": ("A", "B"), "BC": ("B", "C")},
        disjoint_labels=True,
        distinct_pairs={"AB", "BC"},
    )
    db = GrafeoSpark(spark, g)
    out = db.cypher("MATCH (a:A)-[r*3..3]->(b) RETURN count(*) AS n").collect()
    assert out[0].n == 0


def test_no_label_pruning_with_overlapping_labels(spark):
    """disjoint_labels=False: a node id may carry several labels, so
    endpoint-label pruning must stay off — the 2-hop path through a node
    that is both a B and an X must be found."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    mk = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id long")
    e = lambda pairs: spark.createDataFrame(pairs, "src long, dst long")
    g = PropertyGraph(
        {"A": mk(1), "B": mk(10), "X": mk(10), "C": mk(100)},  # 10 is B AND X
        {"AB": e([(1, 10)]), "XC": e([(10, 100)])},
        endpoints={"AB": ("A", "B"), "XC": ("X", "C")},
        disjoint_labels=False,
        distinct_pairs={"AB", "XC"},
    )
    db = GrafeoSpark(spark, g)
    out = db.cypher("MATCH (a:A)-[*2..2]->(c) RETURN count(*) AS n").collect()
    assert out[0].n == 1


def test_trail_with_map_property_edge_frame(spark):
    """User-built edge frames with unorderable columns (map<...>) must
    still work in var-length trails: _edge_identity restricts its
    occurrence window/hash to orderable columns (r4 advisory)."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    edges = spark.createDataFrame(
        [(1, 2, {"w": 1}), (2, 3, {"w": 2})],
        "src long, dst long, attrs map<string, int>",
    )
    g = PropertyGraph({"N": nodes}, {"E": edges})
    db = GrafeoSpark(spark, g)
    out = db.cypher("MATCH (a:N)-[*1..2]->(b) RETURN count(*) AS n").collect()
    assert out[0].n == 3  # 1→2, 2→3, 1→2→3


def test_with_nodes_user_frame_demotes_disjoint_labels(spark):
    """A user-supplied frame can introduce a cross-label id collision, so
    with_nodes/create_nodes must drop disjoint_labels (which gates
    endpoint-label path pruning) unless the caller asserts id freshness —
    the var-length result must match the unpruned plan."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    mk = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id long")
    e = lambda pairs: spark.createDataFrame(pairs, "src long, dst long")
    g = PropertyGraph(
        {"A": mk(1), "B": mk(10), "C": mk(100)},
        {"AB": e([(1, 10)]), "XC": e([(10, 100)])},
        endpoints={"AB": ("A", "B"), "XC": ("X", "C")},
        disjoint_labels=True,
        distinct_pairs={"AB", "XC"},
    )
    # user frame makes node 10 both a B and an X — the invariant is gone
    g2 = g.with_nodes("X", mk(10))
    assert g2.disjoint_labels is False
    # create_nodes with a user frame demotes the same way
    assert g.create_nodes("X", mk(10)).disjoint_labels is False
    # internal callers that allocate fresh ids keep the flag
    assert g.with_nodes("X", mk(1000), ids_disjoint=True).disjoint_labels is True
    # and the 2-hop path through the collided node is found (pruning off)
    out = GrafeoSpark(spark, g2).cypher(
        "MATCH (a:A)-[*2..2]->(c) RETURN count(*) AS n"
    ).collect()
    assert out[0].n == 1


def test_cypher_mutations_keep_disjoint_labels(spark):
    """The Cypher mutation path allocates global max+1 ids and rewrites
    properties in place — neither may demote disjoint_labels."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    mk = lambda *ids: spark.createDataFrame([(i, f"n{i}") for i in ids], "id long, name string")
    g = PropertyGraph(
        {"A": mk(1), "B": mk(10)},
        {"AB": spark.createDataFrame([(1, 10)], "src long, dst long")},
        endpoints={"AB": ("A", "B")},
        disjoint_labels=True,
    )
    db = GrafeoSpark(spark, g)
    db.cypher("CREATE (x:A {name: 'fresh'})")
    assert db.graph.disjoint_labels is True
    db.cypher("MATCH (a:A) SET a.name = 'renamed'")
    assert db.graph.disjoint_labels is True


def test_min_hops_zero(spark):
    from grafeo_spark.operators.expand import var_length_expand

    e = _edges(spark, [(1, 2)])
    out = rows(var_length_expand(e, 0, 1, id_col="id"))
    assert (1, 1, 0) in out and (2, 2, 0) in out and (1, 2, 1) in out


def test_graph_degrees(social):
    d = dict(rows(social.degrees("out")))
    assert d[1] == 2 and d.get(7) is None
    d = dict(rows(social.degrees("both")))
    assert d[3] == 3  # 2->3, 1->3 in; 3->4 out


def test_create_and_delete_nodes(spark, social):
    extra = spark.createDataFrame([(99, "Zed", 20, "NYC")], "id long, name string, age long, city string")
    g2 = social.create_nodes("Person", extra)
    assert g2.nodes("Person").count() == 9
    g3 = g2.delete_nodes("Person", spark.createDataFrame([(99,)], "id long"))
    assert g3.nodes("Person").count() == 8


def test_delete_detach(spark, social):
    g2 = social.delete_nodes("Person", spark.createDataFrame([(1,)], "id long"), detach=True)
    e = g2.edges("KNOWS")
    assert e.filter((F.col("src") == 1) | (F.col("dst") == 1)).count() == 0


def test_merge_nodes_idempotent(spark, social):
    dup = spark.createDataFrame(
        [(1, "Alice", 30, "NYC"), (99, "Zed", 20, "LA")],
        "id long, name string, age long, city string",
    )
    g2 = social.merge_nodes("Person", dup, keys=["id"])
    assert g2.nodes("Person").count() == 9  # Alice not duplicated


# --------------------------------------------------------------------- #
# NetworkX bridge (reference bridges/networkx.rs:1-7)
# --------------------------------------------------------------------- #


def test_networkx_roundtrip(spark, social):
    nx = __import__("networkx")
    from grafeo_spark.bridges import from_networkx, to_networkx

    g = to_networkx(social)
    assert g.number_of_nodes() == 8
    assert g.number_of_edges() == 7
    assert g.nodes[1]["name"] == "Alice" and g.nodes[1]["label"] == "Person"
    assert any(d["type"] == "KNOWS" for _, _, d in g.edges(data=True))
    # local algorithm over the exported snapshot
    assert nx.has_path(g, 8, 6)

    back = from_networkx(spark, g)
    assert set(back.node_frames) == {"Person"}
    assert back.nodes("Person").count() == 8
    assert back.edges("KNOWS").count() == 7
    names = {r.name for r in back.nodes("Person").collect()}
    assert "Alice" in names and "Heidi" in names


def test_to_networkx_size_guard(social):
    import pytest as _pytest

    from grafeo_spark.bridges import to_networkx

    with _pytest.raises(ValueError, match="guard"):
        to_networkx(social, max_nodes=2)


# --------------------------------------------------------------------- #
# admin/info surface (reference grafeo-cli/src/commands/{info,stats,schema})
# --------------------------------------------------------------------- #


def test_stats_and_schema(spark, social):
    from grafeo_spark.engine import GrafeoSpark

    db = GrafeoSpark(spark, social)
    st = db.stats()
    assert st["node_count"] == 8 and st["label_count"] == 1
    assert st["per_label"]["Person"] == 8
    assert st["edge_count"] == st["per_edge_type"]["KNOWS"]
    assert st["index_count"] == 0 and st["triple_count"] == 0
    sc = db.schema()
    assert sc["labels"]["Person"]["id"] == "bigint"
    assert "name" in sc["property_keys"] and "since" in sc["property_keys"]
    assert "KNOWS" in sc["edge_types"]


# --------------------------------------------------------------------- #
# solvOR bridge (reference bridges/solvor.rs)
# --------------------------------------------------------------------- #


def _solvor(spark, edge_rows, schema):
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    ids = sorted({r[0] for r in edge_rows} | {r[1] for r in edge_rows})
    nodes = spark.createDataFrame([(i,) for i in ids], "id long")
    g = PropertyGraph({"N": nodes}, {"E": spark.createDataFrame(edge_rows, schema)})
    return GrafeoSpark(spark, g).as_solvor()


def test_solvor_shortest_paths(spark):
    s = _solvor(
        spark,
        [(1, 2, 1.0), (1, 3, 4.0), (2, 3, 1.0), (3, 4, 1.0), (2, 4, 5.0), (5, 4, 2.0)],
        "src long, dst long, w double",
    )
    dist, path = s.shortest_path(1, 4, weight="w")
    assert dist == 3.0 and path == [1, 2, 3, 4]
    assert s.shortest_path(4, 1, weight="w") is None
    assert s.shortest_path(1, 4, weight="w", method="bellman_ford") == (3.0, [1, 2, 3, 4])
    apsp = s.all_pairs_shortest_paths(weight="w")
    assert apsp[(1, 4)] == 3.0 and apsp[(5, 4)] == 2.0
    stats = s.graph_stats()
    assert stats["nodes"] == 5 and stats["edges"] == 6 and stats["components"] == 1


def test_solvor_flow_mst_order(spark):
    s = _solvor(
        spark,
        [(1, 2, 3.0, 1.0), (1, 3, 2.0, 2.0), (2, 4, 2.0, 1.0), (3, 4, 3.0, 1.0)],
        "src long, dst long, cap double, cost double",
    )
    mf = s.max_flow(1, 4, capacity="cap")
    assert mf["max_flow"] == 4.0
    flows = {(a, b): f for a, b, f in mf["flow_edges"]}
    assert flows[(2, 4)] == 2.0
    assert flows[(1, 2)] + flows[(1, 3)] == 4.0
    mcmf = s.min_cost_max_flow(1, 4, capacity="cap", cost="cost")
    # 2 units via 1→2→4 at cost 2/unit, 2 units via 1→3→4 at cost 3/unit
    assert mcmf["max_flow"] == 4.0 and mcmf["total_cost"] == 10.0
    mst = s.minimum_spanning_tree(weight="cap")
    assert len(mst["edges"]) == 3 and mst["total_weight"] == 7.0
    topo = s.topological_sort()
    assert topo.index(1) < topo.index(2) < topo.index(4)
    pr = s.pagerank(max_iter=10)
    assert abs(sum(pr.values()) - 1.0) < 1e-6


@pytest.mark.slow
def test_solvor_isolated_nodes(spark):
    """Isolated nodes (absent from the edge list) still appear in the
    adapter's results: singleton components, zero centrality, unconstrained
    topological position, PageRank mass (r5 review finding)."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    nodes = spark.createDataFrame([(1,), (2,), (99,)], "id long")  # 99 isolated
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    s = GrafeoSpark(spark, PropertyGraph({"N": nodes}, {"E": edges})).as_solvor()
    cc = s.connected_components()
    assert cc[99] == 99 and cc[1] == cc[2]
    assert s.strongly_connected_components()[99] == 99
    topo = s.topological_sort()
    assert set(topo) == {1, 2, 99} and topo.index(1) < topo.index(2)
    pr = s.pagerank(max_iter=5)
    assert 99 in pr and abs(sum(pr.values()) - 1.0) < 1e-6
    assert s.betweenness_centrality()[99] == 0.0
    lv = s.louvain()
    assert lv["communities"][99] == 99
    assert s.graph_stats()["components"] == 2


def test_solvor_structure_and_communities(spark):
    # barbell: two triangles joined by the 3-4 bridge
    s = _solvor(
        spark,
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)],
        "src long, dst long",
    )
    assert s.articulation_points() == [3, 4]
    assert s.bridges() == [(3, 4)]
    cc = s.connected_components()
    assert len(set(cc.values())) == 1
    lv = s.louvain()
    assert lv["num_communities"] == 2
    assert lv["communities"][1] == lv["communities"][2] == lv["communities"][3]
    bc = s.betweenness_centrality(normalized=False)
    assert bc[3] == bc[4] > bc[1]


# --------------------------------------------------------------------- #
# graph persistence (sources.py)
# --------------------------------------------------------------------- #


def test_graph_save_load_roundtrip(spark, social, tmp_path):
    from grafeo_spark.graph import PropertyGraph
    from grafeo_spark.sources import load_graph, save_graph

    g = PropertyGraph(
        social.node_frames,
        social.edge_frames,
        endpoints={"KNOWS": ("Person", "Person")},
        disjoint_labels=True,
        distinct_pairs={"KNOWS"},
    )
    path = str(tmp_path / "graph")
    save_graph(g, path)
    back = load_graph(spark, path)
    assert set(back.node_frames) == {"Person"}
    assert back.nodes("Person").count() == 8
    assert back.edges("KNOWS").count() == 7
    assert back.endpoints == {"KNOWS": ("Person", "Person")}
    assert back.disjoint_labels is True
    assert back.distinct_pairs == frozenset({"KNOWS"})
    # reloaded graph answers queries identically
    from grafeo_spark.engine import GrafeoSpark

    out = GrafeoSpark(spark, back).cypher(
        "MATCH (a:Person {name: 'Alice'})-[:KNOWS]->(b) RETURN b.name AS n"
    )
    assert sorted(r.n for r in out.collect()) == ["Bob", "Carol"]


def test_graph_save_load_csv_json(spark, social, tmp_path):
    """Alternate formats round-trip with exact types: the manifest
    carries each frame's schema so CSV/JSON reload without inference
    drift; ORC is schema-native like parquet."""
    from grafeo_spark.sources import load_graph, save_graph

    for fmt in ("csv", "json", "orc"):
        path = str(tmp_path / fmt)
        save_graph(social, path, format=fmt)
        back = load_graph(spark, path)
        assert back.nodes("Person").count() == 8
        assert back.edges("KNOWS").count() == 7
        assert dict(back.nodes("Person").dtypes)["age"] == "bigint"
        got = back.nodes("Person").filter(F.col("name") == "Alice").collect()[0]
        assert got.age == 30 and got.city == "NYC"


def test_graph_save_load_csv_complex_columns(spark, tmp_path):
    """CSV cannot hold array/struct columns natively (the r4 advisory:
    stock tpch_graph Embedding frames carry array<double>), so they are
    JSON-encoded on write and decoded back via the manifest schema."""
    from grafeo_spark.graph import PropertyGraph
    from grafeo_spark.sources import load_graph, save_graph

    nodes = spark.createDataFrame(
        [(1, [0.1, 0.2], {"a": 1}), (2, [0.3, 0.4], {"b": 2})],
        "id long, embedding array<double>, meta map<string, int>",
    )
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    g = PropertyGraph({"Vec": nodes}, {"E": edges})
    path = str(tmp_path / "csvc")
    save_graph(g, path, format="csv")
    back = load_graph(spark, path)
    assert dict(back.nodes("Vec").dtypes)["embedding"] == "array<double>"
    got = {r.id: r for r in back.nodes("Vec").collect()}
    assert list(got[1].embedding) == [0.1, 0.2]
    assert dict(got[2].meta) == {"b": 2}


def test_triples_save_load_partition_pruning(spark, tmp_path):
    from grafeo_spark.graph import TripleStore
    from grafeo_spark.sources import load_triples, save_triples

    data = [
        ("a", "http://x/p1", "b", None, None, None),
        ("a", "http://x/p2", None, "v", None, None),
        ("c", "http://x/p1", "d", None, None, None),
    ]
    ts = TripleStore(
        spark.createDataFrame(
            data, "s string, p string, o_iri string, o_lit string, o_dt string, g string"
        )
    )
    path = str(tmp_path / "triples")
    save_triples(ts, path)
    back = load_triples(spark, path)
    assert back.df.count() == 3
    got = back.df.filter("p = 'http://x/p1'").select("s").collect()
    assert sorted(r.s for r in got) == ["a", "c"]


def test_validate_clean_and_violations(spark, social):
    """validate() (grafeo-cli validate.rs + database.rs:1432): dangling
    endpoints and metadata-invariant violations are errors with sampled
    context; a clean graph is valid."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    assert GrafeoSpark(spark, social).validate() == {
        "valid": True, "error_count": 0, "warning_count": 0,
        "errors": [], "warnings": [],
    }
    # dangling dst + duplicate id + violated disjoint_labels declaration
    nodes_a = spark.createDataFrame([(1,), (2,), (2,)], "id long")
    nodes_b = spark.createDataFrame([(2,), (3,)], "id long")
    edges = spark.createDataFrame([(1, 999)], "src long, dst long")
    bad = PropertyGraph(
        {"A": nodes_a, "B": nodes_b}, {"E": edges},
        endpoints={"E": ("A", "B")}, disjoint_labels=True,
    )
    out = GrafeoSpark(spark, bad).validate()
    codes = {e["code"] for e in out["errors"]}
    assert not out["valid"]
    assert {"DANGLING_DST", "DUPLICATE_ID", "DISJOINT_LABELS_VIOLATED",
            "ENDPOINT_DST_LABEL"} <= codes
    dangling = next(e for e in out["errors"] if e["code"] == "DANGLING_DST")
    assert dangling["context"] == [999]
    # nodes-only graph warns
    g2 = PropertyGraph({"A": spark.createDataFrame([(1,)], "id long")}, {})
    out2 = GrafeoSpark(spark, g2).validate()
    assert out2["valid"] and out2["warnings"][0]["code"] == "NO_EDGES"


def test_direct_node_lookup(social):
    # get_node side door (database.rs:618): point lookup without the
    # query stack
    out = social.node(3).collect()
    assert len(out) == 1 and out[0]["name"] == "Carol"
    assert social.node(3, label="Person").collect()[0]["city"] == "NYC"


def test_direct_neighbors(social, spark):
    # get_neighbors_* side door (database.rs:700-931): scalar and
    # set-at-a-time forms, all three directions
    from tests.conftest import rows

    assert rows(social.neighbors(1, "out"), "name") == [("Bob",), ("Carol",)]
    assert rows(social.neighbors(1, "in"), "name") == [("Heidi",)]
    assert rows(social.neighbors(1, "both"), "name") == [
        ("Bob",), ("Carol",), ("Heidi",)
    ]
    ids = spark.createDataFrame([(1,), (4,)], "id long")
    assert rows(social.neighbors(ids, "out"), "name") == [
        ("Bob",), ("Carol",), ("Eve",)
    ]


def test_property_index_registry(spark, social):
    # create/drop/has_property_index (database.rs:785): declaration-only
    # here — Parquet stats/pruning serve the lookups — but the admin
    # surface must report it like the reference CLI does
    from grafeo_spark.engine import GrafeoSpark
    from tests.conftest import rows

    db = GrafeoSpark(spark, social)
    assert db.has_property_index("name") is False
    db.create_property_index("name")
    assert db.has_property_index("name") is True
    assert {
        "name": "name", "kind": "property", "label": None, "column": "name", "metric": None
    } in db.schema()["indexes"]
    assert rows(db.find_nodes_by_property("name", "Alice"), "id") == [(1,)]
    assert rows(db.find_nodes_by_property("city", "LA", label="Person"), "name") == [
        ("Bob",), ("Eve",)
    ]
    # lookup misses return empty results, not exceptions — matching the
    # reference's empty-vec behavior (database.rs:969; ADVICE r5)
    assert db.find_nodes_by_property("no_such_prop", 1).count() == 0
    assert db.find_nodes_by_property("no_such_prop", 1, label="Person").count() == 0
    assert db.find_nodes_by_property("name", "Alice", label="Ghost").count() == 0
    db.drop_property_index("name")
    assert db.has_property_index("name") is False


def test_session_save_open_roundtrip(spark, social, tmp_path):
    """Whole-session persistence (database.rs:1198 save / GrafeoDB(path)):
    graph + compiler metadata + DDL registry round-trip; the live session
    is untouched."""
    from grafeo_spark.engine import GrafeoSpark

    db = GrafeoSpark(spark, social)
    db.gql("CREATE NODE TYPE Person (name STRING)")
    db.gql("CREATE VECTOR INDEX emb ON Person(embedding) DIMENSIONS 4")
    db.create_property_index("name")
    path = str(tmp_path / "session")
    db.save(path)

    back = GrafeoSpark.open(spark, path)
    assert back.graph.nodes("Person").count() == 8
    assert rows(back.cypher("MATCH (p:Person) WHERE p.city = 'LA' RETURN p.name AS n")) == [
        ("Bob",), ("Eve",)
    ]
    assert back.has_property_index("name")
    assert "Person" in back.ddl.node_types
    assert back.ddl.vector_indexes["emb"].column == "embedding"
    assert back.triples is None


def test_find_nodes_by_property_miss_schema(db):
    """Hit and miss paths share a schema: a miss on a known label still
    carries the requested prop column (r6 ADVICE — selecting the prop on
    a miss raised AnalysisException)."""
    miss = db.find_nodes_by_property("no_such_prop", 1, label="Person")
    assert miss.select("no_such_prop").count() == 0
    miss_all = db.find_nodes_by_property("no_such_prop", 1)
    assert miss_all.select("no_such_prop").count() == 0
    # a known prop on an unknown label also keeps the column
    ghost = db.find_nodes_by_property("name", "Alice", label="Ghost")
    assert ghost.select("name").count() == 0


def test_save_open_multilabel_endpoints(spark, tmp_path):
    """Multi-label endpoint sides round-trip through the manifest (tuple
    sides serialize as nested lists and normalize back on load)."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    nodes = {
        "A": spark.createDataFrame([(1, "x")], "id long, name string"),
        "B": spark.createDataFrame([(2, "y")], "id long, name string"),
        "C": spark.createDataFrame([(3, "z")], "id long, name string"),
    }
    edges = {"E": spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")}
    g = PropertyGraph(
        nodes, edges, endpoints={"E": (("A", "B"), "C")}, disjoint_labels=True
    )
    db2 = GrafeoSpark(spark, g)
    path = str(tmp_path / "snap")
    db2.save(path)
    back = GrafeoSpark.open(spark, path)
    assert back.graph.endpoints == {"E": (("A", "B"), "C")}
    assert back.validate()["valid"]


def test_direct_edge_lookup_and_engine_side_door(social, db):
    """get_edge side door (test_filters.py:109-126 in the reference's
    python suite): point lookup by edge id; engine-level get_node/get_edge
    return the Row or None for a miss."""
    out = social.edge(101).collect()
    assert len(out) == 1 and out[0]["src"] == 1 and out[0]["dst"] == 2
    assert social.edge(101, etype="KNOWS").collect()[0]["since"] == 2015
    assert social.edge(999999).count() == 0

    n = db.get_node(3)
    assert n is not None and n["name"] == "Carol"
    assert db.get_node(999999999) is None
    e = db.get_edge(101)
    assert e is not None and e["since"] == 2015
    assert db.get_edge(999999999) is None
    assert db.get_edge(101, etype="GHOST") is None


def test_info_and_detailed_stats(spark, social, tmp_path):
    """info()/detailed_stats() — reference binding surface
    (test_admin.py:42-113): mode, counts, persistence flags, version,
    memory_bytes; is_persistent flips after save()."""
    from grafeo_spark.engine import GrafeoSpark

    db2 = GrafeoSpark(spark, social)
    inf = db2.info()
    assert inf["mode"] == "lpg"
    assert inf["node_count"] == 8 and inf["edge_count"] == 7
    assert inf["is_persistent"] is False and inf["wal_enabled"] is False
    assert inf["version"]
    ds = db2.detailed_stats()
    for key in (
        "node_count", "edge_count", "label_count", "edge_type_count",
        "property_key_count", "index_count", "memory_bytes",
    ):
        assert key in ds
    assert ds["label_count"] == 1 and ds["edge_type_count"] == 1

    p = str(tmp_path / "snap")
    db2.save(p)
    assert db2.info()["is_persistent"] is True and db2.info()["path"] == p
    db3 = GrafeoSpark.open(spark, p)
    assert db3.info()["is_persistent"] is True

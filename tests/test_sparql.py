"""SPARQL front-end tests over an in-memory TripleStore (reference model:
the rdf/ side of the shared test bases, sparql_translator.rs surface)."""

from __future__ import annotations

import pytest

from tests.conftest import rows

EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@pytest.fixture(scope="module")
def ts(spark):
    from grafeo_spark.graph import TripleStore

    def t(s, p, o_iri=None, o_lit=None):
        return (s, p, o_iri, o_lit, None, None)

    data = [
        t(EX + "alice", RDF_TYPE, o_iri=EX + "Person"),
        t(EX + "alice", EX + "name", o_lit="Alice"),
        t(EX + "alice", EX + "age", o_lit="30"),
        t(EX + "alice", EX + "knows", o_iri=EX + "bob"),
        t(EX + "bob", RDF_TYPE, o_iri=EX + "Person"),
        t(EX + "bob", EX + "name", o_lit="Bob"),
        t(EX + "bob", EX + "age", o_lit="40"),
        t(EX + "bob", EX + "knows", o_iri=EX + "carol"),
        t(EX + "carol", RDF_TYPE, o_iri=EX + "Person"),
        t(EX + "carol", EX + "name", o_lit="Carol"),
        t(EX + "city1", RDF_TYPE, o_iri=EX + "City"),
        t(EX + "city1", EX + "name", o_lit="NYC"),
        t(EX + "alice", EX + "livesIn", o_iri=EX + "city1"),
    ]
    return TripleStore(
        spark.createDataFrame(data, "s string, p string, o_iri string, o_lit string, o_dt string, g string")
    )


@pytest.fixture(scope="module")
def sdb(spark, ts):
    from grafeo_spark.engine import GrafeoSpark

    return GrafeoSpark(spark, graph=None, triples=ts)


PFX = f"PREFIX ex: <{EX}> "


def test_type_scan(sdb):
    out = rows(sdb.sparql(PFX + "SELECT ?p WHERE { ?p a ex:Person }"))
    assert out == [(EX + "alice",), (EX + "bob",), (EX + "carol",)]


def test_bgp_join(sdb):
    out = rows(
        sdb.sparql(PFX + "SELECT ?name WHERE { ?p a ex:Person . ?p ex:name ?name }")
    )
    assert out == [("Alice",), ("Bob",), ("Carol",)]


def test_semicolon_predicate_list(sdb):
    out = rows(
        sdb.sparql(PFX + "SELECT ?name ?age WHERE { ?p ex:name ?name ; ex:age ?age }")
    )
    assert out == [("Alice", "30"), ("Bob", "40")]


def test_object_join_two_patterns(sdb):
    out = rows(
        sdb.sparql(
            PFX
            + "SELECT ?an ?bn WHERE { ?a ex:knows ?b . ?a ex:name ?an . ?b ex:name ?bn }"
        )
    )
    assert out == [("Alice", "Bob"), ("Bob", "Carol")]


def test_filter_equality_and_numeric(sdb):
    out = rows(
        sdb.sparql(PFX + 'SELECT ?n WHERE { ?p ex:name ?n ; ex:age ?a . FILTER(?a > 35) }')
    )
    assert out == [("Bob",)]


def test_filter_regex_and_bool(sdb):
    out = rows(
        sdb.sparql(
            PFX
            + 'SELECT ?n WHERE { ?p a ex:Person . ?p ex:name ?n . '
            'FILTER(regex(?n, "^[AB]") && ?n != "Bob") }'
        )
    )
    assert out == [("Alice",)]


def test_optional_left_join(sdb):
    out = rows(
        sdb.sparql(
            PFX
            + "SELECT ?n ?cn WHERE { ?p a ex:Person . ?p ex:name ?n . "
            "OPTIONAL { ?p ex:livesIn ?c . ?c ex:name ?cn } }"
        )
    )
    assert out == [("Alice", "NYC"), ("Bob", None), ("Carol", None)]


def test_union(sdb):
    out = rows(
        sdb.sparql(
            PFX
            + "SELECT DISTINCT ?name WHERE { { ?x a ex:City . ?x ex:name ?name } "
            "UNION { ?x a ex:Person . ?x ex:name ?name } }"
        )
    )
    assert out == [("Alice",), ("Bob",), ("Carol",), ("NYC",)]


def test_order_limit_offset(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p a ex:Person . ?p ex:name ?n } "
            "ORDER BY DESC(?n) LIMIT 2 OFFSET 1"
        )
    )
    assert out == [("Alice",), ("Bob",)]


def test_builtin_functions(sdb):
    out = rows(
        sdb.sparql(
            PFX + 'SELECT ?n WHERE { ?p ex:name ?n . FILTER(STRSTARTS(UCASE(?n), "AL")) }'
        )
    )
    assert out == [("Alice",)]


def test_bound_filter(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p a ex:Person . ?p ex:name ?n . "
            "OPTIONAL { ?p ex:livesIn ?c } FILTER(!BOUND(?c)) }"
        )
    )
    assert out == [("Bob",), ("Carol",)]


def test_syntax_error(sdb):
    from grafeo_spark.lang.sparql import SparqlSyntaxError

    with pytest.raises(SparqlSyntaxError):
        sdb.sparql("SELECT WHERE {")


def test_tpch_triples_smoke(spark):
    from grafeo_spark.catalog import tpch_triples
    from grafeo_spark.engine import GrafeoSpark

    db = GrafeoSpark(spark, triples=tpch_triples(spark, "/root/testdata/sf0.001"))
    out = rows(
        db.sparql(PFX + "SELECT ?name WHERE { ?r a ex:Region . ?r ex:name ?name } ORDER BY ?name")
    )
    assert len(out) == 5 and out[0] == ("AFRICA",)


# -- updates (INSERT/DELETE DATA, DELETE WHERE, modify, CLEAR) ------------


@pytest.fixture()
def wdb(spark, ts):
    """A writable engine over a fresh copy of the module store."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import TripleStore

    return GrafeoSpark(spark, graph=None, triples=TripleStore(ts.df))


def _names(db):
    return rows(db.sparql(PFX + "SELECT ?n WHERE { ?s ex:name ?n } ORDER BY ?n"))


def test_insert_data(wdb):
    wdb.sparql_update(
        PFX + 'INSERT DATA { ex:dave a ex:Person ; ex:name "Dave" . }'
    )
    assert ("Dave",) in _names(wdb)
    out = rows(wdb.sparql(PFX + "SELECT ?p WHERE { ?p a ex:Person }"))
    assert (EX + "dave",) in out


def test_delete_data(wdb):
    wdb.sparql_update(PFX + 'DELETE DATA { ex:carol ex:name "Carol" . }')
    assert ("Carol",) not in _names(wdb)
    # the rest of carol's triples survive
    out = rows(wdb.sparql(PFX + "SELECT ?p WHERE { ?p a ex:Person }"))
    assert (EX + "carol",) in out


def test_delete_where(wdb):
    wdb.sparql_update(PFX + "DELETE WHERE { ?s ex:knows ?o }")
    out = rows(wdb.sparql(PFX + "SELECT ?s WHERE { ?s ex:knows ?o }"))
    assert out == []
    assert len(_names(wdb)) == 4  # names untouched


def test_modify_delete_insert(wdb):
    # rename Bob -> Robert via DELETE/INSERT WHERE
    wdb.sparql_update(
        PFX
        + 'DELETE { ?p ex:name "Bob" } INSERT { ?p ex:name "Robert" } '
        + 'WHERE { ?p ex:name "Bob" }'
    )
    names = _names(wdb)
    assert ("Robert",) in names and ("Bob",) not in names


def test_insert_where_binds_iri_object(wdb):
    # derive a new predicate from bindings; the bound object is an IRI and
    # must land in o_iri
    wdb.sparql_update(
        PFX + "INSERT { ?city ex:inhabitant ?p } WHERE { ?p ex:livesIn ?city }"
    )
    out = rows(wdb.sparql(PFX + "SELECT ?p WHERE { ex:city1 ex:inhabitant ?p }"))
    assert out == [(EX + "alice",)]
    # inserting again is a no-op (set semantics)
    before = wdb.triples.df.count()
    wdb.sparql_update(
        PFX + "INSERT { ?city ex:inhabitant ?p } WHERE { ?p ex:livesIn ?city }"
    )
    assert wdb.triples.df.count() == before


def test_clear_all(wdb):
    wdb.sparql_update("CLEAR ALL")
    assert wdb.triples.df.count() == 0


def test_update_dispatch_errors(wdb):
    from grafeo_spark.lang.sparql import SparqlCompileError

    with pytest.raises(SparqlCompileError):
        wdb.sparql(PFX + 'INSERT DATA { ex:x ex:name "X" }')
    with pytest.raises(SparqlCompileError):
        wdb.sparql_update(PFX + "SELECT ?s WHERE { ?s ?p ?o }")


# --------------------------------------------------------------------- #
# round-3: ASK / CONSTRUCT / VALUES / MINUS / property paths / aggregates
# --------------------------------------------------------------------- #


def test_ask(sdb):
    assert sdb.sparql(PFX + 'ASK { ?p ex:name "Alice" }').collect()[0].ask is True
    assert sdb.sparql(PFX + 'ASK { ?p ex:name "Nobody" }').collect()[0].ask is False


def test_construct(sdb):
    out = rows(
        sdb.sparql(
            PFX + "CONSTRUCT { ?a ex:friendOf ?b } WHERE { ?a ex:knows ?b }"
        )
    )
    assert out == [
        (EX + "alice", EX + "friendOf", EX + "bob"),
        (EX + "bob", EX + "friendOf", EX + "carol"),
    ]


def test_values_single_var(sdb):
    out = rows(
        sdb.sparql(
            PFX + 'SELECT ?name WHERE { ?p ex:name ?name . VALUES ?name { "Alice" "Carol" "Zed" } }'
        )
    )
    assert out == [("Alice",), ("Carol",)]


def test_values_multi_var(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?p ?name WHERE { ?p ex:name ?name . "
            'VALUES (?p ?name) { (ex:alice "Alice") (ex:bob "Zed") } }'
        )
    )
    assert out == [(EX + "alice", "Alice")]


def test_minus(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?name WHERE { ?p a ex:Person ; ex:name ?name . "
            "MINUS { ?p ex:knows ex:carol } }"
        )
    )
    assert out == [("Alice",), ("Carol",)]  # bob knows carol -> removed


def test_path_sequence(sdb):
    out = rows(
        sdb.sparql(PFX + "SELECT ?n WHERE { ex:alice ex:knows/ex:name ?n }")
    )
    assert out == [("Bob",)]
    out2 = rows(
        sdb.sparql(PFX + "SELECT ?n WHERE { ex:alice ex:knows/ex:knows/ex:name ?n }")
    )
    assert out2 == [("Carol",)]


def test_path_plus(sdb):
    out = rows(sdb.sparql(PFX + "SELECT ?x WHERE { ex:alice ex:knows+ ?x }"))
    assert out == [(EX + "bob",), (EX + "carol",)]
    out2 = rows(sdb.sparql(PFX + "SELECT ?x ?y WHERE { ?x ex:knows+ ?y }"))
    assert sorted(out2) == [
        (EX + "alice", EX + "bob"),
        (EX + "alice", EX + "carol"),
        (EX + "bob", EX + "carol"),
    ]


def test_path_plus_long_chain(spark):
    """ex:next+ over a 10-edge chain: every level of the closure BFS runs
    (bound subject and all pairs), ending on an empty frontier."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import TripleStore

    data = [(f"{EX}n{i}", EX + "next", f"{EX}n{i + 1}", None, None, None)
            for i in range(10)]
    db = GrafeoSpark(spark, graph=None, triples=TripleStore(spark.createDataFrame(
        data, "s string, p string, o_iri string, o_lit string, o_dt string, g string"
    )))
    out = rows(db.sparql(PFX + "SELECT ?x WHERE { ex:n0 ex:next+ ?x }"))
    assert out == sorted((f"{EX}n{i}",) for i in range(1, 11))
    pairs = rows(db.sparql(PFX + "SELECT ?x ?y WHERE { ?x ex:next+ ?y }"))
    assert pairs == sorted(
        (f"{EX}n{i}", f"{EX}n{j}") for i in range(11) for j in range(i + 1, 11)
    )


def test_path_alternative(sdb):
    # ex:knows|ex:livesIn from alice: bob (knows) + city1 (livesIn)
    out = rows(sdb.sparql(PFX + "SELECT ?x WHERE { ex:alice ex:knows|ex:livesIn ?x }"))
    assert out == [(EX + "bob",), (EX + "city1",)]


def test_path_inverse(sdb):
    # ^ex:knows: who knows bob
    out = rows(sdb.sparql(PFX + "SELECT ?x WHERE { ex:bob ^ex:knows ?x }"))
    assert out == [(EX + "alice",)]
    # composed: inverse inside a sequence — names of people who know bob
    out2 = rows(sdb.sparql(PFX + "SELECT ?n WHERE { ex:bob ^ex:knows/ex:name ?n }"))
    assert out2 == [("Alice",)]


def test_path_star(sdb):
    # zero-or-more from a bound subject includes the subject itself
    out = rows(sdb.sparql(PFX + "SELECT ?x WHERE { ex:alice ex:knows* ?x }"))
    assert out == [(EX + "alice",), (EX + "bob",), (EX + "carol",)]


def test_path_zero_or_one(sdb):
    out = rows(sdb.sparql(PFX + "SELECT ?x WHERE { ex:alice ex:knows? ?x }"))
    assert out == [(EX + "alice",), (EX + "bob",)]


def test_path_alt_of_closures(sdb):
    # nested composition: closure inside an alternative
    out = rows(
        sdb.sparql(PFX + "SELECT ?x WHERE { ex:alice ex:knows+|ex:livesIn ?x }")
    )
    assert out == [(EX + "bob",), (EX + "carol",), (EX + "city1",)]


def test_bind_expression(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n ?l WHERE { ?p a ex:Person ; ex:name ?n . "
            "BIND(STRLEN(?n) AS ?l) FILTER(?l = 5) }"
        )
    )
    assert out == [("Alice", 5), ("Carol", 5)]


def test_bind_only_group(sdb):
    out = rows(sdb.sparql(PFX + 'SELECT ?x WHERE { BIND(CONCAT("a", "b") AS ?x) }'))
    assert out == [("ab",)]


def test_filter_exists(sdb):
    # people who know someone
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p a ex:Person ; ex:name ?n . "
            "FILTER EXISTS { ?p ex:knows ?x } }"
        )
    )
    assert out == [("Alice",), ("Bob",)]


def test_filter_not_exists(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p a ex:Person ; ex:name ?n . "
            "FILTER NOT EXISTS { ?p ex:knows ?x } }"
        )
    )
    assert out == [("Carol",)]


def test_subselect_join(sdb):
    # sub-query aggregates per person, outer joins the name back on
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n ?k WHERE { ?p ex:name ?n . "
            "{ SELECT ?p (COUNT(?o) AS ?k) WHERE { ?p ex:knows ?o } GROUP BY ?p } }"
        )
    )
    assert out == [("Alice", 1), ("Bob", 1)]


def test_group_concat_and_sample(sdb):
    out = rows(
        sdb.sparql(
            PFX + 'SELECT (GROUP_CONCAT(?n; SEPARATOR="|") AS ?all) '
            "WHERE { ?p a ex:Person ; ex:name ?n }"
        )
    )
    assert out == [("Alice|Bob|Carol",)]  # sorted for determinism
    out2 = rows(
        sdb.sparql(
            PFX + "SELECT (SAMPLE(?n) AS ?one) WHERE { ?p a ex:Person ; ex:name ?n }"
        )
    )
    assert out2 == [("Alice",)]  # deterministic minimum


def test_having(sdb):
    # ages per person type: only Person rows counted; HAVING filters groups
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } "
            "GROUP BY ?t HAVING(?n > 1) ORDER BY ?t"
        )
    )
    assert out == [(EX + "Person", 3)]


def test_path_negated_single(sdb):
    # !ex:name from alice: every non-name triple (ast.rs:416)
    out = rows(sdb.sparql(PFX + "SELECT ?x WHERE { ex:alice !ex:name ?x }"))
    assert out == [
        ("30",),  # age
        (EX + "Person",),  # rdf:type
        (EX + "bob",),  # knows
        (EX + "city1",),  # livesIn
    ]


def test_path_negated_set_with_a(sdb):
    # !(a|name|age) from alice: only the entity-linking predicates remain
    out = rows(sdb.sparql(PFX + "SELECT ?x WHERE { ex:alice !(a|ex:name|ex:age) ?x }"))
    assert out == [(EX + "bob",), (EX + "city1",)]


def test_path_negated_inverse_only(sdb):
    # all-inverse set: ?x !(^ex:knows) ex:bob matches reversed triples
    # (bob, p, ?x) with p not in {knows} — bob's type/name/age objects
    out = rows(sdb.sparql(PFX + "SELECT ?x WHERE { ?x !(^ex:knows) ex:bob }"))
    assert out == [("40",), ("Bob",), (EX + "Person",)]
    # single-member parity: !(^p) ≡ the complement of ^p over bob's triples
    out2 = rows(sdb.sparql(PFX + "SELECT ?x WHERE { ?x !(^a) ex:city1 }"))
    assert out2 == [("NYC",)]  # city1's only non-type triple is its name


def test_path_negated_mixed(sdb):
    # mixed set splits by direction (SPARQL 1.1): forward arm excludes
    # name/age/type, inverse arm excludes knows — from/to bob
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?x WHERE { ex:bob !(a|ex:name|ex:age|^ex:knows) ?x }"
        )
    )
    assert out == [(EX + "carol",)]  # forward knows; inverse arm empty


def test_path_negated_in_sequence(sdb):
    # NPS composes with sequences: non-name/age/type edge, then name
    out = rows(
        sdb.sparql(PFX + "SELECT ?n WHERE { ex:alice !(a|ex:name|ex:age)/ex:name ?n }")
    )
    assert out == [("Bob",), ("NYC",)]


@pytest.fixture()
def gdb(spark):
    """Store with named graphs: facts in <g1>, <g2>, plus default-graph
    triples."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import TripleStore

    data = [
        (EX + "alice", EX + "name", None, "Alice", None, None),
        (EX + "alice", EX + "knows", EX + "bob", None, None, EX + "g1"),
        (EX + "bob", EX + "knows", EX + "carol", None, None, EX + "g2"),
        (EX + "bob", EX + "name", None, "Bob", None, EX + "g2"),
    ]
    ts = TripleStore(
        spark.createDataFrame(
            data, "s string, p string, o_iri string, o_lit string, o_dt string, g string"
        )
    )
    return GrafeoSpark(spark, graph=None, triples=ts)


def test_graph_constant(gdb):
    out = rows(
        gdb.sparql(PFX + "SELECT ?x ?y WHERE { GRAPH <" + EX + "g1> { ?x ex:knows ?y } }")
    )
    assert out == [(EX + "alice", EX + "bob")]


def test_graph_variable(gdb):
    out = rows(gdb.sparql(PFX + "SELECT ?g ?x WHERE { GRAPH ?g { ?x ex:knows ?y } }"))
    assert out == [(EX + "g1", EX + "alice"), (EX + "g2", EX + "bob")]


def test_graph_var_self_binding(spark):
    """GRAPH ?g { ?g ?p ?o }: the graph variable doubly bound must
    constrain subject == graph name, not silently drop the g binding."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import TripleStore

    data = [
        (EX + "g1", EX + "p", None, "self", None, EX + "g1"),   # s == g
        (EX + "other", EX + "p", None, "no", None, EX + "g1"),  # s != g
    ]
    ts = TripleStore(
        spark.createDataFrame(
            data, "s string, p string, o_iri string, o_lit string, o_dt string, g string"
        )
    )
    db = GrafeoSpark(spark, graph=None, triples=ts)
    out = rows(db.sparql("SELECT ?g ?o WHERE { GRAPH ?g { ?g ?p ?o } }"))
    assert out == [(EX + "g1", "self")]


def test_graph_joined_with_default(gdb):
    # default-graph pattern joined against a named-graph pattern
    out = rows(
        gdb.sparql(
            PFX
            + "SELECT ?n WHERE { ?x ex:name ?n . GRAPH <"
            + EX
            + "g1> { ?x ex:knows ?y } }"
        )
    )
    assert out == [("Alice",)]


def test_graph_insert_and_clear(gdb):
    gdb.sparql_update(
        PFX + "INSERT DATA { GRAPH <" + EX + "g3> { ex:carol ex:name \"Carol\" } }"
    )
    got = rows(gdb.sparql(PFX + "SELECT ?s WHERE { GRAPH <" + EX + "g3> { ?s ex:name ?n } }"))
    assert got == [(EX + "carol",)]
    gdb.sparql_update("CLEAR GRAPH <" + EX + "g3>")
    got = rows(gdb.sparql(PFX + "SELECT ?s WHERE { GRAPH <" + EX + "g3> { ?s ex:name ?n } }"))
    assert got == []
    # DROP GRAPH is an alias; other graphs untouched
    gdb.sparql_update("DROP GRAPH <" + EX + "g2>")
    left = rows(gdb.sparql(PFX + "SELECT ?g ?x WHERE { GRAPH ?g { ?x ex:knows ?y } }"))
    assert left == [(EX + "g1", EX + "alice")]


def test_graph_copy_move_add(gdb):
    def graphs_of(db):
        return dict(
            rows(db.sparql(PFX + "SELECT ?g (COUNT(?x) AS ?n) WHERE { GRAPH ?g { ?x ?p ?y } } GROUP BY ?g"))
        )

    # COPY replaces the destination with the source's triples
    gdb.sparql_update("COPY <" + EX + "g2> TO <" + EX + "g1>")
    g = graphs_of(gdb)
    assert g[EX + "g1"] == 2 and g[EX + "g2"] == 2
    # ADD merges (set semantics: adding again changes nothing)
    gdb.sparql_update("ADD <" + EX + "g2> TO <" + EX + "g1>")
    assert graphs_of(gdb)[EX + "g1"] == 2
    # MOVE copies then drops the source
    gdb.sparql_update("MOVE <" + EX + "g1> TO <" + EX + "g3>")
    g = graphs_of(gdb)
    assert g.get(EX + "g1") is None and g[EX + "g3"] == 2


def test_load_graph_from_parquet(spark, tmp_path):
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import TripleStore
    from grafeo_spark.sources import save_triples

    data = [(EX + "x", EX + "name", None, "X", None, None)]
    src = TripleStore(
        spark.createDataFrame(
            data, "s string, p string, o_iri string, o_lit string, o_dt string, g string"
        )
    )
    path = str(tmp_path / "dump")
    save_triples(src, path)

    db = GrafeoSpark(spark, graph=None, triples=TripleStore.empty(spark))
    db.sparql_update(f"LOAD <file://{path}> INTO GRAPH <{EX}g9>")
    got = rows(
        db.sparql(PFX + "SELECT ?s ?n WHERE { GRAPH <" + EX + "g9> { ?s ex:name ?n } }")
    )
    assert got == [(EX + "x", "X")]
    # LOAD without INTO lands in the default graph (g null)
    db.sparql_update(f"LOAD <file://{path}>")
    assert db.sparql(PFX + "SELECT ?s WHERE { ?s ex:name ?n }").count() == 2


def test_describe_constant(sdb):
    out = rows(sdb.sparql(PFX + "DESCRIBE ex:alice"))
    assert (EX + "alice", EX + "name", "Alice") in out
    assert (EX + "alice", EX + "knows", EX + "bob") in out
    assert all(s == EX + "alice" for s, _, _ in out)


def test_describe_where(sdb):
    # every Person's description
    out = rows(sdb.sparql(PFX + "DESCRIBE ?p WHERE { ?p a ex:Person }"))
    subjects = {s for s, _, _ in out}
    assert subjects == {EX + "alice", EX + "bob", EX + "carol"}


def test_filter_replace(sdb):
    out = rows(
        sdb.sparql(
            PFX
            + 'SELECT ?n WHERE { ?p ex:name ?n FILTER(REPLACE(?n, "o", "0") = "B0b") }'
        )
    )
    assert out == [("Bob",)]


def test_aggregates_group_by(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?t (COUNT(?p) AS ?n) WHERE { ?p a ?t } GROUP BY ?t"
        )
    )
    assert (EX + "Person", 3) in out and (EX + "City", 1) in out


def test_aggregate_no_group(sdb):
    out = sdb.sparql(
        PFX + "SELECT (COUNT(*) AS ?n) WHERE { ?p a ex:Person }"
    ).collect()
    assert out[0].n == 3


def test_new_builtins(sdb):
    out = rows(
        sdb.sparql(
            PFX + 'SELECT ?name WHERE { ?p ex:name ?name . FILTER(REPLACE(?name, "a", "X", "i") = "Xlice") }'
        )
    )
    assert out == [("Alice",)]
    out2 = rows(
        sdb.sparql(PFX + "SELECT ?x WHERE { ex:alice ex:knows ?x . FILTER(isIRI(?x)) }")
    )
    assert out2 == [(EX + "bob",)]
    out3 = rows(
        sdb.sparql(PFX + "SELECT ?a WHERE { ex:alice ex:age ?a . FILTER(isNumeric(?a)) }")
    )
    assert out3 == [("30",)]
    out4 = rows(
        sdb.sparql(
            PFX + 'SELECT ?v WHERE { ex:alice ex:name ?n . FILTER(IF(?n = "Alice", BOUND(?n), !BOUND(?n))) }'
        )
    )
    assert len(out4) == 1


def test_subselect_lowercase_keyword(sdb):
    # keyword matching is case-insensitive everywhere, including the
    # sub-select lookahead (r5 review finding)
    out = rows(
        sdb.sparql(
            PFX + "select ?n ?k where { ?p ex:name ?n . "
            "{ select ?p (count(?o) AS ?k) where { ?p ex:knows ?o } group by ?p } }"
        )
    )
    assert out == [("Alice", 1), ("Bob", 1)]


def test_select_reduced(sdb):
    # REDUCED permits duplicate elimination (ast.rs Reduced); the engine
    # dedups fully, which is spec-conformant
    out = rows(sdb.sparql(PFX + "SELECT REDUCED ?t WHERE { ?s a ?t }"))
    assert out == [(EX + "City",), (EX + "Person",)]


def test_service_local_eval(sdb):
    # SERVICE [SILENT] <endpoint> { ... } (ast.rs:324-331): the reference
    # evaluates the pattern against the local store and ignores the
    # endpoint (sparql_translator.rs:673-680); we match that, joining the
    # service pattern with its siblings
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?name WHERE { ?p a ex:Person . "
            "SERVICE <http://remote.example/sparql> { ?p ex:name ?name } }"
        )
    )
    assert out == [("Alice",), ("Bob",), ("Carol",)]
    out2 = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { SERVICE SILENT ex:ep { "
            'ex:alice ex:name ?n . FILTER(STRSTARTS(?n, "A")) } }'
        )
    )
    assert out2 == [("Alice",)]


def test_xsd_cast_functions(sdb):
    # xsd constructor casts (SPARQL 1.1 §17.5) — superset: the reference
    # resolves only its builtin list (planner_rdf.rs:1927+)
    out = rows(
        sdb.sparql(
            PFX + "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?n WHERE { ?p ex:age ?a . ?p ex:name ?n . "
            "FILTER(xsd:integer(?a) >= 40) }"
        )
    )
    assert out == [("Bob",)]
    out2 = rows(
        sdb.sparql(
            PFX + "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s WHERE { ?p ex:age ?a . ex:alice ex:name ?p2 . "
            "BIND(xsd:string(?a) AS ?s) . FILTER(?s = \"30\" && ?p2 = \"Alice\") }"
        )
    )
    assert out2 == [("30",)]


def test_select_expression_projections(sdb):
    # SPARQL 1.1 SelectClause expressions beyond the aggregate fast path
    out = rows(
        sdb.sparql(
            PFX + 'SELECT (CONCAT("p:", ?n) AS ?tag) WHERE { ?p ex:name ?n } ORDER BY ?tag'
        )
    )
    assert out[0] == ("p:Alice",)
    out2 = rows(
        sdb.sparql(
            PFX + "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT (AVG(xsd:integer(?a)) AS ?avg) WHERE { ?p ex:age ?a }"
        )
    )
    assert out2 == [(35.0,)]
    out3 = rows(
        sdb.sparql(
            PFX + 'SELECT ?p (IF(BOUND(?k), "y", "n") AS ?has) '
            "WHERE { ?p a ex:Person OPTIONAL { ?p ex:knows ?k } }"
        )
    )
    assert ("http://example.org/carol", "n") in out3


def test_filter_in_not_in(sdb):
    out = rows(
        sdb.sparql(
            PFX + 'SELECT ?n WHERE { ?p ex:name ?n . FILTER(?n IN ("Alice", "Zed")) }'
        )
    )
    assert out == [("Alice",)]
    out2 = rows(
        sdb.sparql(
            PFX + 'SELECT ?n WHERE { ?p a ex:Person ; ex:name ?n . '
            'FILTER(?n NOT IN ("Alice", "Bob")) }'
        )
    )
    assert out2 == [("Carol",)]


def test_having_repeats_aggregate_call(sdb):
    # HAVING may repeat the aggregate call instead of naming its alias
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n (COUNT(?x) AS ?c) WHERE { ?p ex:name ?n . "
            "OPTIONAL { ?p ex:knows ?x } } GROUP BY ?n HAVING (COUNT(?x) = 0)"
        )
    )
    assert ("Carol", 0) in out and all(c == 0 for _, c in out)


def test_order_by_expression(sdb):
    """ORDER BY accepts arbitrary expressions (SPARQL 1.1 §15.1
    OrderCondition), not just bare vars."""
    out = [
        r[0]
        for r in sdb.sparql(
            PFX + "SELECT ?name WHERE { ?p a ex:Person ; ex:name ?name } "
            "ORDER BY DESC(STRLEN(?name)) ?name"
        ).collect()
    ]
    assert out == ["Alice", "Carol", "Bob"]  # 5,5 tie -> alpha, then 3


def test_order_by_aggregate_call(sdb):
    """ORDER BY DESC(COUNT(?x)) resolves the repeated aggregate call onto
    the SELECT aggregate's output column (same machinery as HAVING)."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?p (COUNT(?q) AS ?n) WHERE { ?p ex:knows ?q } "
            "GROUP BY ?p ORDER BY DESC(COUNT(?q)) ?p"
        )
    )
    assert out == [(EX + "alice", 1), (EX + "bob", 1)]

    # round 11: an ORDER BY aggregate with NO matching SELECT aggregate is
    # legal (§18.2.4.4) — hoisted into a hidden aggregate, computed, and
    # dropped after ordering (used to raise "no matching SELECT aggregate")
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?p (COUNT(?q) AS ?n) WHERE { ?p ex:knows ?q } "
            "GROUP BY ?p ORDER BY DESC(SUM(?q)) ?p"
        )
    )
    assert out == [(EX + "alice", 1), (EX + "bob", 1)]


# --------------------------------------------------------------------- #
# round-7 adversarial batch #3: numeric expressions (SPARQL 1.1 §17.3) and
# aggregate calls with DISTINCT / separator repeated in ORDER BY
# --------------------------------------------------------------------- #


@pytest.fixture(scope="module")
def adb(spark):
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import TripleStore

    rows_ = []
    for nm, age, city in [
        ("Alice", 30, "NYC"), ("Bob", 40, "LA"), ("Carol", 35, "NYC"),
        ("Dave", 28, "Chicago"), ("Eve", 50, "LA"), ("Frank", 45, "NYC"),
        ("Grace", 22, "Phoenix"), ("Heidi", 33, "Houston"),
    ]:
        subj = EX + nm.lower()
        rows_ += [
            (subj, EX + "name", None, nm, None, None),
            (subj, EX + "age", None, str(age), None, None),
            (subj, EX + "city", None, city, None, None),
        ]
    ts2 = TripleStore(
        spark.createDataFrame(
            rows_, "s string, p string, o_iri string, o_lit string, o_dt string, g string"
        )
    )
    return GrafeoSpark(spark, graph=None, triples=ts2)


def test_arithmetic_in_filter_bind_orderby(adb):
    out = adb.sparql(
        PFX + "SELECT ?nm ?dbl WHERE { ?n ex:name ?nm . ?n ex:age ?a . "
        "BIND(?a * 2 AS ?dbl) FILTER(?a * 2 > 60) } ORDER BY ?nm"
    ).collect()
    assert [(r.nm, r.dbl) for r in out] == [
        ("Bob", 80.0), ("Carol", 70.0), ("Eve", 100.0),
        ("Frank", 90.0), ("Heidi", 66.0),
    ]
    # signed-literal adjacency (?a -5) and unary minus both parse
    n1 = adb.sparql(
        PFX + "SELECT (COUNT(?n) AS ?c) WHERE { ?n ex:age ?a FILTER(?a - 5 > 40) }"
    ).collect()[0].c
    n2 = adb.sparql(
        PFX + "SELECT (COUNT(?n) AS ?c) WHERE { ?n ex:age ?a FILTER(-?a < -45) }"
    ).collect()[0].c
    assert (n1, n2) == (1, 1)


def test_orderby_agg_expression(adb):
    out = adb.sparql(
        PFX + "SELECT ?city (COUNT(?n) AS ?c) WHERE { ?n ex:city ?city } "
        "GROUP BY ?city ORDER BY DESC(?c * 2) ?city LIMIT 2"
    ).collect()
    assert [(r.city, r.c) for r in out] == [("NYC", 3), ("LA", 2)]


def test_orderby_group_concat_with_separator(adb):
    out = adb.sparql(
        PFX + 'SELECT ?city (GROUP_CONCAT(DISTINCT ?nm ; separator="|") AS ?who) '
        "WHERE { ?n ex:city ?city . ?n ex:name ?nm } GROUP BY ?city "
        'ORDER BY DESC(GROUP_CONCAT(DISTINCT ?nm ; separator="|")) LIMIT 2'
    ).collect()
    assert [r.who for r in out] == ["Heidi", "Grace"]


def test_orderby_agg_modifier_mismatch_computed_separately(adb):
    """An aggregate call in HAVING/ORDER BY with DIFFERENT
    DISTINCT/separator modifiers than any SELECT aggregate is computed as
    its OWN hidden aggregate (round 11; used to be rejected) — the
    ordering/filter uses exactly the aggregate the query wrote, never a
    silently different SELECT one."""
    # separator mismatch: ordering by the ";"-joined concat, projecting the
    # "|"-joined one — both computed
    out = adb.sparql(
        PFX + 'SELECT ?city (GROUP_CONCAT(?nm ; separator="|") AS ?who) '
        "WHERE { ?n ex:city ?city . ?n ex:name ?nm } GROUP BY ?city "
        'ORDER BY DESC(GROUP_CONCAT(?nm ; separator=";")) LIMIT 1'
    ).collect()
    assert out[0].who == "Heidi"
    # DISTINCT mismatch: HAVING filters on the distinct count while SELECT
    # projects the plain count
    got = rows(
        adb.sparql(
            PFX + "SELECT ?city (COUNT(?nm) AS ?c) "
            "WHERE { ?n ex:city ?city . ?n ex:name ?nm } GROUP BY ?city "
            "HAVING (COUNT(DISTINCT ?nm) > 1) ORDER BY ?city"
        )
    )
    assert got == [("LA", 2), ("NYC", 3)]
    # matching modifiers still resolve (incl. explicit default separator)
    out = adb.sparql(
        PFX + "SELECT ?city (GROUP_CONCAT(?nm) AS ?who) "
        "WHERE { ?n ex:city ?city . ?n ex:name ?nm } GROUP BY ?city "
        'ORDER BY DESC(GROUP_CONCAT(?nm ; separator=" ")) LIMIT 1'
    ).collect()
    assert out[0].who == "Heidi"


def test_select_expr_agg_keeps_distinct_and_separator(adb):
    """(GROUP_CONCAT(DISTINCT LCASE(?x); separator=...) AS ?a) — an
    aggregate over a COMPUTED argument re-parsed through the general
    expression path must keep its DISTINCT and separator modifiers
    (previously dropped to non-distinct, default separator)."""
    out = adb.sparql(
        PFX + 'SELECT ?city (GROUP_CONCAT(DISTINCT LCASE(?c2) ; separator="+") AS ?who) '
        "WHERE { ?n ex:city ?city . ?n ex:city ?c2 } GROUP BY ?city ORDER BY ?city"
    ).collect()
    # one city each; DISTINCT collapses duplicates, lcase applied, '+' separator
    assert [r.who for r in out] == ["chicago", "houston", "la", "nyc", "phoenix"]
    n = adb.sparql(
        PFX + "SELECT (COUNT(DISTINCT LCASE(?city)) AS ?c) WHERE { ?n ex:city ?city }"
    ).collect()[0].c
    assert n == 5


def test_select_expr_composes_aggregates(adb):
    """Aggregates EMBEDDED in larger SELECT expressions — §18.2.4.4's
    project-after-aggregate algebra: ((SUM(?a) / COUNT(?a)) AS ?m) hoists
    both calls into hidden aggregates and computes the expression over
    their output columns (round 11; used to die on the __aggmeta__
    marker)."""
    m = adb.sparql(
        PFX + "SELECT ((SUM(?a) / COUNT(?a)) AS ?m) WHERE { ?n ex:age ?a }"
    ).collect()[0].m
    assert m == pytest.approx(sum([30, 40, 35, 28, 50, 45, 22, 33]) / 8)
    # grouped, mixing an aggregate with a per-group key function
    out = rows(
        adb.sparql(
            PFX + "SELECT ?city ((COUNT(?n) * STRLEN(?city)) AS ?x) "
            "WHERE { ?n ex:city ?city } GROUP BY ?city ORDER BY ?city"
        )
    )
    assert out == [
        ("Chicago", 7),
        ("Houston", 7),
        ("LA", 4),
        ("NYC", 9),
        ("Phoenix", 7),
    ]
    # identical embedded calls are deduplicated into ONE hidden aggregate
    out2 = adb.sparql(
        PFX + "SELECT ((SUM(?a) + SUM(?a)) AS ?d) WHERE { ?n ex:age ?a }"
    ).collect()[0].d
    assert out2 == 2 * sum([30, 40, 35, 28, 50, 45, 22, 33])


def test_having_without_select_aggregate(adb):
    """HAVING may use aggregates that are not projected (§11.1) — hoisted
    into hidden aggregates and dropped after the filter."""
    got = rows(
        adb.sparql(
            PFX + "SELECT ?city WHERE { ?n ex:city ?city } "
            "GROUP BY ?city HAVING (COUNT(?n) > 1) ORDER BY ?city"
        )
    )
    assert got == [("LA",), ("NYC",)]


# --------------------------------------------------------------------- #
# round-10 adversarial batch #7: grammar & builtin edge cases
# --------------------------------------------------------------------- #


def test_single_quoted_string_literals(sdb):
    """SPARQL grammar STRING_LITERAL1: '...' is as legal as \"...\" —
    the lexer previously rejected single quotes (r10 finding)."""
    out = rows(sdb.sparql(PFX + "SELECT ?p WHERE { ?p ex:name ?n FILTER(?n = 'Alice') }"))
    assert out == [(EX + "alice",)]


def test_groupconcat_single_quoted_separator(sdb):
    out = sdb.sparql(
        PFX + "SELECT (GROUP_CONCAT(?n; separator='|') AS ?all) "
        "WHERE { ?p a ex:Person . ?p ex:name ?n }"
    ).collect()
    assert sorted(out[0].all.split("|")) == ["Alice", "Bob", "Carol"]


def test_bare_builtin_filter_constraint(sdb):
    """Grammar [68] Constraint allows a BuiltInCall without extra parens:
    FILTER sameTerm(...) — previously required FILTER( ... )."""
    assert sdb.sparql(
        PFX + "ASK { ?a ex:knows ?b FILTER sameTerm(?a, ex:alice) }"
    ).collect()[0][0] is True
    assert sdb.sparql(
        PFX + "ASK { ?a ex:knows ?b FILTER sameTerm(?a, ex:city1) }"
    ).collect()[0][0] is False


def test_trailing_values_clause_with_undef(sdb):
    """ValuesClause after the solution modifiers (grammar [28]); UNDEF
    leaves the variable unbound for that row."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n ?x WHERE { ?p ex:name ?n } "
            "VALUES (?n ?x) { ('Alice' 1) ('Bob' UNDEF) }"
        )
    )
    assert out == [("Alice", "1"), ("Bob", None)]


def test_strbefore_strafter_semantics(sdb):
    """§17.4.3.4-5 incl. the absent-separator and empty-separator arms."""
    r = sdb.sparql(
        PFX + "SELECT (STRBEFORE('ab-cd', '-') AS ?b) (STRAFTER('ab-cd', '-') AS ?a) "
        "(STRBEFORE('abc', 'x') AS ?m1) (STRAFTER('abc', 'x') AS ?m2) "
        "(STRBEFORE('abc', '') AS ?e1) (STRAFTER('abc', '') AS ?e2) "
        "WHERE { ?p ex:name ?n FILTER(?n = 'Alice') }"
    ).collect()[0]
    assert (r.b, r.a) == ("ab", "cd")
    assert (r.m1, r.m2) == ("", "")
    assert (r.e1, r.e2) == ("", "abc")


def test_filter_inside_optional_scopes_to_optional(sdb):
    """A FILTER inside OPTIONAL conditions the optional part only — a
    failing filter nulls the optional binding, never drops the row."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n ?a WHERE { ?p ex:name ?n "
            "OPTIONAL { ?p ex:age ?a FILTER(?a > '35') } } ORDER BY ?n"
        )
    )
    assert out == [("Alice", None), ("Bob", "40"), ("Carol", None), ("NYC", None)]


def test_if_bound_over_optional(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n (IF(BOUND(?a), 'y', 'n') AS ?has) WHERE "
            "{ ?p a ex:Person . ?p ex:name ?n OPTIONAL { ?p ex:age ?a } }"
        )
    )
    assert out == [("Alice", "y"), ("Bob", "y"), ("Carol", "n")]


def test_zero_or_one_path(sdb):
    out = rows(sdb.sparql(PFX + "SELECT ?y WHERE { ex:alice ex:knows? ?y }"))
    assert out == [(EX + "alice",), (EX + "bob",)]


def test_where_blank_nodes_are_anonymous_variables(sdb):
    """_:label in a WHERE pattern is an anonymous join variable — the
    reference's lowering (sparql_translator.rs:730-740)."""
    out = rows(
        sdb.sparql(PFX + "SELECT ?n WHERE { ex:alice ex:knows _:x . _:x ex:name ?n }")
    )
    assert out == [("Bob",)]


def test_construct_template_bnodes_fresh_per_solution(sdb):
    """SPARQL §16.2.1: template bNodes instantiate FRESH per solution
    row, and the same label is the same node across the template."""
    got = sdb.sparql(
        PFX + "CONSTRUCT { _:y ex:label ?n . _:y ex:who ?p } "
        "WHERE { ?p a ex:Person . ?p ex:name ?n }"
    ).collect()
    assert len(got) == 6 and all(r.s.startswith("_:y#") for r in got)
    by_subject = {}
    for r in got:
        by_subject.setdefault(r.s, set()).add(r.p.rsplit("/", 1)[-1])
    # 3 persons -> 3 distinct fresh subjects, each carrying both triples
    assert len(by_subject) == 3
    assert all(v == {"label", "who"} for v in by_subject.values())


def test_anonymous_bnode_term(sdb):
    """Bare [] is an anonymous blank node — a fresh anonymous variable
    (sparql_translator.rs:736 BlankNode::Anonymous)."""
    assert sdb.sparql(PFX + "ASK { ex:alice ex:knows [] }").collect()[0][0] is True
    assert sdb.sparql(PFX + "ASK { ex:carol ex:knows [] }").collect()[0][0] is False
    out = rows(sdb.sparql(PFX + "SELECT ?s WHERE { ?s ex:livesIn [] }"))
    assert out == [(EX + "alice",)]


def test_numeric_literals_exponent_and_leading_dot(sdb):
    """SPARQL grammar DOUBLE/DECIMAL forms: exponents and leading-dot
    decimals lex as one numeric token (r10 lexer gap); a trailing
    bare-integer before the triple terminator still parses."""
    assert sdb.sparql(
        PFX + "ASK { ?p ex:age ?a FILTER(xsd:integer(?a) > 1e1) }"
    ).collect()[0][0] is True
    assert sdb.sparql(
        PFX + "ASK { ?p ex:age ?a FILTER(xsd:integer(?a) < .5) }"
    ).collect()[0][0] is False
    assert sdb.sparql(
        PFX + "ASK { ?p ex:age ?a FILTER(xsd:integer(?a) > 2.5E1) }"
    ).collect()[0][0] is True


# --------------------------------------------------------------------- #
# round-11 adversarial batch #8: blank node property lists, language
# tags, CONSTRUCT WHERE shorthand
# --------------------------------------------------------------------- #


def test_bnode_property_list_object(sdb):
    """[ p o ; ... ] in object position desugars to a fresh anonymous
    variable plus its buffered triples (reference parser.rs:960-973)."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p ex:knows [ ex:name ?n ] } ORDER BY ?n"
        )
    )
    assert out == [("Bob",), ("Carol",)]


def test_bnode_property_list_subject(sdb):
    """[ p o ] as the SUBJECT of its own block."""
    out = rows(sdb.sparql(PFX + "SELECT ?n WHERE { [ ex:name ?n ; a ex:City ] }"))
    assert out == [("NYC",)]


def test_bnode_property_list_nested(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ex:alice ex:knows [ ex:knows [ ex:name ?n ] ] }"
        )
    )
    assert out == [("Carol",)]


def test_language_tagged_literal_matches_lexical(sdb):
    """'Alice'@en parses; the collapsed lexical store keeps only the
    lexical form, so it matches the stored plain literal."""
    assert (
        sdb.sparql(PFX + 'ASK { ?p ex:name "Alice"@en }').collect()[0][0] is True
    )


def test_lang_functions_collapsed_model(sdb):
    """LANG() is "" over the collapsed store (no tags kept); LANGMATCHES
    with an empty tag is false for every range incl. "*" (§17.4.3.1);
    STRLANG/STRDT collapse to the lexical form."""
    out = sdb.sparql(
        PFX + 'SELECT (LANG(?n) AS ?l) (STRLANG("x", "en") AS ?t) '
        "WHERE { ex:alice ex:name ?n }"
    ).collect()[0]
    assert (out.l, out.t) == ("", "x")
    n = sdb.sparql(
        PFX + 'SELECT (COUNT(?n) AS ?c) WHERE { ?p ex:name ?n '
        'FILTER(LANGMATCHES(LANG(?n), "*")) }'
    ).collect()[0].c
    assert n == 0


def test_construct_where_shorthand(sdb):
    """CONSTRUCT WHERE { BGP } — the template is the pattern (§10.2.2)."""
    got = rows(sdb.sparql(PFX + "CONSTRUCT WHERE { ?p ex:name ?o }"))
    names = {r[2] for r in got}
    assert {"Alice", "Bob", "Carol", "NYC"} <= names
    assert all(p == EX + "name" for _, p, _ in got)


# --------------------------------------------------------------------- #
# round-11 batch #9: expression EXISTS and boolean literals
# --------------------------------------------------------------------- #


def test_exists_as_expression(sdb):
    """EXISTS { pattern } anywhere an expression is legal (ast.rs:574
    Expression::Exists) — SELECT projection, BIND, IF — hoisted onto a
    left-join flag; FILTER EXISTS keeps its semi-join fast path."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n (EXISTS { ?p ex:knows ?o } AS ?k) "
            "WHERE { ?p a ex:Person ; ex:name ?n } ORDER BY ?n"
        )
    )
    assert out == [("Alice", True), ("Bob", True), ("Carol", False)]
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n ?t WHERE { ?p a ex:Person ; ex:name ?n "
            'BIND(IF(NOT EXISTS { ?p ex:knows ?o }, "sink", "source") AS ?t) } '
            "ORDER BY ?n"
        )
    )
    assert out == [("Alice", "source"), ("Bob", "source"), ("Carol", "sink")]


def test_exists_expression_unbound_shared_var(sdb):
    """Substitution semantics (§17.4.1.4): a shared variable that is
    UNBOUND in the solution row (null from OPTIONAL) stays free in the
    EXISTS pattern — it must not constrain the probe (r11 ADVICE: the
    plain equi-join made EXISTS false for every null row)."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n (EXISTS { ?x ex:name ?cn } AS ?e) "
            "WHERE { ?p a ex:Person ; ex:name ?n "
            "OPTIONAL { ?p ex:livesIn ?x } } ORDER BY ?n"
        )
    )
    # Alice: ?x = city1 (has a name) -> true. Bob/Carol: ?x unbound ->
    # free in the pattern; anything with an ex:name matches -> true.
    assert out == [("Alice", True), ("Bob", True), ("Carol", True)]
    # an unmatchable pattern is false regardless of the unbound wildcard
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n (EXISTS { ?x ex:nosuch ?cn } AS ?e) "
            "WHERE { ?p a ex:Person ; ex:name ?n "
            "OPTIONAL { ?p ex:livesIn ?x } } ORDER BY ?n"
        )
    )
    assert out == [("Alice", False), ("Bob", False), ("Carol", False)]


def test_exists_unbound_two_shared_vars(sdb):
    """Null-pattern decomposition (r12 VERDICT weak #2): with two shared
    vars of which one is unbound, the row must equi-join the probe on the
    BOUND subset only — the unbound var stays free (§17.4.1.4)."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n (EXISTS { ?p ex:knows ?x } AS ?e) "
            "WHERE { ?p a ex:Person ; ex:name ?n "
            "OPTIONAL { ?p ex:livesIn ?x } } ORDER BY ?n"
        )
    )
    # Alice: (?p=alice, ?x=city1) fully bound — alice knows bob, not
    # city1 -> false. Bob: ?x unbound -> EXISTS{bob knows ?x} -> true.
    # Carol: knows nothing -> false.
    assert out == [("Alice", False), ("Bob", True), ("Carol", False)]


def test_exists_unbound_plan_no_wildcard_nlj(spark, sdb):
    """The unbound-shared-var path must compile to shuffle-bounded
    equi-joins per null-pattern — never the r12 null-as-wildcard
    nested-loop theta-join (quadratic when many unbound rows meet a
    large probe). The only nested-loop allowed is the unconditioned
    one-row any-match cross."""
    df = sdb.sparql(
        PFX + "SELECT ?n (EXISTS { ?p ex:knows ?x } AS ?e) "
        "WHERE { ?p a ex:Person ; ex:name ?n "
        "OPTIONAL { ?p ex:livesIn ?x } }"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "isnull" not in line.lower(), line


def test_orderby_unbound_sorts_lowest(sdb):
    """§15.1: an unbound value orders LOWEST — first under ASC, last
    under DESC (was nulls-last under ASC; found by r13 probing)."""
    out = [
        tuple(r)
        for r in sdb.sparql(
            PFX + "SELECT ?n ?x WHERE { ?p ex:name ?n "
            "OPTIONAL { ?p ex:livesIn ?x } } ORDER BY ?x ?n"
        ).collect()
    ]
    # only alice has livesIn; everyone else unbound -> leads
    assert out[0][1] is None and out[-1] == ("Alice", EX + "city1")
    out_desc = [
        tuple(r)
        for r in sdb.sparql(
            PFX + "SELECT ?n ?x WHERE { ?p ex:name ?n "
            "OPTIONAL { ?p ex:livesIn ?x } } ORDER BY DESC(?x) ?n"
        ).collect()
    ]
    assert out_desc[0] == ("Alice", EX + "city1") and out_desc[-1][1] is None


def test_count_distinct_star_counts_solutions(sdb):
    """COUNT(DISTINCT *) counts distinct SOLUTION rows (§18.5.1), not a
    constant (found by r13 probing: the lit(1) arm collapsed it to 1)."""
    got = sdb.sparql(
        PFX + "SELECT (COUNT(DISTINCT *) AS ?n) WHERE { ?p a ex:Person }"
    ).collect()[0]
    assert got.n == 3


def test_having_count_star(sdb):
    """COUNT(*) parses in expression position (HAVING/ORDER BY) — star
    means no-argument to the aggregate resolver (r13 probe fix)."""
    got = rows(
        sdb.sparql(
            PFX + "SELECT (COUNT(*) AS ?n) WHERE { ?p a ex:Person } "
            "HAVING(COUNT(*) > 2)"
        )
    )
    assert got == [(3,)]
    none = rows(
        sdb.sparql(
            PFX + "SELECT (COUNT(*) AS ?n) WHERE { ?p a ex:Person } "
            "HAVING(COUNT(*) > 5)"
        )
    )
    assert none == []


def test_exists_all_four_null_patterns(spark):
    """Two shared vars -> four null-pattern branches, all exercised in ONE
    query: (bound, bound) equi-joins on both, (bound, null) and (null,
    bound) equi-join on their bound var, (null, null) takes the any-match
    probe. Ground truth constructed per branch."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import TripleStore

    X = "http://x/"

    def t(s, p, o):
        return (X + s, X + p, X + o, None, None, None)

    data = [
        # person -> optional a / b bindings
        t("p1", "a", "A1"), t("p1", "b", "B1"),   # both bound, pair exists
        t("p5", "a", "A5"), t("p5", "b", "B5"),   # both bound, no pair
        t("p2", "a", "A2"),                        # a bound, b null
        t("p3", "b", "B3"),                        # b null... a null, b bound
        # link relation probed by EXISTS
        t("A1", "link", "B1"),
        t("A2", "link", "B9"),
        # nothing links to B3; A5 links nothing
    ] + [(X + p, X + "is", None, "person", None, None)
         for p in ("p1", "p2", "p3", "p4", "p5")]
    ts = TripleStore(
        spark.createDataFrame(
            data,
            "s string, p string, o_iri string, o_lit string, o_dt string, g string",
        )
    )
    db = GrafeoSpark(spark, graph=None, triples=ts)
    out = {
        r.p.rsplit("/", 1)[-1]: r.e
        for r in db.sparql(
            f'PREFIX x: <{X}> SELECT ?p (EXISTS {{ ?a x:link ?b }} AS ?e) '
            'WHERE { ?p x:is "person" '
            "OPTIONAL { ?p x:a ?a } OPTIONAL { ?p x:b ?b } }"
        ).collect()
    }
    assert out == {
        "p1": True,   # (A1, B1) in link
        "p2": True,   # a=A2 bound, b free: A2 links B9
        "p3": False,  # b=B3 bound, a free: nothing links to B3
        "p4": True,   # both free: some link triple exists
        "p5": False,  # (A5, B5) not in link
    }


def test_uncorrelated_exists_expression(sdb):
    got = sdb.sparql(
        PFX + "SELECT (EXISTS { ?a ex:nosuch ?b } AS ?e) "
        "(EXISTS { ?a ex:knows ?b } AS ?f) WHERE { VALUES ?x { 1 } }"
    ).collect()[0]
    assert (got.e, got.f) == (False, True)


def test_boolean_literals_in_expressions(sdb):
    got = sdb.sparql(
        PFX + "SELECT (true AS ?t) (false AS ?f) "
        "(IF(1 > 0, true, false) AS ?p) WHERE { VALUES ?x { 1 } }"
    ).collect()[0]
    assert (got.t, got.f, got.p) == (True, False, True)


def test_regex_invalid_pattern_unbound(sdb):
    """An invalid REGEX/REPLACE pattern is an evaluation error -> unbound
    (§17.2), never a runtime throw."""
    out = sdb.sparql(
        PFX + 'SELECT (REGEX("a", "(") AS ?r) (REPLACE("a", "(", "x") AS ?p) '
        "WHERE { VALUES ?x { 1 } }"
    ).collect()[0]
    assert (out.r, out.p) == (None, None)
    # in a FILTER the error makes the row false
    n = sdb.sparql(
        PFX + 'SELECT (COUNT(?p) AS ?c) WHERE { ?p ex:name ?n FILTER(REGEX(?n, "(")) }'
    ).collect()[0].c
    assert n == 0


# -- r12 property-path adversarial pins (SPARQL 1.1 §9.1 semantics) -----------


def test_path_zero_or_one(sdb):
    out = rows(sdb.sparql(PFX + f"SELECT ?x WHERE {{ <{EX}alice> ex:knows? ?x }}"))
    assert out == [(EX + "alice",), (EX + "bob",)]


def test_path_zero_or_one_in_sequence(sdb):
    out = rows(
        sdb.sparql(PFX + f"SELECT ?n WHERE {{ <{EX}alice> ex:knows?/ex:name ?n }}")
    )
    assert out == [("Alice",), ("Bob",)]


def test_path_alternation_with_inverse(sdb):
    out = rows(
        sdb.sparql(PFX + f"SELECT ?x WHERE {{ <{EX}carol> (^ex:knows|ex:knows) ?x }}")
    )
    assert out == [(EX + "bob",)]


def test_negated_set_only_inverse_members(sdb):
    """!(^p) has only an inverse member: per §9.1 it matches ONLY reverse
    edges with predicate outside the set — never forward edges. Bob's one
    reverse edge is ^knows (excluded), so the result is empty even though
    bob has forward edges."""
    out = rows(sdb.sparql(PFX + f"SELECT ?x WHERE {{ <{EX}bob> !(^ex:knows) ?x }}"))
    assert out == []


def test_path_inside_not_exists(sdb):
    out = rows(
        sdb.sparql(
            PFX
            + "SELECT ?p WHERE { ?p a ex:Person "
            + f"FILTER NOT EXISTS {{ ?p ex:knows+ <{EX}carol> }} }}"
        )
    )
    assert out == [(EX + "carol",)]


def test_path_under_group_by(sdb):
    out = rows(
        sdb.sparql(
            PFX
            + "SELECT ?p (COUNT(?x) AS ?c) WHERE { ?p ex:knows+ ?x } "
            + "GROUP BY ?p ORDER BY ?p"
        )
    )
    assert out == [(EX + "alice", 2), (EX + "bob", 1)]


# --------------------------------------------------------------------- #
# r14 probe batch #2: GROUP BY expressions, aggregates over OPTIONAL
# vars, ORDER BY mixed bound/unbound under LIMIT, VALUES + aggregates
# --------------------------------------------------------------------- #


def test_groupby_expression_with_alias(sdb):
    """GroupCondition '(' Expr AS ?v ')' (§19.8 [20]): the alias is a
    projectable grouping key."""
    out = rows(sdb.sparql(
        PFX + "SELECT ?grown (COUNT(*) AS ?n) WHERE "
        "{ ?p a ex:Person . ?p ex:age ?age } "
        "GROUP BY (xsd:integer(?age) >= 40 AS ?grown) ORDER BY ?grown"
    ))
    assert out == [(False, 1), (True, 1)]


def test_groupby_bare_expression_hidden_key(sdb):
    """A bare expression GroupCondition groups but is NOT projectable —
    only aggregates come out."""
    out = sorted(rows(sdb.sparql(
        PFX + "SELECT (COUNT(*) AS ?n) WHERE "
        "{ ?p a ex:Person . ?p ex:name ?name } GROUP BY (STRLEN(?name))"
    )))
    # Alice=5, Bob=3, Carol=5 -> groups of 2 and 1
    assert out == [(1,), (2,)]


def test_groupby_expr_having(sdb):
    out = rows(sdb.sparql(
        PFX + "SELECT ?grown (COUNT(*) AS ?n) WHERE "
        "{ ?p a ex:Person . ?p ex:age ?age } "
        "GROUP BY (xsd:integer(?age) >= 30 AS ?grown) HAVING (COUNT(*) > 1)"
    ))
    assert out == [(True, 2)]


def test_sum_avg_all_unbound_group_is_zero(sdb):
    """§18.5.1: Sum({}) = 0 and Avg({}) = 0 — a group whose aggregated var
    is unbound everywhere aggregates the empty multiset. MIN/MAX of the
    empty multiset stay an error -> unbound."""
    out = rows(sdb.sparql(
        PFX + "SELECT ?p (SUM(?age) AS ?s) (AVG(?age) AS ?a) (MIN(?age) AS ?lo) "
        "WHERE { ?p a ex:Person . OPTIONAL { ?p ex:age ?age } } "
        "GROUP BY ?p ORDER BY ?p"
    ))
    assert out == [
        (EX + "alice", 30.0, 30.0, "30"),
        (EX + "bob", 40.0, 40.0, "40"),
        (EX + "carol", 0.0, 0.0, None),
    ]


def test_sum_non_numeric_group_stays_unbound(sdb):
    """Contrast pin: a group CONTAINING a non-numeric lexical is an
    evaluation error -> unbound, not 0 (the empty-multiset rule must not
    swallow cast failures)."""
    out = rows(sdb.sparql(
        PFX + "SELECT ?p (SUM(?nm) AS ?s) WHERE "
        "{ ?p a ex:Person . ?p ex:name ?nm } GROUP BY ?p ORDER BY ?p"
    ))
    assert out == [(EX + "alice", None), (EX + "bob", None), (EX + "carol", None)]


def test_orderby_unbound_lowest_under_limit(sdb):
    """§15.1 unbound-lowest must survive the Catalyst top-k (LIMIT) path:
    ASC LIMIT 1 returns the unbound row; DESC pushes it last."""
    q = (PFX + "SELECT ?name ?age WHERE { ?p ex:name ?name . "
         "OPTIONAL { ?p ex:age ?age } } ORDER BY %s(?age) ?name LIMIT 1")
    asc = rows(sdb.sparql(q % "ASC"))
    assert asc == [("NYC", None)] or asc == [("Carol", None)]  # first unbound name
    desc = rows(sdb.sparql(q % "DESC"))
    assert desc == [("Bob", "40")]


def test_trailing_values_clause(sdb):
    """ValuesClause after the solution modifiers (grammar [28]) joins the
    solution sequence."""
    out = rows(sdb.sparql(
        PFX + "SELECT ?name ?tag WHERE { ?p a ex:Person . ?p ex:name ?name } "
        "ORDER BY ?name LIMIT 2 VALUES ?tag { 'x' }"
    ))
    assert out == [("Alice", "x"), ("Bob", "x")]


def test_values_undef_with_aggregate(sdb):
    out = [tuple(r) for r in sdb.sparql(
        PFX + "SELECT ?x (COUNT(*) AS ?n) WHERE "
        "{ ?p a ex:Person . VALUES ?x { 1 UNDEF } } GROUP BY ?x ORDER BY ?x"
    ).collect()]
    assert out == [(None, 3), ("1", 3)]


# --------------------------------------------------------------------- #
# r14 probe batch #3: MINUS scope, LeftJoin filter scope, path cycles,
# term-kind ORDER, multi-var VALUES
# --------------------------------------------------------------------- #


@pytest.fixture(scope="module")
def cyc(spark):
    """3-cycle knows graph: alice -> bob -> carol -> alice; bob has no age."""
    from grafeo_spark.graph import TripleStore

    from grafeo_spark.engine import GrafeoSpark

    def t(s, p, o_iri=None, o_lit=None):
        return (s, p, o_iri, o_lit, None, None)

    data = [
        t(EX + "alice", RDF_TYPE, o_iri=EX + "Person"),
        t(EX + "alice", EX + "name", o_lit="Alice"),
        t(EX + "alice", EX + "age", o_lit="30"),
        t(EX + "alice", EX + "knows", o_iri=EX + "bob"),
        t(EX + "bob", RDF_TYPE, o_iri=EX + "Person"),
        t(EX + "bob", EX + "name", o_lit="Bob"),
        t(EX + "bob", EX + "knows", o_iri=EX + "carol"),
        t(EX + "carol", RDF_TYPE, o_iri=EX + "Person"),
        t(EX + "carol", EX + "name", o_lit="Carol"),
        t(EX + "carol", EX + "knows", o_iri=EX + "alice"),
        t(EX + "carol", EX + "age", o_lit="35"),
    ]
    ts = TripleStore(spark.createDataFrame(
        data, "s string, p string, o_iri string, o_lit string, o_dt string, g string"
    ))
    return GrafeoSpark(spark, graph=None, triples=ts)


def test_minus_no_shared_vars_removes_nothing(cyc):
    """§8.3.3 algebra: Minus(A, B) keeps a solution when its domain is
    disjoint from every B solution — MINUS with no shared vars is a no-op
    (the classic NOT-EXISTS-vs-MINUS divergence)."""
    out = rows(cyc.sparql(
        PFX + "SELECT ?name WHERE { ?p ex:name ?name MINUS { ?x ex:age ?y } }"
    ))
    assert out == [("Alice",), ("Bob",), ("Carol",)]


def test_optional_filter_sees_outer_vars(cyc):
    """§8.3.1 LeftJoin(P1, P2, F): a FILTER at the OPTIONAL group's top
    level evaluates over the MERGED row, so it can compare P2 vars against
    P1 vars (r14 probe batch #3 — was silently unbound before)."""
    out = rows(cyc.sparql(
        PFX + "SELECT ?name ?age WHERE { ?p ex:name ?name . "
        "?p2 ex:age ?outer . FILTER(?p2 = ex:alice) "
        "OPTIONAL { ?p ex:age ?age . "
        "FILTER(xsd:integer(?age) <= xsd:integer(?outer)) } }"
    ))
    assert out == [("Alice", "30"), ("Bob", None), ("Carol", None)]


def test_optional_inner_only_filter_unchanged(cyc):
    """Filters resolvable inside P2 still evaluate there (the fast path)."""
    out = rows(cyc.sparql(
        PFX + "SELECT ?name ?age WHERE { ?p ex:name ?name "
        "OPTIONAL { ?p ex:age ?age . FILTER(xsd:integer(?age) > 30) } }"
    ))
    assert out == [("Alice", None), ("Bob", None), ("Carol", "35")]


def test_property_path_cycle_terminates(cyc):
    """p+ over a cycle: distinct reachability, includes the start via the
    cycle; p* adds the zero-length self exactly once."""
    plus = rows(cyc.sparql(PFX + "SELECT ?y WHERE { ex:alice ex:knows+ ?y }"))
    assert plus == [(EX + "alice",), (EX + "bob",), (EX + "carol",)]
    star = rows(cyc.sparql(PFX + "SELECT ?y WHERE { ex:alice ex:knows* ?y }"))
    assert star == [(EX + "alice",), (EX + "bob",), (EX + "carol",)]


def test_order_by_term_kind(cyc):
    """§15.1: IRIs order BEFORE literals (and unbound before both)."""
    out = [tuple(r) for r in cyc.sparql(
        PFX + "SELECT ?o WHERE { ex:carol ?pred ?o } ORDER BY ?o"
    ).collect()]
    assert out == [(EX + "Person",), (EX + "alice",), ("35",), ("Carol",)]


def test_values_multivar_undef_join(cyc):
    out = rows(cyc.sparql(
        PFX + "SELECT ?name ?age WHERE { ?p ex:name ?name . "
        "OPTIONAL { ?p ex:age ?age } "
        "VALUES (?name ?age) { ('Alice' '30') ('Bob' UNDEF) } }"
    ))
    assert out == [("Alice", "30"), ("Bob", None)]


# --------------------------------------------------------------------- #
# r14 probe batch #4: CONSTRUCT templates, SAMPLE/GROUP_CONCAT DISTINCT,
# subselect modifiers, chained BIND, IN/NOT IN, path ?/inverse-sequence,
# HAVING without GROUP BY, ORDER BY over non-projected vars
# --------------------------------------------------------------------- #


def test_construct_template_bnode_fresh_per_row(cyc):
    """A template blank node instantiates FRESH per solution row."""
    got = [tuple(r) for r in cyc.sparql(
        PFX + "CONSTRUCT { _:b ex:of ?p } WHERE { ?p a ex:Person }"
    ).collect()]
    assert len(got) == 3
    assert len({r[0] for r in got}) == 3  # three distinct bnodes
    assert all(r[1] == EX + "of" for r in got)


def test_construct_where_shorthand(cyc):
    got = rows(cyc.sparql(PFX + "CONSTRUCT WHERE { ?p ex:name ?n }"))
    assert got == [
        (EX + "alice", EX + "name", "Alice"),
        (EX + "bob", EX + "name", "Bob"),
        (EX + "carol", EX + "name", "Carol"),
    ]


def test_orderby_non_projected_var_expression(cyc):
    """§18.2.4 algebra: OrderBy runs BEFORE Project — an ORDER BY
    expression may reference a WHERE var that is not projected (r14 probe
    batch #4: this silently sorted by null before)."""
    got = [r.name for r in cyc.sparql(
        PFX + "SELECT ?name WHERE { ?p ex:name ?name . ?p ex:age ?a } "
        "ORDER BY DESC(xsd:integer(?a))"
    ).collect()]
    assert got == ["Carol", "Alice"]
    # bare FunctionCall OrderCondition (grammar [24]) parses too
    got2 = [r.name for r in cyc.sparql(
        PFX + "SELECT ?name WHERE { ?p ex:name ?name . ?p ex:age ?a } "
        "ORDER BY xsd:integer(?a) LIMIT 1"
    ).collect()]
    assert got2 == ["Alice"]


def test_subselect_order_limit_inside(cyc):
    """ORDER BY + LIMIT inside a { SELECT } apply within the subquery."""
    got = rows(cyc.sparql(
        PFX + "SELECT ?n WHERE { { SELECT ?p WHERE { ?p ex:age ?a } "
        "ORDER BY DESC(xsd:integer(?a)) LIMIT 1 } ?p ex:name ?n }"
    ))
    assert got == [("Carol",)]


def test_in_not_in_operators(cyc):
    got = rows(cyc.sparql(
        PFX + "SELECT ?n WHERE { ?p ex:name ?n . FILTER(?n IN ('Alice', 'Carol')) }"
    ))
    assert got == [("Alice",), ("Carol",)]
    got2 = rows(cyc.sparql(
        PFX + "SELECT ?n WHERE { ?p ex:name ?n . FILTER(?n NOT IN ('Alice', 'Carol')) }"
    ))
    assert got2 == [("Bob",)]


def test_path_zero_or_one_and_inverse_sequence(cyc):
    got = rows(cyc.sparql(PFX + "SELECT ?y WHERE { ex:alice ex:knows? ?y }"))
    assert got == [(EX + "alice",), (EX + "bob",)]
    got2 = rows(cyc.sparql(
        PFX + "SELECT ?y WHERE { ex:alice ex:knows/^ex:knows ?y }"
    ))
    assert got2 == [(EX + "alice",)]


def test_having_without_groupby(cyc):
    got = rows(cyc.sparql(
        PFX + "SELECT (COUNT(*) AS ?n) WHERE { ?p a ex:Person } HAVING (COUNT(*) > 2)"
    ))
    assert got == [(3,)]
    got2 = rows(cyc.sparql(
        PFX + "SELECT (COUNT(*) AS ?n) WHERE { ?p a ex:Person } HAVING (COUNT(*) > 5)"
    ))
    assert got2 == []


def test_chained_bind_and_sample(cyc):
    got = [tuple(r) for r in cyc.sparql(
        PFX + "SELECT ?n ?l2 WHERE { ?p ex:name ?n . "
        "BIND(STRLEN(?n) AS ?l) . BIND(?l * 2 AS ?l2) } ORDER BY ?n"
    ).collect()]
    assert got == [("Alice", 10), ("Bob", 6), ("Carol", 10)]
    s = cyc.sparql(
        PFX + "SELECT (SAMPLE(?age) AS ?a) WHERE "
        "{ ?p a ex:Person . OPTIONAL { ?p ex:age ?age } }"
    ).collect()
    assert len(s) == 1 and s[0][0] in ("30", "35")


# --------------------------------------------------------------------- #
# round 15: EXISTS-decomposition cache lifecycle + OPTIONAL/EXISTS scope


def test_exists_cache_drained_on_next_query(ts):
    """Expression-EXISTS decomposition persists two frames; the NEXT query
    must unpersist them (r14 verdict wrong #2: each EXISTS query pinned
    cached blocks for the session lifetime)."""
    from grafeo_spark.lang.sparql import sparql as run

    ts.drain_exists_cache()
    out = run(
        ts,
        PFX + "SELECT ?n (EXISTS { ?p ex:knows ?x } AS ?e) "
        "WHERE { ?p ex:name ?n OPTIONAL { ?p ex:knows ?x } }",
    )
    out.collect()
    cached = list(ts._exists_cache)
    assert len(cached) >= 2
    assert all(
        f.storageLevel.useMemory or f.storageLevel.useDisk for f in cached
    )
    # a follow-up query evicts the previous query's decomposition cache
    run(ts, PFX + "SELECT ?p WHERE { ?p a ex:Person }").collect()
    assert ts._exists_cache == []
    assert all(
        not (f.storageLevel.useMemory or f.storageLevel.useDisk)
        for f in cached
    )


def test_optional_exists_filter_outer_var_is_loud(ts):
    """OPTIONAL { P2 FILTER(EXISTS{..} && F(outer-var)) } cannot defer the
    EXISTS part into the join condition, and evaluating it inner would
    silently treat the outer var as unbound — must raise loudly instead
    (r14 ADVICE #4)."""
    from grafeo_spark.lang.sparql import sparql as run
    from grafeo_spark.lang.sparql.compiler import SparqlCompileError

    q = (
        PFX + "SELECT ?n WHERE { ?p ex:name ?n . ?p ex:age ?a "
        "OPTIONAL { ?p ex:knows ?x "
        "FILTER(EXISTS { ?x ex:name ?xn } && ?a > 1) } }"
    )
    with pytest.raises(SparqlCompileError, match="outer"):
        run(ts, q)


def test_bind_then_triple_joins(sdb):
    """Probe batch #5: BIND ends the current BGP (§18.2.2.6), so a triple
    AFTER the BIND joins against the Extend'ed solution — the old
    reordering path evaluated the later triple as a disconnected scan."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ex:alice ex:knows ?k . "
            "BIND(?k AS ?p) . ?p ex:name ?n }"
        )
    )
    assert out == [("Bob",)]


def test_bind_chain_then_triple(sdb):
    """Two sequential BINDs feeding a later triple."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ex:alice ex:knows ?k . "
            "BIND(?k AS ?p) . BIND(?p AS ?q) . ?q ex:knows ?r . "
            "?r ex:name ?n }"
        )
    )
    assert out == [("Carol",)]


def test_bind_seq_ambiguous_values_mix_is_loud(sdb):
    """A BIND that both feeds a later triple AND reads a var bound by
    VALUES in the same group has unrecorded relative order — must raise,
    not silently pick an evaluation order."""
    from grafeo_spark.lang.sparql.compiler import SparqlCompileError

    with pytest.raises(SparqlCompileError, match="VALUES|split"):
        sdb.sparql(
            PFX + "SELECT ?n WHERE { VALUES ?v { ex:bob } "
            "BIND(?v AS ?p) . ?p ex:name ?n }"
        ).collect()


def test_minus_vs_not_exists_disjoint_vars(sdb):
    """Spec §8.3.3 divergence: MINUS with no shared variables removes
    NOTHING; FILTER NOT EXISTS with the same pattern removes everything."""
    keep = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p ex:name ?n MINUS { ?x ex:age ?y } }"
        )
    )
    assert keep == [("Alice",), ("Bob",), ("Carol",), ("NYC",)]
    gone = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p ex:name ?n "
            "FILTER NOT EXISTS { ?x ex:age ?y } }"
        )
    )
    assert gone == []


def test_nested_optional_scope(sdb):
    """Left-join associativity (§5.2): OPTIONAL inside OPTIONAL extends
    the inner solution before the outer left-join reconciles."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n ?kn ?kkn WHERE { ?p ex:name ?n "
            "OPTIONAL { ?p ex:knows ?k . ?k ex:name ?kn "
            "OPTIONAL { ?k ex:knows ?kk . ?kk ex:name ?kkn } } }"
        )
    )
    assert out == [
        ("Alice", "Bob", "Carol"),
        ("Bob", "Carol", None),
        ("Carol", None, None),
        ("NYC", None, None),
    ]


def test_group_concat_over_optional_unbound(sdb):
    """§18.5: aggregates drop error (unbound) values; an all-unbound
    group's GROUP_CONCAT is the empty string, COUNT(?v) is 0."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n (GROUP_CONCAT(?kn; separator='|') AS ?ks) "
            "(COUNT(?kn) AS ?c) WHERE { ?p a ex:Person . ?p ex:name ?n "
            "OPTIONAL { ?p ex:knows ?k . ?k ex:name ?kn } } GROUP BY ?n"
        )
    )
    assert out == [("Alice", "Bob", 1), ("Bob", "Carol", 1), ("Carol", "", 0)]


def test_exists_with_property_path(sdb):
    """Property paths inside EXISTS / NOT EXISTS / expression EXISTS."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p ex:name ?n "
            "FILTER EXISTS { ?p ex:knows+ ?q . ?q ex:name 'Carol' } }"
        )
    )
    assert out == [("Alice",), ("Bob",)]
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n (EXISTS { ?p ex:knows+ ?q } AS ?e) "
            "WHERE { ?p a ex:Person . ?p ex:name ?n }"
        )
    )
    assert out == [("Alice", True), ("Bob", True), ("Carol", False)]
    # knows* from alice reaches every named person (incl. zero-length)
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p a ex:Person . ?p ex:name ?n "
            "FILTER NOT EXISTS { ex:alice ex:knows* ?p } }"
        )
    )
    assert out == []


def test_zero_or_one_path_var_var(sdb):
    """ZeroOrOnePath(?x, ?y) with both ends unbound: one x=y solution per
    graph term (IRIs AND literals) plus the direct pairs — fixture has
    12 distinct terms and 2 knows edges."""
    out = rows(
        sdb.sparql(PFX + "SELECT (COUNT(*) AS ?c) WHERE { ?x ex:knows? ?y }")
    )
    assert out == [(14,)]


def test_optional_exists_filter_inner_vars_still_ok(ts):
    """The loud-error guard must not reject EXISTS filters fully resolvable
    inside the OPTIONAL group."""
    from grafeo_spark.lang.sparql import sparql as run

    got = sorted(
        tuple(r)
        for r in run(
            ts,
            PFX + "SELECT ?n ?x WHERE { ?p ex:name ?n "
            "OPTIONAL { ?p ex:knows ?x FILTER(EXISTS { ?x ex:name ?xn } "
            "&& ?x != ex:nobody) } }",
        ).collect()
    )
    assert got == [
        ("Alice", EX + "bob"),
        ("Bob", EX + "carol"),
        ("Carol", None),
        ("NYC", None),
    ]


def test_exists_decomposition_branch_count(ts, monkeypatch):
    """Plan-size guard (r14 verdict wrong #2 note): the null-pattern
    decomposition enumerates at most 2^k branches for k shared vars
    (k<=5 static path) — each branch re-plans the persisted `out`
    subtree, so branch growth is compile-time cost. Pin the union count
    for k=2: one all-bound piece + three null-pattern masks = 3 unions."""
    from pyspark.sql import DataFrame

    from grafeo_spark.lang.sparql import sparql as run

    ts.drain_exists_cache()
    calls = {"n": 0}
    orig = DataFrame.unionByName

    def counting(self, other, *a, **k):
        calls["n"] += 1
        return orig(self, other, *a, **k)

    monkeypatch.setattr(DataFrame, "unionByName", counting)
    # two shared vars (?x, ?n) both OPTIONAL-null-able
    df = run(
        ts,
        PFX + "SELECT ?p (EXISTS { ?x ex:knows ?q . ?q ex:name ?n } AS ?e) "
        "WHERE { ?p a ex:Person "
        "OPTIONAL { ?p ex:knows ?x } "
        "OPTIONAL { ?x ex:name ?n } }",
    )
    assert calls["n"] <= 3, (
        f"k=2 EXISTS decomposition built {calls['n']} unions; the static "
        "path must stay at 2^k - 1"
    )
    assert df.count() == 3  # the three persons; the decomposition computes


# --------------------------------------------------------------------- #
# round 15 probe batch #6: VALUES UNDEF joins, IRI minting, nested
# closures, CONSTRUCT blank-node scope


def test_values_undef_wildcard_join(sdb):
    """UNDEF in a multi-var VALUES block is an unbound binding: it never
    constrains the join (§10.2 compatibility), the other columns do."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?p ?n WHERE { ?p ex:name ?n . "
            "VALUES (?p ?n) { (ex:alice UNDEF) (UNDEF 'Bob') } }"
        )
    )
    assert out == [(EX + "alice", "Alice"), (EX + "bob", "Bob")]


def test_values_undef_multiset(sdb):
    """A solution compatible with TWO values rows appears twice (multiset
    join semantics)."""
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ex:alice ex:name ?n . "
            "VALUES (?n) { ('Alice') (UNDEF) } }"
        )
    )
    assert out == [("Alice",), ("Alice",)]


def test_iri_uri_bnode_builtins(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?q (BNODE('x') AS ?b) WHERE { ?p ex:name 'Alice' "
            "BIND(IRI(CONCAT(STR(?p), '_x')) AS ?q) }"
        )
    )
    assert out == [(EX + "alice_x", "_:x")]


def test_nested_path_closures(sdb):
    out = rows(
        sdb.sparql(PFX + "SELECT ?y WHERE { ex:alice (ex:knows/ex:knows)* ?y }")
    )
    assert out == [(EX + "alice",), (EX + "carol",)]
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?y WHERE { ex:alice (ex:knows|ex:livesIn)+ ?y }"
        )
    )
    assert out == [(EX + "bob",), (EX + "carol",), (EX + "city1",)]


def test_construct_bnode_fresh_per_solution(sdb):
    """A blank node in a CONSTRUCT template mints ONE fresh node per
    solution row, shared across that solution's template triples."""
    out = sdb.sparql(
        PFX + "CONSTRUCT { _:x ex:of ?p . _:x ex:nm ?n } "
        "WHERE { ?p ex:name ?n . ?p a ex:Person }"
    ).collect()
    subs = {}
    for r in out:
        subs.setdefault(r[0], []).append(r[1:])
    assert len(subs) == 3
    assert sorted(len(v) for v in subs.values()) == [2, 2, 2]


def test_describe_multiple_terms(sdb):
    out = sdb.sparql(PFX + "DESCRIBE ex:alice ex:bob").collect()
    assert sorted({r[0] for r in out}) == [EX + "alice", EX + "bob"]
    assert len(out) == 9  # alice: type/name/age/knows/livesIn; bob: 4


def test_subselect_limit_scoped_inside(sdb):
    out = rows(
        sdb.sparql(
            PFX + "SELECT ?n WHERE { ?p ex:name ?n . "
            "{ SELECT ?p WHERE { ?p a ex:Person } ORDER BY ?p LIMIT 2 } }"
        )
    )
    assert out == [("Alice",), ("Bob",)]

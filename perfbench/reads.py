"""Read templates: seeded read queries in five languages.

Seven templates are taken from the battery's read entries and given
seeded literals. Their declared mix is 45% Cypher/GQL, 25% SPARQL, 10%
Gremlin, 10% GraphQL and 10% vector search (``Template.share``, in
twentieths of the read share), and they cover the five exec kinds:
lookup, one hop, multi-hop and shortest path, aggregate, vector.

Each template has one hot text (so the hot set fits the engine's
256-entry translated-plan cache). The warm-up runs the hot texts, and
about half the timed ops reuse them while the rest carry fresh literals.
Hot literals lie outside the ranges fresh ones are drawn from, so a fresh
text never repeats a hot one. Every template has a DuckDB twin.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass

from datagen import EMB_DIM, SEGMENTS
from ops import Op

PFX = "PREFIX ex: <http://example.org/> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
EX = "http://example.org/"
EMBEDDING_NS = 8 << 44  # catalog node-id tag of the Embedding label
HOT_KEYS = 10  # custkeys below this are used only by hot texts


@dataclass(frozen=True)
class Template:
    name: str
    lang: str  # cypher | gql | sparql | gremlin | graphql | vector
    exec_kind: str  # lookup | onehop | multihop | aggregate | vector
    share: int  # twentieths of the declared mix
    draw: Callable[[random.Random, "Ctx", bool], dict]
    query: Callable[[dict], str]
    sql: Callable[[dict], str]


@dataclass(frozen=True)
class Ctx:
    n_customers: int
    buyers: tuple[int, ...]  # customers with at least one lineitem


def _cust(rng: random.Random, ctx: Ctx, hot: bool) -> int:
    return rng.randrange(HOT_KEYS) if hot else rng.randrange(HOT_KEYS, ctx.n_customers)


def _buyer(rng: random.Random, ctx: Ctx, hot: bool) -> int:
    pool = [k for k in ctx.buyers if (k < HOT_KEYS) == hot]
    return rng.choice(pool)


def _seg(rng: random.Random) -> str:
    return rng.choice(SEGMENTS)


def _suffix(rng: random.Random, hot: bool) -> str:
    return "x" if hot else f"{rng.randrange(100):02d}"


def _unit_vector(rng: random.Random) -> list[float]:
    v = [rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)]
    norm = sum(x * x for x in v) ** 0.5
    return [round(x / norm, 6) for x in v]


TEMPLATES: tuple[Template, ...] = (
    Template(
        "cypher_lookup", "cypher", "lookup", 5,
        lambda r, c, hot: {"k": _cust(r, c, hot)},
        lambda p: (
            f"MATCH (c:Customer) WHERE c.custkey = {p['k']} "
            "RETURN c.custkey AS custkey, c.name AS name, c.acctbal AS acctbal"
        ),
        lambda p: f"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = {p['k']}",
    ),
    Template(
        "cypher_shortest_path", "cypher", "multihop", 2,
        lambda r, c, hot: {"k": _buyer(r, c, hot)},
        lambda p: (
            f"MATCH p = shortestPath((c:Customer {{custkey: {p['k']}}})-[*..3]->(t:Part)) "
            "RETURN count(*) AS n, min(length(p)) AS min_hops, max(length(p)) AS max_hops"
        ),
        lambda p: (
            "SELECT count(DISTINCT l_partkey), 2, 2 FROM orders "
            f"JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey = {p['k']}"
        ),
    ),
    Template(
        "gql_shipped_summary", "gql", "aggregate", 2,
        lambda r, c, hot: {"d": "1990-01-01" if hot else f"{r.randrange(1995, 2002)}-{r.randrange(1, 13):02d}-15"},
        lambda p: (
            "MATCH (o:Order)-[l:CONTAINS]->(p:Part) "
            f"WHERE l.shipdate <= '{p['d']}' "
            "RETURN l.returnflag AS returnflag, l.linestatus AS linestatus, "
            "sum(l.quantity) AS sum_qty, count(*) AS count_order"
        ),
        lambda p: (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity), count(*) FROM lineitem "
            f"WHERE l_shipdate <= TIMESTAMP '{p['d']} 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
    ),
    Template(
        "sparql_region_path", "sparql", "multihop", 5,
        lambda r, c, hot: {"seg": _seg(r), "d": _suffix(r, hot)},
        lambda p: (
            PFX + "SELECT ?cname ?rname WHERE { ?c a ex:Customer ; ex:name ?cname ; "
            f"ex:mktsegment \"{p['seg']}\" . ?c ex:fromNation/ex:inRegion ?r . "
            f"?r ex:name ?rname . FILTER(regex(?cname, \"{p['d']}$\")) }}"
        ),
        lambda p: (
            "SELECT c_name, r_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            f"WHERE c_mktsegment = '{p['seg']}' AND regexp_matches(c_name, '{p['d']}$')"
        ),
    ),
    Template(
        "gremlin_orders_count", "gremlin", "onehop", 2,
        lambda r, c, hot: {"k": _cust(r, c, hot)},
        lambda p: (
            f"g.V().hasLabel('Customer').has('custkey', P.lte({p['k']}))"
            ".out('PLACED').count()"
        ),
        lambda p: f"SELECT count(*) FROM orders WHERE o_custkey <= {p['k']}",
    ),
    Template(
        "graphql_three_level", "graphql", "multihop", 2,
        lambda r, c, hot: {"k": _buyer(r, c, hot)},
        lambda p: (
            f"{{ Customer(custkey: {p['k']}) {{ name o: PLACED {{ orderkey "
            "p: CONTAINS { partkey } } } }"
        ),
        lambda p: (
            "SELECT c_name, o_orderkey, l_partkey FROM customer "
            "JOIN orders ON o_custkey = c_custkey "
            f"JOIN lineitem ON l_orderkey = o_orderkey WHERE c_custkey = {p['k']}"
        ),
    ),
    Template(
        "vector_top10", "vector", "vector", 2,
        lambda r, c, hot: {"v": _unit_vector(r)},
        lambda p: repr(p["v"]),
        lambda p: (
            f"SELECT {EMBEDDING_NS} + vec_id AS id, list_cosine_similarity("
            f"CAST(embedding AS DOUBLE[]), {p['v']}::DOUBLE[]) AS score "
            "FROM embeddings ORDER BY score DESC, id LIMIT 10"
        ),
    ),
)

FAMILY = {"gql": "cypher"}  # GQL shares the Cypher front-end


def _build(db, t: Template, p: dict):
    text = t.query(p)
    if t.lang == "vector":
        return db.vector_search("Embedding", p["v"], k=10)
    return getattr(db, t.lang)(text)


class ReadTemplates:
    """Seeded read ops from :data:`TEMPLATES`, checked against DuckDB."""

    def __init__(self, oracle, rng: random.Random, n_customers: int) -> None:
        self.oracle = oracle
        self.rng = rng
        buyers = oracle.rows(
            "SELECT DISTINCT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
            "ORDER BY 1"
        )
        self.ctx = Ctx(n_customers, tuple(int(k) for (k,) in buyers))
        self.by_name = {t.name: t for t in TEMPLATES}
        self.hot = {t.name: t.draw(rng, self.ctx, True) for t in TEMPLATES}

    def _op(self, db, t: Template, p: dict) -> Op:
        def run(probe):
            with probe.phase("build"):
                df = _build(db, t, p)
            return probe.collect(df)

        sql = t.sql(p)
        return Op(
            kind=t.name,
            family=FAMILY.get(t.lang, t.lang),
            run=run,
            expect=lambda: self.oracle.rows(sql),
            exec_kind=t.exec_kind,
            is_read=True,
        )

    def warmup_ops(self, db) -> list[Op]:
        return [self._op(db, t, self.hot[t.name]) for t in TEMPLATES]

    def op(self, db, name: str) -> Op:
        """One op of template ``name``: the hot text or fresh literals."""
        t = self.by_name[name]
        hot = self.rng.random() < 0.5
        return self._op(db, t, self.hot[name] if hot else t.draw(self.rng, self.ctx, False))

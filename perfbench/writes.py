"""``write_mix``: one long-lived session taking writes beside reads.

The declared mix is half writes and half reads:

- the write half (``SHARE``, in twentieths) is 40% Cypher/GQL writes
  (CREATE, MERGE, SET through GQL, DETACH DELETE), 15% SPARQL updates
  (INSERT DATA, DELETE WHERE), 10% Gremlin and direct-API writes, 30%
  reads that verify the writes so far, and 5% saves to a fresh directory
  followed by ``GrafeoSpark.open`` and a verifying read of the reopened
  snapshot;
- the read half is the templates of ``reads.py``, run on the same
  session, so they see the lineage the writes leave behind (writes touch
  only their own ``BenchItem`` nodes and ``ex:bench/<key>`` triples, so
  the templates' DuckDB twins still hold).

Each kind is one fixed statement shape (MERGE always matches, the Gremlin
write always updates, the direct-API write always creates) and rounds
run in a fixed order (``ops.rounds``); the seed picks the keys, the
values and which reads reuse a hot text. A run times one round, so a
kind whose statement depended on a coin would read differently from seed
to seed.

The warm-up opens the session, seeds it with a CREATE and an INSERT DATA
(which also warm the write paths) and runs each read template's hot text.
The write kinds are not warmed one by one: their first use costs what a
later use does (they are bound by per-job driver cost), the fixed order
makes that first use the same in every run, and the run budget cannot
afford a second pass. Saving over the directory a session was opened
from is not an op: it destroys the snapshot.

The generator keeps a model of what it wrote; every verifying read's
expected rows come from that model at the read's position in the stream.
"""

from __future__ import annotations

import os
import random
from collections.abc import Iterator

from ops import Op, rounds
from reads import TEMPLATES, ReadTemplates

EX = "http://example.org/"
PFX = f"PREFIX ex: <{EX}> "
N_GROUPS = 8
SEED_ITEMS = 4  # BenchItem nodes and triples written before the warm-up

SHARE = {
    "cypher_create": 3,
    "cypher_merge": 2,
    "gql_set": 2,
    "cypher_delete": 1,
    "sparql_insert": 2,
    "sparql_delete": 1,
    "gremlin_write": 1,
    "direct_write": 1,
    "read_count": 3,
    "read_sparql": 2,
    "read_gremlin": 1,
    "save_open": 1,
}


class Model:
    """What a correct engine holds after the writes issued so far."""

    def __init__(self) -> None:
        self.items: dict[int, list[int]] = {}  # key -> [grp, val]
        self.triples: dict[int, int] = {}  # key -> val
        self.next_key = 0

    def new_key(self) -> int:
        self.next_key += 1
        return self.next_key

    def count_sum(self) -> list[tuple]:
        vals = [v for _, v in self.items.values()]
        return [(len(vals), sum(vals) if vals else None)]

    def group_size(self, g: int) -> int:
        return sum(1 for grp, _ in self.items.values() if grp == g)

    def triple_rows(self) -> list[tuple]:
        return [(f"{EX}bench/{k}", str(v)) for k, v in self.triples.items()]


class WriteMix:
    name = "write_mix"

    def __init__(self, spark, make_db, run_dir: str, seed: int, oracle, n_customers: int) -> None:
        self.spark = spark
        self.make_db = make_db
        self.snap_dir = os.path.join(run_dir, "snapshots")
        self.rng = random.Random(seed)
        self.reads = ReadTemplates(oracle, self.rng, n_customers)
        self.n_saves = 0
        self.weights = {kind: n / 40 for kind, n in SHARE.items()}
        self.weights |= {t.name: t.share / 40 for t in TEMPLATES}
        self.min_ops = len(self.weights)
        self.db = None
        self.model = Model()

    # -- op constructors ---------------------------------------------------

    def _write(self, kind: str, family: str, fn) -> Op:
        def run(probe):
            with probe.phase("build"):
                df = fn(self.db)
            # Cypher/Gremlin writes return a summary frame; direct calls do not
            return probe.collect(df) if hasattr(df, "collect") else []

        return Op(kind=kind, family=family, run=run, is_write=True)

    def _read(self, kind: str, family: str, fn, expected: list) -> Op:
        def run(probe):
            with probe.phase("build"):
                df = fn(self.db)
            return probe.collect(df)

        return Op(kind=kind, family=family, run=run, expect=lambda: expected, is_read=True)

    def _cypher(self, kind: str, text: str, lang: str = "cypher") -> Op:
        return self._write(kind, "cypher", lambda d: getattr(d, lang)(text))

    def _update(self, kind: str, text: str) -> Op:
        def run(probe):
            with probe.phase("build"):
                self.db.sparql_update(PFX + text)
            return []

        return Op(kind=kind, family="sparql_update", run=run, is_write=True)

    def _make(self, kind: str) -> Op:
        """The next op of ``kind``; the model is updated as the op is made,
        since ops run in the order they are made."""
        m, rng = self.model, self.rng
        if kind in ("cypher_create", "direct_write"):
            k, g, v = m.new_key(), rng.randrange(N_GROUPS), rng.randrange(1000)
            m.items[k] = [g, v]
            if kind == "direct_write":
                props = {"key": k, "grp": g, "val": v}
                return self._write(kind, "direct", lambda d: d.create_node("BenchItem", props))
            return self._cypher(kind, f"CREATE (b:BenchItem {{key: {k}, grp: {g}, val: {v}}})")
        if kind in ("cypher_merge", "gql_set", "gremlin_write"):
            k, v = rng.choice(sorted(m.items)), rng.randrange(1000)
            m.items[k][1] = v
            if kind == "cypher_merge":
                return self._cypher(
                    kind,
                    f"MERGE (b:BenchItem {{key: {k}}}) ON CREATE SET b.grp = 0, b.val = {v} "
                    f"ON MATCH SET b.val = {v}",
                )
            if kind == "gql_set":
                return self._cypher(
                    kind, f"MATCH (b:BenchItem) WHERE b.key = {k} SET b.val = {v}", lang="gql"
                )
            text = f"g.V().hasLabel('BenchItem').has('key', {k}).property('val', {v})"
            return self._write(kind, "gremlin", lambda d: d.gremlin(text))
        if kind == "cypher_delete":
            k = rng.choice(sorted(m.items))
            del m.items[k]
            return self._cypher(kind, f"MATCH (b:BenchItem) WHERE b.key = {k} DETACH DELETE b")
        if kind == "sparql_insert":
            k, v = m.new_key(), rng.randrange(1000)
            m.triples[k] = v
            return self._update(
                kind, f'INSERT DATA {{ <{EX}bench/{k}> a ex:BenchItem ; ex:val "{v}" . }}'
            )
        if kind == "sparql_delete":
            k = rng.choice(sorted(m.triples))
            del m.triples[k]
            return self._update(kind, f"DELETE WHERE {{ <{EX}bench/{k}> ?p ?o }}")
        if kind == "read_count":
            return self._read(
                kind, "cypher",
                lambda d: d.cypher("MATCH (b:BenchItem) RETURN count(*) AS n, sum(b.val) AS s"),
                m.count_sum(),
            )
        if kind == "read_sparql":
            return self._read(
                kind, "sparql",
                lambda d: d.sparql(PFX + "SELECT ?s ?v WHERE { ?s a ex:BenchItem ; ex:val ?v }"),
                m.triple_rows(),
            )
        if kind == "read_gremlin":
            g = rng.randrange(N_GROUPS)
            return self._read(
                kind, "gremlin",
                lambda d: d.gremlin(f"g.V().hasLabel('BenchItem').has('grp', {g}).count()"),
                [(m.group_size(g),)],
            )
        if kind == "save_open":
            return self._save_open()
        raise ValueError(f"unknown write_mix op {kind!r}")

    def _save_open(self) -> Op:
        from grafeo_spark.engine import GrafeoSpark

        self.n_saves += 1
        path = os.path.join(self.snap_dir, f"snap-{self.n_saves}")
        m = self.model
        expected = [("graph",) + m.count_sum()[0], ("triples", len(m.triples))]

        def run(probe):
            with probe.phase("save"):
                # one file per frame: a small session's save is job-bound
                self.db.save(path, partitions=1)
            with probe.phase("open"):
                db2 = GrafeoSpark.open(self.spark, path)
            with probe.phase("build"):
                g = db2.cypher("MATCH (b:BenchItem) RETURN count(*) AS n, sum(b.val) AS s")
                t = db2.sparql(PFX + "SELECT (COUNT(?s) AS ?n) WHERE { ?s a ex:BenchItem }")
            rows = [("graph",) + tuple(probe.collect(g)[0]), ("triples",) + tuple(probe.collect(t)[0])]
            if probe.tracer is not None:
                probe.record.extra["bytes_written"] = _dir_bytes(path)
            return rows

        return Op(kind="save_open", family="persist", run=run, expect=lambda: expected, is_read=True)

    # -- schedules ---------------------------------------------------------

    def _open_session(self) -> None:
        """Open the long-lived session and seed it with items and triples
        for the updates and deletes to work on."""
        self.db, m, rng = self.make_db(), self.model, self.rng
        for _ in range(SEED_ITEMS):
            m.items[m.new_key()] = [rng.randrange(N_GROUPS), rng.randrange(1000)]
            m.triples[m.new_key()] = rng.randrange(1000)
        self.db.cypher(
            "CREATE "
            + ", ".join(
                f"(:BenchItem {{key: {k}, grp: {g}, val: {v}}})" for k, (g, v) in m.items.items()
            )
        )
        self.db.sparql_update(
            PFX + "INSERT DATA { "
            + " ".join(f'<{EX}bench/{k}> a ex:BenchItem ; ex:val "{v}" .' for k, v in m.triples.items())
            + " }"
        )

    def warmup_ops(self) -> list[Op]:
        """The read templates' hot texts, after opening the session."""
        self._open_session()
        return self.reads.warmup_ops(self.db)

    def ops(self) -> Iterator[Op]:
        for kind in rounds(self.weights):
            yield self._make(kind) if kind in SHARE else self.reads.op(self.db, kind)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )

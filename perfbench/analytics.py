"""``analytics``: the iterative and batch families through their battery
entries.

Each op calls one ``__spark_entry__`` entry function, looked up by name,
and collects its frame; the entry's ``oracle_sql()`` is the correctness
reference. The algorithms do their work in eager pre-jobs and supersteps
inside the call (phase ``build``); the action on the returned frame is
phase ``exec``. A round runs every entry once in a fixed order
(``ops.rounds``), and the timed phase always completes the first round.
The entries take no parameters, so the seed changes nothing here: runs
on different seeds repeat the same work.

A full warm-up round would take as long as the timed round (~35 s on 4
cores), which the benchmark's run budget cannot afford; the warm-up runs
the cheapest entry, which warms the join and aggregate code paths. The
first other entry of the timed round still pays 2-4 s more than it would
later in the round (warming wcc as well did not remove that); the fixed
order makes it the same entry, lpa, in every run.
"""

from __future__ import annotations

from collections.abc import Iterator

from ops import Op, rounds

ALGORITHMS = {
    "pagerank": "alg_pagerank_top",
    "wcc": "alg_wcc_sizes",
    "scc": "alg_scc_sizes",
    "bfs": "alg_bfs_depths",
    "dijkstra": "alg_dijkstra_nations",
    "lpa": "alg_lpa_communities",
    "kcore": "alg_kcore_members",
    "triangles": "alg_triangles",
}
# dedup_near_pairs and ngram_jaccard_pairs (the banded MinHash pipeline
# with word and bigram shingles, ~6 s each here) are left out to keep a
# run inside the benchmark's time budget.
LLM_OPS = {
    "embedding_near_pairs": "embedding_near_pairs",
}

WARMUP = ("triangles",)


class Analytics:
    name = "analytics"

    def __init__(self, spark, data_dir: str, oracle) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.data_dir = data_dir
        self.oracle = oracle
        battery = entry.queries()
        sql = entry.oracle_sql()
        self.entries = {
            kind: (battery[name], sql[name])
            for kind, name in (ALGORITHMS | LLM_OPS).items()
        }
        self.weights = dict.fromkeys(self.entries, 1 / len(self.entries))
        self.min_ops = len(self.entries)

    def _op(self, kind: str) -> Op:
        fn, sql = self.entries[kind]

        def run(probe):
            with probe.phase("build"):
                df = fn(self.spark, self.data_dir)
            return probe.collect(df)

        family = "algorithm" if kind in ALGORITHMS else "llm"
        return Op(kind=kind, family=family, run=run, expect=lambda: self.oracle.rows(sql))

    def warmup_ops(self) -> list[Op]:
        return [self._op(kind) for kind in WARMUP]

    def ops(self) -> Iterator[Op]:
        for kind in rounds(self.entries):
            yield self._op(kind)

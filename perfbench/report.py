"""End-to-end and per-layer metrics from a run's op records.

End-to-end metrics come from untraced runs. Per-layer metrics come from
traced runs: time metrics are per-op medians over the ops that touched
the layer, counts are per-op means, and ``spark.*`` byte and time figures
are run totals. A layer that a workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics

from analytics import ALGORITHMS, LLM_OPS

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
}

LANGS = ("cypher", "sparql", "gremlin", "graphql")
EXEC_KINDS = ("lookup", "onehop", "multihop", "aggregate", "vector")
SPARK = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.ms_per_job": "ms",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.parallelism": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
}


def _per_layer_units() -> dict[str, str]:
    units = {f"lang.{lang}.build_s": "s" for lang in LANGS}
    units |= {
        "lang.parse_s": "s",
        "lang.translate_s": "s",
        "lang.plan_cache_hit_ratio": "ratio",
        "lang.parses_per_query": "ratio",
        "plans.optimize_s": "s",
        "plans.compile_s": "s",
        "catalyst.plan_s": "s",
    }
    units |= {f"exec.{k}_s": "s" for k in EXEC_KINDS}
    units |= SPARK
    for name in ALGORITHMS:
        units |= {
            f"algorithms.{name}.call_s": "s",
            f"algorithms.{name}.result_s": "s",
            f"algorithms.{name}.jobs": "count",
            f"algorithms.{name}.shuffle_write_bytes": "bytes",
        }
    for name in LLM_OPS:
        units |= {
            f"llm.{name}.call_s": "s",
            f"llm.{name}.jobs": "count",
            f"llm.{name}.pairs_per_s": "1/s",
        }
    for fam in ("cypher", "gremlin", "direct"):
        units |= {f"mutations.{fam}.write_s": "s", f"mutations.{fam}.jobs": "count"}
    units |= {
        "sparql.update_s": "s",
        "sparql.update_jobs": "count",
        "writes.late_over_early": "ratio",
        "writes.read_after_write_p50_s": "s",
        "persist.save_s": "s",
        "persist.open_s": "s",
        "persist.save_jobs": "count",
        "persist.open_jobs": "count",
        "persist.bytes_written": "bytes",
        "persist.bytes_per_user_byte": "ratio",
        "catalog.load_s": "s",
        "catalog.graph_build_s": "s",
        "trace.overhead_ratio": "ratio",
        "failed_ratio": "ratio",
        "mem.peak_rss_mb": "MB",
    }
    return units


PER_LAYER = _per_layer_units()


def _p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(records, setup_s: float, weights: dict[str, float]) -> dict[str, float]:
    """Metrics of the workload's declared mix: every kind counts with its
    share of the mix, however often the run happened to draw it.
    ``ops_per_s`` is the mix's throughput from per-kind median latencies.

    No latency percentile is reported: a run times about 20 ops, too few
    for a percentile above the median to have ten samples beyond it, and
    the median of a mix whose kinds differ several-fold did not repeat
    within its bound between runs (on write_mix its spread across ten
    seeds was a quarter of its median, more than that of ``ops_per_s``).
    """
    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(r.kind, []).append(r.latency)
    w = {k: weights[k] for k in by_kind}
    median_cost = sum(w[k] * statistics.median(v) for k, v in by_kind.items())
    return {"setup_s": setup_s, "ops_per_s": sum(w.values()) / median_cost}


def _jobs(r, phases=None) -> int:
    return sum(len(ids) for ph, ids in r.jobs.items() if phases is None or ph in phases)


def _stat(r, key: str) -> float:
    return sum(s[key] for s in r.stats.values())


def per_layer(records, *, tracer, setup: dict, cache_delta, cores: int,
              input_bytes: int, failed: int, peak_rss_mb: float) -> dict[str, float]:
    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    reads = [r for r in records if not r.is_write]
    for lang in LANGS:
        m[f"lang.{lang}.build_s"] = _p50(
            r.phases["build"] for r in reads if r.family == lang and "build" in r.phases
        )
    for span, name in (
        ("lang.parse", "lang.parse_s"),
        ("lang.translate", "lang.translate_s"),
        ("plans.optimize", "plans.optimize_s"),
        ("plans.compile", "plans.compile_s"),
    ):
        m[name] = _p50(r.layer_s[span] for r in records if span in r.layer_s)
    hits, misses = cache_delta
    m["lang.plan_cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    cypher_reads = [r for r in reads if r.family == "cypher"]
    m["lang.parses_per_query"] = _mean(r.layer_calls.get("lang.parse", 0) for r in cypher_reads)
    m["catalyst.plan_s"] = _p50(r.phases["plan"] for r in records if "plan" in r.phases)
    for kind in EXEC_KINDS:
        m[f"exec.{kind}_s"] = _p50(r.phases["exec"] for r in reads if r.exec_kind == kind)

    wall = sum(r.latency for r in records)
    jobs = sum(_jobs(r) for r in records)
    busy = sum(_stat(r, "busy_s") for r in records)
    run_s = sum(_stat(r, "run_s") for r in records)
    n = len(records)
    m |= {
        "spark.jobs": jobs / n,
        "spark.stages": sum(_stat(r, "stages") for r in records) / n,
        "spark.tasks": sum(_stat(r, "tasks") for r in records) / n,
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": wall - busy,
        "spark.ms_per_job": 1e3 * wall / jobs if jobs else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(_stat(r, "cpu_s") for r in records),
        "spark.parallelism": run_s / (busy * cores) if busy else 0.0,
        "spark.shuffle_read_bytes": sum(_stat(r, "shuffle_read_bytes") for r in records),
        "spark.shuffle_write_bytes": sum(_stat(r, "shuffle_write_bytes") for r in records),
        "spark.spill_bytes": sum(_stat(r, "spill_bytes") for r in records),
        "spark.failed_tasks": sum(_stat(r, "failed_tasks") for r in records),
    }

    for name in ALGORITHMS:
        ops = [r for r in records if r.kind == name]
        m[f"algorithms.{name}.call_s"] = _p50(r.phases.get("build", 0.0) for r in ops)
        m[f"algorithms.{name}.result_s"] = _p50(
            r.phases.get("plan", 0.0) + r.phases.get("exec", 0.0) for r in ops
        )
        m[f"algorithms.{name}.jobs"] = _mean(_jobs(r) for r in ops)
        m[f"algorithms.{name}.shuffle_write_bytes"] = _mean(
            _stat(r, "shuffle_write_bytes") for r in ops
        )
    for name in LLM_OPS:
        ops = [r for r in records if r.kind == name and r.rows is not None]
        m[f"llm.{name}.call_s"] = _p50(r.phases.get("build", 0.0) for r in ops)
        m[f"llm.{name}.jobs"] = _mean(_jobs(r) for r in ops)
        m[f"llm.{name}.pairs_per_s"] = _p50(len(r.rows) / r.latency for r in ops)

    writes = [r for r in records if r.is_write]
    for fam in ("cypher", "gremlin", "direct"):
        ops = [r for r in writes if r.family == fam]
        m[f"mutations.{fam}.write_s"] = _p50(r.latency for r in ops)
        m[f"mutations.{fam}.jobs"] = _mean(_jobs(r) for r in ops)
    updates = [r for r in writes if r.family == "sparql_update"]
    m["sparql.update_s"] = _p50(r.latency for r in updates)
    m["sparql.update_jobs"] = _mean(_jobs(r) for r in updates)
    q = len(writes) // 4
    if q:
        early = _p50(r.latency for r in writes[:q])
        m["writes.late_over_early"] = _p50(r.latency for r in writes[-q:]) / early
    m["writes.read_after_write_p50_s"] = _p50(
        cur.latency for prev, cur in zip(records, records[1:]) if prev.is_write and cur.is_read
    )
    saves = [r for r in records if r.family == "persist"]
    m["persist.save_s"] = _p50(r.phases["save"] for r in saves)
    m["persist.open_s"] = _p50(r.phases["open"] for r in saves)
    m["persist.save_jobs"] = _mean(_jobs(r, ("save",)) for r in saves)
    m["persist.open_jobs"] = _mean(_jobs(r, ("open",)) for r in saves)
    written = _mean(r.extra["bytes_written"] for r in saves if "bytes_written" in r.extra)
    m["persist.bytes_written"] = written
    m["persist.bytes_per_user_byte"] = written / input_bytes

    m["catalog.load_s"] = setup["load_s"]
    m["catalog.graph_build_s"] = setup["graph_build_s"]
    m["trace.overhead_ratio"] = wall / (wall - tracer.self_s)
    m["failed_ratio"] = failed / n
    m["mem.peak_rss_mb"] = peak_rss_mb
    return m

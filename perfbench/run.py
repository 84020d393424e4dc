"""Seeded benchmark of grafeo_spark: write_mix and analytics.

Run from the root of a checkout:

    python3 perfbench/run.py --workload write_mix --seed 1 --seconds 15 --trace 0

One client runs a closed loop of ops on ``local[<cpus>]`` for
``--seconds`` and at least one round of every op kind,
then checks every result untimed against DuckDB or the generator's own
model. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; untraced runs carry
the end-to-end metrics and traced runs (``--trace 1``) the per-layer
metrics, with the spans dumped to ``.perfbench_out/``. The line before
it echoes the pinned environment. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("write_mix", "analytics")
SETUP_REPEATS = 2
JVM_GC_EVERY = 5  # ops between untimed JVM GCs


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="input scale factor")
    ap.add_argument("--ops", type=int, default=0, help="stop after this many timed ops")
    return ap.parse_args(argv)


# -- environment -------------------------------------------------------------


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_memory_mb() -> int:
    """A quarter of this machine's RAM, at most 3 GiB: the inputs are small
    and the machine is shared."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(3072, total_kb // 4096)


def start_spark(run_dir: str):
    """A session pinned to local[<cpus>], with every temporary file inside
    ``run_dir`` (removed at exit)."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    from grafeo_spark.session import get_spark

    cpus = _cpus()
    spark = get_spark(
        "grafeo-perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": f"{_driver_memory_mb()}m",
            "spark.local.dir": local,
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the session's periodic JVM GC would land inside timed ops;
            # the benchmark runs its own between ops (JVM_GC_EVERY)
            "spark.cleaner.periodicGC.interval": "1h",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def environment(spark) -> dict:
    sc = spark.sparkContext
    conf = sc.getConf()
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "spark_local_dirs": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        "spark_version": spark.version,
        "python": sys.version.split()[0],
    }


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    procs = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


# -- set-up ------------------------------------------------------------------


def build_catalog(spark, data_dir: str) -> tuple[float, float]:
    """One catalog set-up: load the tables, then build the property graph
    and triple store (both lazy; the first queries materialize them, in
    the warm-up). Returns (load seconds, build seconds)."""
    from grafeo_spark.catalog import load_tables, tpch_graph, tpch_triples

    t0 = time.perf_counter()
    load_tables(spark, data_dir)
    t1 = time.perf_counter()
    tpch_graph(spark, data_dir)
    tpch_triples(spark, data_dir)
    return t1 - t0, time.perf_counter() - t1


def make_workload(name: str, spark, data_dir: str, oracle, args, run_dir: str):
    from grafeo_spark.catalog import tpch_graph, tpch_triples
    from grafeo_spark.engine import GrafeoSpark

    def make_db():
        return GrafeoSpark(spark, tpch_graph(spark, data_dir), triples=tpch_triples(spark, data_dir))

    if name == "analytics":
        from analytics import Analytics

        return Analytics(spark, data_dir, oracle)
    from datagen import table_sizes
    from writes import WriteMix

    return WriteMix(spark, make_db, run_dir, args.seed, oracle, table_sizes(args.sf)["customer"])


# -- the run -----------------------------------------------------------------


def _untimed_gc(spark, i: int) -> None:
    gc.collect()
    if i % JVM_GC_EVERY == 0:
        spark.sparkContext._jvm.System.gc()


def run(args, run_dir: str) -> tuple[dict, dict]:
    import datagen
    from oracle import Oracle, same_rows
    from report import end_to_end, per_layer
    from tracing import Tracer, run_op

    data_dir = os.path.join(run_dir, "data")
    datagen.generate(data_dir, args.sf)
    input_bytes = sum(os.path.getsize(os.path.join(data_dir, f)) for f in os.listdir(data_dir))
    spark = start_spark(run_dir)
    try:
        env = environment(spark)
        t_setup = time.perf_counter()
        # the catalog caches per path string, so each repeat names the
        # same directory differently
        builds = [
            build_catalog(spark, data_dir + "/." * i) for i in reversed(range(SETUP_REPEATS))
        ]
        setup = {
            "load_s": statistics.median(b[0] for b in builds),
            "graph_build_s": statistics.median(b[1] for b in builds),
        }
        builds_s = time.perf_counter() - t_setup
        oracle = Oracle(data_dir, os.path.join(ROOT, ".perfbench_cache"))
        workload = make_workload(args.workload, spark, data_dir, oracle, args, run_dir)

        t_warm = time.perf_counter()
        for i, op in enumerate(workload.warmup_ops()):
            _untimed_gc(spark, i)
            rec = run_op(i, op, None)
            print(f"warm-up {op.kind}: {rec.latency:.3f}s {rec.error or ''}", file=sys.stderr)
        stream = workload.ops()
        warm_s = time.perf_counter() - t_warm
        # a catalog set-up (median of the repeats) plus the warm-up pass
        setup_s = statistics.median(b[0] + b[1] for b in builds) + warm_s
        print(
            f"set-up: builds {builds_s:.2f}s, warm-up {warm_s:.2f}s, setup_s {setup_s:.3f}",
            file=sys.stderr,
        )

        from grafeo_spark import engine

        tracer = Tracer(spark) if args.trace else None
        if tracer:
            tracer.install()
        cache0 = engine._parse_and_translate.cache_info()
        done: list[tuple] = []
        elapsed = 0.0
        try:
            for i, op in enumerate(stream):
                _untimed_gc(spark, i)
                rec = run_op(i, op, tracer)
                print(f"op {i} {op.kind}: {rec.latency:.3f}s", file=sys.stderr)
                done.append((op, rec))
                elapsed += rec.latency
                if args.ops and len(done) >= args.ops:
                    break
                if elapsed >= args.seconds and len(done) >= workload.min_ops:
                    break
        finally:
            if tracer:
                tracer.uninstall()
        cache1 = engine._parse_and_translate.cache_info()
        peak_rss = _peak_rss_mb(spark.sparkContext._gateway.proc.pid)

        t_gate = time.perf_counter()
        failed = 0
        for op, rec in done:
            ok = rec.error is None and (op.expect is None or same_rows(rec.rows, op.expect()))
            if not ok:
                failed += 1
                print(f"FAILED op {rec.index} {rec.kind}: {rec.error or 'wrong result'}", file=sys.stderr)
        oracle.close()
        print(f"correctness gate: {time.perf_counter() - t_gate:.2f}s", file=sys.stderr)
        records = [rec for _, rec in done]
        print(
            f"{len(records)} ops in {elapsed:.2f}s, {failed} failed, peak rss {peak_rss:.0f} MB",
            file=sys.stderr,
        )
        if tracer:
            metrics = per_layer(
                records,
                tracer=tracer,
                setup=setup,
                cache_delta=(cache1.hits - cache0.hits, cache1.misses - cache0.misses),
                cores=spark.sparkContext.defaultParallelism,
                input_bytes=input_bytes,
                failed=failed,
                peak_rss_mb=peak_rss,
            )
            dump_trace(args, tracer, records, env)
        else:
            metrics = end_to_end(records, setup_s, workload.weights)
        result = {"correct": failed == 0, "attempted": len(records), "failed": failed}
        return env, {**result, "metrics": metrics}
    finally:
        stop_spark(spark)


def dump_trace(args, tracer, records, env) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    ops = [
        {k: v for k, v in vars(r).items() if k != "rows"} | {"n_rows": len(r.rows or ())}
        for r in records
    ]
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"env": env, "ops": ops, "spans": tracer.spans}, f)
    print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # fail before any work when the engine is not beside the benchmark
    import __spark_entry__  # noqa: F401
    import grafeo_spark  # noqa: F401

    from report import END_TO_END, PER_LAYER

    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        env, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    result["metrics"] = {
        name: {"value": result["metrics"][name], "unit": unit} for name, unit in units.items()
    }
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

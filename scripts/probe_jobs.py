"""Per-job timing probe for a battery entry (guide §1.1/§7.1).

Runs one entry in a fresh warm session with a Spark listener counting
jobs/stages/tasks and wall time between jobs, so driver-latency-bound
entries (many tiny jobs) can be told apart from compute-bound ones.

``--by-site`` also prints, per run, the jobs and wall spent in each
engine call site: the classic ``DataFrame`` actions and
``localCheckpoint`` are wrapped, and each outermost call is charged to
the innermost ``grafeo_spark`` / ``__spark_entry__`` frame that made it.
This shows jobs an action was not meant to run, such as the AQE stage
jobs inside a "lazy" ``localCheckpoint``.

Usage: python scripts/probe_jobs.py [--by-site] name [name ...]
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WRAPPED = ("collect", "count", "first", "head", "take", "isEmpty", "toPandas",
           "localCheckpoint")


def _site() -> str:
    """The innermost engine frame on the stack, as ``path:line (func)``."""
    engine = (os.path.join(ROOT, "grafeo_spark") + os.sep,
              os.path.join(ROOT, "__spark_entry__.py"))
    for f in reversed(traceback.extract_stack()):
        if f.filename.startswith(engine):
            return f"{os.path.relpath(f.filename, ROOT)}:{f.lineno} ({f.name})"
    return "(caller)"


def track_sites(sc) -> dict:
    """Wrap the DataFrame actions; return the live {site: [calls, jobs, wall]}."""
    # the classic (non-Connect) DataFrame overrides the public base's methods
    from pyspark.sql.classic.dataframe import DataFrame

    sites: dict = defaultdict(lambda: [0, 0, 0.0])
    depth = threading.local()
    tracker = sc.statusTracker()

    def wrap(name):
        orig = getattr(DataFrame, name)

        def run(self, *args, **kwargs):
            if getattr(depth, "n", 0):  # first() -> head() -> take() ...
                return orig(self, *args, **kwargs)
            before = set(tracker.getJobIdsForGroup(None) or [])
            depth.n = 1
            t0 = time.perf_counter()
            try:
                return orig(self, *args, **kwargs)
            finally:
                depth.n = 0
                rec = sites[f"{_site()} {name}"]
                rec[0] += 1
                rec[1] += len(set(tracker.getJobIdsForGroup(None) or []) - before)
                rec[2] += time.perf_counter() - t0

        setattr(DataFrame, name, run)

    for name in WRAPPED:
        wrap(name)
    return sites


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    by_site = "--by-site" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry
    from grafeo_spark.session import get_spark

    spark = get_spark("grafeo-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # warm pass
    from grafeo_spark.catalog import load_tables

    for _n, df in load_tables(spark, sf_dir).items():
        df.count()

    sites = track_sites(sc) if by_site else None
    qs = entry.queries()
    for name in names:
        for attempt in (1, 2):
            if sites is not None:
                sites.clear()
            tracker = sc.statusTracker()
            before = set(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            n = qs[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            jobs = [j for j in (tracker.getJobIdsForGroup(None) or []) if j not in before]
            njobs = len(jobs)
            # per-job durations via the REST-ish status API
            tot_job = 0.0
            stages = 0
            tasks = 0
            for j in sorted(jobs):
                ji = tracker.getJobInfo(j)
                if ji is None:
                    continue
                stages += len(ji.stageIds)
                for s in ji.stageIds:
                    si = tracker.getStageInfo(s)
                    if si is not None:
                        tasks += si.numTasks
            print(
                f"{name} run{attempt}: {dt:.2f}s rows={n} jobs={njobs} "
                f"stages={stages} tasks={tasks} "
                f"(~{dt / max(njobs, 1) * 1000:.0f} ms/job)",
                flush=True,
            )
            if sites is not None:
                for site, (calls, sjobs, wall) in sorted(
                    sites.items(), key=lambda kv: (-kv[1][1], -kv[1][2])
                ):
                    print(f"  {sjobs:4d} jobs {wall:7.2f}s {calls:3d}x  {site}")
                print(f"  {njobs - sum(r[1] for r in sites.values()):4d} jobs "
                      "outside a wrapped call (RDD actions and other unwrapped calls)")


if __name__ == "__main__":
    main()

"""Op timing, layer spans and Spark job statistics.

Every op runs through a :class:`Probe`, which times the op's phases
(``build``, ``plan``, ``exec`` and op-specific ones such as ``save``).
An untraced probe only reads the clock. A traced probe also

- keeps a span per phase and per call into a wrapped layer function
  (:data:`LAYER_FUNCTIONS`); spans stay in memory and are dumped as JSON
  when the run ends;
- forces Catalyst planning (``executedPlan``) before the action, so the
  ``plan`` phase is Catalyst's share of the op;
- attributes the Spark jobs that ran in each phase (job ids are
  sequential, so a phase owns the ids above the last one seen) and reads
  their run time, CPU time, shuffle and spill figures from Spark's status
  store after the op's clock has stopped.

The benchmark treats ``grafeo_spark`` as a black box: the wrappers are
installed on module attributes only for a traced run and removed after it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass, field

# (module, attribute, span name). Class methods are written "Class.method".
LAYER_FUNCTIONS = (
    ("grafeo_spark.lang.cypher", "parse", "lang.parse"),
    ("grafeo_spark.lang.cypher", "translate", "lang.translate"),
    ("grafeo_spark.lang.sparql.parser", "parse", "lang.parse"),
    ("grafeo_spark.plans.rewrite", "optimize", "plans.optimize"),
    ("grafeo_spark.plans.compiler", "Compiler.compile", "plans.compile"),
)


@dataclass
class OpRecord:
    """One executed op: what it was, how long each phase took, its rows."""

    index: int
    kind: str
    family: str
    exec_kind: str | None
    is_write: bool
    is_read: bool
    latency: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    jobs: dict[str, list[int]] = field(default_factory=dict)
    stats: dict[str, dict] = field(default_factory=dict)
    layer_s: dict[str, float] = field(default_factory=dict)
    layer_calls: dict[str, int] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)
    rows: list | None = None
    error: str | None = None


class Tracer:
    """Span store and layer-function wrappers for one traced run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._depth: dict[str, int] = {}
        self._record: OpRecord | None = None
        self._saved: list[tuple[object, str, object]] = []
        self._last_job = -1
        self._cores = spark.sparkContext.defaultParallelism

    # -- spans --------------------------------------------------------------

    def open_span(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "parent": self._stack[-1] if self._stack else None,
                "op": self._record.index if self._record else None,
                "name": name,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(sid)
        return sid

    def close_span(self, sid: int) -> float:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        self._stack.pop()
        return span["end"] - span["start"]

    # -- layer wrappers -----------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # only the outermost call of a recursive layer gets a span
            if tracer._depth.get(name, 0):
                return fn(*args, **kwargs)
            tracer._depth[name] = 1
            sid = tracer.open_span(name)
            try:
                return fn(*args, **kwargs)
            finally:
                dt = tracer.close_span(sid)
                tracer._depth[name] = 0
                rec = tracer._record
                if rec is not None:
                    rec.layer_s[name] = rec.layer_s.get(name, 0.0) + dt
                    rec.layer_calls[name] = rec.layer_calls.get(name, 0) + 1

        return traced

    def install(self) -> None:
        for mod_name, attr, span in LAYER_FUNCTIONS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            self._saved.append((owner, leaf, original))
            setattr(owner, leaf, self._wrap(original, span))
        self._last_job = self._max_job_id()
        self.new_jobs()  # skip the set-up's jobs

    def uninstall(self) -> None:
        for owner, leaf, original in reversed(self._saved):
            setattr(owner, leaf, original)
        self._saved.clear()

    # -- Spark jobs ---------------------------------------------------------

    def _max_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        return max(ids, default=-1)

    def new_jobs(self) -> list[int]:
        """Job ids started since the previous call, once their events have
        reached the status store. Job ids are sequential, so the ids are
        probed one by one: that also finds jobs the engine runs inside a
        job group."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        ids = []
        while tracker.getJobInfo(self._last_job + 1) is not None:
            self._last_job += 1
            ids.append(self._last_job)
        return ids

    def job_stats(self, job_ids: list[int]) -> dict:
        """Run totals for ``job_ids``: counts, busy time (union of job
        intervals), executor time, shuffle/spill bytes and failed tasks."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        out = dict.fromkeys(
            (
                "jobs", "stages", "tasks", "failed_tasks", "busy_s", "run_s",
                "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            ),
            0,
        )
        intervals = []
        stage_ids: set[int] = set()
        for jid in job_ids:
            jd = store.job(jid)
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime(), end.get().getTime()))
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            out["jobs"] += 1
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if not sd.completionTime().isDefined():
                continue  # skipped: its output was reused from an earlier job
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        busy_ms, cur_start, cur_end = 0, None, None
        for start, end in sorted(intervals):
            if cur_end is None or start > cur_end:
                if cur_end is not None:
                    busy_ms += cur_end - cur_start
                cur_start, cur_end = start, end
            else:
                cur_end = max(cur_end, end)
        if cur_end is not None:
            busy_ms += cur_end - cur_start
        out["busy_s"] = busy_ms / 1e3
        return out


class Probe:
    """Times one op's phases; with a tracer, also spans and job ids."""

    def __init__(self, record: OpRecord, tracer: Tracer | None) -> None:
        self.record = record
        self.tracer = tracer

    @contextlib.contextmanager
    def phase(self, name: str):
        tr = self.tracer
        sid = tr.open_span(f"phase.{name}") if tr else None
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            phases = self.record.phases
            phases[name] = phases.get(name, 0.0) + dt
            if tr is not None:
                tr.close_span(sid)
                t1 = time.perf_counter()
                self.record.jobs.setdefault(name, []).extend(tr.new_jobs())
                tr.self_s += time.perf_counter() - t1

    def collect(self, df) -> list:
        """Run the action on ``df``. Traced: Catalyst planning is forced
        first, in its own phase; the action reuses the planned query."""
        if self.tracer is not None:
            with self.phase("plan"):
                df._jdf.queryExecution().executedPlan()
        with self.phase("exec"):
            return df.collect()


def run_op(index: int, op, tracer: Tracer | None) -> OpRecord:
    """Execute ``op`` once and return its record (the error, if any, is
    recorded, never raised)."""
    rec = OpRecord(index, op.kind, op.family, op.exec_kind, op.is_write, op.is_read)
    probe = Probe(rec, tracer)
    if tracer is not None:
        tracer._record = rec
        sid = tracer.open_span(f"op.{op.kind}")
    t0 = time.perf_counter()
    try:
        rec.rows = [tuple(r) for r in op.run(probe)]
    except Exception as ex:  # noqa: BLE001 - a failed op is counted, the run goes on
        rec.error = f"{type(ex).__name__}: {ex}"[:500]
    rec.latency = time.perf_counter() - t0
    if tracer is not None:
        tracer.close_span(sid)
        t1 = time.perf_counter()
        # jobs started outside any phase (none are expected) join "exec"
        rec.jobs.setdefault("exec", []).extend(tracer.new_jobs())
        rec.stats = {ph: tracer.job_stats(ids) for ph, ids in rec.jobs.items()}
        tracer._record = None
        tracer.self_s += time.perf_counter() - t1
    return rec

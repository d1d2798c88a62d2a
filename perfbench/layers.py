"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a public function of an engine module with a timing wrapper.
Several engine modules bind names at import time (``from ..loader import
stage_and_publish``), so the wrapper is installed on *every* loaded
``ufload_spark`` module attribute that holds the same function object;
functions imported inside a function body resolve the (patched) module
attribute at call time. :func:`check_spans` then asserts that each span a
workload expects fired, and that each span it predicts idle did not, so a
missed binding fails the run instead of reporting a silent zero.

Spark work is attributed by job-id range, not by job group: the restore
lifecycle launches jobs from ``ThreadPoolExecutor`` threads, which do not
inherit the caller's job group. The DAG scheduler's job counter is read at
each op's start and end, and the jobs in that range are looked up in the
status store (``sc._jsc.sc().statusStore()``) after the timed loop. Each
of those jobs must have been submitted and completed inside its op's
wall-clock window, so a job a pool thread ran after its op returned fails
the run instead of being charged to the next op.
"""

from __future__ import annotations

import functools
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    error: str | None
    #: the driver's job counter at the span's start and end
    job0: int = 0
    job1: int = 0


class Tracer:
    """Collects spans in memory; metrics are derived after the run."""

    def __init__(self, next_job_id=lambda: 0) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self._next_job_id = next_job_id
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        j0 = self._next_job_id()
        t0 = time.perf_counter()
        err = None
        try:
            yield
        except BaseException as e:
            err = type(e).__name__
            raise
        finally:
            t1 = time.perf_counter()
            span = Span(name, t0, t1, err, j0, self._next_job_id())
            with self._lock:
                self.spans.append(span)

    def wrap(self, module: str, attr: str, name: str) -> int:
        """Time every call of ``module.attr`` as span ``name``; returns the
        number of module bindings patched."""
        target = getattr(sys.modules[module], attr)
        tracer = self

        @functools.wraps(target)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return target(*args, **kwargs)

        patched = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("ufload_spark") and getattr(mod, attr, None) is target:
                setattr(mod, attr, traced)
                patched += 1
        return patched

    def between(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.start >= t0 and s.end <= t1]


#: (module, function, span name). Lazy-frame builders (zip_extract,
#: delive_audit_facts) are timed at their call, which only builds the
#: plan; their execution is charged to the span that consumes the frame
#: (loader.publish). Registered queries are called through the registry,
#: which holds the original functions, so workloads time those with
#: explicit spans instead.
WRAPPED = (
    ("ufload_spark.operators.restore_e2e", "_candidate_rows", "listing.candidates"),
    ("ufload_spark.operators.restore_e2e", "restore_one_instance", "restore_e2e.instance"),
    ("ufload_spark.operators.restore_e2e", "delive_audit_facts", "delive.facts"),
    ("ufload_spark.sources.zipsource", "zip_extract", "zipsource.extract"),
    ("ufload_spark.sources.loader", "stage_and_publish", "loader.publish"),
    ("ufload_spark.streaming.jobs", "ingest_gate_batch", "streaming.exact_gate"),
    ("ufload_spark.streaming.jobs", "neardup_gate_batch", "streaming.neardup_gate"),
)

def install(tracer: Tracer) -> None:
    """Wrap every function in :data:`WRAPPED`; fail if one binds nowhere."""
    for module, attr, name in WRAPPED:
        __import__(module)
        if tracer.wrap(module, attr, name) == 0:
            raise RuntimeError(f"{module}.{attr} is bound in no engine module")


def check_spans(tracer: Tracer, ops: list[tuple[float, float]], expected: frozenset[str]) -> list[str]:
    """Problems with span coverage over the timed ops: an expected span
    that never fired, or a span predicted idle that did."""
    fired = {s.name for t0, t1 in ops for s in tracer.between(t0, t1)}
    missing = sorted(expected - fired)
    unexpected = sorted(fired - expected)
    return [f"span {n} never fired" for n in missing] + [
        f"span {n} fired but the workload predicts zero" for n in unexpected
    ]


class SparkStatus:
    """Reads the driver's job counter and status store through py4j."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()

    def next_job_id(self) -> int:
        return int(self._dag.numTotalJobs())

    def persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def jobs_in_store(self, first: int, end: int) -> int:
        """Jobs with an id in ``[first, end)`` that the status store holds."""
        n = 0
        for jid in range(first, end):
            try:
                self._store.job(jid)
                n += 1
            except Py4JJavaError:
                pass
        return n

    def job_times_ms(self, jid: int) -> tuple[int | None, int | None]:
        """Submission and completion time (epoch ms) of job ``jid``, each
        ``None`` when the status store has not recorded it."""
        job = self._store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        return (
            int(sub.get().getTime()) if sub.isDefined() else None,
            int(done.get().getTime()) if done.isDefined() else None,
        )

    def drain_events(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc._jsc.statusTracker().getJobIdsForGroup(group))

    def work(self, first: int, end: int) -> dict[str, float]:
        """Summed stage metrics of the jobs with ids in ``[first, end)``;
        a stage shared by several jobs counts once, skipped stages not."""
        stage_ids: set[int] = set()
        for jid in range(first, end):
            seq = self._store.job(jid).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        out = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "run_ms", "cpu_ns",
             "shuffle_read", "shuffle_write", "spill"), 0.0)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ns"] += st.executorCpuTime()
            out["shuffle_read"] += st.shuffleReadBytes()
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["spill"] += st.diskBytesSpilled()
        return out


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0

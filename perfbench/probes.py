"""Measurements taken from outside the program.

* ``Tracer`` records spans (name, start, end, parent, op) around calls
  into the program's layers and tags each span's Spark jobs with the
  span's id through the job description, so the status store can
  attribute executions to spans.
* ``SparkCounters`` reads Spark's own bookkeeping with the UI off: the
  SQL status store (executions, their stages and physical-plan graphs),
  the application status store (stage task metrics) and each query's
  ``QueryPlanningTracker`` phases, delivered by a QueryExecutionListener.
* ``HostSample``, ``peak_rss_mb`` and ``cpu_s`` read ``/proc``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.java_gateway import ensure_callback_server_started

PHASES = ("analysis", "optimization", "planning")


class HostSample:
    """Steal share of CPU time and the 1-minute loadavg over an interval,
    as ``tools/time_queries.py`` records them."""

    def __init__(self):
        self._start = self._cpu()

    @staticmethod
    def _cpu() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals)

    def read(self) -> dict[str, float]:
        steal, total = self._cpu()
        d_total = max(1, total - self._start[1])
        return {"host.steal_pct": 100.0 * (steal - self._start[0]) / d_total,
                "host.loadavg_1m": os.getloadavg()[0]}


def pct(values: list[float], q: float) -> float:
    """The q-quantile by linear interpolation (q=0.5 is the median)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# The JVM's background JIT threads: their CPU depends on how much CPU is
# free, not on the work.  run.py starts the JVM with
# -XX:-UseDynamicNumberOfCompilerThreads so that they live as long as it
# does, and subtracting their per-thread times stays exact.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
JVM_FLAGS = ("-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # exited while listing
        return None
    head, _, tail = raw.rpartition(")")
    return head.partition("(")[2], tail.split()


def _ticks(fields: list[str], children: bool) -> int:
    """utime + stime, plus cutime + cstime (reaped children) if asked."""
    return sum(int(v) for v in fields[11:15 if children else 13])


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM process and every
    process below it (Python workers), less the JVM's JIT threads.

    Process totals are read, not the live threads', so the CPU of threads
    and processes that have exited since (pool threads time out, workers
    are reaped) still counts.  Time stolen by the hypervisor is not charged
    to processes, and the JIT is excluded, so on a shared host this moves
    with the work done, where wall time moves with the contention."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:2])
    parents: dict[int, list[tuple[int, int]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            got = _stat(f"/proc/{entry}/stat")
            if got:
                parents.setdefault(int(got[1][1]), []).append(
                    (int(entry), _ticks(got[1], True)))
    ticks = 0
    got = _stat(f"/proc/{jvm_pid}/stat")
    if got:
        ticks += _ticks(got[1], True)
    todo = [jvm_pid]
    while todo:
        for pid, used in parents.get(todo.pop(), []):
            ticks += used
            todo.append(pid)
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        got = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        if got and got[0].startswith(JIT_THREADS):
            ticks -= _ticks(got[1], False)
    return total + ticks / tick


class Tracer:
    """In-memory spans; ``write`` dumps them as JSON when the run ends."""

    def __init__(self, sc):
        self._sc = sc
        self._t0 = time.perf_counter()
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []
        self.op: int | None = None

    def _describe(self):
        sid = self._stack[-1] if self._stack else None
        self._sc.setLocalProperty(
            "spark.job.description",
            None if sid is None else f"{self.spans[sid]['name']}#{sid}")

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._describe()

    def wrap(self, module, attr: str, name: str, annotate=None) -> None:
        """Replace ``module.attr`` by a spanned wrapper until ``restore``;
        ``annotate(span)`` may add fields to the span after each call."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if annotate is not None:
                    annotate(rec)
                return result

        self._patched.append((module, attr, orig))
        setattr(module, attr, spanned)

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def durations(self, op: int, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["op"] == op and s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _PhaseListener:
    """py4j implementation of Spark's QueryExecutionListener: keeps the
    planning-tracker phase times of every query finished in the benchmark's
    own session (a streaming query runs in a clone of it)."""

    def __init__(self, main_session):
        self._main = main_session
        self.phases: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if not qe.sparkSession().equals(self._main):
            return
        tracked = qe.tracker().phases()
        got = {}
        for phase in PHASES:
            opt = tracked.get(phase)
            if opt.isDefined():
                got[phase] = float(opt.get().durationMs())
        self.phases.append(got)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkCounters:
    """Per-operation deltas of Spark's counters since the last ``mark``."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = sc._jsc.sc().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        ensure_callback_server_started(sc._gateway)
        self._listener = _PhaseListener(spark._jsparkSession)
        spark._jsparkSession.listenerManager().register(self._listener)
        self._seen = self._count()

    def _count(self) -> int:
        self._bus.waitUntilEmpty()
        return int(self._sql.executionsCount())

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self._listener)

    def mark(self) -> None:
        self._seen = self._count()
        self._listener.phases.clear()

    def catalyst_ms(self) -> dict[str, float]:
        """Planning-phase times of the queries finished since ``mark``."""
        self._bus.waitUntilEmpty()
        got = self._listener.phases
        return {ph: sum(p.get(ph, 0.0) for p in got) for ph in PHASES}

    def collect(self, wall_s: float, cores: int) -> tuple[dict, list[dict]]:
        """Layer metrics for every execution since ``mark``, and one record
        per execution (description and counters) for span attribution."""
        n = self._count()
        new = max(0, n - self._seen)
        self._seen = n
        execs = self._conv.asJava(self._sql.executionsList(n - new, new)) if new else []
        records = [self._execution(e) for e in execs]
        m = aggregate(records)
        for phase, ms in self.catalyst_ms().items():
            m[f"catalyst.{phase}_ms"] = ms
        covered = _union_ms([(r["start_ms"], r["end_ms"]) for r in records]) / 1e3
        m["spark.core_busy_frac"] = m["spark.task_run_s"] / max(1e-9, wall_s * cores)
        m["driver.outside_exec_s"] = max(0.0, wall_s - covered)
        return m, records

    def _execution(self, e) -> dict:
        done = e.completionTime()
        rec = {"id": e.executionId(), "description": e.description(),
               "start_ms": e.submissionTime(),
               "end_ms": done.get().getTime() if done.isDefined() else e.submissionTime(),
               "jobs": e.jobs().size(), "stages": 0, "tasks": 0, "task_run_s": 0.0,
               "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "longest_stage_s": 0.0,
               "non_codegen_ops": self._non_codegen(e.executionId())}
        for sid in self._conv.asJava(e.stages()):
            try:
                st = self._app.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 - evicted or never run
                continue
            if st.numCompleteTasks() == 0:  # skipped: output reused
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["task_run_s"] += st.executorRunTime() / 1e3
            rec["task_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sub, comp = st.submissionTime(), st.completionTime()
            if sub.isDefined() and comp.isDefined():
                rec["longest_stage_s"] = max(
                    rec["longest_stage_s"],
                    (comp.get().getTime() - sub.get().getTime()) / 1e3)
        return rec

    def _non_codegen(self, exec_id: int) -> int:
        """Physical operators outside whole-stage codegen in the final plan."""
        inside = outside = 0
        for node in self._conv.asJava(self._sql.planGraph(exec_id).allNodes()):
            if node.name().startswith("WholeStageCodegen"):
                inside += node.nodes().size()
            else:
                outside += 1
        return outside - inside


def aggregate(records: list[dict]) -> dict[str, float]:
    """Spark counters summed over executions (longest stage: maximum)."""
    m = {"spark.sql_executions": float(len(records))}
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "non_codegen_ops"):
        m[f"spark.{k}"] = float(sum(r[k] for r in records))
    m["spark.shuffle_write_mb"] = sum(r["shuffle_write_bytes"] for r in records) / 2**20
    m["spark.spill_mb"] = sum(r["spill_bytes"] for r in records) / 2**20
    m["spark.longest_stage_s"] = max((r["longest_stage_s"] for r in records), default=0.0)
    return m


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

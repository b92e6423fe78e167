"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload plant_monitor --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run starts a Spark session with the
library's ``get_spark`` defaults on ``local[nproc]``, builds its inputs
from ``--seed``, warms up on untimed verification executions, then runs
the workload's operations closed-loop for ``--seconds`` and reports
medians.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (spans and Spark counters on; the spans are written to
``.perfbench/trace-<workload>-<seed>.json``).  ``--smoke`` runs the same
code at a tiny scale for the benchmark's own tests.

The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The lines before it give the workload's metrics under their own names,
input row counts, host contention and any output problems.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench"
PROGRAM = ("timeseries_data_analysis_spark/__init__.py", "__spark_entry__.py",
           "tests/fixtures/kiln_fixture.py", "tools/check_oracles.py")

SCALES = {
    "full": {"kiln_days": 21, "history_days": 14, "landing_days": 9, "warm_ticks": 3,
             "corpus_queries": ("dedup_clusters", "als_rankk_backtest")},
    "smoke": {"kiln_days": 14, "history_days": 14, "landing_days": 4, "warm_ticks": 1,
              "corpus_queries": ("dedup_clusters", "als_rankk_backtest")},
}
INPUT_REPS = 3   # input generation is repeated; setup_s takes the median

END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}
PER_LAYER = {
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "driver.outside_exec_s": "s",
    "spark.sql_executions": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.longest_stage_s": "s", "spark.core_busy_frac": "ratio",
    "spark.non_codegen_ops": "count", "trace.op_cpu_s": "s",
    "trace.op_p50_ms": "ms",
    "host.steal_pct": "%", "host.loadavg_1m": "load",
}


class Context:
    """What a workload sees: the session, the seed, the scale, the tracer
    (traced runs only) and the tally of attempted and failed operations."""

    def __init__(self, spark, workload, seed, scale_name, traced):
        self.spark = spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.out_dir = str(OUT)  # kept across runs in one checkout
        self.workload = workload
        self.seed = seed
        self.scale_name = scale_name
        self.scale = SCALES[scale_name]
        self.cores = spark.sparkContext.defaultParallelism
        self.tracer = None
        self.counters = None
        if traced:
            from perfbench.probes import SparkCounters, Tracer
            self.tracer = Tracer(spark.sparkContext)
            self.counters = SparkCounters(spark)
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()  # parts of a workload warm up in threads
        self.problems: list[str] = []

    def span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def under(self, record: dict, prefix: str) -> bool:
        """Whether an execution ran inside a span named ``prefix``."""
        desc = record["description"] or ""
        name, _, sid = desc.rpartition("#")
        if not sid.isdigit() or not name:
            return False
        sid = int(sid)
        while sid is not None:
            span = self.tracer.spans[sid]
            if span["name"] == prefix:
                return True
            sid = span["parent"]
        return False

    def check(self, what: str, problems: list[str]) -> None:
        """Count one checked operation, failed if ``problems``."""
        with self._lock:
            self.attempted += 1
            if problems:
                self.failed += 1
                self.problems.extend(f"{what}: {p}" for p in problems)

    def check_digest(self, digest: str) -> None:
        """Output digests must match across runs of one seed and scale."""
        path = OUT / "digests.json"
        known = json.loads(path.read_text()) if path.exists() else {}
        key = f"{self.workload}:{self.seed}:{json.dumps(self.scale, sort_keys=True)}"
        want = known.setdefault(key, digest)
        self.check("digest", [] if want == digest else
                   [f"digest {digest} differs from an earlier run's {want}"])
        path.write_text(json.dumps(known, indent=1, sort_keys=True))


def run(args) -> dict:
    from timeseries_data_analysis_spark.session import get_spark

    from perfbench.probes import HostSample, cpu_s, peak_rss_mb, pct
    from perfbench.workloads import WORKLOADS

    host = HostSample()
    work = OUT / f"{args.workload}-{args.seed}-{os.getpid()}"
    t_setup = time.perf_counter()
    c_setup = sum(os.times()[:2])
    spark = get_spark("perfbench")
    jvm = spark.sparkContext._gateway.proc
    session_cpu = cpu_s(jvm.pid) - c_setup
    ctx = Context(spark, args.workload, args.seed,
                  "smoke" if args.smoke else "full", bool(args.trace))
    wl = WORKLOADS[args.workload](ctx)
    walls: list[float] = []
    cpus: list[float] = []
    phases: dict[str, list[float]] = {}
    layers: list[dict] = []
    try:
        setup_parts = {"session_s": time.perf_counter() - t_setup}
        reps = []
        for r in range(INPUT_REPS):
            c0 = cpu_s(jvm.pid)
            wl.make_inputs(str(work / f"inputs-{r}"))
            reps.append(cpu_s(jvm.pid) - c0)
        c0, t0 = cpu_s(jvm.pid), time.perf_counter()
        wl.load(str(work / f"inputs-{INPUT_REPS - 1}"))
        t1 = time.perf_counter()
        wl.warm()
        # CPU seconds, as op_cpu_s: set-up wall time doubles with the host's
        # contention (it is printed, not gated)
        setup_s = session_cpu + statistics.median(reps) + cpu_s(jvm.pid) - c0
        setup_parts.update(load_s=t1 - t0, warm_s=time.perf_counter() - t1,
                           wall_s=time.perf_counter() - t_setup)

        deadline = time.perf_counter() + args.seconds
        i = 0
        while (i < wl.min_ops or time.perf_counter() < deadline) and wl.remaining() > 0:
            if ctx.tracer:
                ctx.tracer.op = i
                wl.mark()
                ctx.counters.mark()
            checked_before = ctx.attempted
            t0 = time.perf_counter()
            c0 = cpu_s(jvm.pid)
            try:
                got = wl.op()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                ctx.check(f"op {i}", [f"{type(exc).__name__}: {exc}"[:500]])
                i += 1
                continue
            wall = time.perf_counter() - t0
            cpus.append(cpu_s(jvm.pid) - c0)
            if ctx.attempted == checked_before:  # an op without its own check
                ctx.attempted += 1
            walls.append(wall)
            for k, v in got.items():
                phases.setdefault(k, []).append(v)
            if ctx.tracer:
                layer, records = ctx.counters.collect(wall, ctx.cores)
                layer.update(wl.details(i, records))
                layers.append(layer)
            i += 1
        rss = peak_rss_mb([os.getpid(), jvm.pid])
    finally:
        if ctx.tracer:
            ctx.tracer.restore()
            ctx.tracer.write(str(OUT / f"trace-{args.workload}-{args.seed}.json"))
            ctx.counters.close()
        wl.close()
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)

    if not walls:
        raise RuntimeError("no operation completed")
    ops = [1e3 * w for w in walls]
    # the lowest, not the median: per-operation CPU falls over the first
    # operations while the JIT catches up, and its noise only adds
    e2e = {"setup_s": setup_s, "op_cpu_s": min(cpus)}
    named = wl.named(ops, {k: [1e3 * v for v in vals] for k, vals in phases.items()})
    named.update(op_p50_ms=pct(ops, 0.5), op_cpu_p50_s=pct(cpus, 0.5), n_ops=len(ops),
                 failed_frac=ctx.failed / max(1, ctx.attempted), peak_rss_mb=rss)
    detail = {"workload": args.workload, "seed": args.seed,
              "scale": ctx.scale_name, "inputs": wl.row_counts,
              "host": host.read(), "named": named, "setup_wall": setup_parts,
              "ops": {"op_ms": ops, "op_cpu_s": cpus}, "problems": ctx.problems[:20]}
    if ctx.tracer:
        names = sorted({k for d in layers for k in d})
        layer_med = {k: statistics.median(d[k] for d in layers if k in d) for k in names}
        layer_med["trace.op_cpu_s"] = e2e["op_cpu_s"]
        layer_med["trace.op_p50_ms"] = pct(ops, 0.5)
        layer_med.update(detail["host"])
        detail["layers"] = layer_med
        metrics = {k: {"value": layer_med[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"detail": detail,
            "result": {"correct": ctx.failed == 0, "attempted": ctx.attempted,
                       "failed": ctx.failed, "metrics": metrics}}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("batch", "plant_monitor"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny scale, for the benchmark's own tests")
    args = p.parse_args(argv)

    missing = [f for f in PROGRAM if not (ROOT / f).is_file()]
    if missing:
        print(f"program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.chdir(ROOT)
    from perfbench.probes import JVM_FLAGS
    OUT.mkdir(exist_ok=True)
    tmp = OUT / f"tmp-{os.getpid()}"
    tmp.mkdir(exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # the JVM's own scratch files (native libraries, artifacts, perf data)
    # would otherwise go to /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", *JVM_FLAGS)))
    try:
        out = run(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    d = out["detail"]
    print(f"{d['workload']} seed={d['seed']} scale={d['scale']} "
          + " ".join(f"{k}={v:.6g}" for k, v in d["named"].items()))
    for k, v in out["result"]["metrics"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(d))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Profile registry queries layer by layer: one JSON file per query.

Usage: python tools/query_profile.py <round>/<tag> [-n TRIALS] [sf_dir] q1 q2 ...
       (e.g. r14/base; sf_dir defaults to the sf0.1 test corpus; 3 trials)

Run from the repository root; it writes ``profiles/<round>/<q>_<tag>.json``.
The session is warmed on ``pricing_summary`` first (not recorded). Each
query then runs TRIALS times; trial 0 is the cold one. A trial is two
spans: ``build``, the query's construction, where iterative queries run
their eager ``localCheckpoint``/``count`` jobs, and ``write``, the noop
write that executes every output value. Every SQL execution is
attributed to the span it ran in. Per trial the file holds the span wall
times and the driver time outside executions, Catalyst phase ms, Spark's
counters (summed and per execution), operator counts of each
execution's final plan, steal% and loadavg. The last trial also keeps
each execution's final (AQE) physical plan text and every operator's SQL
metrics as Spark renders them. One summary line per query goes to stdout.

The measuring code is ``perfbench/probes.py``'s.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from perfbench.probes import HostSample, SparkCounters, Tracer, aggregate  # noqa: E402

# plan-graph node name -> operator count key
OPERATORS = {"Exchange": "exchanges", "BroadcastHashJoin": "bhj",
             "SortMergeJoin": "smj", "ShuffledHashJoin": "shj",
             "BroadcastNestedLoopJoin": "bnlj", "Window": "windows"}
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def status_store(spark):
    """The SQL status store, once every posted event has reached it, and
    the Scala-to-Java collection converter its lists need."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return (spark._jsparkSession.sharedState().statusStore(),
            sc._jvm.scala.jdk.javaapi.CollectionConverters)


def executions_after(spark, last_id: int) -> list:
    """Status-store records of the executions whose id is above
    ``last_id``, oldest first.

    The store keeps only ``spark.sql.ui.retainedExecutions`` executions,
    so once it is full its count stops growing and a count delta reads 0.
    Its list is ordered by id: read a tail long enough to reach
    ``last_id``."""
    store, conv = status_store(spark)
    n = int(store.executionsCount())
    k = 32
    while True:
        tail = list(conv.asJava(store.executionsList(max(0, n - k), k)))
        if k >= n or not tail or tail[0].executionId() <= last_id:
            return [e for e in tail if e.executionId() > last_id]
        k *= 2


def last_execution_id(spark) -> int:
    store, conv = status_store(spark)
    n = int(store.executionsCount())
    return max([-1] + [e.executionId()
                       for e in conv.asJava(store.executionsList(max(0, n - 1), 1))])


def settled(store, e, timeout_s: float = 30.0):
    """``e``'s final record. After an execution ends, the status listener
    writes its completion time, aggregated metrics and last plan text from
    the store's own thread, so a record read as soon as the listener bus
    drains can lack them (a 0 s duration)."""
    deadline = time.monotonic() + timeout_s
    while e.metricValues() is None and time.monotonic() < deadline:
        time.sleep(0.01)
        e = store.execution(e.executionId()).get()
    return e


def plan_profile(spark, e, detail: bool) -> dict:
    """Operator counts of execution ``e``'s final plan graph; with
    ``detail`` also its plan text and each operator's rendered SQL
    metrics (a codegen stage also lists the operators fused into it)."""
    store, conv = status_store(spark)
    counts = dict.fromkeys([*OPERATORS.values(), "single_partition_exchanges",
                            "python"], 0)
    values = ({int(k): v for k, v in conv.asJava(e.metricValues()).items()}
              if detail and e.metricValues() is not None else {})
    operators = []
    for node in conv.asJava(store.planGraph(e.executionId()).allNodes()):
        name = node.name()
        if name in OPERATORS:
            counts[OPERATORS[name]] += 1
        if name == "Exchange" and node.desc().startswith("Exchange SinglePartition"):
            counts["single_partition_exchanges"] += 1
        if PYTHON_NODE.search(name):
            counts["python"] += 1
        if detail:
            shown = {m.name(): values[m.accumulatorId()]
                     for m in conv.asJava(node.metrics()) if m.accumulatorId() in values}
            op = {"id": node.id(), "name": name, "metrics": shown}
            if name.startswith("WholeStageCodegen"):
                op["nodes"] = [n.name() for n in conv.asJava(node.nodes())]
            operators.append(op)
    out = {"operator_counts": counts}
    if detail:
        out["plan"] = e.physicalPlanDescription()
        out["operators"] = operators
    return out


def run_trial(spark, counters, tracer, build, last_id: int, detail: bool) -> tuple[dict, int]:
    """One build + noop write, and its record; also the last execution id.
    Executions that ran outside this trial's spans (other threads) are
    left out."""
    counters.mark()
    host = HostSample()
    with tracer.span("build") as b:
        df = build()
    with tracer.span("write") as w:
        df.write.format("noop").mode("overwrite").save()
    catalyst = counters.catalyst_ms()
    execs = executions_after(spark, last_id)
    store, _ = status_store(spark)
    records = []
    for e in execs:
        # the tracer labels jobs "<span name>#<span id>"
        name, _, sid = (e.description() or "").rpartition("#")
        if not sid.isdigit() or int(sid) not in (b["id"], w["id"]):
            continue
        e = settled(store, e)
        rec = counters._execution(e)
        del rec["description"]
        rec["span"] = name
        rec["duration_s"] = (rec.pop("end_ms") - rec.pop("start_ms")) / 1e3
        rec.update(plan_profile(spark, e, detail))
        records.append(rec)
    walls = {s["name"]: s["end"] - s["start"] for s in (b, w)}
    trial = {"build_s": walls["build"], "write_s": walls["write"],
             "total_s": walls["build"] + walls["write"],
             "driver_s": {s: max(0.0, wall - sum(r["duration_s"] for r in records
                                                 if r["span"] == s))
                          for s, wall in walls.items()},
             "catalyst_ms": catalyst, "spark": aggregate(records),
             "host": host.read(), "executions": records}
    return trial, max([last_id] + [e.executionId() for e in execs])


def profile_query(spark, counters, tracer, name: str, builder, sf_dir: str,
                  trials: int, last_id: int) -> tuple[dict, int]:
    runs = []
    for i in range(trials):
        tracer.op = i
        trial, last_id = run_trial(spark, counters, tracer,
                                   lambda: builder(spark, sf_dir), last_id,
                                   detail=i == trials - 1)
        runs.append({"trial": i, "cold": i == 0, **trial})
    warm = runs[1:]
    return {"query": name, "sf_dir": sf_dir,
            "cores": spark.sparkContext.defaultParallelism,
            "cold": {k: runs[0][k] for k in ("build_s", "write_s", "total_s")},
            "warm": ({k: min(r[k] for r in warm) for k in ("build_s", "write_s", "total_s")}
                     if warm else None),
            "trials": runs}, last_id


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        usage="query_profile.py <round>/<tag> [-n TRIALS] [sf_dir] q1 q2 ...",
        description=__doc__.split("\n")[0])
    p.add_argument("out", metavar="<round>/<tag>")
    p.add_argument("-n", dest="trials", type=int, default=3)
    p.add_argument("args", nargs="+", metavar="[sf_dir] query")
    a = p.parse_args(argv)
    round_, _, tag = a.out.rpartition("/")
    if not round_ or not tag:
        p.error(f"want <round>/<tag> (e.g. r14/base), got {a.out!r}")
    if a.trials < 1:
        p.error("-n must be at least 1")
    if os.path.isdir(a.args[0]):
        sf_dir, names = a.args[0], a.args[1:]
    else:
        sf_dir = os.path.join(os.path.dirname(entry_mod.SF_SMOKE), "sf0.1")
        names = a.args
    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown or not names:
        p.error(f"unknown queries: {unknown}" if unknown else "no query named")

    from pyspark.sql import SparkSession

    from timeseries_data_analysis_spark.session import get_spark

    # in-process callers (tests) profile in their own live session
    spark = SparkSession.getActiveSession() or get_spark("profile")
    out_dir = os.path.join("profiles", round_)
    os.makedirs(out_dir, exist_ok=True)
    qs["pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    counters = SparkCounters(spark)
    tracer = Tracer(spark.sparkContext)
    try:
        last_id = last_execution_id(spark)
        for name in names:
            t0 = time.time()
            prof, last_id = profile_query(spark, counters, tracer, name, qs[name],
                                          sf_dir, a.trials, last_id)
            path = os.path.join(out_dir, f"{name}_{tag}.json")
            with open(path, "w") as f:
                json.dump(prof, f, indent=1)
            ts = [round(r["total_s"], 3) for r in prof["trials"]]
            steals = [round(r["host"]["host.steal_pct"], 1) for r in prof["trials"]]
            print(f"{name}: min={min(ts)} trials={ts} steal%={steals} "
                  f"loadavg={os.getloadavg()[0]:.2f} -> {path} "
                  f"({time.time() - t0:.1f}s)", flush=True)
    finally:
        counters.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

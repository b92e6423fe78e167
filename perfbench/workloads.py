"""The workloads: ``plant_monitor`` and ``batch`` (kiln matrix + corpus pass).

Each workload builds its inputs from the seed (``make_inputs``), loads
them and warms up on checked, untimed executions (``load``, ``warm``),
then runs closed-loop operations (``op``), each returning its named phase
times.  In a traced run ``details`` adds the workload's own per-layer
numbers for the operation just run.
"""

from __future__ import annotations

import concurrent.futures
import datetime as dt
import importlib
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import checks, inputs
from perfbench.probes import aggregate, cpu_s, pct

now = time.perf_counter


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    min_ops = 3  # timed operations per run, even past --seconds

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.row_counts: dict[str, int] = {}

    def make_inputs(self, out_dir: str) -> None:
        raise NotImplementedError

    def load(self, in_dir: str) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def op(self) -> dict[str, float]:
        raise NotImplementedError

    def remaining(self) -> int:
        """Operations the prepared inputs still allow."""
        return 1

    def mark(self) -> None:
        """Called before each traced operation."""

    def named(self, op_ms: list[float], phase_ms: dict[str, list[float]]) -> dict:
        """The workload's end-to-end numbers under the names its users know."""
        raise NotImplementedError

    def details(self, i: int, records: list[dict]) -> dict:
        return {}

    def close(self) -> None:
        pass


ZONE_SCHEMA = T.StructType(
    [T.StructField("DATETIME", T.TimestampType())]
    + [T.StructField(f"ZONE_{z}", T.DoubleType()) for z in range(11)])
ROLLUP_DAYS = 7
KILN_STEPS = ("build_long", "align_fill", "window_features", "derived",
              "labeling", "pivot_join")


class KilnBatch(Workload):
    """One operation builds the kiln feature matrix,
    ``run_pipeline(max_features=500)``, and executes it by a noop write."""

    name = "kiln"

    def make_inputs(self, out_dir):
        n_days = self.ctx.scale["kiln_days"]
        tables = inputs.kiln_tables(self.ctx.seed, n_days)
        self.event = dict(inputs.kiln_fixture.EVENT)
        inputs.write_kiln(tables, out_dir)
        self.row_counts = {k: len(tables[k]) for k in inputs.KILN_SOURCES}

    def load(self, in_dir):
        from timeseries_data_analysis_spark.plans import kiln_pipeline as KP
        self.KP = KP
        self.tables = {n: self.spark.read.parquet(os.path.join(in_dir, f"{n}.parquet"))
                       for n in inputs.KILN_SOURCES}
        if self.ctx.tracer:
            self.ctx.tracer.wrap(KP, "source_series_names", "kiln.series_names")

    def warm(self):
        out, _ = self.KP.run_pipeline(self.spark, self.tables, max_features=500)
        pdf = out.toPandas().sort_values("ts").reset_index(drop=True)
        self.ctx.check("kiln matrix", checks.kiln_problems(
            pdf, self.ctx.scale["kiln_days"], self.event))
        self.ctx.check_digest(checks.frame_digest(pdf))
        self.row_counts["matrix_rows"] = len(pdf)
        self.row_counts["matrix_columns"] = len(pdf.columns)

    def op(self):
        with self.ctx.span("kiln"):
            t0 = now()
            out, self.step_metrics = self.KP.run_pipeline(
                self.spark, self.tables, max_features=500)
            t1 = now()
            noop_write(out)
            t2 = now()
        if self.ctx.counters:
            self.catalyst = self.ctx.counters.catalyst_ms()
        n_cols = len(out.columns)
        self.ctx.check("kiln matrix", [] if n_cols == checks.KILN_COLUMNS else
                       [f"columns {n_cols} != {checks.KILN_COLUMNS}"])
        self.phases = (t1 - t0, t2 - t1)
        return {"build": t1 - t0, "execute": t2 - t1}

    def named(self, op_ms, phase_ms):
        return {"kiln_wall_s": pct(op_ms, 0.5) / 1e3,
                "kiln_plan_build_p50_ms": pct(phase_ms["build"], 0.5),
                "kiln_execute_p50_ms": pct(phase_ms["execute"], 0.5)}

    def details(self, i, records):
        ctx, tr = self.ctx, self.ctx.tracer
        build, execute = self.phases
        d = {"kiln.plan_build_s": build, "kiln.execute_s": execute,
             "kiln.series_names_s": sum(tr.durations(i, "kiln.series_names"))}
        for step in KILN_STEPS:
            d[f"kiln.stage.{step}_s"] = self.step_metrics[step]
        for phase, ms in self.catalyst.items():
            d[f"kiln.catalyst.{phase}_ms"] = ms
        kiln = aggregate([r for r in records if ctx.under(r, "kiln")])
        for k in ("sql_executions", "jobs", "tasks", "task_run_s", "task_cpu_s",
                  "longest_stage_s", "gc_s", "non_codegen_ops"):
            d[f"kiln.{k}"] = kiln[f"spark.{k}"]
        d["kiln.shuffle_write_bytes"] = kiln["spark.shuffle_write_mb"] * 2**20
        d["kiln.spill_bytes"] = kiln["spark.spill_mb"] * 2**20
        d["kiln.core_busy_frac"] = kiln["spark.task_run_s"] / max(1e-9, execute * ctx.cores)
        return d


class PlantMonitor(Workload):
    """One operation is one tick of the plant dashboard.

    The next simulated day of zone data lands as a parquet file in a
    directory that a long-running Structured Streaming query ingests into
    a day-partitioned rollup (``ingest``); every serving view and the
    7-day rollup are then read back to the driver (``read``).
    """

    name = "plant_monitor"
    min_ops = 6
    query = None  # the streaming query, once started

    def make_inputs(self, out_dir):
        sc = self.ctx.scale
        hist_days, n_land = sc["history_days"], sc["landing_days"]
        # one draw, so that the landing days continue the history
        tables = inputs.kiln_tables(self.ctx.seed, hist_days + n_land)
        cut = inputs.kiln_fixture.START + pd.Timedelta(days=hist_days)
        os.makedirs(out_dir, exist_ok=True)
        zone = tables["zone_temperature"]
        history = {n: tables[n] for n in inputs.KILN_SOURCES}
        for name, col in (("mis_report", "DATE"), ("shell_temperature", "DATE"),
                          ("air_calibration", "DATE"), ("qrt_temperature", "DATETIME"),
                          ("zone_temperature", "DATETIME")):
            history[name] = tables[name][tables[name][col] < cut]
        inputs.write_kiln(history, out_dir)
        landing = zone[zone["DATETIME"] >= cut]
        self.days = [g for _, g in landing.groupby(landing["DATETIME"].dt.date)]
        long = inputs.zone_long(zone)
        stats = long.groupby([long["ts"].dt.date, "series"])["value"].agg(["count", "mean"])
        self.expected = {k: (int(r["count"]), float(r["mean"])) for k, r in stats.iterrows()}
        self.first_day = cut.date()
        self.row_counts = {f"history.{k}": len(v) for k, v in history.items()}
        self.row_counts.update(landing_days=len(self.days),
                               zone_rows_per_day=len(self.days[0]),
                               zones=zone.shape[1] - 1)

    def load(self, in_dir):
        from timeseries_data_analysis_spark.operators import pivot as PV
        from timeseries_data_analysis_spark.plans import incremental as INC
        from timeseries_data_analysis_spark.plans import serving
        from timeseries_data_analysis_spark.streaming import jobs as SJ
        self.PV, self.INC, self.serving = PV, INC, serving
        spark = self.spark
        for name in ("mis_report", "shell_temperature", "accretion_events"):
            spark.read.parquet(os.path.join(in_dir, f"{name}.parquet")) \
                .createOrReplaceTempView(name)
        self.zone_history = spark.read.parquet(os.path.join(in_dir, "zone_temperature.parquet"))
        self.landing = os.path.join(in_dir, "landing")
        self.staging = os.path.join(in_dir, "staging")
        self.rollup = os.path.join(in_dir, "rollup")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self._zone_view()
        serving.register_views(spark)
        INC.incremental_refresh(spark, self.rollup, self._long(self.zone_history),
                                ["series"])
        self.refresh_s: list[float] = []
        stream = SJ.stream_source(spark, self.landing, ZONE_SCHEMA)
        self.query = SJ.run_with_foreach_batch(
            stream, self._ingest, trigger_available_now=False,
            checkpoint=os.path.join(in_dir, "checkpoint"))
        self.next_day = 0

    def _long(self, wide):
        return self.PV.melt(wide, ["DATETIME"]).withColumnRenamed("DATETIME", "ts")

    def _zone_view(self):
        """The serving views' zone data: history plus every landed day."""
        landed = self.spark.read.schema(ZONE_SCHEMA).parquet(self.landing)
        zone = self.zone_history.unionByName(landed)
        self._long(zone).createOrReplaceTempView("zone_temperature_long")

    def _ingest(self, batch_df, batch_id):
        t0 = now()
        self.INC.incremental_refresh(batch_df.sparkSession, self.rollup,
                                     self._long(batch_df), ["series"])
        self.refresh_s.append(now() - t0)

    def warm(self):
        for _ in range(self.ctx.scale["warm_ticks"]):
            self.op()

    def remaining(self):
        return len(self.days) - self.next_day

    def _land(self) -> int:
        day = self.days[self.next_day]
        self.next_day += 1
        name = f"day-{self.next_day:04d}.parquet"
        staged = os.path.join(self.staging, name)
        inputs.write_parquet(day, staged)
        size = os.path.getsize(staged)
        os.replace(staged, os.path.join(self.landing, name))
        return size

    def op(self):
        """Land a day, ingest it, read every view."""
        ctx, spark = self.ctx, self.spark
        with ctx.span("plant.ingest"):
            t0 = now()
            self.landed_bytes = self._land()
            self.query.processAllAvailable()
            t1 = now()
        with ctx.span("plant.read"):
            self._zone_view()
            got = {}
            for view in self.serving.VIEWS:
                with ctx.span(f"monitor.read.{view}"):
                    got[view] = spark.sql(f"SELECT * FROM {view}").collect()
            last = self.first_day + dt.timedelta(days=self.next_day - 1)
            lo = last - dt.timedelta(days=ROLLUP_DAYS - 1)
            with ctx.span("monitor.read.rollup"):
                rollup = self.INC.finalize(
                    spark.read.parquet(self.rollup).filter(F.col("day") >= F.lit(lo))
                ).collect()
            t2 = now()
        expected = {k: v for k, v in self.expected.items() if lo <= k[0] <= last}
        ctx.check(f"day {self.next_day} reads", checks.monitor_problems(
            got["v_accretion_status"], rollup, expected))
        return {"ingest": t1 - t0, "read": t2 - t1}

    def named(self, op_ms, phase_ms):
        return {"refresh_p50_ms": pct(op_ms, 0.5), "refresh_p75_ms": pct(op_ms, 0.75),
                "ingest_p50_ms": pct(phase_ms["ingest"], 0.5),
                "read_p50_ms": pct(phase_ms["read"], 0.5)}

    def mark(self):
        """Snapshot of rollup files and streaming progress before a traced tick."""
        self._files = _files(self.rollup)
        self._progress = len(self.query.recentProgress)

    def details(self, i, records):
        ctx, tr = self.ctx, self.ctx.tracer
        d = {}
        for view in list(self.serving.VIEWS) + ["rollup"]:
            d[f"monitor.read.{view}_ms"] = 1e3 * sum(tr.durations(i, f"monitor.read.{view}"))
        d["monitor.read.catalyst_ms"] = sum(ctx.counters.catalyst_ms().values())
        d["monitor.read.sql_executions"] = sum(
            1 for r in records if ctx.under(r, "plant.read"))
        d["monitor.ingest.sql_executions"] = sum(
            1 for r in records if not r["description"] or "#" not in r["description"])
        progress = [p for p in self.query.recentProgress[self._progress:]
                    if p["numInputRows"] > 0]
        for k, src in (("trigger", "triggerExecution"), ("add_batch", "addBatch"),
                       ("query_planning", "queryPlanning"), ("wal_commit", "walCommit")):
            d[f"monitor.ingest.{k}_ms"] = float(sum(p["durationMs"].get(src, 0)
                                                    for p in progress))
        d["monitor.ingest.refresh_ms"] = 1e3 * self.refresh_s[-1]
        changed = {p: s for p, s in _files(self.rollup).items() if self._files.get(p) != s}
        d["monitor.ingest.partitions_rewritten"] = len({os.path.dirname(p) for p in changed})
        d["monitor.ingest.write_amp"] = sum(s[0] for s in changed.values()) / self.landed_bytes
        return d

    def close(self):
        if self.query is not None:
            self.query.stop()


def _files(root: str) -> dict[str, tuple[int, int]]:
    """Data files under ``root`` → (size, mtime_ns)."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, n))
                out[os.path.join(dirpath, n)] = (st.st_size, st.st_mtime_ns)
    return out


CORPUS_TABLES = ["documents", "embeddings", "orders", "lineitem"]
# a copy of the repository's fixed seed-42 test corpus at sf0.001
# (TESTDATA.md), the scale its smoke tests use; the benchmark's seed only
# orders the queries within each pass
CORPUS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus_sf0.001")
# operator calls wrapped through their module attributes in a traced run
CORPUS_OPERATORS = (
    ("operators.graph", "dedup_clusters", "graph.dedup_clusters"),
    ("operators.dedup", "simhash_hamming_pairs", "dedup.simhash_hamming_pairs"),
    ("ml.als", "als_rankk_exact_fit", "als.rankk_exact_fit"),
)


class CorpusIterative(Workload):
    """One operation is a pass over the registry's iterative queries in a
    seeded order, each builder call followed by a noop write."""

    name = "corpus"
    oracle = None  # the DuckDB connection, once opened

    def make_inputs(self, out_dir):
        import pyarrow.parquet as pq
        self.row_counts = {t: pq.read_metadata(os.path.join(CORPUS_DIR, f"{t}.parquet")).num_rows
                           for t in CORPUS_TABLES}

    def load(self, in_dir):
        import __spark_entry__ as entry
        self.dir = CORPUS_DIR
        self.queries = self.ctx.scale["corpus_queries"]
        registry = entry.queries()
        self.builders = {q: registry[q] for q in self.queries}
        self.oracle = checks.OracleChecker(self.dir, CORPUS_TABLES, entry.oracle_sql(),
                                            self.ctx.out_dir)
        self.rng = np.random.default_rng(self.ctx.seed)
        self.graph = importlib.import_module("timeseries_data_analysis_spark.operators.graph")
        if self.ctx.tracer:
            for mod, attr, span in CORPUS_OPERATORS:
                module = importlib.import_module(f"timeseries_data_analysis_spark.{mod}")
                annotate = self._cc_rounds if attr == "dedup_clusters" else None
                self.ctx.tracer.wrap(module, attr, span, annotate)

    def _cc_rounds(self, rec):
        # round count of the connected-components run just finished
        rec["cc_rounds"] = getattr(self.graph, "LAST_CC_ROUNDS", None)

    def warm(self):
        for q in self.queries:
            pdf = self.builders[q](self.spark, self.dir).toPandas()
            self.ctx.check(f"oracle {q}", self.oracle.problems(q, pdf))

    def op(self):
        build = write = 0.0
        for q in self.rng.permutation(self.queries):
            with self.ctx.span(f"corpus.{q}"):
                with self.ctx.span(f"corpus.{q}.build"):
                    t0 = now()
                    df = self.builders[q](self.spark, self.dir)
                    t1 = now()
                with self.ctx.span(f"corpus.{q}.write"):
                    noop_write(df)
                    t2 = now()
            build += t1 - t0
            write += t2 - t1
        return {"build": build, "write": write}

    def named(self, op_ms, phase_ms):
        return {"corpus_pass_s": pct(op_ms, 0.5) / 1e3,
                "corpus_build_p50_ms": pct(phase_ms["build"], 0.5),
                "corpus_write_p50_ms": pct(phase_ms["write"], 0.5)}

    def details(self, i, records):
        tr = self.ctx.tracer
        d = {}
        for q in self.queries:
            d[f"corpus.{q}.build_s"] = sum(tr.durations(i, f"corpus.{q}.build"))
            d[f"corpus.{q}.write_s"] = sum(tr.durations(i, f"corpus.{q}.write"))
            mine = [r for r in records if self.ctx.under(r, f"corpus.{q}")]
            d[f"corpus.{q}.sql_executions"] = len(mine)
            d[f"corpus.{q}.shuffle_write_bytes"] = sum(
                r["shuffle_write_bytes"] for r in mine)
        for _, _, span in CORPUS_OPERATORS:
            d[f"{span}_s"] = sum(tr.durations(i, span))
        rounds = [s["cc_rounds"] for s in tr.spans
                  if s["op"] == i and s.get("cc_rounds") is not None]
        if rounds:
            d["graph.cc_rounds"] = float(np.mean(rounds))
        return d

    def close(self):
        if self.oracle is not None:
            self.oracle.close()


class Batch(Workload):
    """One operation is the plant's batch analytics: the kiln feature
    matrix (``KilnBatch``), then one pass of the iterative corpus queries
    (``CorpusIterative``)."""

    name = "batch"
    min_ops = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = (KilnBatch(ctx), CorpusIterative(ctx))
        self.part_cpu_s: dict[str, list[float]] = {p.name: [] for p in self.parts}

    def make_inputs(self, out_dir):
        for part in self.parts:
            part.make_inputs(out_dir)
            self.row_counts.update(part.row_counts)

    def load(self, in_dir):
        for part in self.parts:
            part.load(in_dir)

    def warm(self):
        # the parts' cold first executions overlap
        with concurrent.futures.ThreadPoolExecutor(len(self.parts)) as pool:
            for f in [pool.submit(part.warm) for part in self.parts]:
                f.result()
        for part in self.parts:
            self.row_counts.update(part.row_counts)

    def op(self):
        got = {}
        for part in self.parts:
            c0 = cpu_s(self.ctx.jvm_pid)
            got.update({f"{part.name}.{k}": v for k, v in part.op().items()})
            self.part_cpu_s[part.name].append(cpu_s(self.ctx.jvm_pid) - c0)
        return got

    def named(self, op_ms, phase_ms):
        d = {f"{name}_cpu_s": min(v) for name, v in self.part_cpu_s.items()}
        for part in self.parts:
            mine = {k.partition(".")[2]: v for k, v in phase_ms.items()
                    if k.startswith(part.name + ".")}
            d.update(part.named([sum(t) for t in zip(*mine.values())], mine))
        return d

    def details(self, i, records):
        return {k: v for part in self.parts for k, v in part.details(i, records).items()}

    def close(self):
        for part in self.parts:
            part.close()


WORKLOADS = {w.name: w for w in (Batch, PlantMonitor)}

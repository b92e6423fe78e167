"""The reference's full preprocessing pipeline as ONE lazy Spark plan.

Reference: ``SimpleKilnDataPreprocessor.process``
(``simple_pre_processing.py:780-1101``) and the heavy variant
(``pre_processing.py:1741-2020``) — 11 eager pandas stages, each
materializing the full frame. Here the whole pipeline is a lazy DataFrame
lineage: Catalyst fuses the per-stage projections, and the physical plan
has ~3 structural shuffles total (source hourly aggs, the series-keyed
spine join + window exchange, the ts-keyed exchange of the final pivot)
regardless of feature count — ratios and labels join by BROADCAST, and
everything after the pivot is one fused projection.

Architecture (SURVEY.md §1.4 / §4):
- **Long layout through the window stages.** The reference pivots
  everything wide (~500 cols) then runs per-column kernels; here sensor
  data stays ``(ts, series, value)`` so ONE window spec
  ``partitionBy(series).orderBy(ts)`` serves every series — the sort
  parallelizes per-series across the cluster, and adding features adds
  zero shuffles.
- The wide pivot happens ONCE at the end (ML/serving boundary), as a
  narrow per-ts aggregate into a ``series -> features`` map that the
  final projection indexes. Spark's native ``pivot()`` would build
  ~900-field aggregates that run outside whole-stage codegen and
  regenerate their projection code in every task.
- Event labeling is a broadcast range join (J3), not a per-event loop.

Stages (reference stage numbers from SURVEY.md §3.1):
  1  load + dup-collapse        [A1]
  2  per-source hourly align    [R1-R3, A2, A3, J1]
  3  impute (ffill→bfill→0)     [R4; KNN substituted per SURVEY §2.10]
  4  lag features               [W1]
  5  rolling stats              [W2, W3, W5]
  6  differentials + cooling    [W8, W9, W10, W12]
  7  anomaly detection          [W11]
  8  material ratios            [P10]
  9  composite risk indicators  [A5, P9]
  10 target labeling            [J3]
  11 wide pivot + prune         [A2, P1/P2]
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import timeseries as TS
from ..operators import windows as WIN
from ..operators import intervals as IV
from ..operators import pivot as PV
from ..functions.math_fns import safe_div

# mis columns used for material-ratio features (reference
# simple_pre_processing.py:937-969 computes all-pairs safe divisions
# over the consumption columns)
RATIO_COLS = [
    "PELLETS_CONSUMPTION", "IRON ORE CONSUMPTION",
    "HG_COAL_CONSUMPTION", "SA_COAL_CONSUMPTION",
    "GROSS COAL CONSUMPTION", "DOLO_CONSUMPTION",
]
MIS_KEEP = RATIO_COLS + [
    "PRODUCTION ACTUAL", "PRODUCTION PLAN", "PROD_LOSS", "POWER",
    "KILN_AVAILABILITY", "COAL_PER_TDRI",
]


def build_long_sensor_table(tables: dict[str, DataFrame]) -> DataFrame:
    """Stages 1-2 for the sensor feeds → one long (ts, series, value) table.

    Each source melts/aggregates to hourly grain with a source-prefixed
    series name (reference bolts 'zone_'/'qrt_'/'air_'/'shell_' prefixes at
    align time, pre_processing.py:210-231). Union of longs — no wide frame.
    """
    # Aggregate the WIDE frame to hourly grain FIRST, melt after: the
    # 2-min zone feed is ~30 rows/hour/zone, so melt-then-agg pushes 30×
    # the rows through the Expand + (ts, series) hash agg that agg-then-
    # melt avoids — at 100 TB the Expand fan-out is the dominant scan
    # cost. avg-of-column == avg-of-melted-rows per (hour, zone) exactly.
    zone = tables["zone_temperature"]
    zone_cols = [c for c in zone.columns if c != "DATETIME"]
    zone_wide_hourly = (zone.groupBy(
        F.date_trunc("hour", "DATETIME").alias("ts"))
        .agg(*[F.avg(c).alias(c) for c in zone_cols]))
    zone_hourly = (PV.melt(zone_wide_hourly, ["ts"],
                           key_name="series", value_name="value")
                   .select("ts",
                           F.concat(F.lit("zone_"), F.col("series"))
                           .alias("series"), "value"))

    qrt = tables["qrt_temperature"]
    qrt_hourly = (qrt.groupBy(F.date_trunc("hour", "DATETIME").alias("ts"),
                              F.concat(F.lit("qrt_ZONE_"), F.col("ZONE")).alias("series"))
                  .agg(F.avg("TEMPERATURE").alias("value")))

    shell = tables["shell_temperature"]
    shell_hourly = (shell.groupBy(F.date_trunc("hour", "DATE").alias("ts"),
                                  F.concat(F.lit("shell_"), F.col("POSITION")).alias("series"))
                    .agg(F.avg("SHELL_TEMP_AVG").alias("value")))

    air = tables["air_calibration"]
    air_long = PV.melt(air, ["DATE", "FAN"], ["DAMPER", "VELOCITY", "AIR_FLOW"],
                       key_name="metric", value_name="value")
    air_hourly = (air_long.groupBy(
        F.date_trunc("hour", "DATE").alias("ts"),
        F.concat(F.lit("air_"), F.col("FAN"), F.lit("_"), F.col("metric")).alias("series"))
        .agg(F.avg("value").alias("value")))

    return (zone_hourly.unionByName(qrt_hourly)
            .unionByName(shell_hourly).unionByName(air_hourly))


def align_and_fill(sensor_long: DataFrame) -> DataFrame:
    """Stages 2-3: per-series hourly spine + interpolate/ffill/bfill/0 chain.

    Daily sources (shell/air) forward-fill across the day's 24 slots;
    2-hourly qrt linearly interpolates; zone is already hourly. One spine
    join + one window pass per direction — identical cost for 40 series or
    40 million.
    """
    spine = TS.spine_for(sensor_long, "ts", keys=["series"])
    # Both sides explicitly hash-partitioned by series ALONE before the
    # (ts, series) equi-join: identical subset-key partitionings satisfy
    # the join's clustered distribution (co-partitioning on a key subset),
    # so the join adds NO exchange and every downstream per-series window
    # reuses the same distribution. Partition COUNT comes from
    # spark.sql.shuffle.partitions (workload-sized by the caller: 8 for
    # the reference-scale bench, thousands on a 100 TB cluster) — a pinned
    # defaultParallelism count forced 32-way shuffles of few-MB data.
    # shuffle-hash, NOT broadcast: both sides are fact-sized.
    # Explicit partition COUNT (not just key): repartition-by-num is an
    # AQE-stable origin, so the window stages downstream keep full-core
    # parallelism even when the byte volume is small — AQE's size-based
    # coalescing otherwise folds these CPU-heavy sort+window stages onto
    # a handful of tasks (measured: the whole per-series feature pass on
    # 8 of 32 cores). Count = defaultParallelism, the cluster's core
    # budget; per-series rows are modest so skew is bounded by series
    # cardinality.
    par = sensor_long.sparkSession.sparkContext.defaultParallelism
    joined = spine.repartition(par, "series").join(
        sensor_long.repartition(par, "series").hint("shuffle_hash"),
        ["ts", "series"], "left")
    interp = TS.interpolate_linear("value", "ts", ["series"])
    filled = F.coalesce(
        interp,
        TS.ffill("value", ["series"], ["ts"]),
        TS.bfill("value", ["series"], ["ts"]),
        F.lit(0.0),
    )
    return joined.select("ts", "series", filled.alias("value"))


def window_features(aligned: DataFrame) -> DataFrame:
    """Stages 4-7: every per-series window feature in ONE Window spec.

    All features share partitionBy(series).orderBy(ts) — Catalyst plans a
    single sort+Window operator; the reference runs 6 separate numba/pandas
    passes (lag, rolling, diff, cooling, anomaly, zscore) over ~500 columns.
    """
    w = WIN.series_window("series", ["ts"])
    lags = WIN.lag_features("value", w, [1, 6, 24])
    anom = WIN.anomaly_features("value", w, window=24, n_sigma=2.0)
    return aligned.select(
        "ts", "series", "value",
        *[v.alias(k) for k, v in lags.items()],
        WIN.rolling_mean("value", w, 24, min_periods=6).alias("roll_mean_24"),
        WIN.rolling_std("value", w, 24, min_periods=6, sample=True).alias("roll_std_24"),
        WIN.rolling_mean("value", w, 72, min_periods=18).alias("roll_mean_72"),
        WIN.diff("value", w, 1).alias("diff_1"),
        WIN.pct_change("value", w, 3).alias("pct_change_3"),
        WIN.consecutive_run_flag("value", w, 3, "down").alias("cooling_flag"),
        anom["value_anomaly_flag"].alias("anomaly_flag"),
        anom["value_drop_magnitude"].alias("drop_magnitude"),
        WIN.rolling_zscore("value", w, 24, min_periods=6).alias("zscore_24"),
    )


def material_ratios(mis: DataFrame) -> DataFrame:
    """Stage 8: all-pairs safe-division ratios over consumption columns
    (reference simple_pre_processing.py:937-969) + derived efficiency."""
    mis_h = mis.select(F.date_trunc("hour", "DATE").alias("day_ts"),
                       *[F.col(c) for c in MIS_KEEP])
    out_cols = [F.col("day_ts")]
    for i, a in enumerate(RATIO_COLS):
        for b in RATIO_COLS[i + 1:]:
            name = f"ratio_{a}_{b}".replace(" ", "_")
            out_cols.append(safe_div(F.col(a), F.col(b)).alias(name))
    out_cols.append(safe_div(F.col("PRODUCTION ACTUAL"),
                             F.col("PRODUCTION PLAN")).alias("plan_attainment"))
    out_cols.append(safe_div(F.col("GROSS COAL CONSUMPTION"),
                             F.col("PRODUCTION ACTUAL")).alias("coal_per_t"))
    return mis_h.select(*out_cols)


def source_series_names(tables: dict[str, DataFrame]) -> list[str]:
    """The long table's series universe, from the raw sources directly.

    Mirrors build_long_sensor_table's naming: zone series are the wide
    table's columns (schema-only), air metrics are a static triple, and
    the qrt/shell/air key dims are single-column distincts — column-pruned
    parquet scans over the SMALL key columns, never the feature plan.
    """
    names = [f"zone_{c}" for c in tables["zone_temperature"].columns
             if c != "DATETIME"]
    # ONE fused key-discovery job (union of three column-pruned distinct
    # scans), not three sequential collects — one driver round-trip.
    key_rows = (
        tables["qrt_temperature"]
        .select(F.lit("qrt").alias("src"),
                F.col("ZONE").cast("string").alias("k")).distinct()
        .unionByName(
            tables["shell_temperature"]
            .select(F.lit("shell").alias("src"),
                    F.col("POSITION").cast("string").alias("k")).distinct())
        .unionByName(
            tables["air_calibration"]
            .select(F.lit("air").alias("src"),
                    F.col("FAN").cast("string").alias("k")).distinct())
        .collect())
    names += [f"qrt_ZONE_{r['k']}" for r in key_rows if r["src"] == "qrt"]
    names += [f"shell_{r['k']}" for r in key_rows if r["src"] == "shell"]
    names += [f"air_{r['k']}_{m}" for r in key_rows if r["src"] == "air"
              for m in ("DAMPER", "VELOCITY", "AIR_FLOW")]
    return sorted(names)


def _sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_string(text: str) -> str:
    """``text`` as a single-quoted SQL string literal (backslash is the
    escape character in Spark SQL literals)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def reduce_dimension_priority(columns: list[str],
                              max_features: int = 500) -> list[str]:
    """P2: the reference's TIERED priority dimension reduction
    (``pre_processing.py:1564-1739``), faithfully — not a prefix list.

    Pure driver-side schema logic (the 100 TB cost is the ``select`` that
    consumes the result, which Catalyst turns into scan pruning). Tier
    definitions and their caps mirror the reference exactly:

    1. critical (always kept): ``target_*``, ``days_to_*``, the five
       ``accretion_*`` score/level columns           (ref :1585-1592)
    2. accretion indicators: accretion/quality_shift/coal-baseline/
       temp_drop/cooling_pattern/divergence/spread_zscore/
       zones_with_drops matchers                     (ref :1595-1604)
    3. temperature drops: ``_drop_pct``/``_consec_drops``/``cooling_``,
       cap 30                                        (ref :1607-1610)
    4. raw temperature: ``ZONE_``/``shell_`` sans derived suffixes,
       cap 20                                        (ref :1613-1615)
    5. derived temperature: ``diff_``/``gradient_``/``roc_`` ∩ ZONE_,
       cap 30                                        (ref :1618-1619)
    6. operational: COAL + DRI/LUMPS/PELLETS/FINES + 20 more ``mis_``
                                                     (ref :1622-1633)
    7. ratios: ``ratio_``/efficiency, cap 30         (ref :1636-1638)
    8. lags: 5 per important base + 50 extra         (ref :1641-1652)
    9. rolling: 5 per important base + 50 extra      (ref :1655-1663)
    10. anomaly flags: ``*_anomaly``, cap 50         (ref :1666)

    Overflow fills in the reference's refill order: critical →
    indicators → drops → operational → temp+derived+ratio → anomaly →
    lag+roll (ref :1674-1717), dropping duplicates, preserving order.
    """
    if len(columns) <= max_features:
        return list(columns)

    # critical = the reference's always-keep matcher (ref :1585-1592) plus
    # THIS engine's label names (IV.label_events emits accretion_forming/
    # accretion_critical/pre_critical_*h where the reference used target_*
    # — labels are critical by definition, whatever they are called).
    critical = [c for c in columns if
                c.startswith("target_") or c.startswith("days_to_") or
                c.startswith("pre_critical_") or
                c in ("accretion_forming", "accretion_critical",
                      "accretion_zone", "accretion_warning_level",
                      "accretion_early_warning_score",
                      "accretion_indicator_score",
                      "accretion_early_warning_count")]
    indicators = [c for c in columns if
                  "accretion" in c.lower() or "quality_shift" in c or
                  "coal_consumption_vs_baseline" in c or
                  "high_coal_consumption" in c or "temp_drop" in c or
                  "cooling_pattern" in c or "unusual_temp_divergence" in c or
                  "spread_zscore" in c or "zones_with_drops" in c]
    temp_drops = [c for c in columns if
                  "_drop_pct" in c or "_consec_drops" in c or
                  "cooling_" in c][:30]
    # raw temperatures = base sensor columns only: every derived family
    # (lag/roll/flag/diff/...) has its own tier below (ref :1613-1615)
    _derived_tags = ("_lag_", "_roll_", "_zscore_", "_cooling_",
                     "_drop_", "_anomaly")
    temps_all = [c for c in columns if
                 ("ZONE_" in c or "shell_" in c)
                 and not any(t in c for t in _derived_tags)
                 and not c.startswith(("diff_", "gradient_", "roc_"))]
    temps = temps_all[:20]
    derived_temps = [c for c in columns if
                     (c.startswith("diff_") or c.startswith("gradient_")
                      or c.startswith("roc_")) and "ZONE_" in c][:30]
    coal = [c for c in columns if "COAL" in c or "coal" in c]
    quality = [c for c in columns if "DRI" in c or "LUMPS" in c
               or "PELLETS" in c or "FINES" in c]
    ops = coal + [c for c in quality if c not in coal]
    ops += [c for c in columns if c.startswith("mis_") and c not in ops][:20]
    ratios = [c for c in columns if
              c.startswith("ratio_") or "efficiency" in c
              or c in ("plan_attainment", "coal_per_t")][:30]

    important_bases = coal + quality + temp_drops + temps[:5]
    lags: list[str] = []
    for base in important_bases:
        lags.extend([c for c in columns
                     if "_lag_" in c and base in c and c not in lags][:5])
    lags.extend([c for c in columns if "_lag_" in c and c not in lags][:50])
    rolls: list[str] = []
    for base in important_bases:
        rolls.extend([c for c in columns
                      if ("_roll_" in c or "_ma" in c) and base in c
                      and c not in rolls][:5])
    rolls.extend([c for c in columns
                  if ("_roll_" in c or "_ma" in c) and c not in rolls][:50])
    anomalies = [c for c in columns if c.endswith("_anomaly")][:50]

    # Selection = the reference's refill order (ref :1674-1717): critical
    # -> indicators -> capped drop tier -> operational -> temps/derived/
    # ratios -> anomalies -> lag+roll, then a catch-all. The capped tier
    # slices ([:30] etc.) bound their PRIMARY claim; once a family's turn
    # comes in refill, its UNCAPPED list fills remaining room so the
    # matrix keeps whole families before lower-priority ones start.
    derived_all = [c for c in columns if
                   c.startswith(("diff_", "gradient_", "roc_"))]
    ratios_all = [c for c in columns if
                  c.startswith("ratio_") or "efficiency" in c
                  or c in ("plan_attainment", "coal_per_t")]
    anomalies_all = [c for c in columns if c.endswith("_anomaly")]
    # lag/roll keep their reference caps (5 per important base + 50
    # extra EACH, ref :1641-1663) even in refill — otherwise the larger
    # lag family exhausts the budget before any rolling column enters
    final = list(dict.fromkeys(critical))
    for tier in (indicators, temp_drops, ops,
                 temps_all + derived_all + ratios_all, anomalies_all,
                 lags + rolls, columns):
        room = max_features - len(final)
        if room <= 0:
            break
        final.extend([c for c in tier if c not in final][:room])
    return final[:max_features]


def run_pipeline(spark: SparkSession, tables: dict[str, DataFrame],
                 max_features: int = 500,
                 tracker=None) -> tuple[DataFrame, dict]:
    """Full pipeline → (hourly wide feature matrix, step metrics).

    Step metrics mirror the reference's performance_metrics.json (S5,
    ``pre_processing.py:2004-2017``) but time PLAN CONSTRUCTION only —
    execution is lazy; call an action on the result to run it.

    Pass an ``ml.tracking`` Run as ``tracker`` to persist the step
    metrics + config per run (the reference's MLflow-parity path).
    """
    metrics: dict[str, float] = {}
    t0 = time.time()

    sensor_long = build_long_sensor_table(tables)
    metrics["build_long"] = time.time() - t0

    t = time.time()
    aligned = align_and_fill(sensor_long)
    metrics["align_fill"] = time.time() - t

    t = time.time()
    feat = window_features(aligned)
    metrics["window_features"] = time.time() - t

    t = time.time()
    ratios = material_ratios(tables["mis_report"])
    metrics["derived"] = time.time() - t

    # Stage 11: wide pivot at the ML boundary. Since the matrix now
    # carries the flag columns, the risk indicators (stage 9) are
    # POST-pivot row arithmetic — `feat` has exactly ONE consumer, the
    # plan is a single linear pass, and the round-2 persist + cache-fill
    # job (needed when risk and pivot both consumed `feat`) is gone.
    # Pivot column names come from the RAW sources (one fused key job):
    # deriving them from `feat` would execute the window pipeline eagerly
    # just to learn the schema.
    t = time.time()
    series_names = source_series_names(tables)
    # Stages 4-7 REACH THE MATRIX: melt every per-series window feature
    # into the series dimension so the wide output carries the
    # reference's lag/rolling/flag columns (its stages 4-5 exist to ADD
    # these ~10 columns per sensor to the training matrix,
    # pre_processing.py:705-1010) — and the P2 tiered 500-column cap
    # then engages exactly as in the reference. Naming follows the
    # tier matchers: suffix families (_lag_k, _roll_k, _anomaly,
    # _cooling_flag) and prefix families (diff_1_*, roc_3_*).
    feat_cols = [
        ("suffix", "", "value"),
        ("suffix", "_lag_1", "value_lag_1"), ("suffix", "_lag_6", "value_lag_6"),
        ("suffix", "_lag_24", "value_lag_24"),
        ("suffix", "_roll_24", "roll_mean_24"),
        ("suffix", "_roll_std_24", "roll_std_24"),
        ("suffix", "_roll_72", "roll_mean_72"),
        ("suffix", "_cooling_flag", "cooling_flag"),
        ("suffix", "_anomaly", "anomaly_flag"),
        ("suffix", "_drop_magnitude", "drop_magnitude"),
        ("suffix", "_zscore_24", "zscore_24"),
        ("prefix", "diff_1_", "diff_1"),
        ("prefix", "roc_3_", "pct_change_3"),
    ]
    # The pivot is ONE narrow aggregate: each ts group collects its
    # (series -> struct of the 13 features) entries into a map, and the
    # fused projection below reads element_at(_m, '<series>').<feature>.
    # Spark's native pivot() built aggregates and a rename projection
    # ~900 fields wide; past spark.sql.codegen.maxFields (100) they run
    # outside whole-stage codegen, and every task regenerated their
    # projection code. That cost grew with the task count, not the data:
    # the pivot stage of a 21-day matrix (504 rows) took 1.06 / 2.48 /
    # 5.56 CPU-s at 1 / 4 / 8 tasks, and 0.57 / 0.68 / 0.94 as this map
    # aggregate (warm runs, 4-vCPU VM).
    # Keys are unique by construction: `feat` comes from the spine LEFT
    # JOIN of per-(ts, series) aggregates, so each (ts, series) occurs
    # once. A duplicate would make map_from_entries fail loudly (its
    # default key-dedup policy is EXCEPTION) rather than silently pick
    # one, as first() did. A (ts, series) with no row reads as null, as
    # PivotFirst gave. A map lookup scans the keys linearly, so each
    # read costs O(series count): 69 series here, ~900 reads per row.
    # element_at, not the `_m['<series>']` subscript: the subscript is an
    # ExtractValue, and ColumnPruning's nested-field aliasing compares
    # every pair of the ~900 extractions rooted at `_m` — measured
    # 350 ms of optimizer time per plan against 12 ms with element_at.
    # The explicit repartition-by-num on ts keeps the tail's task count
    # at the core budget whatever AQE and shuffle.partitions say (AQE's
    # size-based coalescing once serialized the wide pivot onto ONE
    # task); hashpartitioning(ts) satisfies the ts aggregate, so no
    # further exchange follows.
    par = spark.sparkContext.defaultParallelism
    piv = (feat.repartition(par, "ts").groupBy("ts")
           .agg(F.map_from_entries(F.collect_list(F.struct(
               "series", F.struct(*[src for _, _, src in feat_cols]))))
               .alias("_m")))
    # EVERYTHING downstream of the map aggregate is pure per-row
    # arithmetic, so it all lands in ONE fused projection (built below as
    # an expression map): the ~960 feature reads, the adjacent-zone
    # differentials (plain column subtraction on the wide row — replacing
    # the round-1 lead-window + second pivot + join, 3 exchanges), and
    # the stage-9 composite risk indicators (row-wise HOF arithmetic).
    # Fusing matters twice: Catalyst ANALYSIS of a ~1000-column frame
    # costs ~1 s per select() on the driver (four chained selects were
    # ~4 s of pure plan time), and one projection needs no
    # CollapseProject work at optimize time.
    # The fused projection is built as SQL EXPRESSION STRINGS, not
    # Column objects (optimization round 12, guide §5 "the driver
    # should do almost no data work"): ~850 renames + the risk/diff
    # arithmetic cost one py4j round trip PER F.col()/operator — a
    # measured ~3 s of colmap construction plus ~1.7 s inside the
    # 500-column select, all single-threaded driver time. String
    # building is microseconds and the single selectExpr ships the
    # whole projection in one py4j call; the parsed expressions are
    # identical (numeric literals pinned: 0.0D keeps the aggregate
    # accumulator DoubleType exactly like F.lit(0.0)).
    colmap: dict[str, str] = {}
    for s in series_names:
        key = _sql_string(s)
        for kind, tag, src in feat_cols:
            name = s + tag if kind == "suffix" else tag + s
            colmap[name] = f"element_at(_m, {key}).{_sql_ident(src)}"

    zone_ids = sorted(int(s.rsplit("_", 1)[1]) for s in series_names
                      if s.startswith("zone_ZONE_"))
    for i in zone_ids:
        if i + 1 in set(zone_ids):
            colmap[f"diff_zone_ZONE_{i}_{i + 1}"] = (
                f"({colmap[f'zone_ZONE_{i + 1}']}"
                f" - {colmap[f'zone_ZONE_{i}']})")

    zone_bases = [s for s in series_names if s.startswith("zone_ZONE_")]

    def _arr(sfx):
        return ("array(" + ", ".join(colmap[f"{s}{sfx}"]
                                     for s in zone_bases) + ")")

    def _nn(a):
        return f"filter({a}, x -> x IS NOT NULL)"

    def _count_eq(a, v):
        return (f"aggregate({a}, 0, (acc, x) -> acc"
                f" + coalesce(cast((x = {v}) as int), 0))")

    dropm = _nn(_arr("_drop_magnitude"))
    vals = _nn(_arr(""))

    def _avg(a):
        return (f"CASE WHEN size({a}) > 0 THEN"
                f" aggregate({a}, 0.0D, (acc, x) -> acc + x)"
                f" / size({a}) END")

    cooling_n = _count_eq(_arr("_cooling_flag"), 1)
    colmap["zones_with_drops"] = _count_eq(_arr("_anomaly"), -1)
    colmap["accretion_risk_cooling_trends"] = cooling_n
    colmap["accretion_risk_drop_magnitude"] = _avg(dropm)
    colmap["accretion_risk_drop_magnitude_max"] = \
        f"CASE WHEN size({dropm}) > 0 THEN array_max({dropm}) END"
    colmap["accretion_risk_mean_zone_temp"] = _avg(vals)
    colmap["accretion_risk_min_zone_temp"] = f"array_min({vals})"
    colmap["multi_zone_cooling_alert"] = f"cast(({cooling_n}) >= 3 as int)"

    # Label spine: the GLOBAL hourly sequence from the sensor bounds —
    # the same ts set as the pivot output (spine_for uses global min/max
    # whether or not keys fan it out), but derived WITHOUT the pivot
    # subplan. Labeling against base_wide.select("ts") cost two ways:
    # Catalyst re-ran the pruned pivot/window/fill chain a second time
    # just to produce the ts spine, and the label join came back as a
    # SortMergeJoin that sorted the ~960-column wide rows by ts. The
    # independent spine is a 4-scan bounds agg + sequence, and the
    # ≤ |hours| label frame broadcasts — no sort of the wide side.
    t2 = time.time()
    labels = IV.label_events(
        TS.spine_for(sensor_long, "ts"), tables["accretion_events"],
        ts_col="ts", start_col="START_DATE", critical_col="CRITICAL_DATE",
        zone_col="ZONE", pre_windows_h=(24, 48, 72))
    metrics["labeling"] = time.time() - t2

    joined = (piv
              .join(F.broadcast(ratios), piv.ts == ratios.day_ts, "left")
              .join(F.broadcast(labels), "ts", "left"))
    for c in ratios.columns:
        if c != "day_ts":
            colmap[c] = _sql_ident(c)
    for c in labels.columns:
        if c != "ts":
            colmap[c] = _sql_ident(c)

    # P1/P2: the reference's tiered priority column cap
    # (pre_processing.py:1564-1739) — see reduce_dimension_priority.
    # The candidate universe is the colmap keys (names are known without
    # building intermediate frames), so the cap composes into the same
    # single fused projection.
    keep = reduce_dimension_priority(list(colmap), max_features)
    out = joined.selectExpr(
        "ts", *[f"{colmap[c]} AS {_sql_ident(c)}" for c in keep])
    metrics["pivot_join"] = time.time() - t
    metrics["total_plan"] = time.time() - t0
    if tracker is not None:
        tracker.log_params({"max_features": max_features,
                            "n_sources": len(tables)})
        tracker.log_metrics(metrics)
        # model-signature parity (reference logs MLflow signatures per
        # run): the feature matrix's column schema as a JSON artifact
        tracker.log_model_signature("feature_matrix", out)
    return out, metrics

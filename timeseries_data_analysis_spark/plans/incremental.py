"""Incremental aggregate maintenance (batch materialized-view pattern).

The reference recomputes its whole feature matrix every run (eager pandas,
`pre_processing.py:1741-2020`); at 100 TB a daily increment must NOT
re-scan history. The standard fix: persist the rollup as ALGEBRAIC
PARTIALS (sum/count/min/max per grain), merge new partials in, and derive
the final measures (avg = sum/count) at read time. Every step is a plain
group-agg, so the merge is associative and idempotent-by-grain.

Storage layout: day-partitioned parquet written with DYNAMIC partition
overwrite, so refreshing late-arriving days rewrites ONLY the partitions
actually touched — the incremental-load sink every warehouse uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARTIAL_COLS = ("n", "sum_v", "min_v", "max_v")


def rollup_partials(events: DataFrame, key_cols: list[str],
                    ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """Daily algebraic partials per key: (day, keys..., n, sum_v, min_v,
    max_v). This is the STORED form of the rollup — mergeable, not final."""
    return (events
            .withColumn("day", F.to_date(ts_col))
            .groupBy("day", *key_cols)
            .agg(F.count(value_col).alias("n"),
                 F.sum(value_col).alias("sum_v"),
                 F.min(value_col).alias("min_v"),
                 F.max(value_col).alias("max_v")))


def merge_partials(existing: DataFrame, delta: DataFrame,
                   key_cols: list[str]) -> DataFrame:
    """Merge two partial tables on the same grain: union + re-aggregate.

    Associativity makes this exact: sum-of-sums, sum-of-counts,
    min-of-mins, max-of-maxes. Only rows for days present in ``delta``
    change, so pair with dynamic partition overwrite to rewrite just
    those day partitions.
    """
    return (existing.unionByName(delta)
            .groupBy("day", *key_cols)
            .agg(F.sum("n").alias("n"),
                 F.sum("sum_v").alias("sum_v"),
                 F.min("min_v").alias("min_v"),
                 F.max("max_v").alias("max_v")))


def finalize(partials: DataFrame) -> DataFrame:
    """Derive the user-facing measures from stored partials."""
    return partials.select(
        "*", (F.col("sum_v") / F.col("n")).alias("avg_v"))


def write_day_partitions(df: DataFrame, path: str) -> None:
    """Day-partitioned write with DYNAMIC partition overwrite: only the
    day partitions present in ``df`` are replaced; untouched history
    stays as-is. (Static overwrite — the session default — would DROP
    every other partition: the classic incremental-load foot-gun.) The
    mode is this write's own option, so the session setting is neither
    read nor changed, and a concurrent writer on the same session keeps
    whatever mode it asked for.
    """
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("day").parquet(path))


def incremental_refresh(spark, rollup_path: str, new_events: DataFrame,
                        key_cols: list[str], ts_col: str = "ts",
                        value_col: str = "value") -> None:
    """One maintenance cycle: partials(new) ⟶ merge with the stored days
    they touch ⟶ rewrite only those day partitions.

    Reads back ONLY the affected days (partition pruning on the stored
    table); everything else never leaves disk.
    """
    from pyspark.errors import AnalysisException

    delta = rollup_partials(new_events, key_cols, ts_col, value_col)
    days = [r["day"] for r in delta.select("day").distinct().collect()]
    try:
        existing = spark.read.parquet(rollup_path).filter(F.col("day").isin(days))
        merged = merge_partials(existing, delta, key_cols)
    except AnalysisException:  # first load: nothing stored yet
        merged = delta
    # materialize BEFORE the write: the merge reads the same files the
    # dynamic overwrite is about to replace (read-overwrite hazard)
    write_day_partitions(merged.localCheckpoint(), rollup_path)


# ---------------------------------------------------------------------------
# Distinct-count partials: the KMV sketch as a mergeable rollup state
# ---------------------------------------------------------------------------

def kmv_day_partials(events: DataFrame, key_cols: list[str],
                     item_col: str, ts_col: str = "ts",
                     k: int = 64) -> DataFrame:
    """Daily DISTINCT-COUNT partials: per (day, keys) the bottom-k md5
    hash fractions of the distinct items, stored as one sorted
    array<double> — the KMV sketch state (operators/sketch.py) in the
    same algebraic-partial posture as ``rollup_partials``.

    Exact distinct counts are NOT mergeable (|A ∪ B| ≠ |A| + |B|), which
    is why the plain partials above carry only sum/count/min/max. The
    KMV state IS mergeable: union two bottom-k sets, drop duplicate
    hashes, re-take bottom-k — so a period-level distinct estimate
    derives from stored day states without rescanning history. State is
    ≤ k doubles per (day, key): day partitions stay rewrite-cheap under
    the dynamic-overwrite sink.
    """
    from pyspark.sql import Window
    from timeseries_data_analysis_spark.operators.sketch import hash_frac
    pairs = (events.withColumn("day", F.to_date(ts_col))
             .select("day", *key_cols, F.col(item_col).alias("_item"))
             .filter(F.col("_item").isNotNull())
             .distinct()
             .select("day", *key_cols, hash_frac(F.col("_item")).alias("_f")))
    w = Window.partitionBy("day", *key_cols).orderBy("_f")
    return (pairs.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .groupBy("day", *key_cols)
            .agg(F.sort_array(F.collect_list("_f")).alias("kmv")))


def kmv_merge_estimate(partials: DataFrame, key_cols: list[str],
                       k: int = 64) -> DataFrame:
    """Period-level distinct estimate from stored day states: explode
    every day's bottom-k array, drop duplicate hash fractions (the same
    item hashes identically on every day it appears), re-take bottom-k
    per key, then the usual ``(k-1)/h_k`` estimate with the exact-count
    fallback below k. Touches ONLY the sketch arrays — never the raw
    item stream — so the merge cost is (days × keys × k) doubles.
    """
    from pyspark.sql import Window
    ex = (partials.select(*key_cols, F.explode("kmv").alias("_f"))
          .distinct())
    w = Window.partitionBy(*key_cols).orderBy("_f")
    agg = (ex.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") <= k)
           .groupBy(*key_cols)
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.max("_f").alias("kth_frac")))
    return agg.select(
        *key_cols, "n_kept", "kth_frac",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(F.lit(float(k - 1)) / F.col("kth_frac")).alias("est"))


def sample_day_partials(events: DataFrame, key_cols: list[str],
                        value_col: str, id_col: str = "event_id",
                        ts_col: str = "ts", k: int = 256) -> DataFrame:
    """Daily QUANTILE partials: per (day, keys) a bottom-k-by-hash
    uniform row sample stored as one sorted array of (hash, value)
    structs — the mergeable answer to "exact percentiles are not
    algebraic" (the same gap :func:`kmv_day_partials` fills for
    distinct counts).

    Bottom-k sampling (Rosén 1997 / Cohen & Kaplan 2007): keying every
    row by a uniform hash of its unique id and keeping the k smallest
    hashes yields a uniform without-replacement k-sample, and the
    sample is MERGEABLE — the bottom-k of a union is a subset of the
    union of per-part bottom-ks, so period samples derive from stored
    day states without rescanning raw history. State is ≤ k structs per
    (day, key), rewrite-cheap under the dynamic-overwrite sink.

    The hash is the md5 60-bit fraction (`sketch.hash_frac`), so the
    sample membership itself replays in any engine — the estimates are
    oracle-checkable, not just plausible. Hash ties break on value
    (md5-prefix collisions are ~2^-60, but the k boundary must be
    deterministic by contract, not by luck).
    """
    from pyspark.sql import Window

    from timeseries_data_analysis_spark.operators.sketch import hash_frac

    pairs = (events.withColumn("day", F.to_date(ts_col))
             .filter(F.col(value_col).isNotNull())
             .select("day", *key_cols,
                     hash_frac(F.col(id_col).cast("string")).alias("_h"),
                     F.col(value_col).alias("_v")))
    w = Window.partitionBy("day", *key_cols).orderBy("_h", "_v")
    return (pairs.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .groupBy("day", *key_cols)
            .agg(F.sort_array(F.collect_list(F.struct("_h", "_v")))
                 .alias("smp")))


def sample_merge_quantiles(partials: DataFrame, key_cols: list[str],
                           k: int = 256,
                           probs: tuple = (0.5, 0.95)) -> DataFrame:
    """Period-level quantile estimates from stored day samples: explode
    the day states, re-take the global bottom-k per key (identical to
    sampling the whole period directly — every global bottom-k row is
    in its day's bottom-k), then exact percentiles OVER THE SAMPLE.
    Touches only (days × keys × k) structs, never raw history.
    Returns ``(keys..., n_sample, q_<p> ...)`` with percentiles at each
    requested prob.
    """
    from pyspark.sql import Window

    ex = (partials.select(*key_cols, F.explode("smp").alias("s"))
          .select(*key_cols, F.col("s._h").alias("_h"),
                  F.col("s._v").alias("_v")))
    w = Window.partitionBy(*key_cols).orderBy("_h", "_v")
    bot = (ex.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") <= k))
    aggs = [F.count(F.lit(1)).alias("n_sample")]
    for p in probs:
        aggs.append(F.percentile("_v", F.lit(float(p)))
                    .alias(f"q_{str(p).replace('.', '')}"))
    return bot.groupBy(*key_cols).agg(*aggs)


def kll_day_partials(events: DataFrame, key_cols: list[str],
                     value_col: str, ts_col: str = "ts",
                     k: int = 256) -> DataFrame:
    """Daily QUANTILE-SKETCH partials: per (day, keys) the canonical
    Munro-Paterson rank-stride state (``operators/sketch.py``
    ``quantile_sketch_state``) stored as one sorted ``array<double>``
    plus its level ``h`` — the deterministic-compaction answer to the
    same gap :func:`sample_day_partials` fills by uniform sampling.
    The difference in guarantee: the bottom-k sample's quantile error
    is sampling-VARIANCE (exact in expectation, noisy per draw); the
    sketch's error is a deterministic worst-case RANK bound (≤ 2^h <
    2·n_day/k per day), so period estimates carry an additive, provable
    error budget instead of a confidence interval. State is ≤ k doubles
    per (day, key), rewrite-cheap under the dynamic-overwrite sink, and
    replayable by any SQL engine (the construction is a rank-stride —
    see the ``kll_quantiles`` oracle).
    """
    from timeseries_data_analysis_spark.operators.sketch import (
        quantile_sketch_state)
    st = quantile_sketch_state(
        events.withColumn("day", F.to_date(ts_col)),
        ["day", *key_cols], value_col, k=k)
    return (st.groupBy("day", *key_cols)
            .agg(F.max("n").alias("n"), F.max("h").alias("h"),
                 F.sort_array(F.collect_list("value")).alias("qsk")))


def kll_merge_quantiles(partials: DataFrame, key_cols: list[str],
                        probs: tuple = (0.5, 0.95)) -> DataFrame:
    """Period-level quantile estimates from stored day sketch states:
    explode every day's array (items carry weight 2^h_day), take the
    weight-cumulative CDF over value order per key, and pick the first
    value covering rank ceil(p·W) (``merged_quantile_estimates``).
    Touches ONLY the sketch arrays — never the raw value stream — so
    the merge cost is (days × keys × k) doubles; rank error is bounded
    by Σ_day 2^h_day, additive and deterministic.
    """
    from timeseries_data_analysis_spark.operators.sketch import (
        merged_quantile_estimates)
    ex = partials.select(*key_cols, "h", F.explode("qsk").alias("value"))
    return merged_quantile_estimates(ex, key_cols, probs)

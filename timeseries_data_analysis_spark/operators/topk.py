"""Sorts / limits / top-k (SURVEY.md §2.8 O1-O3, §2.2 P7).

Reference: argsort + head (``train_models_simple.py:448-465``),
``nlargest`` (``simple_pre_processing.py:609-611``), stride sampling
``iloc[::k]`` (``dashboard.py:1468``).

Scale notes: global top-k is plain ``orderBy().limit(k)`` — Spark plans a
TakeOrderedAndProject (per-partition heap + driver merge of k·parts
rows), NOT a global sort. Per-group top-k is a window rank bounded by a
per-group filter — single shuffle on the group key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(df: DataFrame, group_by: list[str],
                    order_by: list[Column], k: int,
                    rank_col: str = "rk") -> DataFrame:
    """Top-k rows within each group via ``row_number`` (deterministic with tiebreak)."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return (df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))


def value_counts_top_n(df: DataFrame, col: str, n: int = 10) -> DataFrame:
    """Categorical top-N by frequency (A6, reference ``nlargest(10)``)."""
    return (df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col(col)).limit(n))


def stride_sample(df: DataFrame, order_by: list[Column], k: int,
                  partition_by: list[str] | None = None) -> DataFrame:
    """Every k-th row (P7, reference ``iloc[::k]`` for plotting).

    Note: at cluster scale an exact stride forces a per-partition
    row_number; for approximate plotting downsampling prefer
    ``df.sample(1/k)`` which is shuffle-free.
    """
    part = partition_by or []
    w = Window.partitionBy(*part).orderBy(*order_by) if part else Window.orderBy(*order_by)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") - 1) % k == 0).drop("_rn"))


def global_rank(df: DataFrame, order_cols: list[str],
                rank_col: str = "rank") -> DataFrame:
    """Distributed GLOBAL 1-based ranking — the scalable replacement
    for ``row_number() OVER (ORDER BY …)``, whose empty partition
    clause funnels every row through ONE task (the single-partition
    anti-pattern `tools/explain_audit.py` flags).

    Two passes: range-repartition + sort on the order keys, a
    per-partition ``row_number``, then a broadcast cumulative offset of
    per-partition counts (one tiny #partitions-row window). With a
    TOTAL order key (add a unique tiebreak column) the assigned ranks
    are identical to the single-partition form regardless of where the
    range boundaries land, so the result stays engine-deterministic
    and oracle-checkable while the sort itself distributes.
    """
    d = (df.repartitionByRange(*[F.col(c) for c in order_cols])
         .sortWithinPartitions(*order_cols)
         .withColumn("_pid", F.spark_partition_id()))
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    d = d.withColumn("_lr", F.row_number().over(w))
    offs = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    wo = (Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    offs = offs.withColumn(
        "_off", F.coalesce(F.sum("_n").over(wo), F.lit(0)))
    return (d.join(F.broadcast(offs.select("_pid", "_off")), on="_pid")
            .withColumn(rank_col, (F.col("_lr") + F.col("_off"))
                        .cast("bigint"))
            .drop("_pid", "_lr", "_off"))


def global_cumsum(df: DataFrame, order_cols: list[str], value_col: str,
                  cumsum_col: str = "cumsum",
                  exclusive: bool = False) -> DataFrame:
    """Distributed GLOBAL prefix sum of ``value_col`` in ``order_cols``
    order — the scalable replacement for
    ``sum(x) OVER (ORDER BY …)``'s single-partition window, built the
    same way as :func:`global_rank`: range-repartition + local sort, a
    per-partition prefix sum, then ONE broadcast of per-partition
    totals whose cumulative offsets shift every local prefix to its
    global value. ``exclusive=True`` returns the sum of STRICTLY
    preceding rows (the CDF-below form rank-sum statistics need).

    Integer inputs stay exact (bigint adds); float inputs accumulate
    left-to-right within a partition and partition totals add in
    partition order, so the result is run-to-run deterministic for a
    fixed partitioning and exactly equal to the single-partition form
    whenever the additions are exact (ints, dyadic rationals).
    """
    d = (df.repartitionByRange(*[F.col(c) for c in order_cols])
         .sortWithinPartitions(*order_cols)
         .withColumn("_pid", F.spark_partition_id()))
    hi = -1 if exclusive else 0
    w = (Window.partitionBy("_pid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, hi))
    d = d.withColumn("_lc", F.coalesce(F.sum(value_col).over(w), F.lit(0)))
    offs = d.groupBy("_pid").agg(F.sum(value_col).alias("_t"))
    wo = (Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    offs = offs.withColumn(
        "_off", F.coalesce(F.sum("_t").over(wo), F.lit(0)))
    return (d.join(F.broadcast(offs.select("_pid", "_off")), on="_pid")
            .withColumn(cumsum_col, F.col("_lc") + F.col("_off"))
            .drop("_pid", "_lc", "_off"))

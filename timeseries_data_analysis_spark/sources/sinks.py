"""Table sinks (SURVEY.md §2.1 S2/S5).

Reference: ``df.to_csv(...)`` everywhere (``data_generator.py:838-1029``,
``pre_processing.py:1996``) plus a JSON metrics dump
(``pre_processing.py:2004-2017``, a driver-side ``json.dump`` of a small
dict with no engine counterpart). Here the native sink is Parquet;
CSV stays for interoperability exports only.

Scale posture:
- **Partitioned layout**: time-partitioned directories (``dt=YYYY-MM-DD``)
  give downstream readers partition pruning for the dashboard's
  time-range scans (P3) for free.
- **File sizing**: a writer that emits thousands of KB-sized files (or
  one giant file) is the classic small-files trap; ``write_partitioned``
  repartitions by the partition columns so each output directory gets at
  most ``files_per_partition`` files regardless of upstream parallelism.
- **Bucketing**: ``write_bucketed`` persists a hash-clustered table so
  repeated equi-joins/aggs on the bucket key (e.g. ``series``) skip
  their exchange entirely — the batch twin of co-partitioned state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str,
                      ts_col: str = "ts",
                      files_per_partition: int = 1,
                      mode: str = "overwrite") -> None:
    """Write parquet partitioned by day of ``ts_col``.

    ``repartition(partition_cols)`` routes every row of one day to the
    same tasks, so each ``dt=`` directory holds ``files_per_partition``
    files instead of one per upstream task (32 tasks × 365 days would
    otherwise mean ~12k files per year of hourly data).
    """
    out = df.withColumn("dt", F.to_date(F.col(ts_col)))
    parts = [F.col("dt")]
    if files_per_partition > 1:
        parts.append(F.pmod(F.spark_partition_id(), F.lit(files_per_partition)))
    (out.repartition(*parts)
        .write.mode(mode).partitionBy("dt").parquet(path))


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 32, sort_col: str | None = None,
                   mode: str = "overwrite") -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    A table bucketed by ``series`` and sorted by ``ts`` lets every
    downstream ``partitionBy(series).orderBy(ts)`` window and
    series-equi-join run exchange-free — the reference's whole feature
    engine re-reads its one CSV with no such locality.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def export_csv(df: DataFrame, path: str, header: bool = True,
               mode: str = "overwrite") -> None:
    """CSV export for interoperability (the reference's only format).

    Coalesced to one file ONLY when the caller asks for a single-file
    export by passing a ``.csv``-suffixed path — engine-internal data
    should never round-trip through CSV (no schema, no pushdown).
    """
    w = df.coalesce(1) if path.endswith(".csv") else df
    w.write.mode(mode).option("header", str(header).lower()).csv(path)

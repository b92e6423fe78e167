"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf dir, then compares
row-count, sorted column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from timeseries_data_analysis_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False):
        parts = []
        for v in tup:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                parts.append("NULL")
            elif isinstance(v, float):
                # repr() is the shortest round-trip representation: full
                # precision AND dtype-faithful (123.0 stays "123.0", never
                # "123"), so an oracle that returns float64 where Spark
                # returns bigint fails HERE, not only at the driver.
                parts.append(repr(v))
            elif isinstance(v, (list, tuple)):
                parts.append(",".join(str(x) for x in v))
            else:
                parts.append(str(v))
        rows.append("|".join(parts))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """Dtype-FAITHFUL normalization.

    Only timestamps are canonicalized (to microsecond strings).  Numeric
    dtypes are left alone on purpose: round 2 proved that coercing both
    sides to float64 masks exactly the class of bug the driver catches
    (DuckDB HUGEINT -> pandas float64 ``123.0`` vs Spark bigint ``123``).
    Integer *widths* (int32 vs int64) still hash identically via str().
    """
    out = df.copy()
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime"):
            out[c] = out[c].astype("datetime64[us]").astype(str)
    return out


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = norm(fn(spark, sf).toPandas())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows (spark {t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            odf = norm(con.execute(oracles[name]).fetchdf())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        times = f"spark {t_spark:.1f}s, duckdb {time.time() - t0:.1f}s"
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
        if problems:
            n_fail += 1
            print(f"FAIL {name}: {'; '.join(problems)} ({times})")
            if "value-hash mismatch" in problems and not sdf.empty:
                cols = sorted(sdf.columns)
                kinds = {c: (str(sdf[c].dtype), str(odf[c].dtype))
                         for c in cols if str(sdf[c].dtype) != str(odf[c].dtype)}
                if kinds:
                    print(f"  dtype differences (spark, duckdb): {kinds}")
                s_sorted = sdf[cols].sort_values(cols).reset_index(drop=True)
                o_sorted = odf[cols].sort_values(cols).reset_index(drop=True)
                if len(s_sorted) == len(o_sorted):
                    for i in range(len(s_sorted)):
                        if not s_sorted.iloc[i].equals(o_sorted.iloc[i]):
                            print(f"  first diff row {i}:")
                            print(f"   spark : {s_sorted.iloc[i].to_dict()}")
                            print(f"   duckdb: {o_sorted.iloc[i].to_dict()}")
                            break
        else:
            n_pass += 1
            print(f"PASS {name}: {len(sdf)} rows ({times})")
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

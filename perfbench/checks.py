"""Output checks.  Each returns a list of problems; an empty list passes.

Every problem counts the operation it belongs to as failed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pandas as pd

KILN_COLUMNS = 501  # ts + run_pipeline(max_features=500)
PRE_CRITICAL_H = (24, 48, 72)


def kiln_problems(pdf: pd.DataFrame, n_days: int, event: dict) -> list[str]:
    """Shape, label truth and filled sensors of the kiln feature matrix."""
    problems = []
    if len(pdf) != n_days * 24:
        problems.append(f"rows {len(pdf)} != {n_days * 24}")
    if len(pdf.columns) != KILN_COLUMNS:
        problems.append(f"columns {len(pdf.columns)} != {KILN_COLUMNS}")
    ts = pdf["ts"]
    if not ts.is_unique:
        problems.append("duplicate ts")
    start, crit = event["START_DATE"], event["CRITICAL_DATE"]
    forming = (ts >= start) & (ts < crit)
    expected = {"accretion_forming": forming, "accretion_critical": ts >= crit}
    for h in PRE_CRITICAL_H:
        expected[f"pre_critical_{h}h"] = (ts >= crit - pd.Timedelta(hours=h)) & (ts < crit)
    for col, want in expected.items():
        if col not in pdf.columns:
            problems.append(f"missing label {col}")
        elif not (pdf[col].fillna(0).astype(int) == want.astype(int)).all():
            problems.append(f"label {col} differs from the fixture event")
    labelled = pdf.loc[forming | (ts >= crit), "accretion_zone"]
    if not (labelled == event["ZONE"]).all():
        problems.append("accretion_zone differs from the fixture event")
    sensors = [c for c in pdf.columns
               if c.startswith("zone_ZONE_") and c.count("_") == 2]
    if len(sensors) != 11:
        problems.append(f"{len(sensors)} zone sensor columns, expected 11")
    elif pdf[sensors].isna().any().any():
        problems.append("null sensor value")
    return problems


def frame_digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest, floats rounded to 6 decimals so that
    summation-order noise between executions does not change it."""
    out = pdf[sorted(pdf.columns)].copy()
    for c in out.columns:
        if out[c].dtype.kind == "f":
            out[c] = out[c].round(6)
    rows = pd.util.hash_pandas_object(out, index=False).sort_values()
    return hashlib.md5(rows.to_numpy().tobytes()).hexdigest()


class OracleChecker:
    """DuckDB twins of the registry queries (``oracle_sql()``), compared by
    row count, column names and value hash, as ``tools/check_oracles.py``.

    The corpus is fixed, so each twin's (rows, columns, hash) is kept in
    ``cache_dir`` under a digest of the corpus files and the twin's SQL,
    and DuckDB runs once per query and checkout."""

    def __init__(self, corpus_dir: str, tables: list[str], oracles: dict[str, str],
                 cache_dir: str):
        self._dir, self._tables, self._oracles = corpus_dir, tables, oracles
        self._cache_dir = cache_dir
        digest = hashlib.sha256()
        for t in tables:
            with open(os.path.join(corpus_dir, f"{t}.parquet"), "rb") as f:
                digest.update(f.read())
        self._corpus = digest.hexdigest()
        self._con = None

    def _expected(self, name: str) -> dict:
        from tools.check_oracles import norm, value_hash
        sql = self._oracles[name]
        key = hashlib.sha256((self._corpus + sql).encode()).hexdigest()[:16]
        path = os.path.join(self._cache_dir, f"oracle-{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for t in self._tables:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                  f"'{self._dir}/{t}.parquet'")
        odf = norm(self._con.execute(sql).fetchdf())
        want = {"rows": len(odf), "columns": sorted(odf.columns), "hash": value_hash(odf)}
        with open(path, "w") as f:
            json.dump(want, f)
        return want

    def problems(self, name: str, spark_pdf: pd.DataFrame) -> list[str]:
        from tools.check_oracles import norm, value_hash
        sdf = norm(spark_pdf)
        want = self._expected(name)
        if len(sdf) != want["rows"]:
            return [f"{name}: rows {len(sdf)} vs oracle {want['rows']}"]
        if sorted(sdf.columns) != want["columns"]:
            return [f"{name}: columns differ from the oracle"]
        if value_hash(sdf) != want["hash"]:
            return [f"{name}: value hash differs from the oracle"]
        return []

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def monitor_problems(status: list, rollup: list, expected: dict) -> list[str]:
    """Per-tick invariants of the plant monitor's reads.

    ``expected`` maps (day, series) of the 7-day window to the generated
    data's (non-null count, mean)."""
    problems = []
    if len(status) != 11:
        problems.append(f"v_accretion_status has {len(status)} rows, expected 11")
    got = {(r["day"], r["series"]): r for r in rollup}
    if set(got) != set(expected):
        problems.append(f"rollup has {len(got)} (day, series) rows, "
                        f"expected {len(expected)}")
        return problems
    for key, (n, mean) in expected.items():
        row = got[key]
        if row["n"] != n:
            problems.append(f"rollup n={row['n']} for {key}, expected {n}")
        elif n and not math.isclose(row["avg_v"], mean, rel_tol=1e-9):
            problems.append(f"rollup avg {row['avg_v']} for {key}, expected {mean}")
    return problems

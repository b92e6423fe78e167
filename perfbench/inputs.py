"""Seeded input generation for the kiln and plant workloads.

The kiln tables come from the repository's kiln fixture with its ``SEED``
set from the benchmark's ``--seed``.  Files are written as parquet with
UTC-adjusted timestamps, so Spark reads them as ``TimestampType`` exactly
like the fixture frames the tests build.  (The corpus workload reads a
fixed copy of the test corpus, ``corpus_sf0.001/``.)
"""

from __future__ import annotations

import os

import pandas as pd

from tests.fixtures import kiln_fixture

# the six kiln source tables run_pipeline reads (accretion_truth is the
# fixture's expected labelling, not an input)
KILN_SOURCES = ("mis_report", "shell_temperature", "air_calibration",
                "qrt_temperature", "zone_temperature", "accretion_events")


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Write ``df`` with every naive timestamp column localized to UTC."""
    out = df.copy()
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]").dt.tz_localize("UTC")
    out.to_parquet(path, index=False)


def kiln_tables(seed: int, n_days: int) -> dict[str, pd.DataFrame]:
    """The fixture's kiln tables at the reference's 2-minute zone grain."""
    kiln_fixture.SEED = seed
    return kiln_fixture.all_tables(n_days=n_days, zone_freq="2min")


def write_kiln(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in KILN_SOURCES:
        write_parquet(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def zone_long(zone_wide: pd.DataFrame) -> pd.DataFrame:
    """Wide zone temperatures → the serving layer's (ts, series, value)."""
    return (zone_wide.melt(id_vars="DATETIME", var_name="series",
                           value_name="value")
            .rename(columns={"DATETIME": "ts"}))

"""Pipeline-level golden tests on kiln-shaped fixtures (SURVEY.md §5.2-2).

The fixture injects one accretion event with known [start, critical)
boundaries, a maintenance gap, duplicate rows, and a long NaN run — the
semantic traps from SURVEY.md §7.4 — and the tests assert the Spark
pipeline reproduces the reference's labeling/fill/window semantics.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseries_data_analysis_spark.plans import kiln_pipeline as KP
from tests.fixtures import kiln_fixture as FX


@pytest.fixture(scope="module")
def tables(spark):
    pdfs = FX.all_tables()
    return {name: spark.createDataFrame(pdf) for name, pdf in pdfs.items()}


@pytest.fixture(scope="module")
def pipeline_result(spark, tables):
    out, metrics = KP.run_pipeline(spark, tables, max_features=500)
    pdf = out.toPandas().sort_values("ts").reset_index(drop=True)
    return pdf, metrics


def test_shape_and_grain(pipeline_result):
    pdf, _ = pipeline_result
    # hourly grain, one row per hour, spanning the fixture's 60 days
    assert pdf["ts"].is_unique
    deltas = pdf["ts"].diff().dropna().unique()
    assert list(deltas) == [pd.Timedelta(hours=1)]
    assert len(pdf) >= 59 * 24


def test_no_unfilled_sensor_values(pipeline_result):
    pdf, _ = pipeline_result
    # BASE sensor columns only: derived columns (lag_k, roll_k, ...) are
    # legitimately null during their warm-up rows
    zone_cols = [c for c in pdf.columns
                 if c.startswith("zone_ZONE_") and c.count("_") == 2]
    assert zone_cols, "zone series missing from wide output"
    # stage-3 fill chain ends in 0.0 — aligned sensor values are never null
    assert pdf[zone_cols].notna().all().all()
    # stages 4-5 fidelity: the matrix carries per-series window features
    assert any("_lag_" in c for c in pdf.columns)
    assert any("_roll_" in c for c in pdf.columns)
    assert any(c.endswith("_anomaly") for c in pdf.columns)


def test_event_labeling_matches_truth(pipeline_result):
    pdf, _ = pipeline_result
    ev = FX.EVENT
    forming = pdf[pdf["accretion_forming"] == 1]["ts"]
    # forming window is [start, critical) exactly (J3 boundary semantics)
    assert forming.min() == ev["START_DATE"]
    assert forming.max() == ev["CRITICAL_DATE"] - pd.Timedelta(hours=1)
    critical = pdf[pdf["accretion_critical"] == 1]["ts"]
    assert critical.min() == ev["CRITICAL_DATE"]
    # zone label carried through
    assert set(pdf[pdf["accretion_forming"] == 1]["accretion_zone"]) == {ev["ZONE"]}


def test_days_to_critical_decreases_to_zero(pipeline_result):
    pdf, _ = pipeline_result
    ev = FX.EVENT
    f = pdf[pdf["accretion_forming"] == 1].sort_values("ts")
    d = f["days_to_critical"]
    assert (d.diff().dropna() < 0).all()
    assert abs(d.iloc[0] - 15.0) < 1e-9  # critical − start = 15 days
    assert d.iloc[-1] > 0


def test_pre_critical_windows_nested(pipeline_result):
    pdf, _ = pipeline_result
    n24 = int(pdf["pre_critical_24h"].sum())
    n48 = int(pdf["pre_critical_48h"].sum())
    n72 = int(pdf["pre_critical_72h"].sum())
    assert n24 == 24 and n48 == 48 and n72 == 72
    # nesting: every 24h row is also a 48h and 72h row
    sub = pdf[pdf["pre_critical_24h"] == 1]
    assert (sub["pre_critical_48h"] == 1).all()
    assert (sub["pre_critical_72h"] == 1).all()


def test_anomaly_detector_fires_in_event_zone(pipeline_result):
    pdf, _ = pipeline_result
    ev = FX.EVENT
    # the event zone cools 200°C into CRITICAL_DATE: drops must be flagged,
    # which surface as nonzero zones_with_drops during the forming window
    forming = pdf[(pdf["ts"] >= ev["START_DATE"]) & (pdf["ts"] < ev["CRITICAL_DATE"])]
    assert forming["zones_with_drops"].max() >= 1
    assert forming["accretion_risk_drop_magnitude_max"].max() > 0
    before = pdf[pdf["ts"] < ev["START_DATE"] - pd.Timedelta(days=2)]
    # quiet period: mean drop count strictly below the forming window's
    assert before["zones_with_drops"].mean() < forming["zones_with_drops"].mean()


def test_ratios_present_and_guarded(pipeline_result):
    pdf, _ = pipeline_result
    assert "plan_attainment" in pdf.columns
    # maintenance days have PLAN=0 → safe_div yields 0, never inf/NaN
    import numpy as np
    vals = pdf["plan_attainment"].dropna()
    assert np.isfinite(vals).all()


def test_feature_cap(spark, tables):
    out, _ = KP.run_pipeline(spark, tables, max_features=30)
    assert len(out.columns) <= 31 + 10  # ts + cap + always-kept priority block
    # priority columns survive the cap
    assert "accretion_forming" in out.columns
    assert "zones_with_drops" in out.columns


def test_single_window_exchange(spark, tables):
    """Scale check: the per-series window features reuse ONE exchange —
    the physical plan must contain exactly one shuffle on series for all
    window columns (SURVEY.md §4 point 3)."""
    # drop cached plans from earlier fixtures — cache substitution splices
    # the cached build plan (with its own exchanges) into the plan string
    spark.catalog.clearCache()
    sensor = KP.build_long_sensor_table(tables)
    aligned = KP.align_and_fill(sensor)
    feat = KP.window_features(aligned)
    plan = feat._jdf.queryExecution().executedPlan().toString()
    # every window feature shares partitioning; hashpartitioning(series)
    # appears in exchanges — count distinct Exchange nodes on series only
    exchanges = [ln for ln in plan.split("\n") if "Exchange hashpartitioning" in ln]
    # exchanges keyed on series alone (the window partitioning); join
    # exchanges on (ts, series) are counted separately and are expected
    series_exchanges = [ln for ln in exchanges
                        if "hashpartitioning(series" in ln]
    assert len(series_exchanges) <= 2, plan  # explicit repartition (+cache edge)


def test_tiered_priority_policy_golden():
    """P2 golden test: reduce_dimension_priority reproduces the
    reference's tiered policy (pre_processing.py:1564-1739) on a
    reference-shaped column list — tier membership, caps, and refill
    order, without running Spark."""
    cols = (
        # critical (ref :1585-1592)
        ["target_24h", "days_to_critical", "accretion_zone"]
        # engine label names (critical by definition)
        + ["accretion_forming", "pre_critical_24h"]
        # indicators (ref :1595-1604)
        + ["zones_with_drops", "quality_shift_indicator", "spread_zscore",
           "accretion_risk_cooling_trends"]
        # temp drops (>30 to exercise the cap, ref :1607-1610)
        + [f"ZONE_{i}_drop_pct" for i in range(40)]
        # raw temps (>20, ref :1613-1615)
        + [f"zone_ZONE_{i}" for i in range(25)]
        # derived temps (ref :1618-1619)
        + [f"diff_ZONE_{i}" for i in range(5)]
        # operational + ratios
        + ["mis_GROSS_COAL", "mis_DRI_LUMPS", "ratio_ore_coal"]
        # lag/rolling/anomaly
        + [f"mis_GROSS_COAL_lag_{k}" for k in (1, 6, 24)]
        + [f"zone_ZONE_0_roll_{k}" for k in (24, 72)]
        + [f"zone_ZONE_{i}_anomaly" for i in range(6)]
    )
    # no-op below the cap
    assert KP.reduce_dimension_priority(cols, max_features=1000) == cols

    keep = KP.reduce_dimension_priority(cols, max_features=60)
    assert len(keep) <= 60
    # tier 1: critical always survive
    for c in ["target_24h", "days_to_critical", "accretion_zone",
              "accretion_forming", "pre_critical_24h"]:
        assert c in keep
    # tier 2: indicators outrank everything but critical
    for c in ["zones_with_drops", "quality_shift_indicator", "spread_zscore"]:
        assert c in keep
    # tier 3 cap: the drop tier slices [:30] (ref :1607-1610); note
    # accretion_risk_cooling_trends matches the 'cooling_' matcher too,
    # so it occupies one of the 30 slots — exactly as the reference would
    n_drops = sum(1 for c in keep if "_drop_pct" in c)
    assert n_drops == 29
    # refill order: the capped drop tier fully fits before raw temps
    assert "ZONE_28_drop_pct" in keep      # last of the 29 admitted
    assert "ZONE_35_drop_pct" not in keep  # beyond the tier cap
    # operational coal/quality present (tier 4 of the refill order)
    assert "mis_GROSS_COAL" in keep
    assert "mis_DRI_LUMPS" in keep


def test_tiered_priority_caps_exact():
    """The final keep list never exceeds max_features, and is
    duplicate-free even when a column matches several tiers."""
    cols = [f"accretion_risk_{i}_drop_pct" for i in range(80)] \
        + [f"zone_ZONE_{i}" for i in range(30)]
    keep = KP.reduce_dimension_priority(cols, max_features=50)
    assert len(keep) == 50
    assert len(set(keep)) == 50


def test_run_pipeline_logs_to_tracker(spark, tables, tmp_path):
    """S5/MLflow parity: a tracked pipeline run persists its step metrics
    and config, reloadable from disk."""
    from timeseries_data_analysis_spark.ml.tracking import Tracker, load_run
    from timeseries_data_analysis_spark.plans import kiln_pipeline as KP
    tr = Tracker(str(tmp_path / "runs"))
    with tr.start_run("kiln_prep", run_name="r1") as run:
        out, metrics = KP.run_pipeline(spark, tables,
                                       max_features=100, tracker=run)
        assert out.count() > 0
    loaded = load_run(str(tmp_path / "runs" / "kiln_prep" / "r1"))
    assert loaded["params"]["max_features"] == 100
    assert loaded["metrics"]["total_plan"] > 0
    assert set(metrics) <= set(loaded["metrics"])
    assert loaded["tags"]["status"] == "FINISHED"


def test_pipeline_is_single_pass(spark, tables):
    """Round-3 structural claim: the pipeline plan has no cached
    intermediate (the long frame has exactly one consumer) and the
    window features still share one series exchange."""
    spark.catalog.clearCache()
    out, _ = KP.run_pipeline(spark, tables, max_features=500)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan        # no persist/cache pass
    series_exchanges = [ln for ln in plan.split("\n")
                        if "Exchange hashpartitioning(series" in ln]
    # exactly the structural exchanges: the two explicit co-partitioning
    # repartitions (spine side + sensor side) and the shared window
    # exchange they feed — more would mean a consumer re-shuffled
    assert len(series_exchanges) <= 3, "window exchange not shared"


# (kind, tag, long column): how each per-series window feature is named
# in the matrix — "suffix" → {series}{tag}, "prefix" → {tag}{series}.
MATRIX_FEATURES = [
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


def _assert_matrix_matches_long(spark, tables, max_features):
    """Every per-series feature column the matrix keeps equals a pandas
    pivot of the long window-feature table, NaN for NaN. Returns the
    matrix and the number of columns compared."""
    feat = KP.window_features(KP.align_and_fill(
        KP.build_long_sensor_table(tables)))
    wide = (feat.toPandas().pivot(index="ts", columns="series")
            .sort_index())
    out, _ = KP.run_pipeline(spark, tables, max_features=max_features)
    got = out.toPandas().set_index("ts").sort_index()
    assert got.index.equals(wide.index)
    compared = 0
    for kind, tag, src in MATRIX_FEATURES:
        for series in wide[src].columns:
            name = series + tag if kind == "suffix" else tag + series
            if name in got.columns:
                pd.testing.assert_series_equal(
                    got[name], wide[(src, series)], check_names=False,
                    check_dtype=False, check_exact=True)
                compared += 1
    return out, compared


def test_matrix_equals_pandas_pivot_of_long_features(spark):
    """The wide matrix is a pure re-layout of the long window features,
    and the plan pivots without Spark's ~900-field PivotFirst aggregate."""
    tables = {n: spark.createDataFrame(pdf)
              for n, pdf in FX.all_tables(n_days=14).items()}
    out, compared = _assert_matrix_matches_long(spark, tables, 500)
    assert compared >= 300, compared
    plan = out._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "pivotfirst" not in plan


def test_series_names_needing_sql_escapes(spark):
    """A source key with a quote, a backslash and a backtick still names
    its matrix columns and reads its own values."""
    odd = "P'1\\`b"
    pdfs = FX.all_tables(n_days=14)
    shell = pdfs["shell_temperature"]
    shell["POSITION"] = shell["POSITION"].replace(shell["POSITION"].iloc[0], odd)
    tables = {n: spark.createDataFrame(pdf) for n, pdf in pdfs.items()}
    out, compared = _assert_matrix_matches_long(spark, tables, 2000)
    assert f"shell_{odd}" in out.columns
    assert f"shell_{odd}_lag_1" in out.columns
    assert compared == len(MATRIX_FEATURES) * len(
        KP.source_series_names(tables))

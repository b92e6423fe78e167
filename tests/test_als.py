"""Rank-k ALS (`ml/als.py`): the Cramer half-steps against a NumPy
solve at k=2 and k=4, determinism of the md5 init, the capacity claim —
rank-2's one-alternation reconstruction error beats rank-1's on the
same matrix (VERDICT r7 "Next round" #4's done-condition) — and the
`als_rank2`/`als_rankk_backtest` registry rows against their DuckDB
oracles."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)),
                                "tools"))

import __spark_entry__ as entry_mod  # noqa: E402
from check_oracles import norm, value_hash  # noqa: E402
from timeseries_data_analysis_spark.ml import als as ALS  # noqa: E402

REG = 0.1


def _ratings(spark):
    # small dense-ish matrix with a genuine rank-2 structure:
    # block A users love items 0-2, block B users love items 3-5,
    # plus a shared popularity floor — rank-1 captures the floor,
    # rank-2 captures the blocks.
    rows = []
    for c in range(8):
        for s in range(6):
            base = 1
            block = 4 if (c < 4) == (s < 3) else 0
            rows.append((c, s, base + block))
    return spark.createDataFrame(rows, "c int, s int, r int")


def _factors(df, key, prefix, k):
    return {row[key]: [row[f"{prefix}{j}"] for j in range(1, k + 1)]
            for row in df.collect()}


def _assert_fit_matches_numpy(r, k):
    """One alternation equals a direct numpy solve of the same
    regularized normal equations: the user half-step from the
    deterministic init, the item half-step from the returned user
    factors."""
    u, v = ALS.als_rankk_exact_fit(r, k=k, rounds=1, reg=REG)
    v0 = _factors(ALS.init_item_factors(r, k), "s", "v", k)
    got_u = _factors(u, "c", "u", k)
    got_v = _factors(v, "s", "v", k)
    ratings = {(row["c"], row["s"]): row["r"] for row in r.collect()}
    for got, other, side in ((got_u, v0, 0), (got_v, got_u, 1)):
        assert sorted(got) == sorted({pair[side] for pair in ratings})
        for key, x in got.items():
            A = np.eye(k) * REG
            b = np.zeros(k)
            for pair, val in ratings.items():
                if pair[side] != key:
                    continue
                ff = np.array(other[pair[1 - side]])
                A += np.outer(ff, ff)
                b += val * ff
            exp = np.linalg.solve(A, b)
            for j in range(k):
                assert abs(x[j] - exp[j]) < 1e-8, (side, key, j)


def test_half_step_matches_numpy_solve(spark):
    _assert_fit_matches_numpy(_ratings(spark), 2)


def test_init_is_deterministic_and_symmetry_breaking(spark):
    r = _ratings(spark)
    a = {row["s"]: row["v2"]
         for row in ALS.init_item_factors(r, 2).collect()}
    b = {row["s"]: row["v2"]
         for row in ALS.init_item_factors(r, 2).collect()}
    assert a == b
    # the second component must actually vary, else A is singular up to reg
    assert len(set(a.values())) > 1
    assert all(-0.5 <= x < 0.5 for x in a.values())


def _global_rmse(r, pred_col):
    row = r.agg(F.sqrt(F.avg(pred_col)).alias("rmse")).collect()[0]
    return float(row["rmse"])


def test_rank2_beats_rank1_reconstruction(spark):
    r = _ratings(spark).localCheckpoint()
    # rank-1, exactly q_als_rank1's arithmetic
    u1f = (r.groupBy("c")
           .agg(F.round((F.sum("r") / F.count(F.lit(1)))
                        + F.lit(1e-12), 9).alias("u")))
    ru1 = r.join(u1f, "c")
    v1f = (ru1.groupBy("s")
           .agg(F.round((F.sum(F.col("r") * F.col("u"))
                         / F.sum(F.col("u") * F.col("u")))
                        + F.lit(1e-12), 9).alias("v")))
    j1 = ru1.join(v1f, "s")
    e1 = _global_rmse(j1, (F.col("r") - F.col("u") * F.col("v"))
                      * (F.col("r") - F.col("u") * F.col("v")))
    # rank-2, one alternation
    u2, v2 = ALS.als_rankk_exact_fit(r, k=2, rounds=1, reg=REG)
    j2 = (r.join(u2.select("c", "u1", "u2"), "c")
          .join(v2.select("s", "v1", "v2"), "s"))
    pred = F.col("u1") * F.col("v1") + F.col("u2") * F.col("v2")
    e2 = _global_rmse(j2, (F.col("r") - pred) * (F.col("r") - pred))
    assert e2 < e1, (e2, e1)


def test_second_alternation_decreases_regularized_objective(spark):
    """Each half-step exactly minimizes the REGULARIZED objective
    J = Σ(r−u·v)² + λ(Σ‖u‖² + Σ‖v‖²) in its block, so J is
    non-increasing across alternations (block coordinate descent):
    the two-round fit scores no worse than the one-round fit. Raw
    RMSE is NOT monotone under λ > 0 — measured here: it can tick up
    while J falls — which is why the test pins J, not RMSE."""
    r = _ratings(spark).localCheckpoint()

    def objective(u, v):
        j = (r.join(u.select("c", "u1", "u2"), "c")
             .join(v.select("s", "v1", "v2"), "s"))
        pred = F.col("u1") * F.col("v1") + F.col("u2") * F.col("v2")
        sse = j.agg(F.sum((F.col("r") - pred) * (F.col("r") - pred))
                    .alias("x")).collect()[0]["x"]
        un = u.agg(F.sum(F.col("u1") * F.col("u1")
                         + F.col("u2") * F.col("u2"))
                   .alias("x")).collect()[0]["x"]
        vn = v.agg(F.sum(F.col("v1") * F.col("v1")
                         + F.col("v2") * F.col("v2"))
                   .alias("x")).collect()[0]["x"]
        return sse + REG * (un + vn)

    u1, v1 = ALS.als_rankk_exact_fit(r, k=2, rounds=1, reg=REG)
    j1 = objective(u1, v1)
    u2, v2 = ALS.als_rankk_exact_fit(r, k=2, rounds=2, reg=REG)
    j2 = objective(u2, v2)
    # 9-dp factor quantization perturbs each solve off the exact
    # minimizer by ~1e-9 per coordinate; allow that slack
    assert j2 <= j1 + 1e-6, (j2, j1)


def test_rank4_half_step_matches_numpy(spark):
    _assert_fit_matches_numpy(_ratings(spark), 4)


def _numpy_grid_solve(ratings, other, side, k):
    """Batched numpy solve of one half-step's regularized normal
    equations, rounded onto the fit's 9-dp HALF_UP grid (`_q`: +EPS
    nudge, then away-from-zero decimal rounding — not np.round's
    round-half-to-even)."""
    keys = sorted({pair[side] for pair in ratings})
    a = np.zeros((len(keys), k, k))
    b = np.zeros((len(keys), k))
    for pair, val in ratings.items():
        i = keys.index(pair[side])
        ff = np.array(other[pair[1 - side]])
        a[i] += np.outer(ff, ff)
        b[i] += val * ff
    a += REG * np.eye(k)
    x = np.linalg.solve(a, b[..., None])[..., 0] + ALS.EPS
    scale = 10.0 ** ALS.QUANT
    x = np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale
    return dict(zip(keys, x.tolist()))


def test_exact_cramer_lane_matches_numpy_lane_at_k4(spark):
    """The Cramer-expression half-steps (`als_exact_half_step`, the
    oracle-replayable lane behind every ALS fit) and a batched numpy
    solve of the same regularized normal equations land on the same
    9-dp grid at k=4 — one shared HALF_UP rounding law, so the two
    differ by at most a grid step's worth of summation-order ulps."""
    r = _ratings(spark).localCheckpoint()
    ue, ve = ALS.als_rankk_exact_fit(r, k=4, rounds=1, reg=REG)
    ratings = {(row["c"], row["s"]): row["r"] for row in r.collect()}
    got_u = _factors(ue, "c", "u", 4)
    got_v = _factors(ve, "s", "v", 4)
    v0 = _factors(ALS.init_item_factors(r, 4), "s", "v", 4)
    for got, other, side in ((got_u, v0, 0), (got_v, got_u, 1)):
        exp = _numpy_grid_solve(ratings, other, side, 4)
        assert got.keys() == exp.keys()
        for kk in got:
            for j in range(4):
                assert abs(got[kk][j] - exp[kk][j]) <= 2e-9, (side, kk, j)


def test_rank4_objective_monotone_across_rounds(spark):
    """Block coordinate descent at k=4: the regularized objective is
    non-increasing across alternations (same invariant as rank-2)."""
    r = _ratings(spark).localCheckpoint()

    def objective(u, v, k):
        ucols = [f"u{j}" for j in range(1, k + 1)]
        vcols = [f"v{j}" for j in range(1, k + 1)]
        j = (r.join(u.select("c", *ucols), "c")
             .join(v.select("s", *vcols), "s"))
        pred = sum((F.col(uc) * F.col(vc)
                    for uc, vc in zip(ucols, vcols)), F.lit(0.0))
        sse = j.agg(F.sum((F.col("r") - pred) * (F.col("r") - pred))
                    .alias("x")).collect()[0]["x"]
        un = u.agg(F.sum(sum((F.col(c) * F.col(c) for c in ucols),
                             F.lit(0.0))).alias("x")).collect()[0]["x"]
        vn = v.agg(F.sum(sum((F.col(c) * F.col(c) for c in vcols),
                             F.lit(0.0))).alias("x")).collect()[0]["x"]
        return sse + REG * (un + vn)

    u1, v1 = ALS.als_rankk_exact_fit(r, k=4, rounds=1, reg=REG)
    j1 = objective(u1, v1, 4)
    u2, v2 = ALS.als_rankk_exact_fit(r, k=4, rounds=2, reg=REG)
    j2 = objective(u2, v2, 4)
    assert j2 <= j1 + 1e-6, (j2, j1)


def test_rank_above_cramer_limit_raises(spark):
    """k=6 would generate ~0.5 M chars of SQL per half-step; the fit
    refuses it up front instead of spending minutes in Catalyst."""
    with pytest.raises(ValueError, match="outside 1..5"):
        ALS.cramer_solve_exprs(6, REG)
    with pytest.raises(ValueError, match="outside 1..5"):
        ALS.als_rankk_exact_fit(_ratings(spark), k=6, rounds=1, reg=REG)


def _split_ratings(spark, rows_df):
    frac = ALS.md5_unit_fraction(
        F.concat(F.col("c").cast("string"), F.lit("|"),
                 F.col("s").cast("string")), "alsbt|")
    r = rows_df.withColumn("_holdout",
                           (frac >= F.lit(0.8)).cast("int")).localCheckpoint()
    return (r.filter(F.col("_holdout") == 0).select("c", "s", "r"),
            r.filter(F.col("_holdout") == 1).select("c", "s", "r"))


def _holdout_rmse(train, test, k, rounds=2):
    u, v = ALS.als_rankk_exact_fit(train, k=k, rounds=rounds, reg=REG)
    ucols = [f"u{j}" for j in range(1, k + 1)]
    vcols = [f"v{j}" for j in range(1, k + 1)]
    pred = sum((F.col(uc) * F.col(vc)
                for uc, vc in zip(ucols, vcols)), F.lit(0.0))
    out = []
    for df in (train, test):
        j = (df.join(u.select("c", *ucols), "c")
             .join(v.select("s", *vcols), "s"))
        row = j.agg(
            F.sqrt(F.avg((F.col("r") - pred) * (F.col("r") - pred)))
            .alias("rmse"), F.count(F.lit(1)).alias("n")).collect()[0]
        out.append((row["rmse"], row["n"]))
    return out  # [(train_rmse, n_train), (test_rmse, n_test)]


def test_rank4_beats_rank2_on_holdout_when_structure_is_rank4(spark):
    """The `als_rankk_backtest` capacity claim, pinned where it is
    TRUE: on a matrix with genuine rank-4 latent structure, the
    two-alternation rank-4 fit beats the rank-2 fit on HELD-OUT RMSE
    (same md5 80/20 split, same reg, same exact solve lane — only
    capacity differs). The real TPC-H count matrix has NO latent
    structure (orders are uniform), so there higher rank overfits —
    see the companion test below, which pins that the backtest
    DETECTS this."""
    rows = []
    for c in range(40):
        uc = [1.0 + (c % 3), (c % 2) * 2 - 1.0,
              ((c // 2) % 2) * 2 - 1.0, ((c // 4) % 2) * 2 - 1.0]
        for s in range(24):
            vs = [1.0 + (s % 2), (s % 3 > 0) * 2 - 1.0,
                  ((s // 3) % 2) * 2 - 1.0, ((s // 6) % 2) * 2 - 1.0]
            rows.append((c, s, sum(a * b for a, b in zip(uc, vs))))
    df = spark.createDataFrame(rows, "c int, s int, r double")
    train, test = _split_ratings(spark, df)
    (_, _), (rmse2, n2) = _holdout_rmse(train, test, 2)
    (_, _), (rmse4, n4) = _holdout_rmse(train, test, 4)
    assert n2 == n4 and n2 > 0
    assert rmse4 < rmse2, (rmse4, rmse2)


def test_backtest_detects_overfit_on_unstructured_matrix(spark, sf_dir):
    """The backtest's diagnostic value on the REAL customer×supplier
    count matrix: TPC-H order placement is uniform-random, so there
    is no latent structure to learn — train RMSE must IMPROVE with
    rank (capacity) while held-out RMSE GETS WORSE (overfit). This is
    the honest generalization lesson the `als_rankk_backtest` registry
    row's (rmse_train, rmse_test) pair exists to surface — the rank
    analogue of round 8's λ-monotonicity lesson."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey")
    base = (li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy(F.col("o_custkey").alias("c"),
                     F.col("l_suppkey").alias("s"))
            .agg(F.count(F.lit(1)).alias("r")))
    train, test = _split_ratings(spark, base)
    (tr2, _), (te2, n2) = _holdout_rmse(train, test, 2)
    (tr4, _), (te4, n4) = _holdout_rmse(train, test, 4)
    assert n2 == n4 and n2 > 0
    assert tr4 < tr2, (tr4, tr2)   # capacity fits train better
    assert te4 > te2, (te4, te2)   # and generalizes worse


@pytest.mark.parametrize("name", ["als_rank2", "als_rankk_backtest"])
def test_als_queries_match_duckdb_oracles(spark, sf_dir, name):
    """Spark vs DuckDB on the registry rows the oracle gate samples:
    the hand-written closed-form `als_rank2` oracle independently
    checks `cramer_solve_exprs(2)`, and `als_rankk_backtest` replays
    both k=4 alternations CTE-for-CTE."""
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM '{sf_dir}/{t}.parquet'")
    sdf = norm(entry_mod.queries()[name](spark, sf_dir).toPandas())
    odf = norm(con.execute(entry_mod.oracle_sql()[name]).fetchdf())
    assert len(sdf) == len(odf) > 0
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert value_hash(sdf) == value_hash(odf)

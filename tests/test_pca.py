"""Distributed PCA (ml/pca): one-pass Gramian, eigh, projection."""

from __future__ import annotations

import functools

import numpy as np
import pytest

from timeseries_data_analysis_spark.ml import pca as PCA


def _emb_df(spark, n=300, dim=8, seed=7):
    rng = np.random.RandomState(seed)
    # anisotropic: variance concentrated on two known directions
    base = rng.randn(n, 2) * np.array([5.0, 2.0])
    mix = np.random.RandomState(1).randn(2, dim)
    x = base @ mix + 0.1 * rng.randn(n, dim) + 3.0
    return spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "id long, embedding array<double>"), x


def test_covariance_matches_numpy(spark):
    df, x = _emb_df(spark)
    n, mean, cov = PCA.covariance(df, "embedding", 8)
    assert n == len(x)
    np.testing.assert_allclose(mean, x.mean(axis=0), rtol=1e-10)
    np.testing.assert_allclose(cov, np.cov(x, rowvar=False, bias=True),
                               rtol=1e-8, atol=1e-10)


def test_covariance_partition_invariant(spark):
    df, _ = _emb_df(spark, n=100)
    _, m1, c1 = PCA.covariance(df.repartition(1), "embedding", 8)
    _, m32, c32 = PCA.covariance(df.repartition(32), "embedding", 8)
    np.testing.assert_allclose(m1, m32, rtol=1e-12)
    np.testing.assert_allclose(c1, c32, rtol=1e-9, atol=1e-12)


def test_fit_pca_components_orthonormal_and_ordered(spark):
    df, _ = _emb_df(spark)
    fit = PCA.fit_pca(df, "embedding", 8, k=4)
    comps = fit["components"]
    np.testing.assert_allclose(comps @ comps.T, np.eye(4), atol=1e-10)
    ev = fit["eigvals"]
    assert all(a >= b for a, b in zip(ev, ev[1:]))
    # two planted directions dominate
    assert fit["explained_ratio"][:2].sum() > 0.95


def test_projection_variance_equals_eigvals(spark):
    df, x = _emb_df(spark)
    fit = PCA.fit_pca(df, "embedding", 8, k=3)
    scored = PCA.project(df, "embedding", fit["mean"],
                         fit["components"]).collect()
    s = np.stack([np.asarray(r["scores"]) for r in scored])
    np.testing.assert_allclose(s.var(axis=0), fit["eigvals"],
                               rtol=1e-6)
    # scores are centered and decorrelated
    np.testing.assert_allclose(s.mean(axis=0), 0.0, atol=1e-8)
    off = np.cov(s, rowvar=False, bias=True) - np.diag(s.var(axis=0))
    np.testing.assert_allclose(off, 0.0, atol=1e-6)


def test_reconstruction_error_monotone_in_k(spark):
    df, x = _emb_df(spark)
    errs = []
    for k in (1, 2, 4, 8):
        fit = PCA.fit_pca(df, "embedding", 8, k=k)
        scored = PCA.project(df, "embedding", fit["mean"],
                             fit["components"]).collect()
        s = np.stack([np.asarray(r["scores"]) for r in scored])
        recon = s @ fit["components"] + fit["mean"]
        ids = [r["id"] for r in scored]
        errs.append(float(((x[ids] - recon) ** 2).mean()))
    assert all(a >= b - 1e-12 for a, b in zip(errs, errs[1:]))
    assert errs[-1] < 1e-10          # k = d reconstructs exactly


def test_dim_mismatch_raises(spark):
    df, _ = _emb_df(spark, n=20)
    with pytest.raises(Exception, match="dim"):
        PCA.covariance(df, "embedding", 16)


def test_empty_df_raises(spark):
    df = spark.createDataFrame([], "id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        PCA.covariance(df, "embedding", 8)


# ---------------------------------------------------- streaming PCA

def test_pca_sink_matches_one_shot_fit_and_replays(spark, tmp_path):
    from timeseries_data_analysis_spark.streaming import jobs as SJ
    from timeseries_data_analysis_spark.ml import pca as PCA

    df, x = _emb_df(spark, n=240)
    state = str(tmp_path / "pca_state")
    thirds = [df.filter(f"id % 3 = {r}") for r in range(3)]
    for bid, b in enumerate(thirds):
        SJ.pca_commit_batch(b, bid, state, vec_col="embedding", dim=8)

    stream_fit = SJ.pca_state_fit(spark, state, k=3)
    batch_fit = PCA.fit_pca(df, "embedding", 8, k=3)
    assert stream_fit["n"] == batch_fit["n"] == 240
    np.testing.assert_allclose(stream_fit["mean"], batch_fit["mean"],
                               rtol=1e-12)
    np.testing.assert_allclose(stream_fit["eigvals"],
                               batch_fit["eigvals"], rtol=1e-9)
    np.testing.assert_allclose(stream_fit["components"],
                               batch_fit["components"], atol=1e-8)

    # crash-window replay: rerunning the LAST batch rewrites the same
    # state (the merge reads only ids < batch_id)
    SJ.pca_commit_batch(thirds[2], 2, state, vec_col="embedding", dim=8)
    refit = SJ.pca_state_fit(spark, state, k=3)
    assert refit["n"] == 240
    np.testing.assert_allclose(refit["eigvals"], stream_fit["eigvals"],
                               rtol=1e-12)


def test_pca_sink_via_stream(spark, tmp_path):
    from timeseries_data_analysis_spark.streaming import jobs as SJ
    from timeseries_data_analysis_spark.ml import pca as PCA

    df, _ = _emb_df(spark, n=90)
    src = tmp_path / "src"
    src.mkdir()
    df.toPandas().to_parquet(str(src / "b0.parquet"))
    stream = (spark.readStream
              .schema("id long, embedding array<double>")
              .parquet(str(src)))
    q = SJ.run_with_foreach_batch(
        stream, functools.partial(SJ.pca_commit_batch,
                                  state_path=str(tmp_path / "st"),
                                  vec_col="embedding", dim=8),
        checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    fit = SJ.pca_state_fit(spark, str(tmp_path / "st"), k=2)
    ref = PCA.fit_pca(df, "embedding", 8, k=2)
    np.testing.assert_allclose(fit["eigvals"], ref["eigvals"], rtol=1e-9)

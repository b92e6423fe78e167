"""Distributed logistic regression (ml/logit) and label-propagation
community detection (operators/graph) tests."""

from __future__ import annotations

import functools
import math

from pyspark.sql import functions as F

from timeseries_data_analysis_spark.ml import logit as LG
from timeseries_data_analysis_spark.operators import graph as GR


# ---------------------------------------------------------------- logit

def _separable(spark, n=200):
    # y = 1 iff x1 > 0; margin 0.5 so GD separates it quickly
    rows = []
    for i in range(n):
        x1 = (i % 10) - 4.5          # -4.5 .. 4.5, never 0
        x2 = ((i * 7) % 5) - 2.0     # noise feature
        rows.append((x1 / 4.5, x2 / 2.0, 1 if x1 > 0 else 0))
    return spark.createDataFrame(rows, "x1 double, x2 double, y int")


def test_gd_reduces_logloss_monotonically(spark):
    df = _separable(spark).cache()
    losses = []
    beta = [0.0, 0.0, 0.0]
    for _ in range(5):
        losses.append(df.agg(
            LG.log_loss(df, ["x1", "x2"], "y", beta).alias("l"))
            .first()["l"])
        beta = LG.gd_step(df, ["x1", "x2"], "y", beta, lr=1.0)
    assert losses[0] == round(math.log(2.0), 14) or \
        abs(losses[0] - math.log(2.0)) < 1e-12  # beta=0 -> ln 2
    assert all(b < a for a, b in zip(losses, losses[1:]))


def test_fit_separates_separable_data(spark):
    df = _separable(spark).cache()
    beta = LG.fit(df, ["x1", "x2"], "y", lr=1.0, steps=30)
    pred = df.select(
        (LG.predict(df, ["x1", "x2"], beta) > 0.5).cast("int").alias("p"),
        "y")
    acc = pred.agg(F.avg((F.col("p") == F.col("y")).cast("double"))) \
        .first()[0]
    assert acc == 1.0
    assert beta[1] > 1.0             # signal feature dominates
    assert abs(beta[2]) < abs(beta[1])


def test_fit_is_deterministic_across_partitionings(spark):
    df = _separable(spark)
    b1 = LG.fit(df.repartition(1), ["x1", "x2"], "y", steps=3)
    b32 = LG.fit(df.repartition(32), ["x1", "x2"], "y", steps=3)
    # QUANT-rounding absorbs summation-order ulps: identical trajectories
    assert b1 == b32


# ------------------------------------------------------ label propagation

def _two_cliques_bridge(spark):
    # cliques {1,2,3,4} and {10,11,12,13} joined by one bridge 4-10
    edges = []
    for grp in ([1, 2, 3, 4], [10, 11, 12, 13]):
        for i, a in enumerate(grp):
            for b in grp[i + 1:]:
                edges.append((a, b))
    edges.append((4, 10))
    return spark.createDataFrame(edges, "id_l long, id_r long")


def test_lpa_keeps_bridged_cliques_separate(spark):
    out = {r["vertex"]: r["community"] for r in
           GR.label_propagation(_two_cliques_bridge(spark),
                                rounds=2).collect()}
    left = {out[v] for v in (1, 2, 3)}
    right = {out[v] for v in (11, 12, 13)}
    assert left == {1}
    assert right == {10}
    assert left != right             # the bridge never outvotes a clique
    # CC on the same graph merges everything -- the operators differ
    cc = {r["component"] for r in
          GR.connected_components(_two_cliques_bridge(spark)).collect()}
    assert cc == {1}


def test_lpa_single_clique_converges_to_min_label(spark):
    edges = spark.createDataFrame(
        [(a, b) for a in range(5, 9) for b in range(a + 1, 9)],
        "id_l long, id_r long")
    out = {r["vertex"]: r["community"] for r in
           GR.label_propagation(edges, rounds=2).collect()}
    assert set(out.values()) == {5}


def test_lpa_deterministic_across_partitionings(spark):
    e = _two_cliques_bridge(spark)
    a = sorted(map(tuple, GR.label_propagation(
        e.repartition(1), rounds=2).collect()))
    b = sorted(map(tuple, GR.label_propagation(
        e.repartition(16), rounds=2).collect()))
    assert a == b


# ------------------------------------------------------ streaming logit

def test_logit_sink_matches_sequential_gd_and_replays(spark, tmp_path):
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    state = str(tmp_path / "logit_state")
    batches = [_separable(spark, n=80), _separable(spark, n=120),
               _separable(spark, n=60)]

    # manual sequential reference: same steps over the same batches
    ref = [0.0, 0.0, 0.0]
    for b in batches:
        ref = LG.gd_step(b, ["x1", "x2"], "y", ref, lr=1.0)

    for bid, b in enumerate(batches):
        SJ.logit_commit_batch(b, bid, state, xcols=["x1", "x2"],
                              ycol="y", lr=1.0)
    beta = SJ.logit_state_beta(spark, state)
    assert beta == ref

    # crash-window replay: re-running the LAST batch must rewrite the
    # identical beta (GD from a fixed start over fixed data)
    SJ.logit_commit_batch(batches[2], 2, state, xcols=["x1", "x2"],
                          ycol="y", lr=1.0)
    assert SJ.logit_state_beta(spark, state) == ref


def test_logit_sink_empty_batch_keeps_beta(spark, tmp_path):
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    state = str(tmp_path / "logit_state_e")
    SJ.logit_commit_batch(_separable(spark, n=50), 0, state,
                          xcols=["x1", "x2"], ycol="y", lr=1.0)
    b0 = SJ.logit_state_beta(spark, state)
    empty = spark.createDataFrame([], "x1 double, x2 double, y int")
    SJ.logit_commit_batch(empty, 1, state, xcols=["x1", "x2"],
                          ycol="y", lr=1.0)
    assert SJ.logit_state_beta(spark, state) == b0


def test_logit_sink_via_stream(spark, tmp_path):
    """End-to-end through a real rate-limited file stream."""
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "logit_state_s")
    pdf = _separable(spark, n=100).toPandas()
    pdf.to_parquet(str(src / "part0.parquet"))

    stream = (spark.readStream
              .schema("x1 double, x2 double, y int")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src)))
    q = SJ.run_with_foreach_batch(
        stream, functools.partial(SJ.logit_commit_batch, state_path=state,
                                  xcols=["x1", "x2"], ycol="y", lr=1.0),
        checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    ref = LG.gd_step(_separable(spark, n=100), ["x1", "x2"], "y",
                     [0.0, 0.0, 0.0], lr=1.0)
    assert SJ.logit_state_beta(spark, state) == ref


# --------------------------------------------- benchmark guard sink

def _emb_rows(spark, n, dim=8, seed=3, contaminate=()):
    import numpy as np
    rng = np.random.RandomState(seed)
    bench = rng.randn(4, dim)
    rows = []
    for i in range(n):
        if i in contaminate:
            v = bench[i % 4] * 2.0          # scaled copy: cosine == 1
        else:
            v = rng.randn(dim)
        rows.append((i, [float(x) for x in v]))
    bdf = spark.createDataFrame(
        [(j, [float(x) for x in bench[j]]) for j in range(4)],
        "bid long, bv array<double>")
    cdf = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    return cdf, bdf


def test_benchmark_guard_routes_contaminated_rows(spark, tmp_path):
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    src = tmp_path / "src"
    src.mkdir()
    cdf, bdf = _emb_rows(spark, 40, contaminate=(3, 17, 28))
    cdf.toPandas().to_parquet(str(src / "b0.parquet"))

    stream = (spark.readStream
              .schema("doc_id long, embedding array<double>")
              .parquet(str(src)))
    q = (SJ.benchmark_guard_sink(stream, bdf, str(tmp_path / "clean"),
                                 str(tmp_path / "quar"),
                                 threshold=0.999)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    quar = spark.read.parquet(str(tmp_path / "quar"))
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert {r["doc_id"] for r in quar.collect()} == {3, 17, 28}
    assert clean.count() == 37
    # quarantined rows carry the audit score; scaled copies hit cos~1
    assert all(r["_bench_cos"] > 0.999 for r in quar.collect())
    # batch/stream equivalence: the shared scorer flags the same rows
    from timeseries_data_analysis_spark.operators import similarity as SIM
    batch_flagged = {
        r["doc_id"] for r in SIM.benchmark_max_cosine(
            cdf.withColumnRenamed("embedding", "_v"), bdf,
            vec_col="_v", bench_vec_col="bv").collect()
        if r["_best"] > 0.999}
    assert batch_flagged == {3, 17, 28}


def test_benchmark_guard_oversized_bench_raises(spark, tmp_path):
    import pytest as _pt
    from timeseries_data_analysis_spark.operators import similarity as SIM
    cdf, _ = _emb_rows(spark, 5)
    big = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(50)], "bid long, bv array<double>")
    with _pt.raises(ValueError, match="max_bench"):
        SIM.benchmark_max_cosine(cdf.withColumnRenamed("embedding", "_v"),
                                 big, vec_col="_v", bench_vec_col="bv",
                                 max_bench=10)


# ----------------------------------------------------- quantile SGD

def test_pinball_fit_converges_to_quantiles(spark):
    # y depends only on the intercept: constant x1 = 0 -> beta_0 should
    # approach the tau-quantile of y
    rows = [(0.0, float(v)) for v in range(1, 101)]   # y = 1..100
    df = spark.createDataFrame(rows, "x1 double, y double").cache()
    # warm start near the mean: the subgradient magnitude is <= lr*tau,
    # so a cold start from 0 needs hundreds of Spark jobs — the warm
    # start tests the same fixed point in ~60
    b_med = LG.pinball_fit(df, ["x1"], "y", tau=0.5, lr=5.0, steps=60,
                           beta0=[40.0, 0.0])
    b_p90 = LG.pinball_fit(df, ["x1"], "y", tau=0.9, lr=5.0, steps=60,
                           beta0=[70.0, 0.0])
    assert abs(b_med[0] - 50.5) < 3.0     # median of 1..100
    assert abs(b_p90[0] - 90.0) < 4.0     # 90th percentile
    assert b_p90[0] > b_med[0]


def test_pinball_loss_at_true_median_beats_offsets(spark):
    rows = [(0.0, float(v)) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "x1 double, y double").cache()
    def loss(b0):
        return df.agg(LG.pinball_loss(df, ["x1"], "y", [b0, 0.0])
                      .alias("l")).first()["l"]
    assert loss(50.5) < loss(30.0)
    assert loss(50.5) < loss(70.0)


def test_pinball_fit_partition_invariant(spark):
    rows = [((i % 7) / 7.0, float(i % 23)) for i in range(300)]
    df = spark.createDataFrame(rows, "x1 double, y double")
    a = LG.pinball_fit(df.repartition(1), ["x1"], "y", steps=5)
    b = LG.pinball_fit(df.repartition(32), ["x1"], "y", steps=5)
    assert a == b


def test_benchmark_guard_null_vector_lands_in_quarantine(spark, tmp_path):
    """Three-valued-logic regression: a NULL/empty embedding must not
    vanish between the clean and quarantine outputs — it scores NULL
    and routes to quarantine for audit, so every input row lands
    exactly once."""
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    src = tmp_path / "src"
    src.mkdir()
    cdf, bdf = _emb_rows(spark, 10, contaminate=(2,))
    pdf = cdf.toPandas()
    pdf.loc[pdf["doc_id"] == 5, "embedding"] = None
    pdf.loc[pdf["doc_id"] == 7, "embedding"] = pdf.loc[
        pdf["doc_id"] == 7, "embedding"].map(lambda _: [])
    pdf.to_parquet(str(src / "b0.parquet"))

    stream = (spark.readStream
              .schema("doc_id long, embedding array<double>")
              .parquet(str(src)))
    q = (SJ.benchmark_guard_sink(stream, bdf, str(tmp_path / "clean"),
                                 str(tmp_path / "quar"),
                                 threshold=0.999)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    quar = spark.read.parquet(str(tmp_path / "quar"))
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert {r["doc_id"] for r in quar.collect()} == {2, 5, 7}
    assert {r["doc_id"] for r in clean.collect()} == {0, 1, 3, 4, 6, 8, 9}
    scores = {r["doc_id"]: r["_bench_cos"] for r in quar.collect()}
    assert scores[5] is None and scores[7] is None
    assert scores[2] > 0.999


def test_adamic_adar_semantics(spark):
    """Path 1-2-3: the single open wedge (1,3) scores 1/ln(deg 2)=1/ln 2;
    adding edge 1-3 closes it and the prediction set empties; degree-1
    witnesses contribute nothing (ln 1 = 0 guard)."""
    import math

    from timeseries_data_analysis_spark.operators import graph as GR

    path = spark.createDataFrame([(1, 2), (2, 3)], "id_l bigint, id_r bigint")
    out = GR.adamic_adar(path).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_l, r.id_r, r.n_common) == (1, 3, 1)
    assert abs(r.aa_score - 1.0 / math.log(2)) < 1e-12

    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)],
                                "id_l bigint, id_r bigint")
    assert GR.adamic_adar(tri).count() == 0

    # star 1-2, 1-3 with a pendant 4-5: wedge (2,3) via hub 1 only;
    # the degree-1 witnesses on the pendant edge yield no predictions
    star = spark.createDataFrame([(1, 2), (1, 3), (4, 5)],
                                 "id_l bigint, id_r bigint")
    got = {(r.id_l, r.id_r): r.aa_score for r in GR.adamic_adar(star).collect()}
    assert set(got) == {(2, 3)}
    assert abs(got[(2, 3)] - 1.0 / math.log(2)) < 1e-12

"""Batch/stream equivalence tests (SURVEY.md §5.2-5, §2.9).

The same input replayed through the streaming path must match the batch
aggregates — the T1-T3 invariant. Inputs are parquet files dropped into a
temp dir (multiple files → multiple micro-batches with
maxFilesPerTrigger=1), drained with Trigger.AvailableNow.
"""

from __future__ import annotations

import functools
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timeseries_data_analysis_spark.streaming import jobs as SJ

SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


@pytest.fixture(scope="module")
def input_dir(spark):
    d = tempfile.mkdtemp(prefix="stream_in_")
    base = pd.Timestamp("2024-06-01")
    rows = []
    for h in range(48):
        for k in ("a", "b", "c"):
            # value dips below 10 for hours 20..30 on all three series —
            # the alert window
            v = 5.0 if 20 <= h <= 30 else 50.0 + h
            rows.append((base + pd.Timedelta(hours=h, minutes=7), k, v))
            rows.append((base + pd.Timedelta(hours=h, minutes=37), k, v + 1.0))
    pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
    # three files → three micro-batches (out-of-order rows across files)
    for i, part in enumerate((pdf.iloc[::3], pdf.iloc[1::3], pdf.iloc[2::3])):
        spark.createDataFrame(part, schema=SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(f"{d}/f{i}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(stream_df, name):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return name


def test_hourly_rollup_matches_batch(spark, input_dir):
    src = SJ.stream_source(spark, f"{input_dir}/*", SCHEMA,
                           max_files_per_trigger=1)
    rollup = SJ.hourly_rollup(src)
    _drain(rollup, "rollup_sink")
    streamed = spark.sql(
        "SELECT * FROM rollup_sink").toPandas().sort_values(
        ["ts", "event_type"]).reset_index(drop=True)

    batch_df = spark.read.schema(SCHEMA).parquet(f"{input_dir}/*")
    batch = (batch_df.groupBy(F.date_trunc("hour", "ts").alias("ts"), "event_type")
             .agg(F.avg("value").alias("avg_value"),
                  F.count(F.lit(1)).alias("n_events"))
             ).toPandas().sort_values(["ts", "event_type"]).reset_index(drop=True)

    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)


def test_threshold_alerts_fire(spark, input_dir):
    src = SJ.stream_source(spark, f"{input_dir}/*", SCHEMA)
    alerts = SJ.threshold_alerts(src, threshold=10.0, min_series=3)
    # chained stateful aggregations require APPEND mode: complete mode
    # re-emits pre-watermark windows, which the downstream state store
    # would discard as late (Spark's global-watermark correctness check)
    q = (alerts.writeStream.format("memory").queryName("alerts_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM alerts_sink").toPandas()
    fired = out[out["alert"] == 1]["ts"]
    assert len(fired) == 11  # hours 20..30 inclusive
    assert fired.min() == pd.Timestamp("2024-06-01 20:00:00")
    assert fired.max() == pd.Timestamp("2024-06-02 06:00:00")
    assert (out[out["alert"] == 1]["n_low_series"] == 3).all()


def test_foreach_batch_collects(spark, input_dir):
    """T3/T4 foreachBatch sink: per-batch hook sees every micro-batch."""
    src = SJ.stream_source(spark, f"{input_dir}/*", SCHEMA,
                           max_files_per_trigger=1)
    rollup = SJ.hourly_rollup(src)
    seen: list[tuple[int, int]] = []

    def collect(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    q = SJ.run_with_foreach_batch(rollup, collect)
    q.awaitTermination(120)
    assert len(seen) >= 2  # maxFilesPerTrigger=1 → one batch per file
    assert sum(n for _, n in seen) > 0


def test_dedup_stream(spark):
    """T5: exact duplicates within the watermark are dropped."""
    d = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        base = pd.Timestamp("2024-06-01")
        pdf = pd.DataFrame({
            "ts": [base, base, base + pd.Timedelta(hours=1)],
            "event_type": ["a", "a", "a"],
            "value": [1.0, 1.0, 2.0],
        })
        spark.createDataFrame(pdf, schema=SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(f"{d}/f0")
        src = SJ.stream_source(spark, f"{d}/*", SCHEMA)
        dd = SJ.dedup_stream(src, ["event_type"])
        q = (dd.writeStream.format("memory").queryName("dedup_sink")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        out = spark.sql("SELECT * FROM dedup_sink").toPandas()
        assert len(out) == 2  # 3 rows, one exact (key, ts) duplicate
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_anomaly_matches_batch(spark):
    """W11 as a stateful streaming operator must reproduce the batch
    anomaly detector flag-for-flag when rows arrive in order."""
    import numpy as np

    d = tempfile.mkdtemp(prefix="stream_anom_")
    try:
        base = pd.Timestamp("2024-06-01")
        rng = np.random.default_rng(7)
        rows = []
        for k in ("a", "b"):
            vals = 100.0 + rng.normal(0, 2, 120)
            vals[60] = 40.0   # hard drop → -1
            vals[90] = 170.0  # hard spike → +1
            vals[30:34] = np.nan  # null run
            for h, v in enumerate(vals):
                rows.append((base + pd.Timedelta(hours=h), k,
                             None if np.isnan(v) else float(v)))
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
        # time-ordered files → in-order micro-batches per key
        for i, (lo, hi) in enumerate(((0, 40), (40, 80), (80, 120))):
            part = pdf[(pdf["ts"] >= base + pd.Timedelta(hours=lo))
                       & (pdf["ts"] < base + pd.Timedelta(hours=hi))]
            spark.createDataFrame(part, schema=SCHEMA).coalesce(1) \
                .write.mode("overwrite").parquet(f"{d}/f{i}")

        src = SJ.stream_source(spark, f"{d}/*", SCHEMA, max_files_per_trigger=1)
        anom = SJ.streaming_anomaly(src, window=24)
        q = (anom.writeStream.format("memory").queryName("anom_sink")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        streamed = spark.sql("SELECT * FROM anom_sink").toPandas() \
            .sort_values(["event_type", "ts"]).reset_index(drop=True)

        from timeseries_data_analysis_spark.operators import windows as WIN
        batch_df = spark.read.schema(SCHEMA).parquet(f"{d}/*")
        w = WIN.series_window("event_type", ["ts"])
        feats = WIN.anomaly_features("value", w, window=24)
        batch = batch_df.select(
            "ts", "event_type", "value",
            feats["value_anomaly_flag"].alias("anomaly_flag")) \
            .toPandas().sort_values(["event_type", "ts"]).reset_index(drop=True)

        assert len(streamed) == len(batch) == 240
        pd.testing.assert_series_equal(streamed["anomaly_flag"],
                                       batch["anomaly_flag"],
                                       check_dtype=False)
        # the injected anomalies are caught
        assert streamed.loc[streamed["ts"] == base + pd.Timedelta(hours=60),
                            "anomaly_flag"].tolist() == [-1, -1]
        assert streamed.loc[streamed["ts"] == base + pd.Timedelta(hours=90),
                            "anomaly_flag"].tolist() == [1, 1]
    finally:
        shutil.rmtree(d, ignore_errors=True)


USER_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
])


@pytest.fixture(scope="module")
def user_input_dir(spark):
    d = tempfile.mkdtemp(prefix="stream_user_")
    base = pd.Timestamp("2024-06-01")
    rows, eid = [], 0
    for u in (1, 2):
        # two sessions per user separated by a 2 h silence
        for burst_start_min in (0, 180):
            for k in range(4):
                rows.append((base + pd.Timedelta(minutes=burst_start_min + 10 * k),
                             u, eid, float(10 * u + k)))
                eid += 1
    pdf = pd.DataFrame(rows, columns=["ts", "user_id", "event_id", "value"])
    for i, part in enumerate((pdf.iloc[:8], pdf.iloc[8:])):
        spark.createDataFrame(part, schema=USER_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(f"{d}/f{i}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_session_window_matches_batch_sessionize(spark, user_input_dir):
    from timeseries_data_analysis_spark.operators import timeseries as TS
    src = SJ.stream_source(spark, f"{user_input_dir}/*", USER_SCHEMA,
                           max_files_per_trigger=1)
    out = SJ.session_window_rollup(src, gap="30 minutes")
    _drain(out, "session_sink")
    got = {(r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
           for r in spark.sql("select * from session_sink").collect()}
    # 2 users × 2 sessions
    assert len(got) == 4
    batch = spark.read.schema(USER_SCHEMA).parquet(f"{user_input_dir}/*")
    sess = TS.sessionize(batch, "user_id", ts_col="ts",
                         order_by=["ts", "event_id"], gap_s=1800)
    bat = (sess.groupBy("user_id", "session_id")
           .agg(F.min("ts").alias("session_start"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value")))
    exp = {(r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
           for r in bat.collect()}
    assert got == exp


def test_stream_stream_join_matches_batch(spark, user_input_dir):
    src_l = SJ.stream_source(spark, f"{user_input_dir}/*", USER_SCHEMA,
                             max_files_per_trigger=1)
    src_r = SJ.stream_source(spark, f"{user_input_dir}/*", USER_SCHEMA,
                             max_files_per_trigger=1)
    out = SJ.stream_stream_join(src_l, src_r, tolerance="15 minutes")
    q = (out.writeStream.format("memory").queryName("ssj_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["l_event_id"], r["r_event_id"])
           for r in spark.sql("select * from ssj_sink").collect()}
    batch = spark.read.schema(USER_SCHEMA).parquet(f"{user_input_dir}/*")
    lt = batch.select(F.col("user_id").alias("l_key"), F.col("ts").alias("l_ts"),
                      F.col("event_id").alias("l_event_id"))
    rt = batch.select(F.col("user_id").alias("r_key"), F.col("ts").alias("r_ts"),
                      F.col("event_id").alias("r_event_id"))
    exp = {(r["l_event_id"], r["r_event_id"]) for r in lt.join(
        rt, (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("interval 15 minutes"))
    ).collect()}
    assert got == exp
    # self-pairs exist (same event joins itself at distance 0)
    assert all(l == r or True for l, r in got) and len(got) > len(
        {p for p in got if p[0] == p[1]})


def test_enrich_stream_matches_batch_join(spark, input_dir):
    """Stream-static enrichment: the broadcast dimension join over
    micro-batches equals the same join run in batch, row for row."""
    dim = spark.createDataFrame(
        [("a", "zone_a", 10.0), ("b", "zone_b", 20.0)],
        "event_type: string, zone_name: string, thr: double")
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(input_dir))
    out = SJ.enrich_stream(stream, dim)
    q = (out.writeStream.format("memory").queryName("enriched")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("enriched").toPandas()
    want = (SJ.enrich_stream(spark.read.schema(SCHEMA).parquet(input_dir),
                             dim).toPandas())
    key = ["ts", "event_type", "value"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[sorted(got.columns)],
                                  want[sorted(want.columns)])
    # unmatched stream keys survive (left join) with null enrichment
    assert got[got["event_type"] == "c"]["zone_name"].isna().all()


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """T1/T4 durability: a query stopped and restarted from its
    checkpoint neither re-emits processed batches nor loses new files —
    the exactly-once contract foreachBatch sinks rely on."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    base = pd.Timestamp("2024-06-01")

    def write_file(name, hours):
        rows = [(base + pd.Timedelta(hours=h), "a", float(h)) for h in hours]
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
        spark.createDataFrame(pdf, schema=SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / name))

    write_file("f0", range(0, 4))
    write_file("f1", range(4, 8))
    seen: list[tuple[int, int]] = []

    def drain():
        stream = SJ.stream_source(spark, f"{src}/*", SCHEMA,
                                  max_files_per_trigger=1)

        def collect(batch_df, batch_id):
            seen.append((batch_id, batch_df.count()))

        q = SJ.run_with_foreach_batch(stream, collect, checkpoint=ckpt)
        q.awaitTermination(120)

    drain()                                   # run 1: consumes f0 + f1
    rows_first = sum(n for _, n in seen)
    assert rows_first == 8
    drain()                                   # run 2: nothing new
    assert sum(n for _, n in seen) == rows_first   # no re-emission
    write_file("f2", range(8, 10))
    drain()                                   # run 3: only the new file
    assert sum(n for _, n in seen) == 10
    # batch ids strictly increase across restarts (offsets persisted)
    ids = [b for b, _ in seen]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Continuous-ingestion dedup: a doc seen in an earlier micro-batch
    (or earlier in the same batch) never lands in the output again; the
    persisted digest index survives restarts."""
    src = tmp_path / "docs"
    src.mkdir()
    idx = str(tmp_path / "digest_index")
    out = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")
    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])

    def write_batchfile(name, rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / name))

    # batch 0: two distinct docs + an intra-batch duplicate
    write_batchfile("b0", [(1, "alpha beta gamma"), (2, "delta epsilon"),
                           (3, "Alpha,  BETA gamma!")])   # normalizes == doc 1
    # batch 1: one repeat (cross-batch dup) + one new
    write_batchfile("b1", [(4, "delta epsilon"), (5, "zeta eta theta")])

    def drain():
        stream = SJ.stream_source(spark, f"{src}/*", doc_schema,
                                  max_files_per_trigger=1)
        q = SJ.run_with_foreach_batch(
            stream, functools.partial(SJ.dedup_commit_batch,
                                      index_path=idx, out_path=out),
            checkpoint=ckpt)
        q.awaitTermination(120)

    drain()
    got = spark.read.parquet(out).toPandas().sort_values("doc_id")
    assert got["doc_id"].tolist() == [1, 2, 5]     # 3 and 4 are dups
    n_idx = spark.read.parquet(idx).count()
    assert n_idx == 3                               # one digest per distinct
    # restart with a third batch: another cross-batch dup + a new doc
    write_batchfile("b2", [(6, "zeta eta theta"), (7, "iota kappa")])
    drain()
    got = spark.read.parquet(out).toPandas().sort_values("doc_id")
    assert got["doc_id"].tolist() == [1, 2, 5, 7]
    assert spark.read.parquet(idx).count() == 4


def test_incremental_dedup_crash_window_replay(spark, tmp_path):
    """Two-phase commit safety: a crash at either window — after the
    data write but before the index append, or after both — followed by
    a checkpoint replay of the same batch produces NO duplicate
    documents (the naive append/append pair duplicates in the first
    window)."""
    import shutil

    idx = str(tmp_path / "digest_index")
    out = str(tmp_path / "clean")
    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    b0 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], doc_schema)
    b1 = spark.createDataFrame(
        [(3, "gamma delta"), (4, "epsilon zeta")], doc_schema)

    SJ.dedup_commit_batch(b0, 0, idx, out)
    # --- window A: batch 1 committed fully, then replayed (restart
    #     before the checkpoint recorded the batch) → marker skip ---
    SJ.dedup_commit_batch(b1, 1, idx, out)
    SJ.dedup_commit_batch(b1, 1, idx, out)   # full replay
    got = spark.read.parquet(out).toPandas()
    assert sorted(got["doc_id"]) == [1, 2, 4]
    assert spark.read.parquet(idx).count() == 3

    # --- window B: crash BETWEEN phase 1 and phase 2 — simulate by
    #     removing batch 1's commit marker (index rows) while its data
    #     directory remains, then replay ---
    keep = spark.read.parquet(idx).where("_batch_id <> 1").toPandas()
    shutil.rmtree(idx)
    spark.createDataFrame(keep).write.parquet(idx)
    SJ.dedup_commit_batch(b1, 1, idx, out)   # replay recomputes + overwrites
    got = spark.read.parquet(out).toPandas()
    assert sorted(got["doc_id"]) == [1, 2, 4]      # no duplicates
    assert spark.read.parquet(idx).count() == 3    # marker restored


def test_incremental_neardup_sink(spark, tmp_path):
    """Streaming NEAR-dup suppression: within-batch near-dups collapse
    to the min-id representative, cross-batch near-dups of already-kept
    docs are dropped via the persisted fingerprint index, distinct docs
    pass; a crash between the data write and the index append followed
    by replay produces no duplicates (two-phase commit)."""
    import shutil

    idx = str(tmp_path / "fp_index")
    out = str(tmp_path / "clean")
    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    base = " ".join(f"tok{i}" for i in range(200))
    near = base.replace("tok50", "tokX")          # 1 of 200 tokens differs
    other = " ".join(f"zzz{i}" for i in range(180))
    other_near = other.replace("zzz7 ", "zzzQ ")   # ONE token (bounded)

    b0 = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], doc_schema)
    SJ.neardup_commit_batch(b0, 0, idx, out)
    got = sorted(spark.read.parquet(out).toPandas()["doc_id"])
    assert got == [1, 3]                 # 2 is a near-dup of 1 (min id kept)

    # batch 1: near-dup of an INDEXED doc + a genuinely new doc
    b1 = spark.createDataFrame(
        [(4, other_near), (5, "completely different words here now")],
        doc_schema)
    SJ.neardup_commit_batch(b1, 1, idx, out)
    got = sorted(spark.read.parquet(out).toPandas()["doc_id"])
    assert got == [1, 3, 5]              # 4 collides with indexed 3

    # full replay after commit: marker skip, no change
    SJ.neardup_commit_batch(b1, 1, idx, out)
    assert sorted(spark.read.parquet(out).toPandas()["doc_id"]) == [1, 3, 5]

    # crash window: data written, marker lost -> replay must overwrite
    keep = spark.read.parquet(idx).where("_batch_id <> 1").toPandas()
    shutil.rmtree(idx)
    spark.createDataFrame(keep).write.parquet(idx)
    SJ.neardup_commit_batch(b1, 1, idx, out)
    got = sorted(spark.read.parquet(out).toPandas()["doc_id"])
    assert got == [1, 3, 5]              # no duplicates
    assert spark.read.parquet(idx).where("_batch_id = 1").count() == 1


def test_governance_ingest_sink(spark, tmp_path):
    """Composed intake gate: low-quality docs dropped, PII scrubbed in
    the stored text, language annotated, and cross-batch dedup runs on
    the SCRUBBED text — two docs differing only in their (redacted)
    contact address collapse as exact duplicates."""
    src = tmp_path / "docs"
    src.mkdir()
    idx = str(tmp_path / "digest_index")
    out = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")
    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])

    def write_batchfile(name, rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / name))

    write_batchfile("b0", [
        (1, "the quick brown fox jumps over the lazy dog and then some"),
        (2, "!!! ??? ... ---"),                       # punct-only: quality 0
        (3, "please contact bob@example.com about the offer and timing"),
    ])
    write_batchfile("b1", [
        # differs from doc 3 ONLY in the email -> dup after scrubbing
        (4, "please contact alice@example.org about the offer and timing"),
        (5, "this is the fresh unique content of note"),
    ])

    stream = SJ.stream_source(spark, f"{src}/*", doc_schema,
                              max_files_per_trigger=1)
    q = SJ.run_with_foreach_batch(
        stream, functools.partial(SJ.governance_commit_batch,
                                  index_path=idx, out_path=out,
                                  min_quality=0.35),
        checkpoint=ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out).toPandas().sort_values("doc_id")
    assert got["doc_id"].tolist() == [1, 3, 5]
    by_id = dict(zip(got["doc_id"], got["text"]))
    assert "<EMAIL>" in by_id[3] and "@" not in by_id[3]
    assert set(got["_lang"]) == {"en"}
    # batch equivalence: the same gate as a plain batch transform
    batch_docs = spark.createDataFrame(
        [(2, "!!! ??? ... ---"), (5, "this is the fresh unique content of note")],
        doc_schema)
    kept = SJ.governance_transform(batch_docs, min_quality=0.35).toPandas()
    assert kept["doc_id"].tolist() == [5]


def test_ivf_ingest_sink_matches_batch_assignment(spark, tmp_path):
    """Streaming IVF maintenance: vectors arriving over two micro-batches
    land in the same cell partitions a batch assignment of the union
    would produce, and the store is physically partitioned by cell so a
    probed search prunes to its cells' directories."""
    import random
    from timeseries_data_analysis_spark.operators import similarity as SIM
    from timeseries_data_analysis_spark.operators.similarity import _assign_cells

    random.seed(11)
    rows = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    vec_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    src = tmp_path / "vecs"
    src.mkdir()
    spark.createDataFrame(rows[:30], vec_schema).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "b0"))
    spark.createDataFrame(rows[30:], vec_schema).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "b1"))

    full = spark.createDataFrame(rows, vec_schema)
    cent = SIM.ivf_fit_centroids(full, n_centroids=4, seed=7)

    out = str(tmp_path / "ivf_store")
    stream = SJ.stream_source(spark, f"{src}/*", vec_schema,
                              max_files_per_trigger=1)
    q = SJ.run_with_foreach_batch(
        stream, functools.partial(SJ.ivf_commit_batch, centroids=cent,
                                  out_path=out),
        checkpoint=str(tmp_path / "ckpt"))
    assert q.awaitTermination(120), "stream did not finish in 120s"

    got = spark.read.parquet(out).toPandas()
    assert len(got) == 60
    exp = _assign_cells(full, cent, n_probe=1,
                        id_col="vec_id", vec_col="embedding") \
        .select("vec_id", "centroid_id").toPandas()
    exp_map = dict(zip(exp["vec_id"], exp["centroid_id"]))
    got_map = dict(zip(got["vec_id"], got["cell"]))
    assert got_map == exp_map
    # physical layout: batch-keyed dirs (replay overwrites, never
    # appends) with one cell directory per batch inside — partition
    # pruning on `cell` is the inverted-index lookup across batches
    import os as _os
    batch_dirs = {d for d in _os.listdir(out) if d.startswith("ingest_batch=")}
    assert len(batch_dirs) == 2
    cells = {c for b in batch_dirs
             for c in _os.listdir(f"{out}/{b}") if c.startswith("cell=")}
    assert cells == {f"cell={c}" for c in set(exp_map.values())}


def test_ivf_store_topk_prunes_partitions(spark, tmp_path):
    """Search over the ingested store: results equal an in-memory IVF
    search with the same centroids/probes, and the physical scan reads
    ONLY the probed cells (partition pruning is the index lookup)."""
    import random
    from timeseries_data_analysis_spark.operators import similarity as SIM

    random.seed(13)
    rows = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(80)]
    vec_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    full = spark.createDataFrame(rows, vec_schema)
    cent = SIM.ivf_fit_centroids(full, n_centroids=8, seed=3)
    out = str(tmp_path / "store")
    # build the store via the batch path (same layout as the sink)
    from timeseries_data_analysis_spark.operators.similarity import _assign_cells
    (_assign_cells(full, cent, n_probe=1, id_col="vec_id",
                   vec_col="embedding")
     .select("vec_id", F.col("_v").alias("embedding"),
             F.col("centroid_id").alias("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(out))

    queries = full.filter(F.col("vec_id") < 3) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = SIM.ivf_store_topk(spark, out, queries, cent, k=3, n_probe=2)
    ref = SIM.ivf_topk(full, queries, k=3, n_probe=2, centroids=cent)
    g = {(r["query_id"], r["rk"]): r["vec_id"] for r in got.collect()}
    r_ = {(r["query_id"], r["rk"]): r["vec_id"] for r in ref.collect()}
    assert g == r_
    # physical evidence: the store scan carries a PartitionFilters entry
    # on `cell` (static partition pruning — unprobed cell directories are
    # never listed; note inputFiles() reports the UNpruned relation, so
    # the plan text is the authoritative check)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_at = plan.index("PartitionFilters: [")
    bracket = plan[scan_at + len("PartitionFilters: ["):]
    bracket = bracket[:bracket.index("]")]
    # the filter must be IN the partition-filter slot (an empty slot with
    # the cell predicate demoted to PushedFilters would scan every cell)
    assert "cell" in bracket and "IN" in bracket.upper(), bracket


def test_ivf_store_scaled_prunes_to_probed_cells(spark, tmp_path):
    """The SCALED-C deployment shape behind the `ivf_store_scaled`
    registry row (VERDICT r9 'Next round' #3): with C=64 cells and
    probe 4, the store search must (a) static-prune to EXACTLY the 4
    probed cell directories — n_probe/C = 6.25% of the corpus, the
    pruned-fraction law SCALE §1o measured — and (b) return the same
    ranking as the in-memory IVF search with identical centroids."""
    import random
    from timeseries_data_analysis_spark.operators import similarity as SIM

    random.seed(41)
    rows = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(640)]
    vec_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    full = spark.createDataFrame(rows, vec_schema)
    cent = SIM.dense_seed_ids(
        full.filter(F.col("vec_id") % 7 == 0)
        .select("vec_id", F.col("embedding").alias("centroid")),
        "vec_id", 64, "centroid_id", "centroid")
    assert cent.count() == 64
    out = str(tmp_path / "store64")
    from timeseries_data_analysis_spark.operators.similarity import _assign_cells
    (_assign_cells(full, cent, n_probe=1, id_col="vec_id",
                   vec_col="embedding")
     .select("vec_id", F.col("_v").alias("embedding"),
             F.col("centroid_id").alias("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(out))

    queries = full.filter(F.col("vec_id") < 2) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = SIM.ivf_store_topk(spark, out, queries, cent, k=5, n_probe=4)
    ref = SIM.ivf_topk(full, queries, k=5, n_probe=4, centroids=cent)
    g = {(r["query_id"], r["rk"]): r["vec_id"] for r in got.collect()}
    r_ = {(r["query_id"], r["rk"]): r["vec_id"] for r in ref.collect()}
    assert g == r_ and g
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_at = plan.index("PartitionFilters: [")
    bracket = plan[scan_at + len("PartitionFilters: ["):]
    bracket = bracket[:bracket.index("]")]
    assert "cell" in bracket and "IN" in bracket.upper(), bracket
    # the IN-list is the union of the 2 queries' probed cells: >0 and
    # at most 8 of the 64 — the scan reads ≤12.5% of the directories
    import re as _re
    in_list = _re.search(r"IN \(([\d,]+)\)", bracket).group(1)
    assert 0 < len(set(in_list.split(","))) <= 8, bracket


def test_ivf_ingest_replay_is_idempotent(spark, tmp_path):
    """A micro-batch replayed after a crash between the data write and
    the checkpoint commit rewrites its batch directory instead of
    appending duplicates."""
    import random
    from timeseries_data_analysis_spark.operators import similarity as SIM

    random.seed(29)
    rows = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(20)]
    vec_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    batch = spark.createDataFrame(rows, vec_schema)
    cent = SIM.ivf_fit_centroids(batch, n_centroids=3, seed=5)
    out = str(tmp_path / "store")
    SJ.ivf_commit_batch(batch, 0, cent, out)
    # crash window: data landed, checkpoint didn't — the engine replays
    SJ.ivf_commit_batch(batch, 0, cent, out)
    got = spark.read.parquet(out)
    assert got.count() == 20
    assert got.select("vec_id").distinct().count() == 20


def test_ivf_store_topk_empty_queries(spark, tmp_path):
    """An empty queries frame returns a typed empty result instead of
    crashing on schema inference from [] (ADVICE round 4)."""
    import random
    from timeseries_data_analysis_spark.operators import similarity as SIM
    from timeseries_data_analysis_spark.operators.similarity import _assign_cells

    random.seed(7)
    rows = [(i, [random.gauss(0, 1) for _ in range(4)]) for i in range(20)]
    vec_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    full = spark.createDataFrame(rows, vec_schema)
    cent = SIM.ivf_fit_centroids(full, n_centroids=4, seed=3)
    out = str(tmp_path / "store")
    (_assign_cells(full, cent, n_probe=1, id_col="vec_id",
                   vec_col="embedding")
     .select("vec_id", F.col("_v").alias("embedding"),
             F.col("centroid_id").alias("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(out))

    empty = full.filter(F.col("vec_id") < 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = SIM.ivf_store_topk(spark, out, empty, cent, k=3, n_probe=2)
    assert got.count() == 0
    assert set(got.columns) == {"query_id", "vec_id", "sim", "rk"}


def test_cusum_stream_matches_sequential_reference(spark):
    """The streaming CUSUM must reproduce the sequential recursion
    bit-for-bit against a frozen baseline, and the statistic must carry
    across micro-batch boundaries (state = two bigints per key)."""
    d = tempfile.mkdtemp(prefix="stream_cusum_")
    try:
        base = pd.Timestamp("2024-06-01")
        vals = [1.0, 1.1, 0.9, 1.0, 5.0, 5.1, 5.2, 4.9, 1.0, 1.05,
                1.0, 0.95, 6.0, 6.1, 5.9, 1.0]
        rows = [(base + pd.Timedelta(hours=h), "a", float(v))
                for h, v in enumerate(vals)]
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
        # three files → three micro-batches; state must bridge them
        for i, (lo, hi) in enumerate(((0, 6), (6, 12), (12, 16))):
            spark.createDataFrame(pdf.iloc[lo:hi], schema=SCHEMA) \
                .coalesce(1).write.mode("overwrite").parquet(f"{d}/f{i}")

        baseline = {"a": (1.0, 0.5)}
        src = SJ.stream_source(spark, f"{d}/*", SCHEMA,
                               max_files_per_trigger=1)
        cs = SJ.cusum_stream(src, baseline, k_sigma=0.5)
        q = (cs.writeStream.format("memory").queryName("cusum_sink")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        streamed = spark.sql("SELECT * FROM cusum_sink").toPandas() \
            .sort_values("ts").reset_index(drop=True)

        mu, sigma = baseline["a"]
        sp = sn = 0
        for i, v in enumerate(vals):
            zm = round((v - mu) / sigma * 1_000_000)
            sp = max(0, sp + zm - 500_000)
            sn = max(0, sn - zm - 500_000)
            assert streamed["z_micro"][i] == zm, f"row {i}"
            assert streamed["cusum_pos_micro"][i] == sp, f"row {i}"
            assert streamed["cusum_neg_micro"][i] == sn, f"row {i}"
        # the drift segments must actually alarm at h = 4σ
        assert (streamed["cusum_pos_micro"] > 4_000_000).any()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cusum_stream_unknown_key_is_flat(spark):
    """Keys absent from the baseline emit z = 0 (flat statistic), the
    same degenerate-series contract as the batch operator."""
    d = tempfile.mkdtemp(prefix="stream_cusum_u_")
    try:
        base = pd.Timestamp("2024-06-01")
        rows = [(base + pd.Timedelta(hours=h), "ghost", float(v))
                for h, v in enumerate([1.0, 99.0, -50.0])]
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
        spark.createDataFrame(pdf, schema=SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(f"{d}/f0")
        src = SJ.stream_source(spark, f"{d}/*", SCHEMA)
        cs = SJ.cusum_stream(src, {"a": (1.0, 0.5)})
        q = (cs.writeStream.format("memory").queryName("cusum_sink_u")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        out = spark.sql("SELECT * FROM cusum_sink_u").toPandas()
        assert (out["z_micro"] == 0).all()
        assert (out["cusum_pos_micro"] == 0).all()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_heavy_hitters_sink_bounds_and_crash_replay(spark, tmp_path):
    from collections import Counter
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    state = str(tmp_path / "hh_state")
    k = 16
    # three batches of zipf-ish tokens; true counts known
    batches = [
        [f"t{i}" for i in range(40) for _ in range(120 // (i + 1))],
        [f"t{i}" for i in range(40) for _ in range(80 // (i + 2))],
        ["t0"] * 50 + ["t1"] * 30 + [f"rare{i}" for i in range(60)],
    ]
    true = Counter(x for b in batches for x in b)
    n_total = sum(true.values())

    for bid, toks in enumerate(batches):
        df = spark.createDataFrame([(t,) for t in toks], "item string")
        SJ.hh_commit_batch(df, bid, state, k=k)

    st = {r["item"]: (r["weight"], r["_total"])
          for r in SJ.heavy_hitters_state(spark, state).collect()}
    assert len(st) <= k
    totals = {t for _, t in st.values()}
    assert totals == {n_total}
    err = n_total // (k + 1)
    for item, (w, _) in st.items():
        # MG bound: weight lower-bounds the true count by at most N/(k+1)
        assert w <= true[item] <= w + err
    # no false negatives above the error bound
    for item, c in true.items():
        if c > err:
            assert item in st, (item, c, err)
    # thresholded reader keeps only lower-bound-certified items
    hot = {r["item"] for r in
           SJ.heavy_hitters_state(spark, state, threshold_inv=20).collect()}
    for item in hot:
        assert st[item][0] * 20 > n_total

    # crash-window replay: re-running the LAST batch (state written,
    # checkpoint lost) must rewrite the identical summary
    df2 = spark.createDataFrame([(t,) for t in batches[2]], "item string")
    SJ.hh_commit_batch(df2, 2, state, k=k)
    st2 = {r["item"]: (r["weight"], r["_total"])
           for r in SJ.heavy_hitters_state(spark, state).collect()}
    assert st2 == st


def test_heavy_hitters_total_survives_full_compression(spark, tmp_path):
    """The stream length outlives a compression that drops every item
    (k=2, five tied singletons) and an empty batch: the next batch adds
    to it instead of restarting at 0, so the thresholded reader reports
    no false positive."""
    state = str(tmp_path / "hh_total")
    SJ.hh_commit_batch(spark.createDataFrame(
        [(f"s{i}",) for i in range(5)], "item string"), 0, state, k=2)
    SJ.hh_commit_batch(spark.createDataFrame(
        [("a",)] * 3, "item string"), 1, state, k=2)
    got = [tuple(r) for r in SJ.heavy_hitters_state(spark, state).collect()]
    assert got == [("a", 3, 8)]
    # 'a' is 3/8 of the stream, below the 1/2 support
    assert SJ.heavy_hitters_state(spark, state, threshold_inv=2).count() == 0
    SJ.hh_commit_batch(spark.createDataFrame([], "item string"), 2, state,
                       k=2)
    got = [tuple(r) for r in SJ.heavy_hitters_state(spark, state).collect()]
    assert got == [("a", 3, 8)]


def test_psi_scores_match_batch_audit_and_replay(spark, sf_dir, tmp_path):
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F
    from timeseries_data_analysis_spark.sources import load_table
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    e = ev.select("event_type", "value",
                  F.unix_timestamp("ts").alias("_sec"))
    b = e.agg(F.min("_sec").alias("mn"), F.max("_sec").alias("mx")) \
        .collect()[0]
    cut = b["mn"] + (b["mx"] - b["mn"]) * 7 // 10
    ref = SJ.psi_reference(e.filter(F.col("_sec") <= cut))
    cur = e.filter(F.col("_sec") > cut)

    got = {r["event_type"]: r["psi"]
           for r in SJ.psi_scores(cur, ref).collect()}
    want = {r["event_type"]: r["psi"]
            for r in entry_mod.q_psi_drift(spark, sf_dir).collect()}
    # the streaming scorer and the batch audit are ONE definition
    assert got == want

    # replay idempotence: rewriting the same batch leaves identical rows
    out = str(tmp_path / "psi_metrics")
    SJ.psi_commit_batch(cur, 7, ref, out)
    first = sorted(map(tuple, spark.read.parquet(
        f"{out}/metrics_batch=7").collect()))
    SJ.psi_commit_batch(cur, 7, ref, out)
    again = sorted(map(tuple, spark.read.parquet(
        f"{out}/metrics_batch=7").collect()))
    assert first == again and len(first) == 5

    # drift sensitivity: a shifted copy scores far above the held-out set
    shifted = cur.withColumn("value", F.col("value") * 3 + 100)
    drifted = {r["event_type"]: r["psi"]
               for r in SJ.psi_scores(shifted, ref).collect()}
    for k in drifted:
        assert drifted[k] > got[k] and drifted[k] > 1.0


def test_quantile_sketch_sink_bounds_and_crash_replay(spark, tmp_path):
    """Streaming Munro-Paterson sketch: state stays <= k items per key,
    quantile estimates stay within the accumulated-compaction rank
    budget of the true distribution, and replaying the last batch
    rewrites identical state (single-phase crash contract)."""
    import numpy as np
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    state = str(tmp_path / "kll_state")
    k = 64
    rng = np.random.RandomState(3)
    batches = [rng.lognormal(0, 1, 700), rng.normal(40, 3, 500),
               rng.gamma(2.0, 5.0, 900)]
    for bid, vals in enumerate(batches):
        df = spark.createDataFrame(
            [("a", float(v)) for v in vals],
            "event_type string, value double")
        SJ.kll_commit_batch(df, bid, state, k=k)

    latest = spark.read.parquet(state)
    b = latest.agg({"state_batch": "max"}).collect()[0][0]
    rows = latest.where(latest.state_batch == b).collect()
    assert 0 < len(rows) <= k
    budget = sum(2 ** r["h"] for r in rows)  # >= true accumulated error

    est = {r["p"]: (r["est"], r["w_total"]) for r in
           SJ.quantile_sketch_state_read(spark, state).collect()}
    all_vals = np.sort(np.concatenate(batches))
    n = len(all_vals)
    for p, (e, w) in est.items():
        target = max(1, int(np.ceil(p * w)))
        true_rank = np.searchsorted(all_vals, e, side="right")
        # rank mass w <= n (boundary truncation); compare on the shared
        # scale and allow the compaction budget
        assert abs(true_rank - target) <= budget + (n - w), (p, e)
    # estimates are actual data values and roughly ordered
    ps = sorted(est)
    assert all(est[a][0] <= est[b_][0] for a, b_ in zip(ps, ps[1:]))

    # crash-window replay: identical state rewrite
    df2 = spark.createDataFrame(
        [("a", float(v)) for v in batches[2]],
        "event_type string, value double")
    SJ.kll_commit_batch(df2, 2, state, k=k)
    rows2 = spark.read.parquet(state)
    b2 = rows2.agg({"state_batch": "max"}).collect()[0][0]
    got2 = sorted((r["key"], r["h"], r["value"]) for r in
                  rows2.where(rows2.state_batch == b2).collect())
    got1 = sorted((r["key"], r["h"], r["value"]) for r in rows)
    assert got1 == got2 and b2 == b


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream interval join == the batch inner join with the
    identical condition, across micro-batch boundaries (state must
    buffer clicks until their purchase window closes)."""
    import tempfile
    from pyspark.sql.types import (LongType, StructField, StructType,
                                   TimestampType)
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    c_schema = StructType([StructField("user_id", LongType()),
                           StructField("c_ts", TimestampType()),
                           StructField("click_id", LongType())])
    p_schema = StructType([StructField("user_id", LongType()),
                           StructField("p_ts", TimestampType()),
                           StructField("purchase_id", LongType())])
    from datetime import datetime, timedelta
    base = datetime(2024, 6, 1)
    clicks = [(1, base + timedelta(minutes=m), i)
              for i, m in enumerate([0, 10, 70, 200])]
    clicks += [(2, base + timedelta(minutes=5), 100)]
    purchases = [(1, base + timedelta(minutes=m), 1000 + i)
                 for i, m in enumerate([30, 75, 210, 500])]
    purchases += [(2, base + timedelta(minutes=64), 1100),
                  (3, base + timedelta(minutes=8), 1200)]

    d = tempfile.mkdtemp(prefix="ssj_")
    try:
        cdf = spark.createDataFrame(clicks, c_schema)
        pdf_ = spark.createDataFrame(purchases, p_schema)
        # two files per side -> multiple micro-batches
        cdf.limit(3).coalesce(1).write.parquet(f"{d}/c/f0")
        cdf.subtract(cdf.limit(3)).coalesce(1).write.parquet(f"{d}/c/f1")
        pdf_.limit(3).coalesce(1).write.parquet(f"{d}/p/f0")
        pdf_.subtract(pdf_.limit(3)).coalesce(1).write.parquet(f"{d}/p/f1")

        cs = SJ.stream_source(spark, f"{d}/c/*", c_schema)
        ps = SJ.stream_source(spark, f"{d}/p/*", p_schema)
        out = SJ.stream_stream_interval_join(cs, ps)
        q = (out.writeStream.format("memory").queryName("ssj_sink")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["click_id"], r["purchase_id"]) for r in
               spark.sql("SELECT * FROM ssj_sink").collect()}

        cond = ((cdf.user_id == pdf_.user_id)
                & (pdf_.p_ts > cdf.c_ts)
                & (pdf_.p_ts <= F.expr("c_ts + INTERVAL 1 hour")))
        want = {(r["click_id"], r["purchase_id"]) for r in
                cdf.join(pdf_, cond, "inner").collect()}
        assert got == want and len(want) > 0
        # the join window really constrains: user 1 click at minute 200
        # matches the 210 purchase but not the 500 one
        assert (3, 1002) in want and (3, 1003) not in want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_prune_state_dirs_keeps_replay_window(spark, tmp_path):
    """Retention drops only the oldest state dirs, never the newest
    keep_last (the crash-replay window), and the reader still resolves
    the latest summary afterwards."""
    import pytest as _pytest
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    state = str(tmp_path / "kll_state")
    for bid in range(5):
        df = spark.createDataFrame(
            [("a", float(v + bid)) for v in range(50)],
            "event_type string, value double")
        SJ.kll_commit_batch(df, bid, state, k=16)
    deleted = SJ.prune_state_dirs(spark, state, keep_last=2)
    assert deleted == [0, 1, 2]
    left = {r["state_batch"] for r in
            spark.read.parquet(state).select("state_batch")
            .distinct().collect()}
    assert left == {3, 4}
    est = SJ.quantile_sketch_state_read(spark, state, probs=(0.5,))
    assert est.count() == 1
    with _pytest.raises(ValueError):
        SJ.prune_state_dirs(spark, state, keep_last=1)
    assert SJ.prune_state_dirs(spark, str(tmp_path / "nope")) == []


def _day(i, hour=0):
    return (pd.Timestamp("2024-06-01")
            + pd.Timedelta(days=i, hours=hour)).to_pydatetime()


_T0 = pd.Timestamp("2024-06-01").timestamp()

# name -> (rows of batch i, schema, commit(df, bid, state, out),
#          read(spark, state, out)) for each single-phase state sink
PRUNE_REPLAY_CASES = {
    "hh": (lambda i: [(f"t{j % (i + 2)}",) for j in range(12)],
           "item string",
           lambda df, b, st, out: SJ.hh_commit_batch(df, b, st, k=3),
           lambda spark, st, out: SJ.heavy_hitters_state(spark, st)),
    "kll": (lambda i: [("a", float(v + i)) for v in range(20)],
            "event_type string, value double",
            lambda df, b, st, out: SJ.kll_commit_batch(df, b, st, k=8),
            lambda spark, st, out: SJ.quantile_sketch_state_read(
                spark, st, probs=(0.5, 0.9))),
    "hll": (lambda i: [("a", i * 10 + j) for j in range(15)],
            "event_type string, item long",
            lambda df, b, st, out: SJ.hll_commit_batch(df, b, st),
            lambda spark, st, out: SJ.hll_state_estimate(spark, st)),
    "dau_panel": (lambda i: [(_day(i, j), j + i) for j in range(5)],
                  "ts timestamp, user_id long",
                  lambda df, b, st, out: SJ.dau_panel_commit_batch(
                      df, b, st),
                  lambda spark, st, out: SJ.dau_panel_estimate(spark, st)),
    "vocab": (lambda i: [(i, f"alpha w{i} beta beta", "src0"),
                         (10 + i, "gamma w0", "src1")],
              "doc_id long, text string, source string",
              lambda df, b, st, out: SJ.vocab_commit_batch(df, b, st),
              lambda spark, st, out: SJ.vocab_state_estimate(spark, st)),
    "logit": (lambda i: [(float(j - i), float(i - 2 * j), j % 2)
                         for j in range(8)],
              "x1 double, x2 double, y int",
              lambda df, b, st, out: SJ.logit_commit_batch(
                  df, b, st, xcols=["x1", "x2"], ycol="y"),
              lambda spark, st, out: SJ.logit_state_beta(spark, st)),
    "pca": (lambda i: [(j, [float(j + i), float(j * j % 7), float(i)])
                       for j in range(6)],
            "id long, embedding array<double>",
            lambda df, b, st, out: SJ.pca_commit_batch(df, b, st, dim=3),
            lambda spark, st, out: SJ.pca_state_fit(spark, st, k=2)),
    "msprt": (lambda i: [(_day(i, j), float(j * (i + 1)), j)
                         for j in range(6)],
              "ts timestamp, value double, user_id long",
              lambda df, b, st, out: SJ.msprt_commit_batch(df, b, st, out),
              lambda spark, st, out: spark.read.parquet(
                  f"{out}/monitor_batch=3")),
    "periodogram": (lambda i: [(_day(0, 6 * i + j), k, float(j + i))
                               for j in range(6) for k in ("a", "b")],
                    "ts timestamp, event_type string, value double",
                    lambda df, b, st, out: SJ.periodogram_commit_batch(
                        df, b, st, out, _T0),
                    lambda spark, st, out: spark.read.parquet(
                        f"{out}/spectrum_batch=3")),
    "nb": (lambda i: [(3 * i + j, "aa" if j % 2 else "bb",
                       f"tok{j} common w{i}") for j in range(3)],
           "doc_id long, lang string, text string",
           lambda df, b, st, out: SJ.nb_commit_batch(df, b, st),
           lambda spark, st, out: SJ.nb_state_model(spark, st,
                                                    min_count=1)),
    "als": (lambda i: [(j % 3, (j + i) % 4) for j in range(8)],
            "c long, s long",
            lambda df, b, st, out: SJ.als_commit_batch(df, b, st),
            lambda spark, st, out: SJ.als_state_model(spark, st)),
}


def _plain(x):
    """Readouts (DataFrames, tuples of them, dicts of arrays) as
    comparable Python values."""
    import numpy as np
    from pyspark.sql import DataFrame

    if isinstance(x, DataFrame):
        return sorted(map(tuple, x.collect()), key=repr)
    if isinstance(x, dict):
        return {k: _plain(v) for k, v in x.items()}
    if isinstance(x, (tuple, list)):
        return [_plain(v) for v in x]
    if isinstance(x, np.ndarray):
        return x.tolist()
    return x


@pytest.mark.parametrize("sink", sorted(PRUNE_REPLAY_CASES))
def test_prune_then_replay_keeps_state_and_readout(spark, tmp_path, sink):
    """Every single-phase state sink: after 4 batches and
    prune_state_dirs(keep_last=2), replaying the newest batch (which
    reads its predecessor) rewrites identical state, and the reader
    returns what it returned before the prune."""
    rows, schema, commit, read = PRUNE_REPLAY_CASES[sink]
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    batches = [spark.createDataFrame(rows(i), schema) for i in range(4)]
    for bid, df in enumerate(batches):
        commit(df, bid, state, out)
    newest = f"{state}/state_batch=3"
    state_rows = _plain(spark.read.parquet(newest))
    readout = _plain(read(spark, state, out))
    assert SJ.prune_state_dirs(spark, state, keep_last=2) == [0, 1]
    commit(batches[3], 3, state, out)
    assert _plain(spark.read.parquet(newest)) == state_rows
    assert _plain(read(spark, state, out)) == readout


def test_hll_sink_batch_stream_equivalence_and_replay(spark, tmp_path):
    """Micro-batched HLL registers must equal one batch sketch over the
    union (MAX merge law), the state estimate must match the batch
    estimate arithmetic, and crash-replay of the last batch must be
    idempotent."""
    from pyspark.sql import functions as F
    from timeseries_data_analysis_spark.operators import sketch as SK
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    state = str(tmp_path / "hll_state")
    batches = [
        [("a", i) for i in range(400)] + [("b", i) for i in range(50)],
        [("a", i) for i in range(200, 700)] + [("b", i) for i in range(30)],
        [("b", i) for i in range(40, 140)] + [("a", 5)],
    ]
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "grp string, item long")
        SJ.hll_commit_batch(df, bid, state, group_col="grp",
                            item_col="item", p=9)

    union = spark.createDataFrame(
        [r for b in batches for r in b], "grp string, item long")
    want_regs = sorted(map(tuple, SK.hll_registers(
        union, "grp", "item", p=9).collect()))
    store = spark.read.parquet(state)
    latest = store.agg(F.max("state_batch")).collect()[0][0]
    got_regs = sorted(map(tuple, store.where(
        F.col("state_batch") == latest)
        .select("grp", "_b", "_m").collect()))
    assert got_regs == want_regs            # batch/stream register parity

    est = {r["grp"]: r["hll_estimate"] for r in
           SJ.hll_state_estimate(spark, state, group_col="grp").collect()}
    want_est = {r["grp"]: r["hll_estimate"] for r in SK.hll_estimates(
        SK.hll_registers(union, "grp", "item", p=9), "grp").collect()}
    assert est == want_est                  # bit-identical estimates
    exact = {"a": 701, "b": 140}
    for g, e in est.items():                # ~4.6% std error at p=9
        assert abs(e - exact[g]) / exact[g] < 0.2, (g, e)

    # crash-window replay: recommitting the last batch is a no-op
    df2 = spark.createDataFrame(batches[2], "grp string, item long")
    SJ.hll_commit_batch(df2, 2, state, group_col="grp",
                        item_col="item", p=9)
    again = sorted(map(tuple, spark.read.parquet(state).where(
        F.col("state_batch") == 2).select("grp", "_b", "_m").collect()))
    assert again == got_regs


def test_msprt_sink_matches_batch_monitor_and_replay(spark, sf_dir, tmp_path):
    """The streaming always-valid A/B monitor folded over 3 time-split
    micro-batches must reproduce the BATCH `msprt_monitor` readout
    exactly (sufficient statistics are additive), the mid-stream
    readout must equal the batch monitor over the prefix (the
    peek-anytime guarantee), and a crash-window replay of the last
    batch must rewrite identical state and readout."""
    from pyspark.sql import functions as F
    from timeseries_data_analysis_spark.sources import load_table
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.unix_timestamp(F.min("ts")).alias("mn"),
               F.unix_timestamp(F.max("ts")).alias("mx")).collect()[0]
    cut1 = b["mn"] + (b["mx"] - b["mn"]) // 3
    cut2 = b["mn"] + 2 * (b["mx"] - b["mn"]) // 3
    sec = F.unix_timestamp("ts")
    batches = [ev.filter(sec <= cut1),
               ev.filter((sec > cut1) & (sec <= cut2)),
               ev.filter(sec > cut2)]
    state = str(tmp_path / "msprt_state")
    out = str(tmp_path / "msprt_out")

    def rows(df):
        return sorted(
            ((r["day"], r["n_a"], r["n_b"], r["delta"], r["ln_lambda"],
              r["p_always_valid"]) for r in df.collect()))

    for bid, bdf in enumerate(batches):
        SJ.msprt_commit_batch(bdf, bid, state, out)
        if bid == 0:
            # peek-anytime: mid-stream readout == batch monitor on prefix
            prefix = SJ.msprt_readout(SJ.msprt_day_stats(batches[0]))
            got0 = rows(spark.read.parquet(f"{out}/monitor_batch=0"))
            assert got0 == rows(prefix)

    want = rows(SJ.msprt_readout(SJ.msprt_day_stats(ev)))
    got = rows(spark.read.parquet(f"{out}/monitor_batch=2"))
    assert got == want
    assert len(got) >= 5  # a real multi-day trajectory, not degenerate

    # the p-value trajectory is non-increasing in running-max form
    traj = [r[5] for r in got if r[5] is not None]
    assert all(a >= b for a, b in zip(traj, traj[1:]))

    # crash-window replay: state 2 written, checkpoint lost → rerun
    SJ.msprt_commit_batch(batches[2], 2, state, out)
    assert rows(spark.read.parquet(f"{out}/monitor_batch=2")) == got
    st = spark.read.parquet(f"{state}/state_batch=2")
    assert st.count() == len(got)


def test_periodogram_sink_matches_batch_and_replay(spark, sf_dir, tmp_path):
    """The streaming spectral monitor folded over 3 time-split
    micro-batches must reproduce the one-shot batch periodogram with
    the same fixed origin (partials are additive), and a crash-window
    replay of the last batch must rewrite identical state and readout.
    Also asserts origin-invariance of the amplitudes (a shifted t0
    changes (C, S) but not C²+S²) within float tolerance."""
    import math

    from pyspark.sql import functions as F
    from timeseries_data_analysis_spark.operators import spectral as SPEC
    from timeseries_data_analysis_spark.sources import load_table
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.unix_timestamp(F.min("ts")).alias("mn"),
               F.unix_timestamp(F.max("ts")).alias("mx")).collect()[0]
    t0 = float(b["mn"])
    cut1 = b["mn"] + (b["mx"] - b["mn"]) // 3
    cut2 = b["mn"] + 2 * (b["mx"] - b["mn"]) // 3
    sec = F.unix_timestamp("ts")
    batches = [ev.filter(sec <= cut1),
               ev.filter((sec > cut1) & (sec <= cut2)),
               ev.filter(sec > cut2)]
    state = str(tmp_path / "pg_state")
    out = str(tmp_path / "pg_out")

    def rows(df):
        return sorted(((r["event_type"], r["harmonic"], r["n"],
                        r["amplitude"]) for r in df.collect()))

    for bid, bdf in enumerate(batches):
        SJ.periodogram_commit_batch(bdf, bid, state, out, t0)

    def batch_periodogram(origin):
        base = (ev.filter(F.col("value").isNotNull())
                .select("event_type", F.col("value").alias("_v"),
                        (F.col("ts").cast("double") - F.lit(origin))
                        .alias("_t")))
        return SPEC.dft_amplitudes(
            SPEC.dft_partials(base, SPEC.OMEGAS_DAILY),
            SPEC.OMEGAS_DAILY)

    got = rows(spark.read.parquet(f"{out}/spectrum_batch=2"))
    want = rows(batch_periodogram(t0))
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert math.isclose(g[3], w[3], rel_tol=0, abs_tol=2e-6)

    # origin invariance: shift t0 by 1000 s -> same amplitudes
    shifted = rows(batch_periodogram(t0 - 1000.0))
    for g, s in zip(want, shifted):
        assert g[:3] == s[:3]
        assert math.isclose(g[3], s[3], rel_tol=0, abs_tol=2e-6)

    # crash-window replay rewrites identical state + readout
    SJ.periodogram_commit_batch(batches[2], 2, state, out, t0)
    assert rows(spark.read.parquet(f"{out}/spectrum_batch=2")) == got


def test_periodogram_sink_prune_then_replay(spark, sf_dir, tmp_path):
    """prune_state_dirs is the shared retention for every
    state_batch= sink: after pruning to keep_last=2, a crash-replay of
    the NEWEST batch (which reads its predecessor) must still rewrite
    identical state and readout for the spectral sink."""
    from pyspark.sql import functions as F
    from timeseries_data_analysis_spark.sources import load_table
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.unix_timestamp(F.min("ts")).alias("mn"),
               F.unix_timestamp(F.max("ts")).alias("mx")).collect()[0]
    t0 = float(b["mn"])
    cut1 = b["mn"] + (b["mx"] - b["mn"]) // 3
    cut2 = b["mn"] + 2 * (b["mx"] - b["mn"]) // 3
    sec = F.unix_timestamp("ts")
    batches = [ev.filter(sec <= cut1),
               ev.filter((sec > cut1) & (sec <= cut2)),
               ev.filter(sec > cut2)]
    state = str(tmp_path / "pgp_state")
    out = str(tmp_path / "pgp_out")
    for bid, bdf in enumerate(batches):
        SJ.periodogram_commit_batch(bdf, bid, state, out, t0)
    got = sorted(map(tuple, spark.read.parquet(
        f"{out}/spectrum_batch=2").collect()))

    deleted = SJ.prune_state_dirs(spark, state, keep_last=2)
    assert deleted == [0]
    # replay of the newest batch reads state_batch=1, still present
    SJ.periodogram_commit_batch(batches[2], 2, state, out, t0)
    again = sorted(map(tuple, spark.read.parquet(
        f"{out}/spectrum_batch=2").collect()))
    assert again == got


def test_nb_sink_batch_stream_equivalence_and_replay(spark, sf_dir, tmp_path):
    """The streaming NB maintenance sink folded over 3 doc-id-split
    micro-batches must yield the IDENTICAL model (quantized logliks +
    priors) as one batch nb_fit over the identically-filtered union —
    counts are additive integers, so this is exact equality, not
    tolerance. NULL-label and NULL-text rows are injected into a batch
    to pin the sink's documented domain contract (dropped at ingest,
    matched by the batch-side filter). A crash-window replay of the
    last batch must rewrite identical state."""
    from pyspark.sql import functions as F
    from timeseries_data_analysis_spark.ml import nb as NB
    from timeseries_data_analysis_spark.sources import load_table
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang",
                                                         "text")
    nulls = spark.createDataFrame(
        [(900001, None, "null label text"), (900002, "aa", None),
         (900003, None, None)],
        "doc_id long, lang string, text string")
    batches = [docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
               for i in range(3)]
    batches[1] = batches[1].unionByName(nulls)
    state = str(tmp_path / "nb_state")
    for bid, bdf in enumerate(batches):
        SJ.nb_commit_batch(bdf, bid, state)

    ll_s, pr_s = SJ.nb_state_model(spark, state, min_count=3)
    # the sink's domain: labeled, non-null-text rows only
    clean = (docs.unionByName(nulls)
             .filter(F.col("lang").isNotNull() & F.col("text").isNotNull()))
    toks = NB.tokenize(clean.select("lang", "text"))
    ll_b, pr_b = NB.nb_fit(toks, clean.select("lang"), "lang", min_count=3)

    def ll_rows(df):
        return sorted((r["token"], r["lang"], r["loglik"])
                      for r in df.collect())

    def pr_rows(df):
        return sorted((r["lang"], r["logprior"]) for r in df.collect())

    assert ll_rows(ll_s) == ll_rows(ll_b)
    assert pr_rows(pr_s) == pr_rows(pr_b)

    # crash-window replay: re-commit the last batch; state identical
    before = sorted(
        (r["kind"], r["token"], r["label"], r["n"])
        for r in spark.read.parquet(f"{state}/state_batch=2").collect())
    SJ.nb_commit_batch(batches[2], 2, state)
    after = sorted(
        (r["kind"], r["token"], r["label"], r["n"])
        for r in spark.read.parquet(f"{state}/state_batch=2").collect())
    assert before == after


def test_nb_sink_min_count_is_global_not_per_batch(spark, tmp_path):
    """A token seen twice per batch across three batches (6 total) must
    clear min_count=5 at readout even though no single batch clears it
    — the property that forces vocab derivation to the readout."""
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    state = str(tmp_path / "nb_mc_state")
    for bid in range(3):
        bdf = spark.createDataFrame(
            [(bid * 2, "aa", "rare rare common common common"),
             (bid * 2 + 1, "bb", "common common common")],
            "doc_id long, lang string, text string")
        SJ.nb_commit_batch(bdf, bid, state)
    ll, _ = SJ.nb_state_model(spark, state, min_count=5)
    vocab = {r["token"] for r in ll.select("token").distinct().collect()}
    assert "rare" in vocab      # 6 global occurrences >= 5
    assert "common" in vocab


def test_als_sink_batch_stream_equivalence_and_replay(spark, sf_dir, tmp_path):
    """Rank-2 ALS from stream-folded interaction counts must equal the
    batch fit on the union EXACTLY (integer counts -> identical 9-dp
    factors); crash-replay of the last batch rewrites identical state."""
    from pyspark.sql import functions as F
    from timeseries_data_analysis_spark.ml import als as ALS
    from timeseries_data_analysis_spark.sources import load_table
    from timeseries_data_analysis_spark.streaming import jobs as SJ

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_suppkey")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey",
                                                    "o_custkey")
    inter = (li.join(od, li.l_orderkey == od.o_orderkey)
             .select(F.col("o_custkey").alias("c"),
                     F.col("l_suppkey").alias("s"),
                     "l_orderkey"))
    nulls = spark.createDataFrame(
        [(None, 7), (3, None), (None, None)], "c long, s long")
    batches = [inter.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == i)
               .select("c", "s") for i in range(3)]
    batches[0] = batches[0].unionByName(nulls)
    state = str(tmp_path / "als_state")
    for bid, bdf in enumerate(batches):
        SJ.als_commit_batch(bdf, bid, state)

    u_s, v_s = SJ.als_state_model(spark, state)
    # the sink's domain: fully-keyed interactions only
    ratings = (inter.groupBy("c", "s")
               .agg(F.count(F.lit(1)).alias("r")))
    u_b, v_b = ALS.als_rankk_exact_fit(ratings, k=2, rounds=1, reg=0.1)

    def rows(df, key):
        return sorted((r[key], r["v1"] if "v1" in df.columns else r["u1"],
                       r["v2"] if "v2" in df.columns else r["u2"])
                      for r in df.collect())

    assert rows(v_s, "s") == rows(v_b, "s")
    assert rows(u_s, "c") == rows(u_b, "c")

    # crash-window replay
    before = sorted((r["c"], r["s"], r["n"]) for r in
                    spark.read.parquet(f"{state}/state_batch=2").collect())
    SJ.als_commit_batch(batches[2], 2, state)
    after = sorted((r["c"], r["s"], r["n"]) for r in
                   spark.read.parquet(f"{state}/state_batch=2").collect())
    assert before == after


def test_page_hinkley_stream_matches_batch_query(spark):
    """The streaming PH monitor must reproduce the `page_hinkley`
    registry query's readout EXACTLY on a replayed daily sequence —
    same rounding law in the same dependency order — with state
    bridging micro-batch boundaries, and must stay flat for keys
    absent from the frozen params (the cusum_stream contract)."""
    import __spark_entry__ as em

    from timeseries_data_analysis_spark.functions.stats import \
        half_up as r6

    d = tempfile.mkdtemp(prefix="stream_ph_")
    try:
        vals = [round(10.0 + (0.4 if i % 2 == 0 else -0.4), 6)
                for i in range(18)]
        vals += [round(v + 12.0, 6) for v in vals[:12]]   # level shift
        base = pd.Timestamp("2024-03-01")
        pdf = pd.DataFrame({
            "ts": [base + pd.Timedelta(days=i) for i in range(len(vals))],
            "event_type": "kiln", "value": vals})
        # batch side: the registry query over the same sequence
        bdir = tempfile.mkdtemp(prefix="stream_ph_batch_")
        pdf.assign(event_id=range(len(vals)),
                   user_id=[i % 5 for i in range(len(vals))]) \
            .to_parquet(f"{bdir}/events.parquet")
        batch = em.queries()["page_hinkley"](spark, bdir).collect()[0]

        # frozen params exactly as the batch query derives them
        import numpy as np
        sd = r6(float(np.sqrt(np.mean((np.array(vals)
                                       - np.mean(vals)) ** 2))))
        delta, lam = r6(sd * 0.05), r6(sd * 3.0)
        assert lam == batch["threshold"]

        for i, (lo, hi) in enumerate(((0, 10), (10, 20), (20, 30))):
            spark.createDataFrame(pdf.iloc[lo:hi], schema=SCHEMA) \
                .coalesce(1).write.mode("overwrite").parquet(f"{d}/f{i}")
        src = SJ.stream_source(spark, f"{d}/*", SCHEMA,
                               max_files_per_trigger=1)
        ph = SJ.page_hinkley_stream(src, {"kiln": (delta, lam)})
        q = (ph.writeStream.format("memory").queryName("ph_sink")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM ph_sink").toPandas() \
            .sort_values("ts").reset_index(drop=True)

        # sequential reference = the batch recursion, literally
        n = s = m = 0.0
        minm = 0.0
        ref = []
        for i, v in enumerate(vals):
            n += 1
            s += v
            mbar = r6(s / n)
            term = r6(v - mbar - delta)
            m += term
            m_t = r6(m)
            minm = m_t if i == 0 else min(minm, m_t)
            ref.append((mbar, r6(m_t - minm)))
        for i, (mbar, phv) in enumerate(ref):
            assert got["mbar"][i] == mbar, f"row {i}"
            assert got["ph"][i] == phv, f"row {i}"

        # readout aggregates == the batch registry row, exactly
        assert got["ph"].max() == batch["max_ph"]
        assert int(got["alarm"].sum()) == batch["n_alarms"]
        first = got.loc[got["alarm"] == 1, "ts"].min()
        assert str(first.date()) == batch["first_alarm"]
        assert batch["n_alarms"] >= 1   # the shift actually alarms
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_markov_stream_matches_batch_transitions(spark):
    """The streaming transition extractor must reproduce the
    `transition_matrix` registry query's counts EXACTLY on a replayed
    stream, with per-user last-event state bridging micro-batch
    boundaries (user sequences are deliberately split mid-stream).
    (The fixture has no NULL event types, where the stream's
    skip-without-touching-state contract and the batch query's
    window-then-filter differ by design.)"""
    import __spark_entry__ as em

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
    ])
    d = tempfile.mkdtemp(prefix="stream_mk_")
    try:
        base = pd.Timestamp("2024-03-01")
        types = ["view", "click", "view", "purchase", "click"]
        rows = []
        for i in range(30):
            rows.append((base + pd.Timedelta(minutes=i),
                         types[(i * 7) % 5], float(i), i % 4, i))
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value",
                                          "user_id", "event_id"])
        bdir = tempfile.mkdtemp(prefix="stream_mk_batch_")
        pdf.to_parquet(f"{bdir}/events.parquet")
        batch = {(r["from_type"], r["to_type"]): r["n"]
                 for r in em.queries()["transition_matrix"](
                     spark, bdir).collect()}

        # 3 micro-batches; every user's sequence spans all three
        for i, (lo, hi) in enumerate(((0, 10), (10, 20), (20, 30))):
            spark.createDataFrame(pdf.iloc[lo:hi], schema=schema) \
                .coalesce(1).write.mode("overwrite").parquet(f"{d}/f{i}")
        src = SJ.stream_source(spark, f"{d}/*", schema,
                               max_files_per_trigger=1)
        mk = SJ.markov_stream(src)
        q = (mk.writeStream.format("memory").queryName("mk_sink")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got_rows = spark.sql(
            "SELECT from_type, to_type, count(*) AS n FROM mk_sink "
            "GROUP BY 1, 2").collect()
        got = {(r["from_type"], r["to_type"]): r["n"] for r in got_rows}
        assert got == batch and sum(batch.values()) == 26  # 30 - 4 firsts
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_croston_stream_matches_batch_forecaster(spark):
    """The streaming Croston monitor must reproduce the batch
    `TS.croston_forecast` readout BIT-FOR-BIT after replaying the same
    demand sequence across 3 micro-batches (state bridges the splits),
    and every intermediate row must equal the sequential recursion."""
    from timeseries_data_analysis_spark.operators import timeseries as TS

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("t", T.LongType()),
        T.StructField("z", T.DoubleType()),
    ])
    # irregular gaps + varying sizes, single key
    demands = [(3 * k + (k % 3), 5.0 + (k % 4) * 2.5) for k in range(15)]
    pdf = pd.DataFrame([("kiln", t, z) for t, z in demands],
                       columns=["event_type", "t", "z"])
    d = tempfile.mkdtemp(prefix="stream_cr_")
    try:
        for i, (lo, hi) in enumerate(((0, 5), (5, 10), (10, 15))):
            spark.createDataFrame(pdf.iloc[lo:hi], schema=schema) \
                .coalesce(1).write.mode("overwrite").parquet(f"{d}/f{i}")
        src = SJ.stream_source(spark, f"{d}/*", schema,
                               max_files_per_trigger=1)
        cr = SJ.croston_stream(src)
        q = (cr.writeStream.format("memory").queryName("cr_sink")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM cr_sink ORDER BY t").collect()
        assert len(got) == 15

        batch = TS.croston_forecast(
            spark.createDataFrame(pdf, schema=schema),
            "event_type", "t", "z", alpha=0.1).collect()[0]
        last = got[-1]
        assert last["z_hat"] == batch["z_hat"]
        assert last["p_hat"] == batch["p_hat"]
        assert last["forecast"] == batch["forecast"]

        # every prefix row equals the sequential recursion
        a, n, zh, ph, last_t = 0.1, 0, 0.0, 0.0, 0
        for i, (t, z) in enumerate(demands):
            n += 1
            if n == 1:
                zh = z
            else:
                zh = zh + a * (z - zh)
                if n == 2:
                    ph = float(t - last_t)
                else:
                    ph = ph + a * (float(t - last_t) - ph)
            last_t = t
            assert got[i]["z_hat"] == zh, i
            assert got[i]["p_hat"] == ph, i
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_page_hinkley_stream_unknown_key_is_flat(spark):
    """Keys absent from the frozen params emit ph = 0 / no alarm."""
    d = tempfile.mkdtemp(prefix="stream_ph_u_")
    try:
        base = pd.Timestamp("2024-03-01")
        pdf = pd.DataFrame({
            "ts": [base + pd.Timedelta(days=i) for i in range(4)],
            "event_type": "ghost", "value": [1.0, 99.0, -50.0, 7.0]})
        spark.createDataFrame(pdf, schema=SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(f"{d}/f0")
        src = SJ.stream_source(spark, f"{d}/*", SCHEMA)
        ph = SJ.page_hinkley_stream(src, {"kiln": (0.01, 1.0)})
        q = (ph.writeStream.format("memory").queryName("ph_sink_u")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM ph_sink_u").toPandas()
        assert (got["ph"] == 0.0).all() and (got["alarm"] == 0).all()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_holt_stream_matches_batch_forecaster(spark):
    """The streaming damped-Holt monitor must reproduce the batch
    `TS.holt_linear(phi=0.85)` readout BIT-FOR-BIT after replaying the
    same series across 3 micro-batches (state bridges the splits), and
    every intermediate row must equal the sequential recursion."""
    from timeseries_data_analysis_spark.operators import timeseries as TS

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("t", T.LongType()),
        T.StructField("y", T.DoubleType()),
    ])
    ys = [50.0 + 3.0 * k + ((-1) ** k) * (k % 5) for k in range(15)]
    pdf = pd.DataFrame([("kiln", k, y) for k, y in enumerate(ys)],
                       columns=["event_type", "t", "y"])
    d = tempfile.mkdtemp(prefix="stream_holt_")
    try:
        for i, (lo, hi) in enumerate(((0, 5), (5, 10), (10, 15))):
            spark.createDataFrame(pdf.iloc[lo:hi], schema=schema) \
                .coalesce(1).write.mode("overwrite").parquet(f"{d}/f{i}")
        src = SJ.stream_source(spark, f"{d}/*", schema,
                               max_files_per_trigger=1)
        hs = SJ.holt_stream(src, value_col="y", alpha=0.3, beta=0.1,
                            horizon=7, phi=0.85)
        q = (hs.writeStream.format("memory").queryName("holt_sink")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM holt_sink ORDER BY t").collect()
        assert len(got) == 15

        # n = 1 sentinel row
        assert got[0]["level"] == ys[0]
        assert got[0]["trend"] == 0.0 and got[0]["forecast_h"] == 0.0

        batch = TS.holt_linear(
            spark.createDataFrame(pdf, schema=schema),
            "event_type", "t", "y", alpha=0.3, beta=0.1,
            horizon=7, phi=0.85).collect()[0]
        last = got[-1]
        assert last["level"] == batch["level"]
        assert last["trend"] == batch["trend"]
        assert last["forecast_h"] == batch["forecast_h"]
        assert last["mae"] == batch["mae"]

        # every prefix row equals the sequential recursion
        a, b_, ph = 0.3, 0.1, 0.85
        l, b = ys[0], ys[1] - ys[0]
        esum = 0.0
        for k, y in enumerate(ys[1:], start=1):
            pred = l + ph * b
            lnew = a * y + (1 - a) * pred
            bnew = b_ * (lnew - l) + (1 - b_) * (ph * b)
            esum = esum + abs(y - pred)
            l, b = lnew, bnew
            assert got[k]["level"] == l, k
            assert got[k]["trend"] == b, k
            assert got[k]["mae"] == esum / k, k
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_rsi_stream_matches_batch_fold(spark):
    """The streaming Wilder monitor must reproduce the batch
    `TS.wilder_rsi` readout BIT-FOR-BIT after replaying the same
    series across 3 micro-batches, and every post-seed row must equal
    the sequential fold."""
    from timeseries_data_analysis_spark.operators import timeseries as TS

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("t", T.LongType()),
        T.StructField("y", T.DoubleType()),
    ])
    ys = [40.0 + ((7 * k) % 11) - 0.25 * k for k in range(21)]
    pdf = pd.DataFrame([("kiln", k, y) for k, y in enumerate(ys)],
                       columns=["event_type", "t", "y"])
    d = tempfile.mkdtemp(prefix="stream_rsi_")
    try:
        for i, (lo, hi) in enumerate(((0, 7), (7, 14), (14, 21))):
            spark.createDataFrame(pdf.iloc[lo:hi], schema=schema) \
                .coalesce(1).write.mode("overwrite").parquet(f"{d}/f{i}")
        src = SJ.stream_source(spark, f"{d}/*", schema,
                               max_files_per_trigger=1)
        rs = SJ.rsi_stream(src, value_col="y", period=14)
        q = (rs.writeStream.format("memory").queryName("rsi_sink")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM rsi_sink ORDER BY t").collect()
        assert len(got) == 21
        assert got[0]["rsi"] == 0.0 and got[13]["rsi"] == 0.0  # pre-seed

        batch = TS.wilder_rsi(
            spark.createDataFrame(pdf, schema=schema),
            "event_type", "t", "y", period=14).collect()[0]
        last = got[-1]
        assert last["avg_gain"] == batch["avg_gain"]
        assert last["avg_loss"] == batch["avg_loss"]
        assert last["rsi"] == batch["rsi"]

        # post-seed prefix rows equal the fold
        ag = al = 0.0
        for k in range(1, 21):
            dlt = ys[k] - ys[k - 1]
            g = dlt if dlt > 0 else 0.0
            lo = -dlt if dlt < 0 else 0.0
            if k <= 14:
                ag, al = ag + g, al + lo
                if k == 14:
                    ag, al = ag / 14, al / 14
            else:
                ag = (ag * 13 + g) / 14
                al = (al * 13 + lo) / 14
            if k >= 14:
                assert got[k]["avg_gain"] == ag, k
                assert got[k]["avg_loss"] == al, k
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_vocab_sink_matches_batch_panel(spark, tmp_path):
    """The streaming Chao1/Good-Turing maintained view must equal the
    batch `unseen_vocab_panel` over the union BIT-FOR-BIT at EVERY
    micro-batch prefix (the dau_panel prefix contract, lifted from
    sketch state to exact count state), and crash-replay of the last
    batch must be idempotent."""
    from timeseries_data_analysis_spark.operators import tokenizer as TOKZ

    state = str(tmp_path / "vocab_state")
    # token frequencies that move f1/f2 across batch boundaries: a
    # batch-1 singleton recurs in batch 2 (f1 -> f2 transition), case
    # folding collapses across batches, empty/whitespace docs vanish
    batches = [
        [(0, "alpha beta beta gamma", "src0"),
         (1, "  ", "src0"),
         (2, "delta epsilon", "src1")],
        [(3, "ALPHA zeta gamma gamma", "src0"),
         (4, "delta delta eta theta", "src1"),
         (5, "", "src1")],
        [(6, "iota beta zeta zeta", "src0"),
         (7, "epsilon kappa", "src1"),
         (8, "solo", "src2")],
    ]
    schema = "doc_id long, text string, source string"

    def batch_panel(prefix):
        union = spark.createDataFrame(
            [r for b in prefix for r in b], schema)
        return sorted(map(tuple, TOKZ.unseen_vocab_panel(
            TOKZ.source_token_counts(union)).collect()))

    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        SJ.vocab_commit_batch(df, bid, state)
        got = sorted(map(tuple, SJ.vocab_state_estimate(
            spark, state).collect()))
        assert got == batch_panel(batches[:bid + 1]), f"prefix {bid}"

    # crash-window replay: recommitting the last batch is a no-op
    before = sorted(map(tuple, spark.read.parquet(state).where(
        F.col("state_batch") == 2).collect()))
    SJ.vocab_commit_batch(
        spark.createDataFrame(batches[2], schema), 2, state)
    after = sorted(map(tuple, spark.read.parquet(state).where(
        F.col("state_batch") == 2).collect()))
    assert after == before


def test_dau_panel_sink_matches_batch_panel(spark, tmp_path):
    """The streaming DAU/WAU/MAU maintained view must equal the batch
    `hll_day_panel` over the union BIT-FOR-BIT at EVERY micro-batch
    prefix (the croston/holt/rsi prefix contract, lifted to sketch
    state), and crash-replay of the last batch must be idempotent."""
    from timeseries_data_analysis_spark.operators import sketch as SK

    state = str(tmp_path / "dau_state")
    base = pd.Timestamp("2024-06-01")
    # 3 micro-batches spanning 40 days with overlapping users, so the
    # 7- and 30-day windows both cross batch boundaries
    batches = [
        [((base + pd.Timedelta(days=d, hours=u % 24)).to_pydatetime(), u)
         for d in range(0, 10) for u in range(0, 120, 3)],
        [((base + pd.Timedelta(days=d, hours=u % 24)).to_pydatetime(), u)
         for d in range(8, 25) for u in range(60, 200, 2)],
        [((base + pd.Timedelta(days=d, hours=u % 24)).to_pydatetime(), u)
         for d in range(25, 40) for u in range(0, 200, 5)],
    ]
    schema = "ts timestamp, user_id long"

    def batch_panel(prefix):
        union = spark.createDataFrame(
            [r for b in prefix for r in b], schema)
        ev = (union.filter(F.col("user_id").isNotNull())
              .select(F.to_date("ts").alias("_d"), "user_id"))
        return sorted(map(tuple, SK.hll_day_panel(
            SK.hll_registers(ev, "_d", "user_id", p=9)).collect()))

    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        SJ.dau_panel_commit_batch(df, bid, state)
        got = sorted(map(tuple, SJ.dau_panel_estimate(
            spark, state).collect()))
        assert got == batch_panel(batches[:bid + 1]), f"prefix {bid}"

    # sanity: the final panel is accurate against exact distincts
    # (p=9 ~4.6% std error; allow 20%)
    union = spark.createDataFrame(
        [r for b in batches for r in b], schema)
    exact = {r["day"]: r["dau"] for r in
             (union.select(F.to_date("ts").alias("day"), "user_id")
              .groupBy("day")
              .agg(F.countDistinct("user_id").alias("dau")).collect())}
    got_map = {r[0]: r[1] for r in got}
    for day, dau in exact.items():
        assert abs(got_map[day] - dau) / dau < 0.2, (day, dau, got_map[day])

    # crash-window replay: recommitting the last batch is a no-op
    before = sorted(map(tuple, spark.read.parquet(state).where(
        F.col("state_batch") == 2).collect()))
    SJ.dau_panel_commit_batch(
        spark.createDataFrame(batches[2], schema), 2, state)
    after = sorted(map(tuple, spark.read.parquet(state).where(
        F.col("state_batch") == 2).collect()))
    assert after == before

"""Property-based checks (SURVEY.md §5.2-4) via hypothesis.

Cheap invariants over randomized inputs: ffill idempotence, pivot/melt
round-trip, spine row-count arithmetic, dedup-digest stability, interval
join boundary behavior. One shared SparkSession; hypothesis generates
SMALL examples (tens of rows) so each property runs in seconds.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, assume, given, settings, strategies as st
from pyspark.sql import functions as F

from timeseries_data_analysis_spark.operators import (dedup as DD,
                                                      pivot as PV,
                                                      timeseries as TS)

SETTINGS = dict(max_examples=10, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


values_with_nulls = st.lists(
    st.one_of(st.none(), st.floats(min_value=-1e6, max_value=1e6,
                                   allow_nan=False)),
    min_size=1, max_size=30)


@given(vals=values_with_nulls)
@settings(**SETTINGS)
def test_ffill_idempotent(spark, vals):
    """ffill(ffill(x)) == ffill(x) — filling twice changes nothing."""
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=len(vals), freq="h"),
        "v": vals,
    })
    df = spark.createDataFrame(pdf)
    once = df.select("ts", TS.ffill("v", [], ["ts"]).alias("v"))
    twice = once.select("ts", TS.ffill("v", [], ["ts"]).alias("v"))
    a = once.orderBy("ts").toPandas()
    b = twice.orderBy("ts").toPandas()
    pd.testing.assert_frame_equal(a, b)


@given(vals=values_with_nulls)
@settings(**SETTINGS)
def test_fill_chain_total(spark, vals):
    """fill_chain never leaves a null (ffill→bfill→0 is total)."""
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=len(vals), freq="h"),
        "v": vals,
    })
    df = spark.createDataFrame(pdf)
    out = df.select(TS.fill_chain("v", [], ["ts"]).alias("v")).toPandas()
    assert out["v"].notna().all()


@given(vals=st.lists(st.floats(min_value=-100, max_value=100,
                               allow_nan=False),
                     min_size=2, max_size=20),
       keys=st.integers(min_value=2, max_value=4))
@settings(**SETTINGS)
def test_pivot_melt_roundtrip(spark, vals, keys):
    """melt(pivot(long)) == long for unique (ts, key) pairs."""
    rows = [(pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i // keys),
             f"k{i % keys}", v) for i, v in enumerate(vals)]
    pdf = pd.DataFrame(rows, columns=["ts", "key", "value"]).drop_duplicates(
        subset=["ts", "key"])
    df = spark.createDataFrame(pdf)
    vals_list = sorted(pdf["key"].unique())
    wide = PV.pivot_wide(df, ["ts"], "key", "value", values=vals_list)
    back = PV.melt(wide, ["ts"], key_name="key", value_name="value") \
        .filter(F.col("value").isNotNull())
    a = df.orderBy("ts", "key").toPandas().reset_index(drop=True)
    b = back.orderBy("ts", "key").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


@given(n_hours=st.integers(min_value=1, max_value=200))
@settings(**SETTINGS)
def test_spine_count(spark, n_hours):
    """An hourly spine over [t0, t0+n) has exactly n rows."""
    t0 = pd.Timestamp("2024-01-01")
    t1 = t0 + pd.Timedelta(hours=n_hours - 1)
    spine = TS.time_spine(spark, str(t0), str(t1))
    assert spine.count() == n_hours


@given(text=st.text(min_size=0, max_size=200))
@settings(**SETTINGS)
def test_digest_normalization_invariance(spark, text):
    """Digest is invariant under case + whitespace-run changes.

    Only for case-round-trippable text: characters like 'ß' (upper → 'SS',
    which lowers to 'ss') genuinely change the normalized form under
    upper(), so the invariance claim does not apply to them.
    """
    assume(text.upper().lower() == text.lower())
    noisy = "  " + text.upper().replace(" ", "   ") + " "
    df = spark.createDataFrame(
        pd.DataFrame({"t": [text, noisy]}).astype({"t": "string"}))
    out = df.select(DD.text_digest("t").alias("d")).toPandas()
    assert out["d"].iloc[0] == out["d"].iloc[1]


@given(jitter=st.integers(min_value=0, max_value=59))
@settings(**SETTINGS)
def test_interval_join_boundaries(spark, jitter):
    """[start, end) inclusivity: ts==start matches, ts==end does not."""
    start = pd.Timestamp("2024-01-01 10:00:00")
    end = pd.Timestamp("2024-01-01 12:00:00")
    probe = pd.DataFrame({"ts": [start, end,
                                 start + pd.Timedelta(minutes=jitter)]})
    iv = pd.DataFrame({"start": [start], "end": [end]})
    from timeseries_data_analysis_spark.operators import intervals as IV
    out = IV.interval_join(spark.createDataFrame(probe),
                           spark.createDataFrame(iv), how="inner").toPandas()
    matched = set(out["ts"])
    assert start in matched
    assert end not in matched
    assert (start + pd.Timedelta(minutes=jitter)) in matched


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@given(st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
    min_size=1, max_size=25))
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    from timeseries_data_analysis_spark.operators import graph as GR
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_l long, id_r long")
    got = {r["vertex"]: r["component"]
           for r in GR.connected_components(df, max_iter=40).collect()}
    exp = _union_find_components(edges)
    # union-find roots are min ids per component by construction above?
    # Not guaranteed by path order — normalize both to min-of-component.
    comp_min = {}
    for v, root in exp.items():
        comp_min.setdefault(root, v)
        comp_min[root] = min(comp_min[root], v)
    exp_norm = {v: comp_min[root] for v, root in exp.items()}
    assert got == exp_norm


def test_cc_long_chain(spark):
    """A 61-vertex path graph (the adversarial high-diameter shape):
    label propagation with pointer jumping still converges inside its
    default round cap to one component with the min-id root."""
    from timeseries_data_analysis_spark.operators import graph as GR
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_l long, id_r long")
    out = GR.connected_components(df).collect()
    assert {r["component"] for r in out} == {0}
    assert sorted(r["vertex"] for r in out) == list(range(61))


@given(st.lists(st.text(alphabet="abc xyz", min_size=0, max_size=12),
                min_size=0, max_size=6),
       st.integers(2, 4))
@settings(**SETTINGS)
def test_shingles_match_python_ngrams(spark, texts, n):
    """Guard for the zip_with shingle builder: must equal plain Python
    n-grams over the same normalized token stream."""
    import re
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", DD.shingles_from_tokens(DD.tokens("text"), n).alias("sh")
    ).collect()}
    for i, t in enumerate(texts):
        norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", t.lower())).strip()
        toks = norm.split(" ") if norm else [""]
        if len(toks) >= n:
            exp = [" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)]
        else:
            exp = [" ".join(toks)]
        assert got[i] == exp, (t, toks)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(w1=st.floats(0.05, 0.9), w2=st.floats(0.05, 0.09))
def test_hash_split_is_partition_for_any_weights(spark, w1, w2):
    """hash_split assigns EVERY row to exactly one split for arbitrary
    weight vectors (no gaps at the cumulative boundaries, no overlap)."""
    from timeseries_data_analysis_spark.operators import sampling as SMP
    assume(w1 + w2 < 0.999)
    splits = [("a", w1), ("b", w2), ("c", 1.0 - w1 - w2)]
    df = spark.range(0, 400).withColumnRenamed("id", "rid")
    out = SMP.hash_split(df, "rid", splits)
    assert out.filter(F.col("split").isNull()).count() == 0
    assert out.count() == 400
    got = {r["split"] for r in out.select("split").distinct().collect()}
    assert got <= {"a", "b", "c"}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0))
def test_stratified_sample_monotone_in_fraction(spark, frac):
    """A sampled set at fraction f is a SUBSET of the set at any f' >= f
    (nested samples — the property hash thresholds guarantee and rand()
    sampling does not)."""
    from timeseries_data_analysis_spark.operators import sampling as SMP
    df = (spark.range(0, 300).withColumnRenamed("id", "rid")
          .withColumn("g", F.lit("x")))
    small = SMP.stratified_hash_sample(df, "g", "rid", {"x": frac})
    full = SMP.stratified_hash_sample(df, "g", "rid", {"x": min(1.0, frac + 0.3)})
    assert small.exceptAll(full).count() == 0


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="ab @.-0123456789", min_size=0, max_size=60),
                min_size=1, max_size=8))
def test_pii_scrub_is_idempotent(spark, texts):
    """Scrubbing already-scrubbed text is a no-op for arbitrary input —
    the placeholders contain no digits or @, so no pattern can re-fire."""
    from timeseries_data_analysis_spark.functions import text as TX
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    once = df.select("doc_id", TX.pii_scrub("text").alias("t"))
    twice = once.select("doc_id", TX.pii_scrub("t").alias("t"))
    assert [r["t"] for r in once.orderBy("doc_id").collect()] == \
           [r["t"] for r in twice.orderBy("doc_id").collect()]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(w=st.floats(0.0, 1.0))
def test_weighted_sample_monotone_in_weight(spark, w):
    """The kept set at weight w is nested inside the kept set at any
    higher weight — per-row thresholds share one hash, so raising the
    weight only ADMITS rows (rand() sampling has no such property)."""
    from timeseries_data_analysis_spark.operators import sampling as SMP
    df = spark.range(0, 300).withColumnRenamed("id", "rid")
    lo = SMP.weighted_hash_sample(df, F.lit(w), "rid")
    hi = SMP.weighted_hash_sample(df, F.lit(min(1.0, w + 0.25)), "rid")
    assert lo.exceptAll(hi).count() == 0


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n_tok=st.integers(1, 300))
def test_chunking_covers_every_token_with_exact_overlap(spark, n_tok):
    """For any document length: concatenating the stride-32 chunks minus
    their 32-token overlaps reconstructs the token stream exactly —
    chunk starts tile [1, n] with step 32, each chunk caps at 64."""
    toks = [f"t{i}" for i in range(n_tok)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    from pyspark.sql import functions as FF
    tk = df.select("doc_id", FF.split(FF.trim("text"), r"\s+").alias("_toks"))
    long = tk.select(
        "doc_id", FF.explode(FF.expr("sequence(1, size(_toks), 32)")).alias("start"),
        FF.slice(FF.col("_toks"), FF.col("start"), 64).alias("chunk"))
    rows = long.orderBy("start").collect()
    # starts tile by 32 and every token position is inside >=1 chunk
    starts = [r["start"] for r in rows]
    assert starts == list(range(1, n_tok + 1, 32))
    covered = []
    for r in rows:
        covered.extend(range(r["start"], r["start"] + len(r["chunk"])))
    assert set(covered) == set(range(1, n_tok + 1))
    # first 32 tokens of each chunk concatenated == the full stream
    prefix = [t for r in rows for t in r["chunk"][:32]]
    assert prefix == toks


@given(zs=st.lists(st.integers(min_value=-5_000_000, max_value=5_000_000),
                   min_size=1, max_size=200))
@settings(**SETTINGS)
def test_cusum_prefix_identity(zs):
    """The window formulation S_t = P_t − min(0, min_{i≤t} P_i) must
    equal the sequential recursion S_t = max(0, S_{t-1} + y_t) for any
    integer sequence — the identity cusum_features is built on (pure
    math, no Spark)."""
    k = 500_000
    ys = [z - k for z in zs]
    # sequential reference
    seq, s = [], 0
    for y in ys:
        s = max(0, s + y)
        seq.append(s)
    # prefix-sum formulation
    p, pm, out = 0, 0, []
    for y in ys:
        p += y
        pm = min(pm, p)
        out.append(p - min(pm, 0))
    assert out == seq


@given(n=st.integers(min_value=1, max_value=3000),
       k=st.sampled_from([16, 64, 256]))
@settings(max_examples=10, deadline=None)
def test_kmv_estimator_reference(n, k):
    """Pure-python KMV reference: below k the estimate is exact; above k
    the (k−1)/h_k estimate lands within 5/sqrt(k) relative error for
    md5-hashed item sets (deterministic given (n, k) — no flakiness)."""
    import hashlib
    fracs = sorted(
        int(hashlib.md5(f"item{i}".encode()).hexdigest()[:15], 16)
        / float(1 << 60)
        for i in range(n))
    if n < k:
        est = float(n)
        assert est == n
    else:
        est = (k - 1) / fracs[k - 1]
        assert abs(est - n) / n < 5.0 / (k ** 0.5)


@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=40),
    min_size=2, max_size=10))
@settings(**SETTINGS)
def test_simhash_wide_banding_is_exact_within_pigeonhole(spark, texts):
    """Over RANDOM low-alphabet texts (maximal hash collisions and tied
    fingerprints), the wide banded join must emit exactly the pairs
    whose two-half Hamming distance is ≤ bands−1 — the pigeonhole
    guarantee — and never a pair above the threshold."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {(r["id_l"], r["id_r"]): r["hamming"]
           for r in DD.simhash_wide_pairs(df, bands=4,
                                          max_hamming=3).collect()}
    fps = {r["_id"]: (r["_fp_lo"], r["_fp_hi"])
           for r in DD.simhash_wide_fingerprints(df).collect()}
    expect = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            h = (bin(fps[i][0] ^ fps[j][0]).count("1")
                 + bin(fps[i][1] ^ fps[j][1]).count("1"))
            if h <= 3:
                expect[(i, j)] = h
    assert got == expect


@given(demands=st.lists(
    st.tuples(st.integers(0, 500), st.floats(min_value=0.1, max_value=50,
                                             allow_nan=False)),
    min_size=2, max_size=25, unique_by=lambda p: p[0]))
@settings(**SETTINGS)
def test_croston_forecast_bounded_by_observed_range(spark, demands):
    """Croston invariants over random demand sequences: ẑ stays inside
    the observed size range, p̂ inside the observed gap range, and the
    per-period forecast inside [min_size/max_gap, max_size/min_gap] —
    exponential smoothers are convex combinations of their inputs."""
    demands = sorted(demands)
    df = spark.createDataFrame([("k", t, z) for t, z in demands],
                               "k string, t long, z double")
    r = TS.croston_forecast(df, "k", "t", "z", alpha=0.1).collect()[0]
    sizes = [z for _, z in demands]
    gaps = [demands[i + 1][0] - demands[i][0]
            for i in range(len(demands) - 1)]
    eps = 1e-9
    assert min(sizes) - eps <= r["z_hat"] <= max(sizes) + eps
    assert min(gaps) - eps <= r["p_hat"] <= max(gaps) + eps
    assert (min(sizes) / max(gaps) - eps <= r["forecast"]
            <= max(sizes) / min(gaps) + eps)

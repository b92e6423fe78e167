"""Structured Streaming layer (SURVEY.md §2.9 T1-T5).

The reference's "streaming" is a Dash dashboard polling CSVs every 60 s
through a producer thread + queue (``dashboard.py:113,528-539,782-810``).
Here the same semantics are real Structured Streaming jobs:

  T1  60 s micro-batch refresh   → file source + Trigger.ProcessingTime
  T2  windowed re-aggregation    → event-time tumbling window + watermark
  T3  threshold alerting         → streaming agg + foreachBatch sink
  T4  incremental model update   → foreachBatch hook (side-effecting, kept
                                   outside engine semantics per SURVEY §7.4)
  T5  late/duplicate handling    → watermark + dropDuplicates (richer than
                                   the reference's duplicate-mean collapse)
  +   continuous-corpus dedup    → foreachBatch digest-index anti-join
  +   stream-static enrichment   → broadcast dim join, no stream state
  +   stream-stream interval join → watermarked two-sided join state
  +   stateful anomaly/sessions  → one applyInPandasWithState runner
                                   (_fold_stream) for the sequential
                                   monitors; session_window for sessions
  +   sketch maintenance sinks   → MG heavy hitters, MP quantiles, PSI

Scale design: the streaming plans are the SAME DataFrame expressions as
the batch layer (one definition, two execution modes) — batch/stream
equivalence is a test invariant, not an aspiration. The sequential
monitors run on :func:`_fold_stream`; the Holt, Croston and Wilder-RSI
ones fold the very step their ``operators.timeseries`` batch operator
folds. Watermarks bound the state of the windowed, deduplicating and
joining operators; alerting state is per-key and tiny.

Replay-safe sinks. Each ``foreachBatch`` sink is one module-level
``<name>_commit_batch(batch_df, batch_id, ...)`` function, started with
:func:`run_with_foreach_batch` and ``functools.partial`` for its options
(``benchmark_guard_sink`` is the one exception: it collects its benchmark
matrix once, not per batch). Every commit overwrites a batch-id-keyed
directory ``<root>/<kind>=<batch_id>`` (:func:`_overwrite_batch_dir`), so
a batch that Structured Streaming replays after a crash before its
checkpoint commit rewrites the same files instead of appending a second
copy — the idempotent, batch-id-keyed sink of Armbrust et al. (SIGMOD
2018). Two protocols build on it:

* Single-phase state (hh, kll, hll, dau_panel, vocab, logit, pca, msprt,
  periodogram, nb, als): batch N writes its complete post-merge state to
  the ``STATE_DIR=N`` partition of its state path, computed from the
  newest committed state with id < N (:func:`_latest_state`). The state
  is self-contained, so a replay of N reads the same predecessor and
  rewrites identical state. Readers take the newest id; older
  directories are a time-travel audit and the replay predecessor
  (:func:`prune_state_dirs` keeps at least two).
* Two-phase ingest (exact and near-dup dedup, governance): the kept rows
  land in ``ingest_batch=N`` first, then their index rows append stamped
  ``_batch_id=N``, the commit marker. A replay that finds its marker is
  a no-op (:func:`_committed`); one that does not recomputes the
  identical rows from the unchanged index and overwrites the same
  directory, so a crash between the two writes never doubles a document.

Stateless sinks (IVF assignment, PSI metrics, the benchmark guard) only
overwrite their batch directory. The digest and fingerprint indexes and
the vocab/NB/ALS count tables grow with distinct documents, vocabulary
or pairs, not with a watermark horizon.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_source(spark: SparkSession, path: str, schema: StructType,
                  fmt: str = "parquet",
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based streaming source (T1): new files under ``path`` become
    micro-batches. The reference's 60 s poll loop is the degenerate form."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_rollup(events: DataFrame, ts_col: str = "ts",
                    key_col: str = "event_type", value_col: str = "value",
                    watermark: str = "2 hours") -> DataFrame:
    """T2 core: tumbling 1 h aggregate KEEPING the window struct column —
    required for chaining further stateful aggregations (Spark's chained
    time-window pattern; projecting out ``win.start`` breaks watermark
    propagation and trips the global-watermark correctness check)."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, "1 hour").alias("win"), key_col)
            .agg(F.avg(value_col).alias("avg_value"),
                 F.count(F.lit(1)).alias("n_events")))


def hourly_rollup(events: DataFrame, ts_col: str = "ts",
                  key_col: str = "event_type", value_col: str = "value",
                  watermark: str = "2 hours") -> DataFrame:
    """T2: event-time tumbling 1 h aggregate with bounded state.

    Identical semantics to the batch ``date_trunc('hour')`` group-agg
    (operators.timeseries.downsample) — the window's ``start`` IS the
    truncated hour. Watermark bounds state: hours older than the watermark
    finalize and evict.
    """
    return (windowed_rollup(events, ts_col, key_col, value_col, watermark)
            .select(F.col("win.start").alias("ts"), key_col,
                    "avg_value", "n_events"))


def dedup_stream(events: DataFrame, keys: list[str],
                 ts_col: str = "ts", watermark: str = "2 hours") -> DataFrame:
    """T5: drop duplicate (key, ts) rows within the watermark horizon.

    Richer than the reference's duplicate-mean collapse (A1): exact
    first-wins dedup with bounded state. For mean-collapse semantics use
    ``hourly_rollup`` (aggregation subsumes duplicates).
    """
    return events.withWatermark(ts_col, watermark) \
        .dropDuplicatesWithinWatermark(keys + [ts_col])


def threshold_alerts(events: DataFrame, threshold: float,
                     min_series: int = 3, ts_col: str = "ts",
                     key_col: str = "event_type", value_col: str = "value",
                     watermark: str = "2 hours") -> DataFrame:
    """T3: per-hour alert when ≥ ``min_series`` series fall below threshold.

    Reference rule: ≥3 zones below per-zone thresholds ⇒ accretion alert
    (``dashboard.py:388-427,869-913``). Two chained stateful aggregations:
    per-(hour, series) rollup, then per-hour count of low series — chained
    on the window STRUCT column (``window(win, '1 hour')``) so the
    watermark propagates through both state stores.
    """
    rollup = windowed_rollup(events, ts_col, key_col, value_col, watermark)
    low = rollup.withColumn("_low", (F.col("avg_value") < threshold).cast("int"))
    return (low.groupBy(F.window("win", "1 hour").alias("win2"))
            .agg(F.sum("_low").alias("n_low_series"))
            .select(F.col("win2.start").alias("ts"), "n_low_series",
                    (F.col("n_low_series") >= min_series).cast("int").alias("alert")))


def _fold_stream(stream: DataFrame, key_col: str, order_cols: list[str],
                 in_cols: list[str], state_ddl: str, out_cols: list[str],
                 init: tuple, step: Callable) -> DataFrame:
    """The one runner of the sequential stream monitors below: per key,
    a left fold ``state, row = step(key, state, *values)`` over every
    micro-batch, via ``applyInPandasWithState``.

    Per key and micro-batch it restores the state (``init`` on the key's
    first batch), concatenates the Arrow chunks Spark hands over
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` splits a large
    group) and stable-sorts them together on ``order_cols``: a per-chunk
    sort breaks the order across chunk boundaries, and mergesort keeps
    rows that tie on ``order_cols`` in arrival order. ``step`` sees the ``in_cols`` values of
    each row in that order; each row it returns (``None`` emits nothing)
    is output, and the last state is stored. ``out_cols`` are the output
    ``"name type"`` fields, where the bare ``key_col`` takes the input
    key's type (``_key_ddl``). Order ACROSS micro-batches is stream
    arrival: late rows are the caller's watermarking problem."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.timeseries import _key_ddl

    fields = [_key_ddl(stream, c) if c == key_col else c for c in out_cols]
    names = [f.split()[0] for f in fields]

    def fn(key, pdfs, state):
        st = state.get if state.exists else init
        rows = []
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                order_cols, kind="mergesort")
            for vals in zip(*(pdf[c] for c in in_cols)):
                st, row = step(key[0], st, *vals)
                if row is not None:
                    rows.append(row)
        state.update(tuple(st))
        yield pd.DataFrame(rows, columns=names)

    return (stream.groupBy(key_col)
            .applyInPandasWithState(fn, ", ".join(fields), state_ddl,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_anomaly(events: DataFrame, key_col: str = "event_type",
                      ts_col: str = "ts", value_col: str = "value",
                      window: int = 24, n_sigma: float = 2.0,
                      min_valid_frac: float = 0.5) -> DataFrame:
    """The reference's trailing-window anomaly detector (W11) as a CUSTOM
    STATEFUL streaming operator on :func:`_fold_stream`.

    Batch twin: ``operators.windows.anomaly_features`` — same semantics
    (μ, σ_pop over the preceding ``window`` ROWS excluding the current;
    valid when the buffer holds ``window`` rows with > ``min_valid_frac``
    non-null; flag −1/+1 outside μ ± nσ). Per-key state is a bounded
    ring of the last ``window`` values (nulls stored as NaN so the
    rows-vs-valid distinction survives), so state size is O(keys·window)
    regardless of stream length. Batch/stream equivalence is a test
    invariant (tests/test_streaming.py) given in-order arrival per key
    across micro-batches; within one they are sorted by ``ts``.
    """
    import math

    def step(k, st, ts, v):
        wnd = st[0][-window:]
        valid_vals = [x for x in wnd if not math.isnan(x)]
        valid = (len(wnd) >= window
                 and len(valid_vals) > window * min_valid_frac)
        flag = 0
        is_null = v is None or (isinstance(v, float) and math.isnan(v))
        if valid and valid_vals and not is_null:
            mu = sum(valid_vals) / len(valid_vals)
            var = sum((x - mu) ** 2 for x in valid_vals) / len(valid_vals)
            sd = math.sqrt(var)
            if v < mu - n_sigma * sd:
                flag = -1
            elif v > mu + n_sigma * sd:
                flag = 1
        x = float("nan") if is_null else float(v)
        return (([*wnd, x][-window:],),
                (ts, k, None if is_null else x, flag))

    return _fold_stream(
        events, key_col, [ts_col], [ts_col, value_col], "vals array<double>",
        [f"{ts_col} timestamp", key_col, f"{value_col} double",
         "anomaly_flag int"], ([],), step)


def cusum_stream(events: DataFrame, baseline: dict,
                 key_col: str = "event_type", ts_col: str = "ts",
                 value_col: str = "value",
                 k_sigma: float = 0.5) -> DataFrame:
    """Streaming two-sided CUSUM drift monitor on :func:`_fold_stream` —
    the online twin of ``operators.windows.cusum_features``.

    ``baseline`` maps key → (μ, σ): control charts monitor drift AGAINST
    A FROZEN BASELINE, which is exactly why the streaming variant takes
    the parameters instead of re-estimating them from the stream (the
    batch op's data-derived μ/σ is the fitting step; this is the
    monitoring step). Identical integer micro-unit algebra — z quantized
    to round(z·10⁶) before accumulation — so a replayed stream and the
    batch op produce bit-identical statistics: per-key state is exactly
    two bigints (S⁺, S⁻), O(keys) total, regardless of stream length.
    Quantization is HALF-UP away from zero (``_round_half_up``), matching
    Spark's ``F.round`` in the batch op and DuckDB's ``round`` in the
    oracle — NOT Python's banker's ``round()``, which rounds half-to-even
    and would diverge for z·10⁶ values landing exactly on .5.

    Rows within a micro-batch are sorted by ``ts``. Keys absent from
    ``baseline`` or with σ ≤ 0 emit z = 0 (flat statistic) — the same
    degenerate-series contract as the batch op.
    """
    import math

    def _round_half_up(x: float) -> int:
        # sign-symmetric half-away-from-zero, matching F.round / DuckDB
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    k_micro = _round_half_up(k_sigma * 1_000_000)

    def step(k, st, ts, v):
        mu, sigma = baseline.get(k, (0.0, 0.0))
        if sigma > 0 and v is not None and v == v:
            zm = _round_half_up((float(v) - mu) / sigma * 1_000_000)
        else:
            zm = 0
        s_pos = max(0, st[0] + zm - k_micro)
        s_neg = max(0, st[1] - zm - k_micro)
        return (s_pos, s_neg), (ts, k, zm, s_pos, s_neg)

    return _fold_stream(
        events, key_col, [ts_col], [ts_col, value_col],
        "s_pos bigint, s_neg bigint",
        [f"{ts_col} timestamp", key_col, "z_micro bigint",
         "cusum_pos_micro bigint", "cusum_neg_micro bigint"], (0, 0), step)


def page_hinkley_stream(events: DataFrame, params: dict,
                        key_col: str = "event_type", ts_col: str = "ts",
                        value_col: str = "value") -> DataFrame:
    """Streaming Page-Hinkley mean-drift monitor on :func:`_fold_stream`
    — the online twin of the ``page_hinkley`` registry query (which is
    the point of PH: it is a SEQUENTIAL detector; the batch form replays
    it, this runs it live).

    ``params`` maps key → (δ, λ): the batch query derives δ = 0.05σ,
    λ = 3σ at fit time from the series' own spread; the monitor takes
    them FROZEN (the ``cusum_stream`` posture — estimating σ from the
    monitored stream would let drift recalibrate its own alarm away).
    Per-key state is (n, Σv, exact cumulative m, running min of the
    ROUNDED m) — four scalars, O(keys) total regardless of stream
    length. Every emitted statistic applies the batch op's exact
    rounding law (HALF_UP at 6 dp after the +1e-9 nudge, the repo's
    single rounding law) in the same dependency order — prefix mean,
    increment, cumulative sum, PH — so a replayed stream reproduces
    the batch query's per-row columns bit-for-bit and the readout
    aggregates (max_ph, n_alarms, first alarm) match exactly
    (test-pinned). Keys absent from ``params`` or with λ ≤ 0 emit a
    flat statistic (ph = 0, no alarm) without touching state — the
    ``cusum_stream`` unknown-key contract. Rows within a micro-batch
    are sorted by ``ts``.
    """
    from ..functions.stats import half_up as _r6  # THE rounding law

    def step(k, st, ts, v):
        delta, lam = params.get(k, (0.0, 0.0))
        if lam <= 0 or v is None or v != v:
            return st, (ts, k, 0.0, 0.0, 0)
        n, s, m, minm = st
        n += 1
        s += float(v)
        mbar = _r6(s / n)
        term = _r6(float(v) - mbar - delta)
        m += term
        m_t = _r6(m)
        minm = m_t if n == 1 else min(minm, m_t)
        ph = _r6(m_t - minm)
        return (n, s, m, minm), (ts, k, mbar, ph, 1 if ph > lam else 0)

    return _fold_stream(
        events, key_col, [ts_col], [ts_col, value_col],
        "n bigint, s double, m double, minm double",
        [f"{ts_col} timestamp", key_col, "mbar double", "ph double",
         "alarm int"], (0, 0.0, 0.0, 0.0), step)


def markov_stream(events: DataFrame, key_col: str = "user_id",
                  ts_col: str = "ts", type_col: str = "event_type",
                  id_col: str = "event_id") -> DataFrame:
    """Streaming first-order transition extractor on
    :func:`_fold_stream` — the online twin of the ``transition_matrix``
    registry query: per-user state is the LAST seen event type (ONE
    string per user — O(users) state regardless of stream length), and
    each arriving event emits its (from, to) transition row. Aggregating
    the emitted transitions over any micro-batch replay equals the batch
    query's ``lead()``-derived counts EXACTLY: rows are (ts, event_id)
    stable-sorted per micro-batch and the carried state stitches batch
    boundaries, which together reproduce the batch window order. Null
    event types pass through without touching state (the batch query
    filters them before the window)."""
    def step(k, st, ts, et):
        if et is None:
            return st, None
        return (et,), None if st[0] is None else (k, st[0], et, ts)

    return _fold_stream(
        events, key_col, [ts_col, id_col], [ts_col, type_col],
        "last string",
        [key_col, "from_type string", "to_type string",
         f"{ts_col} timestamp"], (None,), step)


def croston_stream(demand_stream: DataFrame, key_col: str = "event_type",
                   t_col: str = "t", demand_col: str = "z",
                   alpha: float = 0.1) -> DataFrame:
    """Streaming Croston intermittent-demand monitor on
    :func:`_fold_stream` — the online twin of
    ``operators.timeseries.croston_forecast``, folding the same
    ``_croston_step`` over (n_demands, last_t, ẑ, p̂) — four scalars per
    key, O(keys) total — so a replayed demand stream reproduces the
    batch operator's (ẑ, p̂, forecast) BIT-FOR-BIT at every prefix
    (test-pinned across micro-batch splits). Emits one row per demand
    with the post-update state; forecast is 0.0 before the second
    demand. Rows within a micro-batch are t-sorted."""
    from ..operators.timeseries import _croston_step

    a = float(alpha)
    if not 0 < a < 1:
        raise ValueError("croston_stream needs 0 < alpha < 1")

    def step(k, st, t, z):
        st = _croston_step(st, int(t), float(z), a)
        n, t, zh, ph = st
        # ph > 0 guard: a replayed/duplicate period index t (gap 0 at
        # n == 2) would otherwise emit inf/NaN; the batch twin can
        # never produce it (its input is groupBy'd on t), so the guard
        # changes nothing on any stream the batch query could also see.
        return st, (k, t, n, zh, ph, zh / ph if n >= 2 and ph > 0 else 0.0)

    return _fold_stream(
        demand_stream, key_col, [t_col], [t_col, demand_col],
        "n bigint, last_t bigint, zh double, ph double",
        [key_col, f"{t_col} long", "n_demands long", "z_hat double",
         "p_hat double", "forecast double"], (0, 0, 0.0, 0.0), step)


def holt_stream(series_stream: DataFrame, key_col: str = "event_type",
                t_col: str = "t", value_col: str = "y",
                alpha: float = 0.3, beta: float = 0.1,
                horizon: int = 7, phi: float = 1.0) -> DataFrame:
    """Streaming (damped-trend) Holt monitor on :func:`_fold_stream` —
    the online twin of ``operators.timeseries.holt_linear``, folding the
    same ``_holt_step`` over (n, level, trend, |error| sum) — four
    scalars per key, O(keys) total — so a replayed series reproduces the
    batch operator's (level, trend, forecast_h, mae) BIT-FOR-BIT at
    every prefix across micro-batch splits (test-pinned). Emits one row
    per period with the post-update state; n = 1 rows emit
    trend/forecast/mae = 0.0 sentinels (the batch operator refuses
    < 2 periods). Rows within a micro-batch are t-sorted; grid
    regularity is the caller's downsample problem."""
    from ..operators.timeseries import _FOLD0, _holt_forecast, _holt_step

    a, b_, ph = float(alpha), float(beta), float(phi)
    if not 0 < ph <= 1:
        raise ValueError("holt_stream needs 0 < phi <= 1")
    h = int(horizon)

    def step(k, st, t, y):
        st = _holt_step(st, float(y), a, b_, ph)
        n, l, b, esum = st
        if n < 2:
            return st, (k, int(t), n, l, 0.0, 0.0, 0.0)
        return st, (k, int(t), n, l, b, _holt_forecast(l, b, ph, h),
                    esum / (n - 1))

    return _fold_stream(
        series_stream, key_col, [t_col], [t_col, value_col],
        "n bigint, l double, b double, esum double",
        [key_col, f"{t_col} long", "n_periods long", "level double",
         "trend double", "forecast_h double", "mae double"], _FOLD0, step)


def rsi_stream(series_stream: DataFrame, key_col: str = "event_type",
               t_col: str = "t", value_col: str = "y",
               period: int = 14) -> DataFrame:
    """Streaming Wilder RSI monitor on :func:`_fold_stream` — the online
    twin of ``operators.timeseries.wilder_rsi``, folding the same
    ``_wilder_step`` over (n, prev, AG, AL) — four scalars per key — so
    a replayed series reproduces the batch (avg_gain, avg_loss, rsi)
    BIT-FOR-BIT at every prefix with ≥ period+1 observations
    (test-pinned across micro-batch splits). Rows before the seed
    completes emit rsi = 0.0 sentinels with the raw accumulating state.
    Rows within a micro-batch are t-sorted."""
    from ..operators.timeseries import _FOLD0, _rsi, _wilder_step

    per = int(period)
    if per < 1:
        raise ValueError("rsi_stream needs period >= 1")

    def step(k, st, t, y):
        st = _wilder_step(st, float(y), per)
        n, _, ag, al = st
        return st, (k, int(t), n, ag, al,
                    _rsi(ag, al) if n >= per + 1 else 0.0)

    return _fold_stream(
        series_stream, key_col, [t_col], [t_col, value_col],
        "n bigint, prev double, ag double, al double",
        [key_col, f"{t_col} long", "n_obs long", "avg_gain double",
         "avg_loss double", "rsi double"], _FOLD0, step)


def session_window_rollup(events: DataFrame, gap: str = "30 minutes",
                          ts_col: str = "ts", key_col: str = "user_id",
                          value_col: str = "value",
                          watermark: str = "2 hours") -> DataFrame:
    """Gap-based session windows (beyond the reference — SURVEY §2.9 notes
    it has none): per-key sessions close after ``gap`` of silence.

    Batch twin: ``operators.timeseries.sessionize`` (lag + cumulative
    session ids) — same grouping for in-order data. Streaming state is one
    open session per key, merged/evicted by the watermark.
    """
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.session_window(ts_col, gap).alias("win"), key_col)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(value_col).alias("sum_value"))
            .select(F.col("win.start").alias("session_start"),
                    F.col("win.end").alias("session_end"),
                    key_col, "n_events", "sum_value"))


def stream_stream_join(left: DataFrame, right: DataFrame,
                       key_col: str = "user_id",
                       ts_col: str = "ts",
                       tolerance: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Stream-stream inner join within a time tolerance (beyond the
    reference): pair each left event with right events for the same key at
    most ``tolerance`` later — the streaming form of the bounded-range
    interval join (J3 family).

    Both sides carry watermarks and the join predicate bounds event-time
    distance, so each side's buffered state evicts once the other side's
    watermark passes (Spark's state-cleanup condition for stream-stream
    joins).
    """
    lt = left.select(F.col(key_col).alias("l_key"),
                     F.col(ts_col).alias("l_ts"),
                     F.col("event_id").alias("l_event_id")) \
        .withWatermark("l_ts", watermark)
    rt = right.select(F.col(key_col).alias("r_key"),
                      F.col(ts_col).alias("r_ts"),
                      F.col("event_id").alias("r_event_id")) \
        .withWatermark("r_ts", watermark)
    cond = ((F.col("l_key") == F.col("r_key"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"interval {tolerance}")))
    return lt.join(rt, cond, "inner")


def enrich_stream(events: DataFrame, dim: DataFrame,
                  key_col: str = "event_type") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (batch) dimension table — the serving-time lookup pattern (zone
    metadata, thresholds, model registries).

    The static side is explicitly broadcast: no shuffle on the stream
    side, no stream state at all (unlike stream-stream joins). NOTE on
    refresh: for a file-based ``dim`` Spark caches the file listing
    (InMemoryFileIndex), so files added to or compacted in the dim path
    after the query starts are NOT reliably picked up — the plan is
    re-executed per micro-batch but over the original file list. When
    live refresh is required, re-read the dimension inside a
    ``foreachBatch`` wrapper (``spark.read.parquet(dim_path)`` per
    batch) instead of passing a pre-built DataFrame here.
    """
    return events.join(F.broadcast(dim), on=key_col, how="left")


def run_with_foreach_batch(stream_df: DataFrame,
                           fn: Callable[[DataFrame, int], None],
                           trigger_available_now: bool = True,
                           processing_time: str | None = None,
                           checkpoint: str | None = None):
    """T3/T4 sink runner: apply ``fn(batch_df, batch_id)`` per micro-batch.

    Every replay-safe sink below is started here with its commit
    function, e.g. ``run_with_foreach_batch(stream,
    functools.partial(hh_commit_batch, state_path=path, k=k),
    checkpoint=ckpt)``.

    ``trigger_available_now=True`` drains all pending input then stops
    (used by tests and backfills); pass ``processing_time='60 seconds'``
    for the reference's cadence.

    With neither, the query runs on Spark's default trigger, which starts
    the next micro-batch as soon as the last ends and, when no input is
    pending, polls the source every 10 ms. That polling is not free: on
    an idle 10-file landing directory it measured 0.22-0.35 CPU-seconds
    per second of wall time (JVM + driver, 4-vCPU VM, local[4]), against
    0.01-0.02 with ``processing_time='1 second'``. Give a long-running
    query a processing time unless it must see input within milliseconds.
    """
    writer = stream_df.writeStream.foreachBatch(fn).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


# <state_path>/STATE_DIR=<batch_id> holds a single-phase sink's state.
STATE_DIR = "state_batch"


def _overwrite_batch_dir(df: DataFrame, root: str, kind: str,
                         batch_id: int, *partition_cols: str) -> None:
    """The one write of every sink: ``df`` replaces
    ``<root>/<kind>=<batch_id>``, so a replayed batch rewrites its own
    directory instead of appending a second copy."""
    (df.write.mode("overwrite").partitionBy(*partition_cols)
     .parquet(f"{root}/{kind}={batch_id}"))


def _read_state_or_none(spark, path: str):
    """Read a parquet state store, returning ``None`` ONLY when the path
    does not exist yet (the first-batch probe). Any other read failure
    (IO/permission/corrupt state) propagates — silently treating it as
    "first batch" would reset a dedup index or a sketch without signal,
    breaking the crash-replay safety story. This is the one place that
    knows Spark's missing-path message."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        return None


def _latest_state(spark, state_path: str, before: int | None = None):
    """Rows of the newest committed ``STATE_DIR`` partition under
    ``state_path`` (the newest with id < ``before`` when given), without
    the partition column. Commit functions pass ``before=batch_id`` and
    get ``None`` on their first batch; readers pass nothing and raise
    ``FileNotFoundError`` when nothing is committed yet."""
    store = _read_state_or_none(spark, state_path)
    if store is not None:
        ids = store.select(STATE_DIR)
        if before is not None:
            ids = ids.where(F.col(STATE_DIR) < before)
        newest = ids.agg(F.max(STATE_DIR)).collect()[0][0]
        if newest is not None:
            return store.where(F.col(STATE_DIR) == newest).drop(STATE_DIR)
    if before is None:
        raise FileNotFoundError(f"no committed state under {state_path}")
    return None


def _committed(index: DataFrame, batch_id: int) -> bool:
    """Two-phase replay check: is batch ``batch_id``'s commit marker in
    the index? ``isEmpty()``, not ``limit(1).count()``: Spark names limit
    counters from a JVM-global sequence, so the latter compiles new
    classes on every micro-batch."""
    return ("_batch_id" in index.columns
            and not index.where(F.col("_batch_id") == batch_id).isEmpty())


def _commit_two_phase(data: DataFrame, index_rows: DataFrame,
                      out_path: str, index_path: str, batch_id: int) -> None:
    """Phase 1 overwrites ``ingest_batch=<batch_id>``; phase 2 appends
    the index rows stamped ``_batch_id``, the commit marker."""
    _overwrite_batch_dir(data, out_path, "ingest_batch", batch_id)
    (index_rows.withColumn("_batch_id", F.lit(batch_id))
     .write.mode("append").parquet(index_path))


def dedup_commit_batch(batch_df: DataFrame, batch_id: int,
                       index_path: str, out_path: str,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> None:
    """Continuous-ingestion exact dedup (two-phase): only documents whose
    digest is not in the PERSISTED digest index land in ``out_path``,
    and their digests append to the index.

    The 100 TB continuous-corpus shape: the index holds one 8-byte digest
    row per distinct document ever seen, the per-batch work is one
    broadcast-able anti-join of batch digests against the index, and
    within-batch duplicates collapse (min id kept) before the index is
    consulted. Readers see one extra ``ingest_batch`` partition column
    on ``out_path`` (drop it, or use it to consume the cleaned corpus
    incrementally).
    """
    from ..operators.dedup import text_digest

    spark = batch_df.sparkSession
    index = _read_state_or_none(spark, index_path)
    if index is not None and _committed(index, batch_id):
        return
    batch = (batch_df
             .withColumn("_digest", text_digest(text_col)))
    # collapse within-batch dups first (keep min id, like exact_dedup)
    w_first = (batch.groupBy("_digest")
               .agg(F.min(id_col).alias("_keep")))
    batch = (batch.join(w_first,
                        (batch["_digest"] == w_first["_digest"])
                        & (batch[id_col] == w_first["_keep"]))
             .select(batch["*"]))
    if index is not None:
        fresh = batch.join(index.select("_digest"), on="_digest",
                           how="left_anti")
    else:
        fresh = batch
    fresh = fresh.localCheckpoint()  # index append must not re-read out
    if fresh.isEmpty():
        return
    _commit_two_phase(fresh.drop("_digest"), fresh.select("_digest"),
                      out_path, index_path, batch_id)


def ivf_commit_batch(batch_df: DataFrame, batch_id: int,
                     centroids: DataFrame, out_path: str,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Streaming ANN index maintenance: each micro-batch of new vectors
    is assigned to its nearest IVF cell (broadcast centroids, the same
    `_assign_cells` the batch query uses with ``n_probe=1``) and written
    to a CELL-PARTITIONED parquet store — the continuously-ingested
    inverted file. A search reads only its probed cells' partitions
    (partition pruning does the inverted-index lookup): no global
    rebuild, just cell-local writes; re-fitting centroids is an offline
    concern.

    ``centroids`` is the (centroid_id, centroid) frame from
    ``ivf_fit_centroids``, frozen for the life of the stream (assignment
    must be stable across batches for the store to stay consistent).
    Readers see (ingest_batch, cell) partition columns; a probed search
    still prunes on ``cell`` across every batch directory.
    """
    from ..operators.similarity import _assign_cells

    if not isinstance(centroids, DataFrame):
        raise TypeError("centroids must be a DataFrame "
                        "(use ivf_fit_centroids)")
    assigned = _assign_cells(batch_df, centroids, n_probe=1,
                             id_col=id_col, vec_col=vec_col)
    # _assign_cells emits the vector as double-cast `_v`; store that
    # (the cosine math downstream runs in double anyway)
    cells = (assigned.select(id_col, F.col("_v").alias(vec_col),
                             F.col("centroid_id").alias("cell"))
             # cell-keyed repartition before the dynamic-partition
             # write: the assignment window collapses to one AQE
             # partition and a single task would write every cell's
             # file serially (guide §6); hashing on cell keeps exactly
             # one file per cell per batch directory
             .repartition(batch_df.sparkSession.sparkContext
                          .defaultParallelism, "cell"))
    _overwrite_batch_dir(cells, out_path, "ingest_batch", batch_id, "cell")


def governance_transform(docs: DataFrame, text_col: str = "text",
                         min_quality: float = 0.3) -> DataFrame:
    """The batch form of the corpus-governance gate: drop documents below
    ``min_quality`` (the composite quality score), redact PII in the
    surviving text, and annotate the detected language. Pure projection +
    filter (JVM regex, no shuffle) — identical semantics in batch and in
    every micro-batch, which is what makes the streaming intake's
    batch/stream equivalence testable."""
    from ..functions import text as TX

    q = TX.quality_score(text_col)
    return (docs.filter(q >= F.lit(min_quality))
            .withColumn(text_col, TX.pii_scrub(text_col))
            .withColumn("_lang", TX.lang_id(text_col)))


def governance_commit_batch(batch_df: DataFrame, batch_id: int,
                            index_path: str, out_path: str,
                            text_col: str = "text", id_col: str = "doc_id",
                            min_quality: float = 0.3) -> None:
    """Continuous corpus ingestion with the FULL governance gate: each
    micro-batch is quality-filtered, PII-scrubbed, language-annotated
    (:func:`governance_transform`), then exact-deduplicated against the
    persisted digest index by :func:`dedup_commit_batch`'s two-phase
    commit. The digest is computed on the SCRUBBED text, so two
    documents that differ only in redacted PII (mirror pages with
    different contact footers) collapse as exact duplicates."""
    dedup_commit_batch(governance_transform(batch_df, text_col=text_col,
                                            min_quality=min_quality),
                       batch_id, index_path, out_path,
                       text_col=text_col, id_col=id_col)


def neardup_commit_batch(batch_df: DataFrame, batch_id: int,
                         index_path: str, out_path: str,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 2, bits: int = 48, bands: int = 4,
                         max_hamming: int = 3,
                         hex_digits: int = 12) -> None:
    """Continuous-ingestion NEAR-dup suppression (two-phase), the SimHash
    complement to :func:`dedup_commit_batch`. Each micro-batch is
    fingerprinted (48-bit production width), collapsed within-batch
    (banding pairs → connected components, min-id representative
    survives), then checked against a PERSISTED fingerprint index by
    cross-frame banding: any document within ``max_hamming`` of an
    already-kept document is dropped. Survivors land batch-keyed and
    their fingerprints append as the commit marker.

    100 TB shape: the index holds one (id, 8-byte fingerprint) row per
    kept document; per batch the banding equi-join touches only index
    chunks a probe chunk collides with, never the full index.
    """
    from ..operators.dedup import (simhash_fingerprints,
                                   simhash_hamming_pairs,
                                   simhash_cross_matches)
    from ..operators.graph import dedup_clusters

    spark = batch_df.sparkSession
    index = _read_state_or_none(spark, index_path)
    if index is not None and _committed(index, batch_id):
        return
    # within-batch collapse: near-dup pairs → components → min-id keeps
    pairs = simhash_hamming_pairs(batch_df, text_col, id_col, n=n,
                                  bits=bits, bands=bands,
                                  max_hamming=max_hamming,
                                  hex_digits=hex_digits)
    drop = (dedup_clusters(pairs)
            .filter(F.col("cluster_id") != F.col("doc_id"))
            .select(F.col("doc_id").alias(id_col)))
    kept = batch_df.join(drop, on=id_col, how="left_anti")
    kept_fp = simhash_fingerprints(kept, text_col, id_col, n=n,
                                   bits=bits, hex_digits=hex_digits)
    if index is not None:
        hits = (simhash_cross_matches(kept_fp, index.select("_id", "_fp"),
                                      bits=bits, bands=bands,
                                      max_hamming=max_hamming)
                .select(F.col("probe_id").alias(id_col)).distinct())
        kept = kept.join(hits, on=id_col, how="left_anti")
        kept_fp = kept_fp.join(
            hits.select(F.col(id_col).alias("_id")), on="_id",
            how="left_anti")
    kept = kept.localCheckpoint()
    if kept.isEmpty():
        return
    _commit_two_phase(kept, kept_fp.localCheckpoint(),
                      out_path, index_path, batch_id)


def hh_commit_batch(batch_df: DataFrame, batch_id: int, state_path: str,
                    item_col: str = "item", k: int = 2000) -> None:
    """Streaming frequent-items maintenance: a persisted Misra-Gries
    summary of size ``k`` merged with every micro-batch's exact counts
    — the continuous form of ``operators.sketch.heavy_hitters``. The
    mergeable-summaries bound (Agarwal et al., PODS'12) holds across
    batches: any item's true count is in ``[weight, weight + N/(k+1)]``
    and every item with true count > N/(k+1) is present.

    State is ≤ k (item, weight) rows plus one NULL-item row, all
    carrying the running stream length ``_total``. Compression can drop
    every item row (the k+1 largest weights tie), and an empty batch
    has none, so the NULL-item row is what keeps ``_total``; input NULL
    items are dropped, so it never collides with an item. Read the live
    summary with :func:`heavy_hitters_state`."""
    spark = batch_df.sparkSession
    prev = None
    prev_total = 0
    st = _latest_state(spark, state_path, before=batch_id)
    if st is not None:
        prev = st.where(F.col("item").isNotNull()).select("item", "weight")
        prev_total = (st.select(F.max("_total")).collect()[0][0]) or 0

    items = (batch_df.select(F.col(item_col).alias("item"))
             .filter(F.col("item").isNotNull()))
    batch_n = items.count()
    counts = items.groupBy("item").agg(F.count(F.lit(1)).alias("weight"))
    merged = counts if prev is None else (
        counts.unionByName(prev).groupBy("item")
        .agg(F.sum("weight").alias("weight")))
    merged = merged.localCheckpoint()
    n_items = merged.count()
    if n_items > k:
        # mergeable compress: subtract the (k+1)-largest weight
        cut = (merged.orderBy(F.col("weight").desc()).limit(k + 1)
               .agg(F.min("weight")).collect()[0][0])
        merged = (merged.filter(F.col("weight") > cut)
                  .select("item", (F.col("weight") - F.lit(cut))
                          .alias("weight")))
    total_row = spark.range(1).select(
        F.lit(None).cast(items.schema["item"].dataType).alias("item"),
        F.lit(0).cast("long").alias("weight"))
    _overwrite_batch_dir(
        merged.unionByName(total_row)
        .withColumn("_total", F.lit(prev_total + batch_n)),
        state_path, STATE_DIR, batch_id)


def heavy_hitters_state(spark: SparkSession, state_path: str,
                        threshold_inv: int | None = None) -> DataFrame:
    """Latest committed summary from :func:`hh_commit_batch`:
    ``(item, weight, _total)``, optionally filtered to items whose
    LOWER-bound count already clears support 1/``threshold_inv`` (no
    false positives under the MG undercount)."""
    out = (_latest_state(spark, state_path)
           .where(F.col("item").isNotNull())
           .select("item", "weight", "_total"))
    if threshold_inv is not None:
        out = out.filter(
            F.col("weight") * F.lit(threshold_inv) > F.col("_total"))
    return out


def psi_reference(df: DataFrame, key_col: str = "event_type",
                  value_col: str = "value") -> DataFrame:
    """Frozen PSI reference: per key the decile edges AND the reference
    bin counts, one row per key with two arrays — the fit/monitor split
    (same posture as `cusum_stream`'s frozen baseline). Compute this on
    the training window ONCE; :func:`psi_commit_batch` scores every
    micro-batch against it without ever rescanning history."""
    edges = (df.filter(F.col(value_col).isNotNull())
             .groupBy(key_col)
             .agg(F.percentile(value_col,
                               F.array(*[F.lit(i / 10.0)
                                         for i in range(1, 10)]))
                  .alias("edges")))
    binned = (df.filter(F.col(value_col).isNotNull())
              .join(edges, key_col)
              .select(key_col,
                      F.size(F.filter("edges",
                                      lambda x: F.col(value_col) > x))
                      .alias("_bin")))
    counts = (binned.groupBy(key_col)
              .agg(F.array(*[
                  F.sum(F.when(F.col("_bin") == b, 1).otherwise(0))
                  for b in range(10)]).alias("ref_counts")))
    return edges.join(counts, key_col)


def psi_scores(batch_df: DataFrame, reference: DataFrame,
               key_col: str = "event_type",
               value_col: str = "value") -> DataFrame:
    """PSI of ``batch_df``'s value distribution against a frozen
    :func:`psi_reference` — (key, n_cur, psi). Shared by the batch
    audit and the streaming sink so batch/stream equivalence is a
    tested identity, not a hope. Laplace (n+0.5)/(N+5) on both sides,
    identical operand order to `q_psi_drift`."""
    b = (batch_df.filter(F.col(value_col).isNotNull())
         .join(F.broadcast(reference), key_col)
         .select(key_col,
                 F.size(F.filter("edges", lambda x: F.col(value_col) > x))
                 .alias("_bin")))
    cur = b.groupBy(key_col).agg(
        F.array(*[F.sum(F.when(F.col("_bin") == i, 1).otherwise(0))
                  for i in range(10)]).alias("cur_counts"),
        F.count(F.lit(1)).alias("n_cur"))
    j = reference.join(cur, key_col)
    bins = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("_b")
    ex = j.select(key_col, "n_cur", "ref_counts", "cur_counts", bins)
    nr = F.element_at("ref_counts", F.col("_b") + 1)
    nc = F.element_at("cur_counts", F.col("_b") + 1)
    tr = F.aggregate("ref_counts", F.lit(0).cast("long"),
                     lambda a, x: a + x)
    tc = F.aggregate("cur_counts", F.lit(0).cast("long"),
                     lambda a, x: a + x)
    p = (nr + F.lit(0.5)) / (tr + F.lit(5.0))
    q = (nc + F.lit(0.5)) / (tc + F.lit(5.0))
    contrib = (p - q) * F.log(p / q)
    return (ex.groupBy(key_col, "n_cur")
            .agg(F.round(F.sum(contrib) + F.lit(1e-9), 6).alias("psi"))
            .select(key_col, "n_cur", "psi"))


def psi_commit_batch(batch_df: DataFrame, batch_id: int,
                     reference: DataFrame, out_path: str,
                     key_col: str = "event_type",
                     value_col: str = "value") -> None:
    """Streaming distribution-drift monitor: every micro-batch is PSI-
    scored (:func:`psi_scores`) against the frozen reference and the
    per-key scores land in ``out_path/metrics_batch=<batch_id>``. The
    metrics store is what pages the on-call: read it, filter
    psi ≥ 0.2, alert."""
    if not isinstance(reference, DataFrame):
        raise TypeError("reference must be a psi_reference() DataFrame")
    _overwrite_batch_dir(psi_scores(batch_df, reference, key_col, value_col),
                         out_path, "metrics_batch", batch_id)


def _kll_compact(items: list, k: int) -> list:
    """Deterministic weighted compaction: while more than ``k`` (value,
    h) items, pair-compact the LOWEST level holding ≥ 2 items — sort
    its items by value, keep odd 0-based ranks at level h+1 (odd count:
    the largest value stays at level h, uncompacted). Pure function of
    the item multiset — replay-deterministic. Mirrors the batch
    sketch's canonical construction (which IS iterated pair-compaction
    of level 0)."""
    from collections import defaultdict

    levels: dict = defaultdict(list)
    for v, h in items:
        levels[h].append(v)
    while sum(len(vs) for vs in levels.values()) > k:
        pairable = [lv for lv, vs in levels.items() if len(vs) >= 2]
        if not pairable:   # k singleton levels: nothing left to compact
            break
        h = min(pairable)
        vs = sorted(levels[h])
        keep_low = []
        if len(vs) % 2 == 1:
            keep_low = [vs[-1]]
            vs = vs[:-1]
        promoted = [vs[i] for i in range(1, len(vs), 2)]
        levels[h] = keep_low
        if not levels[h]:
            del levels[h]
        levels[h + 1].extend(promoted)
    return sorted((v, h) for h, vs in levels.items() for v in vs)


def kll_commit_batch(batch_df: DataFrame, batch_id: int, state_path: str,
                     key_col: str = "event_type",
                     value_col: str = "value", k: int = 256) -> None:
    """Streaming QUANTILE maintenance: a persisted deterministic
    Munro-Paterson sketch (``operators/sketch.py``) merged with every
    micro-batch — the continuous form of ``kll_day_partials``. State is
    ≤ ``k`` weighted (value, level) rows per key forever, while the
    stream is unbounded; the rank-error budget grows only with the
    number of COMPACTIONS (each adds ≤ 2^h), never with stream length
    directly. Read estimates with :func:`quantile_sketch_state_read`."""
    import pandas as pd

    from timeseries_data_analysis_spark.operators.sketch import (
        quantile_sketch_state)

    spark = batch_df.sparkSession
    st = _latest_state(spark, state_path, before=batch_id)
    prev = None if st is None else st.select("key", "h", "value")

    batch_state = (quantile_sketch_state(
        batch_df.select(F.col(key_col).alias("key"),
                        F.col(value_col).alias("value")),
        ["key"], "value", k=k)
        .select("key", "h", "value"))
    merged = batch_state if prev is None else batch_state.unionByName(prev)

    def compact(pdf: pd.DataFrame) -> pd.DataFrame:
        items = _kll_compact(
            list(zip(pdf["value"], pdf["h"].astype(int))), k)
        return pd.DataFrame({"key": pdf["key"].iloc[0],
                             "value": [v for v, _ in items],
                             "h": [h for _, h in items]})

    out = (merged.groupBy("key")
           .applyInPandas(compact, "key string, value double, h int")
           .localCheckpoint())
    _overwrite_batch_dir(out, state_path, STATE_DIR, batch_id)


def quantile_sketch_state_read(spark: SparkSession, state_path: str,
                               probs: tuple = (0.25, 0.5, 0.75, 0.9,
                                               0.99)) -> DataFrame:
    """Quantile estimates from the latest committed sketch state:
    ``merged_quantile_estimates`` over the stored weighted items —
    ``(key, p, est, w_total)`` where w_total is the sketch's rank mass
    (≈ rows seen, minus boundary truncation)."""
    from timeseries_data_analysis_spark.operators.sketch import (
        merged_quantile_estimates)
    return merged_quantile_estimates(_latest_state(spark, state_path),
                                     ["key"], probs)


def stream_stream_interval_join(clicks: DataFrame, purchases: DataFrame,
                                key_col: str = "user_id",
                                click_ts: str = "c_ts",
                                purchase_ts: str = "p_ts",
                                lookforward: str = "1 hour",
                                watermark: str = "2 hours") -> DataFrame:
    """STREAM-STREAM interval join — the §2.9 shape the stream-static
    enrichment join cannot express: click and purchase streams joined
    per key with ``purchase_ts`` inside (click_ts, click_ts +
    ``lookforward``], both sides watermarked so Spark can bound the
    join STATE (each side buffers only rows young enough to still find
    a partner — without the time condition + watermarks the state would
    grow forever and Spark rejects the plan in append mode).

    Semantics are the BATCH inner join with the identical condition —
    equivalence is a test invariant (`test_streaming.py`), the same
    one-definition-two-modes contract as every streaming op here.

    Scale shape: co-partitioned by the join key (one exchange per
    side); state per key = the rows inside the watermark horizon.
    """
    l = clicks.withWatermark(click_ts, watermark)
    r = purchases.withWatermark(purchase_ts, watermark)
    cond = (
        (l[key_col] == r[key_col])
        & (r[purchase_ts] > l[click_ts])
        & (r[purchase_ts]
           <= F.expr(f"{click_ts} + INTERVAL {lookforward}")))
    return l.join(r, cond, "inner").drop(r[key_col])


def prune_state_dirs(spark: SparkSession, state_path: str,
                     keep_last: int = 3) -> list[int]:
    """Retention for EVERY single-phase state sink (the ``STATE_DIR``
    layout of hh, kll, hll, dau_panel, vocab, logit, pca, msprt,
    periodogram, nb and als): drop all but the newest ``keep_last``
    directories. The newest dir is all a reader ever needs; older dirs
    exist only as a time-travel audit and as the crash-replay
    predecessor, so ``keep_last`` must be ≥ 2 (the replay of batch N
    reads the newest id < N — prune-then-replay is test-pinned for all
    eleven). Uses the Hadoop FileSystem API, so it works on any storage
    scheme the session can reach.

    Returns the batch ids it deleted (sorted).
    """
    if keep_last < 2:
        raise ValueError("keep_last must be >= 2: crash-replay of the "
                         "newest batch reads its predecessor state")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    ids = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith(f"{STATE_DIR}="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    doomed = sorted(ids)[:-keep_last] if len(ids) > keep_last else []
    for bid in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            state_path, f"{STATE_DIR}={bid}"), True)
    return doomed


def hll_commit_batch(batch_df: DataFrame, batch_id: int, state_path: str,
                     group_col: str = "event_type",
                     item_col: str = "item", p: int = 9) -> None:
    """Streaming distinct-count maintenance: a persisted HyperLogLog
    register table merged with every micro-batch — the continuous form
    of ``operators.sketch.hll_registers``. State is ≤ 2^p (group,
    bucket, ρ) rows per group FOREVER while the stream is unbounded,
    and the merge is the sketch's own MAX law, so batch boundaries are
    invisible: the post-merge state equals the state of one batch over
    the union (register-exact, property-tested). Read the live estimate
    with :func:`hll_state_estimate`."""
    from ..operators import sketch as SK

    spark = batch_df.sparkSession
    st = _latest_state(spark, state_path, before=batch_id)
    prev = None if st is None else st.select(group_col, "_b", "_m")

    regs = SK.hll_registers(
        batch_df.filter(F.col(item_col).isNotNull()),
        group_col, item_col, p=p)
    merged = regs if prev is None else (
        regs.unionByName(prev).groupBy(group_col, "_b")
        .agg(F.max("_m").alias("_m")))
    _overwrite_batch_dir(merged, state_path, STATE_DIR, batch_id)


def hll_state_estimate(spark: SparkSession, state_path: str,
                       group_col: str = "event_type",
                       p: int = 9) -> DataFrame:
    """Latest committed estimate from :func:`hll_commit_batch`:
    ``(group, hll_estimate)`` via the same harmonic-mean arithmetic the
    batch operator uses — a batch job over the union of all data and
    this read see identical numbers."""
    from ..operators import sketch as SK

    regs = _latest_state(spark, state_path).select(group_col, "_b", "_m")
    return SK.hll_estimates(regs, group_col, p=p)


def dau_panel_commit_batch(batch_df: DataFrame, batch_id: int,
                           state_path: str, ts_col: str = "ts",
                           user_col: str = "user_id",
                           p: int = 9) -> None:
    """Streaming DAU/WAU/MAU maintenance — the serving twin of the
    batch `dau_wau_mau_hll` panel (ref anchor: reference
    ``dashboard.py:723`` nunique serving reads on a 60 s trigger):
    per-DAY HyperLogLog registers persist as sketch state (≤ 2^p rows
    per day FOREVER). Each micro-batch derives the day key and
    MAX-merges its day partials through :func:`hll_commit_batch` (day
    keys are just its group column — one commit path, no new merge
    law); :func:`dau_panel_estimate` reads sketch state only, so raw
    history is never rescanned."""
    ev = (batch_df.filter(F.col(user_col).isNotNull())
          .select(F.to_date(ts_col).alias("_d"),
                  F.col(user_col).alias("_u")))
    hll_commit_batch(ev, batch_id, state_path,
                     group_col="_d", item_col="_u", p=p)


def dau_panel_estimate(spark: SparkSession, state_path: str,
                       p: int = 9) -> DataFrame:
    """Latest committed (day, dau_hll, wau_hll, mau_hll) panel from
    :func:`dau_panel_commit_batch` state — sketch reads only, via the
    SAME ``operators.sketch.hll_day_panel`` arithmetic as the batch
    row, so a batch job over the union of all ingested data and this
    read see identical numbers at 4 dp (bit-equal registers in, shared
    plan out; test-pinned at every micro-batch prefix)."""
    from ..operators import sketch as SK

    regs = _latest_state(spark, state_path).select("_d", "_b", "_m")
    return SK.hll_day_panel(regs, p=p)


def vocab_commit_batch(batch_df: DataFrame, batch_id: int,
                       state_path: str, text_col: str = "text",
                       group_col: str = "source") -> None:
    """Streaming unseen-vocabulary maintenance — the serving twin of
    the batch ``unseen_vocab`` registry row: per-(source, token) EXACT
    counts persist as state and each micro-batch SUM-merges its own
    token counts into them; :func:`vocab_state_estimate` reads count
    state only, so raw document history is never rescanned. Exactness
    matters here: Good-Turing needs the singleton/doubleton counts
    f₁/f₂, which no mergeable sketch can provide (a CMS over-counts
    exactly the low-frequency cells f₁ lives in), so the state is the
    exact count table — VOCABULARY-bounded (Heaps-sublinear in stream
    length), not stream-bounded, which is the honest cost of an
    exact-f₁ monitor."""
    from ..operators import tokenizer as TOKZ

    spark = batch_df.sparkSession
    st = _latest_state(spark, state_path, before=batch_id)
    cnt = TOKZ.source_token_counts(batch_df, text_col=text_col,
                                   group_col=group_col)
    merged = cnt if st is None else (
        cnt.unionByName(st.select(group_col, "w", "n"))
        .groupBy(group_col, "w").agg(F.sum("n").alias("n")))
    _overwrite_batch_dir(merged, state_path, STATE_DIR, batch_id)


def vocab_state_estimate(spark: SparkSession, state_path: str,
                         group_col: str = "source") -> DataFrame:
    """Latest committed Chao1/Good-Turing panel from
    :func:`vocab_commit_batch` state — count reads only, via the SAME
    ``operators.tokenizer.unseen_vocab_panel`` arithmetic as the
    batch row, so a batch job over the union of all ingested
    documents and this read see identical numbers (exact counts in,
    shared plan out; test-pinned at every micro-batch prefix)."""
    from ..operators import tokenizer as TOKZ

    cnt = _latest_state(spark, state_path).select(group_col, "w", "n")
    return TOKZ.unseen_vocab_panel(cnt, group_col=group_col)


# ---------------------------------------------------------------------------
# Streaming quality-classifier training (incremental logistic GD)
# ---------------------------------------------------------------------------

def logit_commit_batch(batch_df: DataFrame, batch_id: int,
                       state_path: str, xcols: list[str], ycol: str,
                       lr: float = 0.5,
                       steps_per_batch: int = 1) -> None:
    """Streaming logistic-regression maintenance: the persisted beta
    vector advances by ``steps_per_batch`` full-batch GD steps over
    each micro-batch — the continuous form of ``ml.logit.fit``, i.e.
    mini-batch gradient descent where the mini-batch IS the
    micro-batch. State is ``len(xcols)+1`` doubles forever; each step
    is one combinable aggregation of the batch (`ml/logit.py`'s
    scaling contract), so the cost per batch is the batch scan. GD from
    a fixed start over fixed data is deterministic (9-dp quantized
    steps). Read the live model with :func:`logit_state_beta`; score
    with ``ml.logit.predict``."""
    from ..ml import logit as LG

    spark = batch_df.sparkSession
    beta = [0.0] * (len(xcols) + 1)
    n_seen = 0
    st = _latest_state(spark, state_path, before=batch_id)
    if st is not None:
        row = st.select("beta", "n_seen").collect()[0]
        beta, n_seen = list(row["beta"]), int(row["n_seen"])

    clean = batch_df.filter(F.col(ycol).isNotNull())
    n_batch = clean.count()
    if n_batch > 0:
        for _ in range(steps_per_batch):
            beta = LG.gd_step(clean, xcols, ycol, beta, lr)
    out = spark.createDataFrame(
        [(beta, n_seen + n_batch)], "beta array<double>, n_seen long")
    _overwrite_batch_dir(out, state_path, STATE_DIR, batch_id)


def logit_state_beta(spark: SparkSession, state_path: str) -> list[float]:
    """Latest committed beta from :func:`logit_commit_batch`
    (driver-side, ``len(xcols)+1`` floats — the bounded-state
    contract)."""
    return list(_latest_state(spark, state_path)
                .select("beta").collect()[0]["beta"])


# ---------------------------------------------------------------------------
# Streaming semantic-decontamination guard (benchmark quarantine router)
# ---------------------------------------------------------------------------

def benchmark_guard_sink(vec_stream: DataFrame, bench: DataFrame,
                         clean_path: str, quarantine_path: str,
                         vec_col: str = "embedding",
                         threshold: float = 0.95,
                         max_bench: int = 4096):
    """Continuous SEMANTIC decontamination at ingest: every micro-batch
    of embedded documents is scored against the (bounded) benchmark
    matrix via `similarity.benchmark_max_cosine`'s Arrow-batched BLAS
    matmul, then ROUTED — rows whose max benchmark cosine exceeds
    ``threshold`` land in ``quarantine_path`` (with the score, for
    audit), the rest in ``clean_path``. The batch operator
    (`q_semantic_decontaminate`) and this sink share one scorer, so
    batch/stream equivalence is testable row-for-row.

    The one sink that is not a commit function: the benchmark matrix
    is collected ONCE here (≤ ``max_bench`` rows by contract) and closed
    over, and that bounded collect must not run per batch. There is NO
    incremental state, so replaying a crashed batch rewrites the same
    two batch-keyed partitions; idempotent by construction, no commit
    marker needed. Scale shape: per batch one scan, per row one BLAS
    row-matmul, zero shuffle.
    """
    from ..operators import similarity as SIM

    # the benchmark matrix is built ONCE (bounded collect) and closed
    # over -- per-batch work is the scoring matmul only, and the
    # replay-idempotence argument rests on this matrix being fixed
    bmat = SIM.benchmark_matrix(bench, "bv", max_bench=max_bench)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        scored = SIM.max_cosine_vs_matrix(
            batch_df.withColumn("_v", F.col(vec_col).cast("array<double>")),
            "_v", bmat, out_col="_bench_cos").drop("_v")
        # NULL score (e.g. null/empty vector) must not vanish between the
        # two outputs under three-valued logic: route it to quarantine
        # for audit so every input row lands exactly once
        flagged = scored.filter((F.col("_bench_cos") > threshold)
                                | F.col("_bench_cos").isNull())
        clean = (scored.filter(F.col("_bench_cos") <= threshold)
                 .drop("_bench_cos"))
        _overwrite_batch_dir(flagged, quarantine_path, "ingest_batch",
                             batch_id)
        _overwrite_batch_dir(clean, clean_path, "ingest_batch", batch_id)

    return (vec_stream.writeStream.foreachBatch(process)
            .outputMode("update"))


# ---------------------------------------------------------------------------
# Streaming PCA maintenance (mergeable Gramian state)
# ---------------------------------------------------------------------------

def pca_commit_batch(batch_df: DataFrame, batch_id: int,
                     state_path: str, vec_col: str = "embedding",
                     dim: int = 64) -> None:
    """Streaming PCA maintenance: the raw Gramian (n, Σx, XᵀX) is the
    MERGEABLE form of the covariance — partial sums add across any
    split of the data — so each micro-batch folds its partial into a
    persisted d²+d+1-double state and the top-k components are one
    driver-side ``eigh`` away at ANY point in the stream
    (`ml/pca.fit_from_gramian`, read with :func:`pca_state_fit`). Batch
    boundaries are invisible: the post-merge state equals one batch
    over the union, bit-for-bit up to float addition order
    (property-tested)."""
    import numpy as np

    from ..ml import pca as PCA

    spark = batch_df.sparkSession
    n0, s0, g0 = 0, np.zeros(dim), np.zeros(dim * dim)
    st = _latest_state(spark, state_path, before=batch_id)
    if st is not None:
        row = st.select("n", "s", "g").collect()[0]
        n0 = int(row["n"])
        s0 = np.asarray(row["s"])
        g0 = np.asarray(row["g"])

    d = batch_df.withColumn("_v", F.col(vec_col).cast("array<double>"))
    nb, sb, gb = PCA.gramian_partial(d, "_v", dim)
    out = spark.createDataFrame(
        [(n0 + nb, (s0 + sb).tolist(), (g0 + gb.ravel()).tolist())],
        "n long, s array<double>, g array<double>")
    _overwrite_batch_dir(out, state_path, STATE_DIR, batch_id)


def pca_state_fit(spark: SparkSession, state_path: str, k: int) -> dict:
    """Top-k components from the latest committed Gramian state."""
    import numpy as np

    from ..ml import pca as PCA

    row = _latest_state(spark, state_path).select("n", "s", "g").collect()[0]
    s = np.asarray(row["s"])
    g = np.asarray(row["g"]).reshape(len(s), len(s))
    return PCA.fit_from_gramian(int(row["n"]), s, g, k)


def msprt_day_stats(df: DataFrame, ts_col: str = "ts",
                    value_col: str = "value",
                    user_col: str = "user_id") -> DataFrame:
    """Per-day per-arm SUFFICIENT statistics for the two-sample mixture
    SPRT: (count, sum, sum-of-squares) per arm — six doubles per day,
    and every one of them ADDITIVE, so partial stats from any split of
    the data (micro-batches, partitions, replays) merge by summation.
    Arm assignment is the deterministic ``pmod(user_id, 2)`` split the
    batch monitor (`q_msprt_monitor`) uses. Shared by the batch query
    and :func:`msprt_commit_batch` so batch/stream equivalence is a
    tested identity, not a hope (the `psi_scores` posture)."""
    ev = (df.filter(F.col(value_col).isNotNull()
                    & ~F.isnan(F.col(value_col))
                    & F.col(user_col).isNotNull())
          .withColumn("_arm", F.pmod(F.col(user_col), F.lit(2)))
          .withColumn("_d", F.to_date(ts_col)))
    return (ev.groupBy("_d")
            .agg(*[agg for arm in (0, 1) for agg in (
                F.sum(F.when(F.col("_arm") == arm, 1).otherwise(0))
                .alias(f"_n{arm}"),
                F.sum(F.when(F.col("_arm") == arm, F.col(value_col))
                      .otherwise(0.0)).alias(f"_s{arm}"),
                F.sum(F.when(F.col("_arm") == arm,
                             F.col(value_col) * F.col(value_col))
                      .otherwise(0.0)).alias(f"_q{arm}"))]))


def msprt_readout(day: DataFrame, tau2: float = 1.0) -> DataFrame:
    """Always-valid sequential readout from per-day sufficient stats
    (mixture SPRT, Johari et al. 2017): cumulative power sums over the
    day axis, ln Λ = ½ln(V/(V+τ²)) + δ̂²τ²/(2V(V+τ²)) with pooled-
    variance V, and p_always_valid = min(1, exp(−running-max ln Λ)).
    Day rows are calendar-bounded (≤ experiment length), so the
    unpartitioned cumulative window is the same documented bound every
    calendar-grain monitor here carries. Expression shapes are
    IDENTICAL to the DuckDB oracle's (operand order pinned); days where
    either arm is empty or σ̂² = 0 emit NULL lazily (ANSI-safe)."""
    from pyspark.sql import Window

    w = Window.orderBy("_d").rowsBetween(Window.unboundedPreceding, 0)
    c = day.select(
        "_d", *[F.sum(f"_{x}{a}").over(w).alias(f"_c{x}{a}")
                for a in (0, 1) for x in ("n", "s", "q")])
    na, nb = F.col("_cn0"), F.col("_cn1")
    ma, mb = F.col("_cs0") / na, F.col("_cs1") / nb
    ssq = (F.col("_cq0") - na * ma * ma) + (F.col("_cq1") - nb * mb * mb)
    var = ssq / (na + nb - 2)
    vv = var * (1.0 / na + 1.0 / nb)
    t2 = F.lit(float(tau2))
    delta = ma - mb
    lnl = (F.lit(0.5) * F.log(vv / (vv + t2))
           + delta * delta * t2 / (2.0 * vv * (vv + t2)))
    guarded = F.when((na > 1) & (nb > 1) & (var > 0), lnl)
    rnd = lambda col, d: F.round(col + F.lit(1e-9), d)  # noqa: E731
    gdf = c.select("_d", na.alias("n_a"), nb.alias("n_b"),
                   rnd(delta, 4).alias("delta"),
                   guarded.alias("_lnl"))
    runmax = F.max("_lnl").over(
        Window.orderBy("_d").rowsBetween(Window.unboundedPreceding, 0))
    return (gdf.select(F.col("_d").alias("day"), "n_a", "n_b", "delta",
                       rnd(F.col("_lnl"), 4).alias("ln_lambda"),
                       rnd(F.least(F.lit(1.0), F.exp(-runmax)), 6)
                       .alias("p_always_valid"))
            .orderBy("day"))


def msprt_commit_batch(batch_df: DataFrame, batch_id: int,
                       state_path: str, out_path: str,
                       ts_col: str = "ts", value_col: str = "value",
                       user_col: str = "user_id",
                       tau2: float = 1.0) -> None:
    """Streaming always-valid A/B monitor — the `foreachBatch` twin of
    the batch `msprt_monitor` query. Per micro-batch: collapse the
    batch to per-day per-arm power sums (:func:`msprt_day_stats` —
    map-side combined, six doubles per day), FOLD them into the
    persisted day-state by summation (sufficient statistics are
    additive), commit the post-merge state, then write the full
    always-valid readout (:func:`msprt_readout`) to
    ``out_path/monitor_batch=<id>``. The readout after batch k equals
    the batch monitor over the union of batches 0..k — the peek-anytime
    guarantee is exactly that the p-value trajectory is valid at EVERY
    prefix. State is O(days) rows of 6 doubles — calendar-bounded,
    never event-bounded."""
    spark = batch_df.sparkSession
    prev = _latest_state(spark, state_path, before=batch_id)

    batch_day = msprt_day_stats(batch_df, ts_col, value_col, user_col)
    merged = (batch_day if prev is None
              else batch_day.unionByName(prev))
    state = (merged.groupBy("_d")
             .agg(*[F.sum(c).alias(c) for c in
                    ("_n0", "_s0", "_q0", "_n1", "_s1", "_q1")])
             .localCheckpoint())  # state readers must not re-trigger the agg
    _overwrite_batch_dir(state, state_path, STATE_DIR, batch_id)
    _overwrite_batch_dir(msprt_readout(state, tau2=tau2), out_path,
                         "monitor_batch", batch_id)


def periodogram_commit_batch(batch_df: DataFrame, batch_id: int,
                             state_path: str, out_path: str, t0: float,
                             omegas: dict[int, float] | None = None,
                             ts_col: str = "ts",
                             value_col: str = "value",
                             key_col: str = "event_type") -> None:
    """Streaming spectral monitor — the `foreachBatch` twin of the
    batch `periodogram` query (`operators/spectral.py`): per-series
    daily-harmonic amplitudes maintained incrementally and written to
    ``out_path/spectrum_batch=<id>``.

    The DFT partial sums (n, C_k, S_k) are ADDITIVE sufficient
    statistics, so each micro-batch is one `dft_partials` aggregation
    folded into the persisted per-key state by summation; the readout
    after batch k equals the batch periodogram over the union of
    batches 0..k up to summation-order ulps. ``t0`` is the FIXED phase
    origin (streams can't take a data-dependent global min) —
    amplitudes are phase-invariant, so any origin near the data keeps
    the readout equal to the batch query's min-origin one
    (test-asserted). State is O(|keys|) rows of 2·|harmonics|+1
    doubles — key-bounded, never event-bounded."""
    from ..operators import spectral as SPEC

    if omegas is None:
        omegas = SPEC.OMEGAS_DAILY
    spark = batch_df.sparkSession
    prev = _latest_state(spark, state_path, before=batch_id)

    base = (batch_df.filter(F.col(value_col).isNotNull())
            .select(F.col(key_col),
                    F.col(value_col).alias("_v"),
                    (F.col(ts_col).cast("double") - F.lit(float(t0)))
                    .alias("_t")))
    batch_part = SPEC.dft_partials(base, omegas, key_col=key_col)
    merged = (batch_part if prev is None
              else batch_part.unionByName(prev))
    sum_cols = ["n"] + [c for k in omegas for c in (f"_c{k}", f"_s{k}")]
    state = (merged.groupBy(key_col)
             .agg(*[F.sum(c).alias(c) for c in sum_cols])
             .localCheckpoint())  # state readers must not re-trigger
    _overwrite_batch_dir(state, state_path, STATE_DIR, batch_id)
    _overwrite_batch_dir(SPEC.dft_amplitudes(state, omegas, key_col=key_col),
                         out_path, "spectrum_batch", batch_id)


# ---------------------------------------------------------------------------
# Streaming naive-Bayes maintenance (additive token/doc counts)
# ---------------------------------------------------------------------------

def nb_counts_partial(batch_df: DataFrame, label_col: str = "lang",
                      text_col: str = "text") -> DataFrame:
    """One batch's additive NB statistics in the shared state schema
    — used by both the sink fold and the batch-equivalence test."""
    from ..ml import nb as NB

    docs = batch_df.filter(F.col(label_col).isNotNull()
                           & F.col(text_col).isNotNull())
    toks = NB.tokenize(docs.select(label_col, text_col), text_col)
    pair = (toks.groupBy(label_col, "token")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("tok").alias("kind"), "token",
                    F.col(label_col).alias("label"), "n"))
    doc = (docs.groupBy(label_col)
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.lit("doc").alias("kind"),
                   F.lit("").alias("token"),
                   F.col(label_col).alias("label"), "n"))
    return pair.unionByName(doc)


def nb_commit_batch(batch_df: DataFrame, batch_id: int, state_path: str,
                    label_col: str = "lang",
                    text_col: str = "text") -> None:
    """Streaming trained-classifier maintenance for multinomial NB:
    the model's ONLY inputs are per-(token, label) occurrence counts
    and per-label document counts — both ADDITIVE sufficient
    statistics, so each micro-batch folds its partial counts
    (:func:`nb_counts_partial`) into a persisted count table.
    Vocabulary (global min_count), Laplace smoothing and priors are
    DERIVED AT READOUT (`nb_state_model` → `ml/nb.nb_fit_from_counts`),
    never folded — min_count is a global property and must not be
    applied per batch. DOMAIN CONTRACT: rows with NULL label or NULL
    text are dropped at ingest (an unlabeled document cannot feed a
    supervised fit) — so batch/stream equivalence is an identity over
    the LABELED rows: the model from stream-folded counts equals
    `nb_fit` on the identically-filtered union bit-for-bit (integer
    counts in, identical quantized logliks out), test-pinned including
    NULL-bearing batches. State rows: ``(kind, token, label, n)`` with
    kind='tok' for pair counts and kind='doc' (token='') for doc counts
    — one schema, one merge law (groupBy sum)."""
    spark = batch_df.sparkSession
    st = _latest_state(spark, state_path, before=batch_id)
    prev = None if st is None else st.select("kind", "token", "label", "n")

    part = nb_counts_partial(batch_df, label_col=label_col,
                             text_col=text_col)
    merged = part if prev is None else (
        part.unionByName(prev).groupBy("kind", "token", "label")
        .agg(F.sum("n").alias("n")))
    _overwrite_batch_dir(merged, state_path, STATE_DIR, batch_id)


def nb_state_model(spark: SparkSession, state_path: str,
                   label_col: str = "lang", min_count: int = 5):
    """Latest committed NB model from :func:`nb_commit_batch` state:
    ``(loglik, prior)`` via the same `nb_fit_from_counts` arithmetic
    the batch fit delegates to — a batch `nb_fit` over the union of
    all streamed documents and this read see identical models."""
    from ..ml import nb as NB

    state = _latest_state(spark, state_path)
    pair = (state.where(F.col("kind") == "tok")
            .select("token", F.col("label").alias(label_col),
                    F.col("n").alias("_n_lt")))
    docs = (state.where(F.col("kind") == "doc")
            .select(F.col("label").alias(label_col),
                    F.col("n").alias("_nd_l")))
    return NB.nb_fit_from_counts(pair, docs, label_col,
                                 min_count=min_count)


# ---------------------------------------------------------------------------
# Streaming recommender maintenance (additive interaction counts -> ALS)
# ---------------------------------------------------------------------------

def als_commit_batch(batch_df: DataFrame, batch_id: int, state_path: str,
                     user_col: str = "c", item_col: str = "s") -> None:
    """Streaming recommender maintenance: the rank-2 ALS model's only
    input is the (user, item) interaction-count matrix — an ADDITIVE
    sufficient statistic, so each micro-batch folds its pair counts
    into a persisted ratings table and the factorization derives AT
    READOUT (`als_state_model` → `ml/als.als_rankk_exact_fit` at k=2).
    DOMAIN CONTRACT: rows with a NULL user or item key are dropped at
    ingest (they identify no matrix cell); batch/stream equivalence is
    an identity over the keyed rows: integer counts in, identical
    9-dp-quantized factors out — test-pinned including NULL-bearing
    batches. State is |observed pairs| rows regardless of how many
    interactions streamed."""
    spark = batch_df.sparkSession
    st = _latest_state(spark, state_path, before=batch_id)
    prev = None if st is None else st.select(user_col, item_col, "n")

    part = (batch_df
            .filter(F.col(user_col).isNotNull()
                    & F.col(item_col).isNotNull())
            .groupBy(user_col, item_col)
            .agg(F.count(F.lit(1)).alias("n")))
    merged = part if prev is None else (
        part.unionByName(prev).groupBy(user_col, item_col)
        .agg(F.sum("n").alias("n")))
    _overwrite_batch_dir(merged, state_path, STATE_DIR, batch_id)


def als_state_model(spark: SparkSession, state_path: str,
                    user_col: str = "c", item_col: str = "s",
                    reg: float = 0.1):
    """Latest committed rank-2 factors from :func:`als_commit_batch`
    state: ``(user_factors, item_factors)`` via the same one-round k=2
    `als_rankk_exact_fit` the batch `als_rank2` query runs — a batch
    fit over the union of all streamed interactions and this read see
    identical factors."""
    from ..ml import als as ALS

    ratings = (_latest_state(spark, state_path)
               .select(user_col, item_col, F.col("n").alias("r")))
    return ALS.als_rankk_exact_fit(ratings, k=2, rounds=1,
                                   user_col=user_col, item_col=item_col,
                                   rating_col="r", reg=reg)

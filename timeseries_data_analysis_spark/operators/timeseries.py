"""Resample / align / gap-fill operators (SURVEY.md §2.6 R1-R4, §2.4 A1/A3).

Reference: pandas ``date_range`` + ``resample`` + ``ffill/interpolate``
(``pre_processing.py:195-284``, ``simple_pre_processing.py:145-274``).
Here: spine = ``sequence()`` + ``explode`` (distributed, no driver loop);
fills = single-pass per-series window scans.

Scale design: every fill/interpolation is ONE sort per series
(``partitionBy(series).orderBy(ts)``) — never a global sort. The spine
cross-join multiplies a tiny in-memory range by the (broadcastable)
series dimension, so a 10-year hourly spine × 1M series materializes
lazily across the cluster, not on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .windows import ColumnOrName


def _key_ddl(df: DataFrame, key: str) -> str:
    """DDL fragment ``"<key> <actual type>"`` for an applyInPandas output
    schema — derived from the input schema rather than assumed string, so
    a bigint/int series key survives the stage with its type intact
    (a hard-coded ``string`` forces an Arrow cast that breaks downstream
    joins on the key)."""
    return f"{key} {df.schema[key].dataType.simpleString()}"


# -- A1: duplicate-timestamp collapse ---------------------------------------

def collapse_duplicates(df: DataFrame, keys: list[str],
                        agg: str = "avg") -> DataFrame:
    """Collapse duplicate (ts[, series]) rows by mean of every other numeric col.

    Reference: ``df.groupby(level=0).mean()`` on duplicate timestamps
    (``pre_processing.py:97-99``, ``simple_pre_processing.py:79-81``).
    Map-side partial aggregation makes this a cheap pre-shuffle combine.
    """
    value_cols = [c for c, t in df.dtypes if c not in keys
                  and t in ("double", "float", "int", "bigint", "smallint")]
    fn = getattr(F, agg)
    return df.groupBy(*keys).agg(*[fn(c).alias(c) for c in value_cols])


# -- A3: tumbling-window downsample -----------------------------------------

def downsample(df: DataFrame, ts_col: str, every: str = "hour",
               keys: list[str] | None = None, agg: str = "avg",
               value_cols: list[str] | None = None) -> DataFrame:
    """Downsample to a coarser grid by truncation + group-agg.

    Reference: ``resample('1h').mean()`` (``pre_processing.py:240``).
    ``date_trunc`` keeps the group key a plain timestamp (joinable to the
    spine) and the groupBy gets map-side combine — the shuffle moves one
    row per (bucket, series), not the raw 2-minute data.
    """
    keys = keys or []
    if value_cols is None:
        value_cols = [c for c, t in df.dtypes
                      if c not in keys and c != ts_col
                      and t in ("double", "float", "int", "bigint")]
    fn = getattr(F, agg)
    bucket = F.date_trunc(every, F.col(ts_col)).alias(ts_col)
    return df.groupBy(bucket, *keys).agg(*[fn(c).alias(c) for c in value_cols])


# -- R1: time spine generation ----------------------------------------------

def time_spine(spark_or_df, start: Column | str, end: Column | str,
               step: str = "interval 1 hour", ts_col: str = "ts") -> DataFrame:
    """Regular timestamp spine [start, end] inclusive at ``step``.

    Reference: ``pd.date_range(min, max, freq='1h')``
    (``pre_processing.py:200-204``). Spark: ``sequence(t0, t1, step)`` +
    ``explode`` — generated distributed, never collected to the driver.

    ``start``/``end`` may be literal strings or Columns from a 1-row
    bounds DataFrame (see :func:`spine_for`).
    """
    from pyspark.sql import SparkSession
    if isinstance(spark_or_df, SparkSession):
        base = spark_or_df.range(1)
    else:
        base = spark_or_df
    s = F.to_timestamp(F.lit(start)) if isinstance(start, str) else start
    e = F.to_timestamp(F.lit(end)) if isinstance(end, str) else end
    return base.select(
        F.explode(F.sequence(s, e, F.expr(step))).alias(ts_col)
    )


def spine_for(df: DataFrame, ts_col: str = "ts",
              step: str = "interval 1 hour",
              truncate: str = "hour",
              keys: list[str] | None = None) -> DataFrame:
    """Spine spanning a table's observed [min, max] ts, optionally × keys.

    The bounds aggregation is a tiny 1-row result; the spine explodes from
    it lazily. With ``keys``, cross-joins the (broadcast) distinct key dim
    so every series gets the full grid (reference aligns all sources to one
    common ``date_range``, ``pre_processing.py:195-241``).
    """
    bounds = df.select(
        F.date_trunc(truncate, F.min(ts_col)).alias("_t0"),
        F.date_trunc(truncate, F.max(ts_col)).alias("_t1"),
    )
    if keys:
        # Fan out FROM the key dimension, not from the 1-row bounds: the
        # distinct() exchange spreads keys across partitions, each task
        # explodes its own keys' grid, and the output arrives already
        # hash-partitioned by the series keys — the downstream
        # partitionBy(keys) window reuses it instead of re-exchanging.
        # (Explode-from-bounds runs the entire keys × hours fan-out in ONE
        # task: the 1-row aggregate collapses to a single partition and
        # the broadcast cross-join preserves it.)
        dim = df.select(*keys).distinct()
        return dim.join(F.broadcast(bounds)).select(
            F.explode(F.sequence(F.col("_t0"), F.col("_t1"), F.expr(step))).alias(ts_col),
            *keys,
        )
    return bounds.select(
        F.explode(F.sequence(F.col("_t0"), F.col("_t1"), F.expr(step))).alias(ts_col)
    )


# -- R2/R4: forward fill, backward fill, fill chain -------------------------

def ffill(col: ColumnOrName, partition_by: list[str],
          order_by: list[str]) -> Column:
    """Forward-fill: last non-null value at or before the current row.

    Reference: ``resample('1h').ffill()`` (``pre_processing.py:208-222``).
    Spark: ``last(ignorenulls)`` over an unbounded-preceding frame — one
    scan per series, no iteration.
    """
    w = (Window.partitionBy(*partition_by).orderBy(*order_by)
         .rowsBetween(Window.unboundedPreceding, 0))
    return F.last(col, ignorenulls=True).over(w)


def _desc_running(partition_by: list[str], order_by: list[str]):
    """Descending-order running frame — the O(n) backward-scan trick.

    ``first(x) over (0, unboundedFollowing)`` is O(n²) per partition in
    Spark (UnboundedFollowingWindowFunctionFrame re-aggregates the whole
    remaining frame for every row); the equivalent ``last(x) over
    (unboundedPreceding, 0)`` on a DESCENDING sort is a running aggregate —
    one extra sort, linear scan.
    """
    return (Window.partitionBy(*partition_by)
            .orderBy(*[F.col(c).desc() for c in order_by])
            .rowsBetween(Window.unboundedPreceding, 0))


def bfill(col: ColumnOrName, partition_by: list[str],
          order_by: list[str]) -> Column:
    """Backward-fill: first non-null value at or after the current row."""
    return F.last(col, ignorenulls=True).over(_desc_running(partition_by, order_by))


def fill_chain(col: ColumnOrName, partition_by: list[str],
               order_by: list[str], default: float = 0.0) -> Column:
    """ffill → bfill → constant (reference ``pre_processing.py:278-284``)."""
    return F.coalesce(
        ffill(col, partition_by, order_by),
        bfill(col, partition_by, order_by),
        F.lit(default),
    )


# -- Sessionization ----------------------------------------------------------

def sessionize(df: DataFrame, key: str, ts_col: str = "ts",
               order_by: list[str] | None = None,
               gap_s: int = 1800,
               out_col: str = "session_id") -> DataFrame:
    """Gap-based sessionization: a new session starts whenever the gap to
    the previous row of the same key exceeds ``gap_s`` seconds.

    The classic two-window composition — a boundary flag from ``lag``,
    then a running sum numbering the sessions (0-based per key). Both
    windows share the same (key, order) spec, so Spark plans ONE
    sort+exchange and evaluates both frames in a single Window node.
    This is the batch twin of ``session_window`` in Structured Streaming
    (reference's dashboard has no session concept; SURVEY.md §2.9
    'absent — we get these free').
    """
    ob = order_by or [ts_col]
    w = Window.partitionBy(key).orderBy(*ob)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = (F.col(ts_col).cast("long")
           - F.lag(F.col(ts_col).cast("long")).over(w))
    # two selects: a window expression may not nest inside another window's
    # argument; both specs still collapse into one sort in the plan
    return (df.withColumn("_boundary", F.when(gap > gap_s, 1).otherwise(0))
            .withColumn(out_col, F.sum("_boundary").over(run).cast("long"))
            .drop("_boundary"))


# -- R3: linear interpolation -----------------------------------------------

def interpolate_linear(col: ColumnOrName, ts_col: str,
                       partition_by: list[str]) -> Column:
    """Linear interpolation of interior nulls against the time axis.

    Reference: ``resample('1h').interpolate('linear')``
    (``pre_processing.py:229``). No Spark builtin — composed from four
    window expressions: bracket each null row with the previous/next
    non-null (value, ts) pair and lerp on the unix-time fraction. Edge
    nulls (no bracket on one side) stay null, matching pandas
    ``interpolate`` without ``limit_direction='both'``.

    Cost: two sorts per series (ascending for the previous-value leg,
    descending for the next-value leg — see ``_desc_running``: the naive
    unbounded-FOLLOWING frame is O(n²) per series in Spark); one exchange,
    O(n log n) per series, no UDF.
    """
    x = F.col(col) if isinstance(col, str) else col
    t = F.unix_timestamp(F.col(ts_col)).cast("double")
    fw = (Window.partitionBy(*partition_by).orderBy(ts_col)
          .rowsBetween(Window.unboundedPreceding, 0))
    bw = _desc_running(partition_by, [ts_col])

    prev_v = F.last(x, ignorenulls=True).over(fw)
    prev_t = F.last(F.when(x.isNotNull(), t), ignorenulls=True).over(fw)
    next_v = F.last(x, ignorenulls=True).over(bw)
    next_t = F.last(F.when(x.isNotNull(), t), ignorenulls=True).over(bw)

    frac = F.when(next_t != prev_t, (t - prev_t) / (next_t - prev_t)).otherwise(F.lit(0.0))
    interp = prev_v + (next_v - prev_v) * frac
    return F.when(x.isNotNull(), x).otherwise(
        F.when(prev_v.isNotNull() & next_v.isNotNull(), interp)
    )


# -- R5: Savitzky-Golay smoothing --------------------------------------------

def savgol_coefficients(window: int, polyorder: int) -> list[float]:
    """Savitzky-Golay FIR coefficients for smoothing (derivative 0).

    Standard least-squares derivation (public formula): the smoothed value
    at the window center is ``e_0ᵀ (AᵀA)⁻¹ Aᵀ y`` where A is the
    Vandermonde matrix of offsets -m..m. Deterministic — both the Spark
    expression and any SQL oracle embed the SAME literal coefficients.
    """
    import numpy as np
    m = window // 2
    offsets = np.arange(-m, m + 1, dtype=np.float64)
    a = np.vander(offsets, polyorder + 1, increasing=True)
    # row 0 of the pseudo-inverse = smoothing coefficients
    coeffs = np.linalg.pinv(a)[0]
    return [float(c) for c in coeffs]


def savgol_smooth(col: ColumnOrName, partition_by: list[str],
                  order_by: list[str], window: int = 11,
                  polyorder: int = 3) -> Column:
    """Savitzky-Golay smoothing as a fixed FIR convolution of lag/leads.

    Reference: ``scipy.signal.savgol_filter(x, 11, 3)`` on the 2-min zone
    series (``data_generator.py:963``). For interior points scipy IS this
    exact convolution; here it runs as one window pass per series —
    whole-stage codegen, no scipy, no Python boundary. Edge rows (fewer
    than ``window//2`` neighbors on either side) emit null, whereas scipy
    refits a polynomial on the truncated edge window (mode='interp') —
    use the pandas-UDF variant if bit-exact edges matter.
    """
    x = F.col(col) if isinstance(col, str) else col
    m = window // 2
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    coeffs = savgol_coefficients(window, polyorder)
    terms = []
    for k, c in zip(range(-m, m + 1), coeffs):
        if k < 0:
            v = F.lag(x, -k).over(w)
        elif k > 0:
            v = F.lead(x, k).over(w)
        else:
            v = x
        terms.append(v * F.lit(c))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


# -- R6: cubic interpolation (serving-side) ----------------------------------

def _natural_spline_eval(x, y, xq):
    """Evaluate a natural cubic spline through (x, y) at points xq (numpy).

    Tridiagonal second-derivative system with natural boundaries
    (M₀ = Mₙ = 0); <4 knots falls back to linear. Pure numpy — scipy is
    not available in this environment.
    """
    import numpy as np

    n = len(x)
    if n == 0:
        return np.full(len(xq), np.nan, dtype=np.float64)
    if n == 1:
        return np.full(len(xq), float(y[0]), dtype=np.float64)
    if n < 4:
        return np.interp(xq, x, y)
    h = np.diff(x)
    # Thomas algorithm on the natural-spline tridiagonal system
    # (unknowns M[1..n-2]; M[0] = M[n-1] = 0).  O(n) instead of the dense
    # O(n^3) solve, and — because it is a fixed sequential recurrence —
    # exactly replayable by the SQL oracle's recursive CTE, so the driver
    # can value-check this operator bit-for-bit after 4-decimal rounding.
    m = np.zeros(n)
    cp = np.zeros(n)
    dp = np.zeros(n)
    for i in range(1, n - 1):
        rhs = 6.0 * ((y[i + 1] - y[i]) / h[i] - (y[i] - y[i - 1]) / h[i - 1])
        if i == 1:
            w = 2.0 * (h[0] + h[1])
            cp[1] = h[1] / w
            dp[1] = rhs / w
        else:
            w = 2.0 * (h[i - 1] + h[i]) - h[i - 1] * cp[i - 1]
            cp[i] = h[i] / w
            dp[i] = (rhs - h[i - 1] * dp[i - 1]) / w
    m[n - 2] = dp[n - 2]
    for i in range(n - 3, 0, -1):
        m[i] = dp[i] - cp[i] * m[i + 1]
    idx = np.clip(np.searchsorted(x, xq, side="right") - 1, 0, n - 2)
    hh = x[idx + 1] - x[idx]
    t = xq - x[idx]
    b = (y[idx + 1] - y[idx]) / hh - hh * (2.0 * m[idx] + m[idx + 1]) / 6.0
    return y[idx] + b * t + (m[idx] / 2.0) * t * t \
        + ((m[idx + 1] - m[idx]) / (6.0 * hh)) * t * t * t


def cubic_interpolate(df: DataFrame, by: list[str], x_col: str, y_col: str,
                      num: int = 97, out_col: str = "y_smooth") -> DataFrame:
    """Cubic-spline resample of each series to ``num`` evenly spaced points.

    Reference: ``scipy.interpolate.interp1d(kind='cubic')`` over the 11
    zone points for the dashboard's smooth profile curve
    (``dashboard.py:1341-1353``). Serving-side only — each group is one
    small curve, so one Arrow batch per series via ``applyInPandas`` is
    the right shape; groups are independent and parallelize across
    executors. The bulk analytics never route through this operator.
    """
    import pandas as pd  # noqa: F401 — applyInPandas contract

    from pyspark.sql import types as T

    schema = T.StructType(
        [df.schema[k] for k in by]
        + [T.StructField(x_col, T.DoubleType()),
           T.StructField(out_col, T.DoubleType())]
    )
    cols = by + [x_col, out_col]

    def fit(key, pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(x_col).drop_duplicates(subset=[x_col])
        x = pdf[x_col].to_numpy(np.float64)
        y = pdf[y_col].to_numpy(np.float64)
        ok = ~(np.isnan(x) | np.isnan(y))
        x, y = x[ok], y[ok]
        if len(x) == 0:
            return pd.DataFrame({c: [] for c in cols})
        xq = np.linspace(x[0], x[-1], num)
        out = pd.DataFrame({x_col: xq, out_col: _natural_spline_eval(x, y, xq)})
        for name, val in zip(by, key):
            out[name] = val
        return out[cols]

    return df.groupBy(*by).applyInPandas(fit, schema)


# -- convenience: align a source onto a spine (J1 + R2) ----------------------

def align_to_spine(spine: DataFrame, src: DataFrame, on: list[str],
                   fill: str | None = "ffill",
                   partition_by: list[str] | None = None,
                   ts_col: str = "ts") -> DataFrame:
    """Left-join a (possibly sparser) source onto the spine and gap-fill.

    Reference align stage: ``aligned_df.join(x_resampled)`` then ffill
    (``pre_processing.py:208-241``). The join key starts with ts (+series
    keys); value columns then fill per the chosen strategy.
    """
    joined = spine.join(src, on=on, how="left")
    part = partition_by if partition_by is not None else [c for c in on if c != ts_col]
    if not part:
        part = [F.lit(1)]
    value_cols = [c for c in src.columns if c not in on]
    if fill == "ffill":
        exprs = [ffill(c, part, [ts_col]).alias(c) for c in value_cols]
    elif fill == "linear":
        exprs = [interpolate_linear(c, ts_col, part).alias(c) for c in value_cols]
    elif fill == "chain":
        exprs = [fill_chain(c, part, [ts_col]).alias(c) for c in value_cols]
    else:
        exprs = [F.col(c) for c in value_cols]
    return joined.select(*on, *exprs)


# -- sequential recursions: one step each, folded by batch and stream ------
#
# Each step maps a 4-tuple state and one observation to the next state.
# The batch operator folds it over a whole sorted series and reads the
# final state; its ``streaming.jobs`` twin folds it per arriving row and
# emits every prefix. The float operations and their order are pinned so
# the recursive-CTE oracles replay the state bit-identically.

_FOLD0 = (0, 0.0, 0.0, 0.0)   # (n, ...) before the first observation


def _holt_step(st: tuple, y: float, alpha: float, beta: float,
               phi: float) -> tuple:
    """One period of the (damped-trend) Holt recursion over
    ``(n, level, trend, |error| sum)``: the first period sets the level,
    the second sets the trend to y₁ − y₀ before its update, so the fold
    from ``_FOLD0`` starts at l = y₀, b = y₁ − y₀."""
    n, l, b, esum = st
    if n == 0:
        return 1, y, 0.0, 0.0
    if n == 1:
        b = y - l
    pred = l + phi * b
    lnew = alpha * y + (1 - alpha) * pred
    bnew = beta * (lnew - l) + (1 - beta) * (phi * b)
    return n + 1, lnew, bnew, esum + abs(y - pred)


def _holt_forecast(l: float, b: float, phi: float, h: int) -> float:
    """The h-step Holt forecast: l + h·b, or the damped geometric sum
    l + (φ + … + φʰ)·b when φ < 1."""
    if phi == 1.0:
        return l + h * b
    return l + phi * (1.0 - phi ** h) / (1.0 - phi) * b


def _croston_step(st: tuple, t: int, z: float, alpha: float) -> tuple:
    """One demand of Croston's two smoothers over ``(n, last t, ẑ, p̂)``:
    the first demand sets ẑ, the second sets p̂ to the first gap, and
    each later demand smooths both."""
    n, last_t, zh, ph = st
    if n == 0:
        return 1, t, z, 0.0
    q = float(t - last_t)
    return (n + 1, t, zh + alpha * (z - zh),
            q if n == 1 else ph + alpha * (q - ph))


def _wilder_step(st: tuple, x: float, period: int) -> tuple:
    """One observation of Wilder's fold over ``(n, previous x, AG, AL)``:
    the first ``period`` gains/losses accumulate and divide once at the
    ``period``-th; later ones smooth as AG := (AG·(period−1) + g)/period."""
    n, prev, ag, al = st
    if n > 0:
        d = x - prev
        g = d if d > 0 else 0.0
        lo = -d if d < 0 else 0.0
        if n <= period:
            ag, al = ag + g, al + lo
            if n == period:
                ag, al = ag / period, al / period
        else:
            ag = (ag * (period - 1) + g) / period
            al = (al * (period - 1) + lo) / period
    return n + 1, x, ag, al


def _rsi(ag: float, al: float) -> float:
    """RSI from Wilder's averages; AL == 0.0 gives 100.0 exactly."""
    return 100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al)


def holt_linear(df: DataFrame, key: str, ts_col: str, value_col: str,
                alpha: float = 0.3, beta: float = 0.1,
                horizon: int = 7, phi: float = 1.0) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per series
    (Holt 1957; the level+trend member of the ETS family) — the
    forecasting step past `seasonal_baseline`'s seasonal-naive: state
    (level l, trend b) updates once per period as

        pred = l + b
        l'   = alpha * y + (1 - alpha) * pred
        b'   = beta * (l' - l) + (1 - beta) * b

    initialized l=y0, b=y1-y0, with the one-step-ahead MAE accumulated
    along the way (the honest in-sample fit number).

    Input must be one row per (key, period) on a REGULAR grid — run a
    downsample/fill first; raises if any key has < 2 periods. The
    recursion is inherently sequential per series, so this is a real
    ``applyInPandas`` case: each series' period count is bounded (it is
    a calendar aggregate — same bound as every profile operator here),
    while the series COUNT distributes freely; the float operand order
    is pinned so the oracle's recursive CTE replays bit-identical state.

    ``phi`` < 1 gives the DAMPED-trend variant (Gardner & McKenzie
    1985 — the M-competition default for long horizons, where an
    undamped linear trend extrapolates absurdly): pred = l + φ·b,
    b' = β(l'−l) + (1−β)·φ·b, and the h-step forecast sums the
    geometric trend l + (φ+φ²+…+φʰ)·b. φ = 1.0 (default) reproduces
    the classic recursion BIT-FOR-BIT (multiplying by the exact 1.0
    literal is an IEEE identity), so existing oracles are untouched.

    Returns one row per key: ``(key, n_periods, level, trend,
    forecast_h, mae)`` with ``forecast_h = level + horizon * trend``
    (φ = 1) or the damped geometric sum (φ < 1).
    """
    import pandas as pd

    a, b_, ph = float(alpha), float(beta), float(phi)
    if not 0 < ph <= 1:
        raise ValueError("holt_linear needs 0 < phi <= 1")

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        ys = pdf[value_col].tolist()
        if len(ys) < 2:
            raise ValueError(
                f"holt_linear needs >= 2 periods per key, got {len(ys)} "
                f"for {pdf[key].iloc[0]!r} — densify the grid upstream")
        st = _FOLD0
        for y in ys:
            st = _holt_step(st, y, a, b_, ph)
        n, l, b, esum = st
        return pd.DataFrame({
            key: [pdf[key].iloc[0]], "n_periods": [n],
            "level": [l], "trend": [b],
            "forecast_h": [_holt_forecast(l, b, ph, horizon)],
            "mae": [esum / (n - 1)]})

    out_schema = (f"{_key_ddl(df, key)}, n_periods long, level double, "
                  "trend double, forecast_h double, mae double")
    return df.groupBy(key).applyInPandas(fit, out_schema)


def ewma_recursive(df: DataFrame, key: str, ts_col: str, value_col: str,
                   alpha: float = 0.3) -> DataFrame:
    """EXACT recursive EWMA per series — the infinite-memory twin of the
    truncated 12-tap FIR approximation (``q_ewma``):

        s_0 = y_0;   s_t = alpha * y_t + (1 - alpha) * s_{t-1}

    (classic adjust=False form; reference family:
    ``pre_processing.py`` rolling/smoothing kernels). Same execution
    contract as :func:`holt_linear`: the recursion is inherently
    sequential per series, so it is an ``applyInPandas`` stage whose
    per-series row count is bounded (calendar-grain series), while the
    series COUNT distributes freely. Operand order is pinned
    (``alpha*y + (1-alpha)*s``) so a recursive-CTE oracle replays the
    state bit-identically.

    Returns one row per (key, period): ``(key, ts, y, ewma)``.

    Scale shape: one groupBy(key) exchange; state is one double per
    series. For unbounded-length series use the FIR form (bounded
    window, fully native) — the tail beyond 12 taps carries < 1.4 % of
    the weight; ``tests/test_timeseries.py`` bounds the deviation.
    """
    import pandas as pd

    a = float(alpha)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        ys = pdf[value_col].tolist()
        out = []
        s = None
        for y in ys:
            s = y if s is None else a * y + (1 - a) * s
            out.append(s)
        return pd.DataFrame({key: pdf[key].values, ts_col: pdf[ts_col].values,
                             "y": ys, "ewma": out})

    out_schema = (f"{_key_ddl(df, key)}, {ts_col} timestamp, "
                  "y double, ewma double")
    return df.groupBy(key).applyInPandas(fit, out_schema)


def holt_winters_additive(df: DataFrame, key: str, ts_col: str,
                          value_col: str, season: int = 7,
                          alpha: float = 0.3, beta: float = 0.1,
                          gamma: float = 0.2,
                          horizon: int = 7) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing per series
    (Winters 1960) — the seasonal member of the ETS family, extending
    :func:`holt_linear` with a length-``season`` seasonal state:

        pred  = l + b + s[t % m]
        l'    = alpha * (y_t − s[t % m]) + (1 − alpha) * (l + b)
        b'    = beta * (l' − l) + (1 − beta) * b
        s[t%m]' = gamma * (y_t − l') + (1 − gamma) * s[t % m]

    Standard simple initialization: l₀ = mean of season 1, b₀ = (mean
    of season 2 − mean of season 1)/m, s_i = y_i − l₀ over season 1;
    the recursion starts at t = m. Requires ≥ 2·``season`` periods per
    key (raises otherwise). One-step-ahead MAE accumulates from t = m.

    Same execution contract as ``holt_linear``: per-series sequential
    recursion in ``applyInPandas`` over the bounded calendar grid,
    state = 2 + m doubles per series, operand order pinned so the
    oracle's recursive CTE (list-state rebuild per step) replays
    bit-identically.

    Returns one row per (key, h) for h = 1..``horizon``:
    ``(key, n_periods, h, forecast, level, trend, mae)`` with
    ``forecast = l + h·b + s[(n − 1 + h) % m]``.
    """
    import pandas as pd

    a, b_, g = float(alpha), float(beta), float(gamma)
    m = int(season)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        ys = pdf[value_col].tolist()
        n = len(ys)
        if n < 2 * m:
            raise ValueError(
                f"holt_winters_additive needs >= {2 * m} periods per "
                f"key, got {n} for {pdf[key].iloc[0]!r} — densify the "
                "grid upstream or shrink `season`")
        mean1 = sum(ys[:m]) / m
        mean2 = sum(ys[m:2 * m]) / m
        l, b = mean1, (mean2 - mean1) / m
        s = [ys[i] - mean1 for i in range(m)]
        esum = 0.0
        for t in range(m, n):
            si = s[t % m]
            pred = l + b + si
            lnew = a * (ys[t] - si) + (1 - a) * (l + b)
            bnew = b_ * (lnew - l) + (1 - b_) * b
            s[t % m] = g * (ys[t] - lnew) + (1 - g) * si
            esum = esum + abs(ys[t] - pred)
            l, b = lnew, bnew
        rows = []
        for h in range(1, horizon + 1):
            rows.append((pdf[key].iloc[0], n, h,
                         l + h * b + s[(n - 1 + h) % m],
                         l, b, esum / (n - m)))
        return pd.DataFrame(rows, columns=[key, "n_periods", "h",
                                           "forecast", "level", "trend",
                                           "mae"])

    out_schema = (f"{_key_ddl(df, key)}, n_periods long, h int, "
                  "forecast double, level double, trend double, "
                  "mae double")
    return df.groupBy(key).applyInPandas(fit, out_schema)


def kalman_local_level(df: DataFrame, key: str, ts_col: str,
                       value_col: str, q: float = 0.01,
                       r: float = 1.0) -> DataFrame:
    """Local-level (random-walk + noise) Kalman filter per series — the
    optimal online smoother for a drifting level, the state-space
    generalization of :func:`ewma_recursive` (a steady-state Kalman
    gain IS an EWMA alpha; here the gain adapts per step from the
    variance recursion):

        P' = P + q                (predict)
        K  = P' / (P' + r)        (gain)
        x  = x + K * (z - x)      (update)
        P  = (1 - K) * P'

    initialized x = y₀, P = r (diffuse-ish start), with the one-step
    innovation MAE accumulated along the way. Same execution contract
    as :func:`holt_linear`: inherently sequential per series ⇒ one
    Arrow-batched ``applyInPandas`` stage; per-series length is a
    bounded calendar grain while the series COUNT distributes freely;
    operand order is pinned so a recursive-CTE oracle replays the
    state bit-identically. Returns one row per key:
    ``(key, n_periods, level, gain, p_var, mae)``.
    """
    import pandas as pd

    qf, rf = float(q), float(r)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        ys = pdf[value_col].tolist()
        if len(ys) < 2:
            raise ValueError(
                f"kalman_local_level needs >= 2 periods per key, got "
                f"{len(ys)} for {pdf[key].iloc[0]!r}")
        x, p = ys[0], rf
        esum, k = 0.0, 0.0
        for z in ys[1:]:
            pp = p + qf
            k = pp / (pp + rf)
            esum = esum + abs(z - x)
            x = x + k * (z - x)
            p = (1.0 - k) * pp
        return pd.DataFrame({
            key: [pdf[key].iloc[0]], "n_periods": [len(ys)],
            "level": [x], "gain": [k], "p_var": [p],
            "mae": [esum / (len(ys) - 1)]})

    out_schema = (f"{_key_ddl(df, key)}, n_periods long, level double, "
                  "gain double, p_var double, mae double")
    return df.groupBy(key).applyInPandas(fit, out_schema)


def _garch_core(rs: list, a: float, b: float,
                v0: float) -> tuple:
    """The GARCH(1,1) recursion of :func:`garch_sweep` (and so of
    :func:`garch_filter`): h_{t+1} = ω + α·r_t² + β·h_t with
    variance-targeted ω = (1−α−β)·v0 and h₁ = v0, accumulating the
    Gaussian log-likelihood and max standardized shock. Operand order is
    pinned (ω precomputed ONCE, then ``w + a*e2 + b*h``) so a recursive-
    CTE oracle that inlines ``(1−α−β)·v0`` per step replays h
    bit-identically — ω is a single multiply either way."""
    import math

    w = (1.0 - a - b) * v0
    h, ll, mx = v0, 0.0, 0.0
    for r in rs:
        e2 = r * r
        ll = ll + (-0.5) * (math.log(h) + e2 / h)
        shock = e2 / h
        if shock > mx:
            mx = shock
        h = w + a * e2 + b * h
    return h, ll, mx


def garch_filter(df: DataFrame, key: str, ts_col: str, value_col: str,
                 alpha: float = 0.1, beta: float = 0.85) -> DataFrame:
    """GARCH(1,1) volatility filter per series with FROZEN (α, β) and
    variance targeting — the conditional-heteroskedasticity sibling of
    :func:`kalman_local_level` (Kalman tracks the LEVEL's variance;
    GARCH tracks the NOISE's): over first differences r_t,

        h_{t+1} = ω + α·r_t² + β·h_t,   ω = (1−α−β)·σ̂₀²

    initialized h₁ = σ̂₀² (the population variance of the differences —
    variance targeting pins the model's unconditional variance to the
    sample, so ω needs no tuning), accumulating the Gaussian
    log-likelihood −½Σ(ln h_t + r_t²/h_t) and the maximum standardized
    shock r_t²/h_t. Fitting (α, β) needs MLE iteration; the FILTER with
    frozen parameters is the monitoring artifact (the
    ``kalman_local_level`` q/r posture).

    This is :func:`garch_sweep` run with the one candidate (α, β), so
    its exclusion rules (≤ 6 differences, σ̂₀² ≤ 0), σ̂₀² HALF_UP
    rounding and pinned operand order are the sweep's. Returns one row
    per key: ``(key, n_diffs, v0, h_next, vol_next, max_shock,
    log_lik)`` where h_next is the one-step-ahead variance forecast.
    """
    return (garch_sweep(df, key, ts_col, value_col, [(alpha, beta)])
            .drop("alpha", "beta"))


def croston_forecast(df: DataFrame, key: str, t_col: str,
                     demand_col: str, alpha: float = 0.1) -> DataFrame:
    """Croston's method for INTERMITTENT demand (Croston 1972): two
    exponential smoothers — one over nonzero demand SIZES z_k, one
    over inter-demand INTERVALS q_k — forecasting ẑ/p̂ demand per
    period. The zero-inflated regime where plain SES/Holt (which this
    repo ships as ``ewma_recursive``/``holt_linear``) systematically
    lag: their smoothed level decays toward zero between demands,
    while Croston separates "how much when it happens" from "how
    often it happens".

    Input is the NONZERO demand subsequence only: one row per demand
    with its integer period index ``t_col`` (zeros never materialize —
    gaps carry them, so no dense spine is built; the 100 TB posture).
    Pinned conventions (documented because Croston variants disagree):
    z init = first size; p init = first gap (t₂−t₁); updates for
    k = 2..m: z := z + α(z_k − z), and for k ≥ 3: p := p + α(q_k − p)
    with q_k = t_k − t_{k−1}. Series with < 2 demands are excluded
    (no interval exists). Same execution contract as ``garch_filter``:
    sequential per series ⇒ one Arrow stage; operand order pinned so a
    recursive-CTE oracle replays both smoothers bit-identically; α is
    a shared literal; no rounding inside the recursion.

    Returns ``(key, n_demands, span_periods, z_hat, p_hat, forecast)``
    with forecast = ẑ/p̂ (expected demand per period).
    """
    import pandas as pd

    a = float(alpha)
    if not 0 < a < 1:
        raise ValueError("croston_forecast needs 0 < alpha < 1")

    cols = [key, "n_demands", "span_periods", "z_hat", "p_hat",
            "forecast"]

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col)
        if len(pdf) < 2:
            return pd.DataFrame(columns=cols)
        st = (0, 0, 0.0, 0.0)
        for t, z in zip(pdf[t_col], pdf[demand_col]):
            st = _croston_step(st, int(t), float(z), a)
        m, t_last, z, p = st
        return pd.DataFrame({
            key: [pdf[key].iloc[0]], "n_demands": [m],
            "span_periods": [t_last - int(pdf[t_col].iloc[0])],
            "z_hat": [z], "p_hat": [p], "forecast": [z / p]})

    out_schema = (f"{_key_ddl(df, key)}, n_demands long, "
                  "span_periods long, z_hat double, p_hat double, "
                  "forecast double")
    return df.groupBy(key).applyInPandas(fit, out_schema)


def wilder_rsi(df: DataFrame, key: str, t_col: str, value_col: str,
               period: int = 14) -> DataFrame:
    """Wilder's Relative Strength Index (Wilder 1978) per series — the
    bounded-momentum readout technical monitoring dashboards pair with
    `max_drawdown`: RSI = 100 − 100/(1 + AG/AL) where AG/AL are
    Wilder-smoothed average gains/losses of the first differences.

    Pinned conventions (RSI variants disagree on seeding): diffs
    d_k = x_k − x_{k−1} in ``t_col`` order; g = max(d, 0),
    l = max(−d, 0); the seed accumulates the first ``period`` gains/
    losses by LEFT-FOLD addition in k order then divides by ``period``
    ONCE (never a set-aggregate mean, whose summation order is engine-
    dependent); thereafter AG := (AG·(period−1) + g)/period, AL
    likewise — operand order pinned so a recursive-CTE oracle replays
    the fold bit-identically. AL == 0.0 ⇒ RSI = 100.0 exactly. Series
    with < period+1 observations are excluded. Same execution contract
    as :func:`croston_forecast`: inherently sequential per series ⇒
    one Arrow stage over the (tiny) bounded-grain frame; α is implied
    by ``period``; no rounding inside the recursion.

    Returns ``(key, n_obs, avg_gain, avg_loss, rsi)``.
    """
    import pandas as pd

    per = int(period)
    if per < 1:
        raise ValueError("wilder_rsi needs period >= 1")

    cols = [key, "n_obs", "avg_gain", "avg_loss", "rsi"]

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col)
        if len(pdf) < per + 1:
            return pd.DataFrame(columns=cols)
        st = _FOLD0
        for x in pdf[value_col]:
            st = _wilder_step(st, float(x), per)
        m, _, ag, al = st
        return pd.DataFrame({
            key: [pdf[key].iloc[0]], "n_obs": [m],
            "avg_gain": [ag], "avg_loss": [al], "rsi": [_rsi(ag, al)]})

    out_schema = (f"{_key_ddl(df, key)}, n_obs long, avg_gain double, "
                  "avg_loss double, rsi double")
    return df.groupBy(key).applyInPandas(fit, out_schema)


def hp_filter(df: DataFrame, key: str, ts_col: str, value_col: str,
              lam: float = 1600.0) -> DataFrame:
    """Hodrick-Prescott trend/cycle decomposition per series: minimize
    Σ(y_t−τ_t)² + λ·Σ((τ_{t+1}−τ_t)−(τ_t−τ_{t−1}))² — the classic
    econometric detrending filter (Hodrick & Prescott 1997). The normal
    equations (I + λDᵀD)τ = y are a symmetric PENTADIAGONAL system,
    solved O(n) by banded LU (the 5-diagonal sibling of
    ``_natural_spline_eval``'s Thomas solve): a forward sweep carrying
    two-step-lookback multipliers (α, β, z), then a two-step-lookahead
    back substitution.

    Execution contract (the ``cubic_interpolate``/``garch_filter``
    lane): inherently sequential per series ⇒ one Arrow stage; series
    length is calendar-bounded while series count distributes. BOTH
    recursions zero-extend their state (α₋₁ = β₋₁ = z₋₁ = 0, x_n =
    x_{n+1} = 0) and pin operand order, so a recursive-CTE oracle
    replays every multiplier and every τ_t bit-identically — no
    rounding anywhere inside the recursion. Series with < 5 points are
    excluded (the boundary coefficient cases assume them distinct).

    Returns one row per input point: ``(key, ts, y, trend)``.
    """
    import pandas as pd

    lam_ = float(lam)
    if lam_ <= 0:
        raise ValueError("hp_filter needs lam > 0")

    def coefs(i: int, n: int):
        # zero-extended pentadiagonal rows of I + lam * D'D
        if i == 0 or i == n - 2:
            a = -2.0 * lam_
        elif i <= n - 3:
            a = -4.0 * lam_
        else:
            a = 0.0
        b = lam_ if i <= n - 3 else 0.0
        if i == 0 or i == n - 1:
            d = 1.0 + lam_
        elif i == 1 or i == n - 2:
            d = 1.0 + 5.0 * lam_
        else:
            d = 1.0 + 6.0 * lam_
        return a, b, d

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        ys = [float(v) for v in pdf[value_col]]
        n = len(ys)
        if n < 5:
            return pd.DataFrame(columns=[key, ts_col, "y", "trend"])
        al = [0.0] * n
        be = [0.0] * n
        z = [0.0] * n
        al_p = al_pp = be_p = be_pp = z_p = z_pp = 0.0
        for i in range(n):
            a_i, b_i, d_i = coefs(i, n)
            c_i = coefs(i - 1, n)[0] if i >= 1 else 0.0
            e_i = lam_ if i >= 2 else 0.0
            ga = c_i - al_pp * e_i
            mu = d_i - be_pp * e_i - al_p * ga
            al[i] = (a_i - be_p * ga) / mu
            be[i] = b_i / mu
            z[i] = (ys[i] - z_pp * e_i - z_p * ga) / mu
            al_pp, al_p = al_p, al[i]
            be_pp, be_p = be_p, be[i]
            z_pp, z_p = z_p, z[i]
        xs = [0.0] * n
        xs[n - 1] = z[n - 1]
        x_next, x_nn = z[n - 1], 0.0
        for i in range(n - 2, -1, -1):
            xi = z[i] - al[i] * x_next - be[i] * x_nn
            xs[i] = xi
            x_nn, x_next = x_next, xi
        return pd.DataFrame({
            key: pdf[key].iloc[0], ts_col: pdf[ts_col].to_list(),
            "y": ys, "trend": xs})

    ts_t = df.schema[ts_col].dataType.simpleString()
    out_schema = (f"{_key_ddl(df, key)}, {ts_col} {ts_t}, "
                  "y double, trend double")
    return df.groupBy(key).applyInPandas(fit, out_schema)


def garch_sweep(df: DataFrame, key: str, ts_col: str, value_col: str,
                candidates: list[tuple[float, float]]) -> DataFrame:
    """GARCH(1,1) candidate-parameter sweep — the model SELECTION step
    over :func:`garch_filter`'s likelihood readout: run the
    frozen-parameter filter for every candidate pair over the SAME
    per-series differences and emit one row per (series, candidate) so
    the caller ranks by log-likelihood (the `aic_order_select`
    model-selection pattern applied to volatility regimes).

    Scale shape: ONE Arrow stage — the differences materialize once per
    series and the bounded candidate loop runs inside the same
    ``applyInPandas`` batch, so the fact collapse upstream is scanned
    once, not |candidates| times. Per-series work is
    O(|candidates| × calendar days); series count distributes.
    Series with ≤ 6 differences or σ̂₀² ≤ 0 are excluded; σ̂₀² is
    HALF_UP-rounded at 6 dp (the repo's one rounding law) and operand
    order is pinned (``_garch_core``), so a recursive-CTE oracle replays
    the whole sweep bit-identically. :func:`garch_filter` is this sweep
    with one candidate.

    Returns ``(key, alpha, beta, n_diffs, v0, h_next, vol_next,
    max_shock, log_lik)``.
    """
    import math

    import pandas as pd

    cands = [(float(a), float(b)) for a, b in candidates]
    if not cands:
        raise ValueError("garch_sweep needs at least one (alpha, beta)")
    for a, b in cands:
        if not (a >= 0 and b >= 0 and a + b < 1):
            raise ValueError(
                f"candidate ({a}, {b}) violates alpha, beta >= 0 and "
                "alpha + beta < 1 (variance targeting)")

    cols = [key, "alpha", "beta", "n_diffs", "v0", "h_next",
            "vol_next", "max_shock", "log_lik"]

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        ys = pdf[value_col].tolist()
        rs = [ys[i + 1] - ys[i] for i in range(len(ys) - 1)]
        m = len(rs)
        if m <= 6:
            return pd.DataFrame(columns=cols)
        from ..functions.stats import half_up

        mean = sum(rs) / m
        var = sum((r - mean) * (r - mean) for r in rs) / m
        v0 = half_up(var)
        if v0 <= 0:
            return pd.DataFrame(columns=cols)
        rows = []
        for a, b in cands:
            h, ll, mx = _garch_core(rs, a, b, v0)
            rows.append((pdf[key].iloc[0], a, b, m, v0, h,
                         math.sqrt(h), mx, ll))
        return pd.DataFrame(rows, columns=cols)

    out_schema = (f"{_key_ddl(df, key)}, alpha double, beta double, "
                  "n_diffs long, v0 double, h_next double, "
                  "vol_next double, max_shock double, log_lik double")
    return df.groupBy(key).applyInPandas(fit, out_schema)

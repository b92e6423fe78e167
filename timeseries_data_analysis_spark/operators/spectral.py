"""Fixed-frequency DFT (spectral density) partials and readouts.

The distributed answer to "does this series have a daily rhythm, and
how strong" — amplitude_k = 2·√(C_k² + S_k²)/n at chosen angular
frequencies ω_k, with C_k = Σ v·cos(ω_k·t) and S_k = Σ v·sin(ω_k·t).

The partial sums (n, C_k, S_k) are ADDITIVE sufficient statistics
(the `ml/pca.py` Gramian argument), so a streaming fold over
micro-batches produces bit-equal-up-to-summation-order state to a
one-shot batch pass — `streaming/jobs.periodogram_commit_batch` reuses these
builders. Amplitudes are invariant to the time origin t₀ (a phase
shift rotates (C, S) but preserves C² + S²), so a streaming twin with
any FIXED origin reads out the same amplitudes as the batch query's
data-dependent global-min origin, up to float noise absorbed by the
6-dp round.

Cross-engine notes (the `__spark_entry__` ROUND_EPS discipline): ω_k
literals are Python doubles embedded on both engine sides via repr's
round-trip guarantee; t should be kept small (seconds relative to a
nearby origin) to stay out of the large-argument trig range-reduction
regime where libm implementations diverge fastest.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# harmonics of the daily cycle: ω_k = 2πk/86400
OMEGAS_DAILY = {k: 2.0 * math.pi * k / 86400.0 for k in (1, 2, 3, 4)}

_ROUND_EPS = 1e-9


def dft_partials(base: DataFrame, omegas: dict[int, float],
                 key_col: str = "event_type", t_col: str = "_t",
                 v_col: str = "_v") -> DataFrame:
    """Per-key additive DFT state: one aggregation pass computing
    ``n`` and ``(_c{k}, _s{k})`` for every harmonic — 2·|omegas|+1
    map-side-combinable sums, so the scale shape is a scan plus a
    |keys|-row shuffle."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n")]
    for k, w in omegas.items():
        aggs.append(F.sum(F.col(v_col) * F.cos(F.col(t_col) * F.lit(w)))
                    .alias(f"_c{k}"))
        aggs.append(F.sum(F.col(v_col) * F.sin(F.col(t_col) * F.lit(w)))
                    .alias(f"_s{k}"))
    return base.groupBy(key_col).agg(*aggs)


def dft_amplitudes(partials: DataFrame, omegas: dict[int, float],
                   key_col: str = "event_type") -> DataFrame:
    """Long-form readout ``(key, n, harmonic, amplitude)`` from a
    partials frame — a zero-shuffle stack unpivot; amplitude rounded
    at 6 dp with the ROUND_EPS nudge (matches the SQL oracle's
    ``round(2.0*sqrt(c*c+s*s)/n + 1e-9, 6)`` verbatim)."""
    amp = {k: F.round(F.lit(2.0)
                      * F.sqrt(F.col(f"_c{k}") * F.col(f"_c{k}")
                               + F.col(f"_s{k}") * F.col(f"_s{k}"))
                      / F.col("n") + F.lit(_ROUND_EPS), 6)
           for k in omegas}
    stack = F.expr(
        "stack(" + str(len(amp)) + ", "
        + ", ".join(f"{k}, _amp{k}" for k in amp) + ")"
    ).alias("harmonic", "amplitude")
    return (partials.select(key_col, "n",
                            *[a.alias(f"_amp{k}") for k, a in amp.items()])
            .select(key_col, "n", stack))

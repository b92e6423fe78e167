"""Rank-k alternating least squares as pure DataFrame aggregation.

The recommender seed SURVEY.md §2.11 maps from the reference's
single-node model loop (reference: ``models.py`` fits per-target heads
in-memory): ``q_als_rank1`` in the registry is the scalar power-
iteration seed; this module is the rank-k generalization a recommender
actually runs, ONE solve lane for every rank (``als_rank2`` fits k=2,
``als_rankk_backtest`` k=4, the streaming ALS readout k=2). For small
k a half-step is ONE groupBy over the ratings frame:

    per user u:  A = Σ_s v_s v_sᵀ + λI   (k×k, k(k+1)/2 distinct sums)
                 b = Σ_s r_us v_s
                 u  = A⁻¹ b              (Cramer's rule, codegen-side)

— map-side combinable, shuffle payload k(k+3)/2 doubles per user,
never an |ratings|-row driver structure. The item half-step is
symmetric. No Python stage: the solve is one generated SQL expression
per component (:func:`cramer_solve_exprs`) that the DuckDB oracles
consume verbatim; at k=2 it is the textbook 2×2 closed form.

Cross-engine determinism (the ``ml/logit.QUANT`` contract): the
symmetry-breaking factor components are initialized from md5
fractions quantized to 9 dp, and every half-step's solved factors
are rounded to 9 dp (+1e-12 nudge) before the next step consumes
them, so a SQL oracle replays a whole fit CTE-for-CTE with only
summation-order ulps in flight (absorbed by each rounding).

Scale shape: cost is dominated by building the ratings frame (a
distinct-agg ≤ fact rows — the §1l-measured als_rank1 budget, 29 s at
the 100× corpus); each half-step shuffles |users| or |items| rows of
k(k+3)/2 doubles. Regularization λ > 0 keeps every k×k system
positive definite (at k=2, det ≥ λ² > 0), which is what makes the
expression solve total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANT = 9
EPS = 1e-12


def _q(col):
    return F.round(col + F.lit(EPS), QUANT)


def md5_unit_fraction(col, salt: str):
    """Deterministic pseudo-uniform in [0, 1) from md5(salt || value) —
    the same public rule the NB split and hash_split use (first 15 hex
    digits over 16^15), reproducible verbatim in DuckDB SQL."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt),
                                          col.cast("string"))), 1, 15),
               16, 10).cast("bigint")
    return h / F.lit(float(16 ** 15))


def init_item_factors(ratings: DataFrame, k: int,
                      item_col: str = "s") -> DataFrame:
    """Deterministic rank-k item-factor init: v1 = 1.0 (the mean
    direction — rank-1's init, so the first component starts on the
    dominant-singular-vector path), v2..vk = md5-fraction − 0.5
    quantized to 9 dp, one salt per component (independent symmetry
    breakers; a constant component would make A singular up to λ and
    learn nothing)."""
    cols = [F.lit(1.0).alias("v1")]
    for j in range(2, k + 1):
        # k=2 keeps the salt "als2|": the hand-written als_rank2 DuckDB
        # oracle hashes md5('als2|' || s) for its v2
        salt = "als2|" if k == 2 else f"als{k}|{j}|"
        cols.append(_q(md5_unit_fraction(F.col(item_col), salt)
                       - F.lit(0.5)).alias(f"v{j}"))
    return ratings.select(item_col).distinct().select(item_col, *cols)


def _perm_sign(sigma: tuple[int, ...]) -> int:
    """Sign of a permutation by inversion count — the Leibniz-formula
    sign for the Cramer expansion below."""
    inv = sum(1 for i in range(len(sigma)) for j in range(i + 1, len(sigma))
              if sigma[i] > sigma[j])
    return -1 if inv % 2 else 1


def cramer_solve_exprs(k: int, reg: float) -> list[str]:
    """SQL expression strings solving ``(A + reg·I)x = b`` by Cramer's
    rule over aggregate columns ``a{i}{j}`` (upper-triangle normal-
    equation sums) and ``b{i}`` — ONE formula text consumed verbatim by
    BOTH the Spark side (``F.expr``) and the DuckDB oracle, so the two
    engines evaluate the identical expression tree and the 9-dp
    quantization has to absorb only the groupBy summation-order ulps
    (at k=2 the expression is the textbook 2×2 closed form that the
    hand-written ``als_rank2`` oracle spells out). Terms are emitted in
    deterministic ``itertools.permutations`` order.

    The k!·k determinant growth caps the lane at k ≤ 5 (24 products
    per determinant at k=4, 120 at k=5); a larger k raises
    ``ValueError`` before any Spark job runs. It exists so every fit
    can be replayed CTE-for-CTE by a SQL oracle (the ``als_rank2`` and
    ``als_rankk_backtest`` registry rows). λ = reg > 0 keeps A+λI
    positive definite, so the shared determinant is never zero and
    no pivoting question arises."""
    from itertools import permutations

    if not 1 <= k <= 5:
        raise ValueError(
            f"cramer_solve_exprs: rank k={k} is outside 1..5. "
            "The Leibniz expansion grows as k!·k: on a 40×24 matrix "
            "(4-vCPU VM) one alternation took 2.6 s at k=4 (9 k chars "
            "of SQL), 7.2 s at k=5 (64 k chars) and 92 s at k=6 "
            "(514 k chars), and at k=7 Spark's SQL parser raised "
            "ParseException on 4.6 M chars")

    def m(i: int, j: int) -> str:
        lo, hi = min(i, j), max(i, j)
        if i == j:
            return f"(a{lo}{hi} + CAST({reg!r} AS DOUBLE))"
        return f"a{lo}{hi}"

    def det(entry) -> str:
        terms = []
        for sigma in permutations(range(k)):
            prod = " * ".join(entry(i, sigma[i]) for i in range(k))
            terms.append(("+ (" if _perm_sign(sigma) > 0 else "- (")
                         + prod + ")")
        return "0.0 " + " ".join(terms)

    d = det(m)
    exprs = []
    for col in range(k):
        num = det(lambda i, j, c=col: (f"b{i}" if j == c else m(i, j)))
        exprs.append(f"round((({num})) / (({d}))"
                     f" + CAST({EPS!r} AS DOUBLE), {QUANT})")
    return exprs


def als_exact_half_step(joined: DataFrame, key_col: str,
                        rating_col: str, fcols: list[str], reg: float,
                        out_prefix: str) -> DataFrame:
    """Rank-k half-step with the :func:`cramer_solve_exprs` exact
    solve: the k(k+3)/2 normal-equation sums accumulate in one
    map-side-combinable groupBy (k(k+3)/2 doubles of shuffle payload
    per key), then the solve is literal column arithmetic inside
    whole-stage codegen. No Python anywhere; oracle-replayable by
    construction."""
    k = len(fcols)
    aggs = [F.sum(F.col(fcols[i]) * F.col(fcols[j])).alias(f"a{i}{j}")
            for i in range(k) for j in range(i, k)]
    aggs += [F.sum(F.col(rating_col) * F.col(fcols[i])).alias(f"b{i}")
             for i in range(k)]
    aggs.append(F.count(F.lit(1)).alias("n_obs"))
    g = joined.groupBy(key_col).agg(*aggs)
    sel = [F.col(key_col)]
    sel += [F.expr(e).alias(f"{out_prefix}{i + 1}")
            for i, e in enumerate(cramer_solve_exprs(k, reg))]
    sel.append(F.col("n_obs"))
    return g.select(*sel)


def als_rankk_exact_fit(ratings: DataFrame, k: int = 4,
                        rounds: int = 2, user_col: str = "c",
                        item_col: str = "s", rating_col: str = "r",
                        reg: float = 0.1
                        ) -> tuple[DataFrame, DataFrame]:
    """``rounds`` full rank-k alternations (user half-step from the
    item factors, then item half-step from the solved user factors),
    starting from the deterministic :func:`init_item_factors`, with the
    exact Cramer half-step — the one ALS fit (``als_rank2`` runs k=2,
    rounds=1; ``als_rankk_backtest`` k=4, rounds=2). Returns
    ``(user_factors, item_factors)``: ``(user_col, u1..uk, n_obs)`` and
    ``(item_col, v1..vk, n_obs)``, all factors 9-dp quantized. The
    round count is a fixed unrollable budget like every iterative op
    here."""
    vcols = [f"v{j}" for j in range(1, k + 1)]
    ucols = [f"u{j}" for j in range(1, k + 1)]
    v = init_item_factors(ratings, k, item_col)
    u = None
    stale: list[DataFrame] = []
    for _ in range(rounds):
        # Factor frames are DIM-sized (|users|/|items| rows × k+1 cols) —
        # broadcast them (guide §3.1) so the fact-sized ratings side is
        # never shuffled/sorted per half-step: a checkpointed factor frame
        # reads as a stats-less LogicalRDD, so neither the static planner
        # nor AQE (whose runtime rewrite needs a materialized SHUFFLE
        # stage on the build side) ever picks the broadcast on its own.
        # Measured round 13: rank-4 2-round fit 2.45 -> 2.0 s at sf0.1.
        # Scale boundary: the hint holds while the factor frame fits the
        # executors (~100M keys × (k+1)·8 B ≈ 4 GB at the broadcast cap);
        # past that drop the hint (plain shuffle join) or bucket both
        # sides on the key.
        # localCheckpoint after each half-step (the HITS/pagerank lineage
        # discipline): WITHOUT the cut every consumer of the factors —
        # the next half-step, the residual diagnostics — re-executes all
        # previous half-steps' fact-sized joins (measured at the 100×
        # corpus: the residual subtree re-ran the full chain; a 2-round
        # fit would re-run them 4×)
        rv = ratings.join(F.broadcast(v.select(item_col, *vcols)),
                          item_col)
        u_next = als_exact_half_step(rv, user_col, rating_col, vcols,
                                     reg, "u").localCheckpoint()
        if u is not None:
            stale.append(u)
        u = u_next
        ru = ratings.join(F.broadcast(u.select(user_col, *ucols)),
                          user_col)
        v_next = als_exact_half_step(ru, item_col, rating_col, ucols,
                                     reg, "v").localCheckpoint()
        stale.append(v)
        v = v_next
    # drop superseded checkpoint blocks (dim-sized, but a long fit
    # would accumulate 2·rounds of them against the executor heap)
    for df in stale:
        try:
            df.unpersist()
        except Exception:
            pass
    return u, v

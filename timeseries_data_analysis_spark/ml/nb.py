"""Distributed multinomial naive Bayes over token counts.

The multiclass TRAINED-classifier twin of ``ml/logit.py``'s binary
GD fit (reference: ``models.py``'s sklearn-style per-target heads;
SURVEY.md §2.11 maps those to distributed fits).  The entire fit is
counting — class priors, per-(class, token) counts, Laplace-smoothed
log-likelihoods — so every step is a groupBy aggregation and the
"model" is a DataFrame, never driver-side state: at 100 TB the fit
costs one token-explode scan plus |vocab|x|classes|-row shuffles.

Cross-engine determinism (the ``ml/logit.QUANT`` contract): every
log-likelihood and log-prior is rounded to 9 decimals at fit time, so
a SQL oracle that replays the same counts walks identical doubles;
prediction sums are rounded to 6 decimals before the argmax and tie
broken by class ascending, making the argmax engine-stable.

Scoring drops out-of-vocabulary tokens (only in-vocab tokens carry
log-likelihood rows) and leaves documents with ZERO in-vocab tokens
unscored — both sides of the oracle apply the same inner-join
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# log-space quantization (decimals) shared with the SQL oracle
QUANT = 9
# prediction-score quantization before the argmax tiebreak
SCORE_QUANT = 6
# ROUND_EPS discipline (see __spark_entry__): rounding happens INSIDE
# each engine here (the model lives in DataFrames, not driver floats),
# so both sides nudge off half-boundaries before rounding — 1e-12 at
# 9 dp for log-space, 1e-9 at 6 dp for scores
_EPS_Q = 1e-12
_EPS_S = 1e-9


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Explode whitespace tokens of ``lower(text_col)``; drops empty
    tokens. One row per occurrence, all other columns preserved."""
    tok = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
    return (df.select("*", tok)
            .filter(F.col("token") != "")
            .drop(text_col))


def nb_fit_from_counts(pair_counts: DataFrame, label_counts: DataFrame,
                       label_col: str, min_count: int = 5
                       ) -> tuple[DataFrame, DataFrame]:
    """Fit multinomial NB from the ADDITIVE sufficient statistics —
    per-(token, label) occurrence counts and per-label document
    counts. This is the fold target of ``streaming.jobs.nb_commit_batch``:
    the counts merge across any split of the data by summation, so a
    model derived from stream-folded counts is IDENTICAL to one fit
    on the union in batch (integer counts → identical smoothed
    logliks, the `periodogram_commit_batch`/Gramian additive-state pattern).

    ``pair_counts``: one row per observed (token, label) with
    ``_n_lt`` (occurrences).  ``label_counts``: one row per label with
    ``_nd_l`` (documents). Vocab (global count ≥ min_count), class
    totals, Laplace smoothing and priors are all DERIVED here at
    readout — min_count is a global property, so it must never be
    applied per-batch.
    """
    vocab = (pair_counts.groupBy("token")
             .agg(F.sum("_n_lt").alias("_tok_n"))
             .filter(F.col("_tok_n") >= min_count)
             .select("token"))
    v_size = vocab.agg(F.count(F.lit(1)).alias("_v"))
    counts = pair_counts.join(vocab, "token")
    class_tot = (counts.groupBy(label_col)
                 .agg(F.sum("_n_lt").alias("_n_l")))
    labels = class_tot.select(label_col, "_n_l")
    # every vocab token x every label; unseen pairs smooth to count 0
    grid = vocab.crossJoin(labels)
    loglik = (grid.join(counts, ["token", label_col], "left")
              .crossJoin(F.broadcast(v_size))
              .select("token", label_col,
                      F.round(F.log(
                          (F.coalesce(F.col("_n_lt"), F.lit(0)) + 1)
                          .cast("double")
                          / (F.col("_n_l") + F.col("_v")))
                          + F.lit(_EPS_Q), QUANT)
                      .alias("loglik")))
    n_train = label_counts.agg(F.sum("_nd_l").alias("_nd"))
    prior = (label_counts
             .crossJoin(F.broadcast(n_train))
             .select(label_col,
                     F.round(F.log(F.col("_nd_l").cast("double")
                                   / F.col("_nd"))
                             + F.lit(_EPS_Q), QUANT)
                     .alias("logprior")))
    return loglik, prior


def nb_fit(train_tokens: DataFrame, train_docs: DataFrame,
           label_col: str, min_count: int = 5
           ) -> tuple[DataFrame, DataFrame]:
    """Fit multinomial NB from token occurrences.

    ``train_tokens``: one row per token occurrence with ``token`` and
    ``label_col``.  ``train_docs``: one row per training document with
    ``label_col`` (priors count documents, not tokens).  Returns
    ``(loglik, prior)``: ``loglik`` has one row per (token, label) for
    every in-vocab token x every observed label (Laplace-smoothed,
    missing pairs get count 0); ``prior`` one row per label.

    Delegates to :func:`nb_fit_from_counts` over the aggregated
    sufficient statistics, so the batch fit and the streaming fold
    (`streaming.jobs.nb_commit_batch`) share one arithmetic path by
    construction.
    """
    pair_counts = (train_tokens.groupBy(label_col, "token")
                   .agg(F.count(F.lit(1)).alias("_n_lt")))
    label_counts = (train_docs.groupBy(label_col)
                    .agg(F.count(F.lit(1)).alias("_nd_l")))
    return nb_fit_from_counts(pair_counts, label_counts, label_col,
                              min_count=min_count)


def nb_predict(test_tokens: DataFrame, loglik: DataFrame,
               prior: DataFrame, label_col: str,
               doc_col: str = "doc_id") -> DataFrame:
    """Argmax class per document: Σ count·loglik + logprior, score
    rounded to ``SCORE_QUANT`` then tie-broken by label ascending.
    Documents with no in-vocab tokens produce no row (inner join)."""
    cnts = (test_tokens.groupBy(doc_col, "token")
            .agg(F.count(F.lit(1)).alias("_cnt")))
    scores = (cnts.join(loglik, "token")
              .groupBy(doc_col, label_col)
              .agg(F.sum(F.col("_cnt") * F.col("loglik")).alias("_s"))
              .join(prior, label_col)
              .select(doc_col, label_col,
                      F.round(F.col("_s") + F.col("logprior")
                              + F.lit(_EPS_S),
                              SCORE_QUANT).alias("score")))
    w = (Window.partitionBy(doc_col)
         .orderBy(F.col("score").desc(), F.col(label_col)))
    return (scores.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(doc_col, F.col(label_col).alias("pred"), "score"))

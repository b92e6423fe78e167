"""BPE tokenizer training at corpus scale (Sennrich et al. 2016).

Extends the single-iteration pair mining (``q_bpe_pair_counts``) to the
full greedy merge LOOP — the actual tokenizer-training algorithm — while
keeping every per-word rewrite distributed and engine-portable:

- The corpus collapses once to its (word, count) VOCAB (map-side
  combined word count); every later iteration touches only the vocab,
  never the raw corpus — the standard trick that makes BPE training
  corpus-size-independent after one scan.
- Each iteration is two Spark jobs: a weighted adjacent-pair count over
  the vocab's symbol arrays (groupBy, map-side combined) and a 1-row
  argmax collect (the learned merge IS a driver-sized artifact, same
  posture as ``dense_seed_ids``/``kmeans_fit`` centroids).
- The merge rewrite is a left-to-right non-overlapping fold
  (``F.aggregate``) over each word's symbol array — pure JVM, no UDF,
  and replayable verbatim in DuckDB via ``list_reduce`` (the oracle
  unrolls the same loop), so the whole training run has a full value
  oracle.

This is the one BPE trainer; it assumes nothing about vocabulary size on
the driver. A driver-local twin with an incremental pair index paid off
only at merge depths no query runs (SCALE.md §1j: 2,000 merges on a
synthetic 50k-word vocabulary; both BPE queries learn 5) and was deleted
(last in commit ``19a35ce``).

Simplifications vs production BPE, documented: no end-of-word marker
and character-level initial symbols (byte-level init and special-token
handling change the alphabet, not the algorithm). Ties break on
(count DESC, left ASC, right ASC) — deterministic in any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, wn, syms) vocabulary: raw whitespace words, corpus counts,
    character-level initial symbol arrays. One corpus scan; everything
    downstream operates on this bounded table."""
    return (docs.select(F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"))
            .filter(F.length("word") >= 1)
            .groupBy("word").agg(F.count(F.lit(1)).alias("wn"))
            .select("word", "wn",
                    # split on "" (not the "(?!^)" lookahead, which also
                    # matches end-of-string and emits a trailing empty
                    # symbol that then wins merges against real chars)
                    F.split(F.col("word"), "").alias("syms")))


def source_token_counts(docs: DataFrame, text_col: str = "text",
                        group_col: str = "source") -> DataFrame:
    """Per-(group, token) exact counts: lowercased whitespace tokens,
    empties filtered (the ``vocab_coverage`` tokenization contract).
    The one fact-sized stage of the unseen-vocabulary family — a
    map-side-combinable groupBy whose output is vocabulary-bounded
    (Heaps-sublinear in corpus size), shared verbatim by the batch
    ``unseen_vocab`` query and the streaming ``vocab_commit_batch`` state."""
    return (docs.select(
                F.col(group_col),
                F.explode(F.filter(
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda x: F.length(x) > 0)).alias("w"))
            .groupBy(group_col, "w")
            .agg(F.count(F.lit(1)).alias("n")))


def unseen_vocab_panel(cnt: DataFrame,
                       group_col: str = "source") -> DataFrame:
    """Chao1 + Good-Turing unseen-species panel from a (group, token,
    n) count table — the estimator arithmetic shared bit-for-bit by
    the batch ``unseen_vocab`` registry row and the streaming
    ``vocab_state_estimate`` read (the ``hll_day_panel`` sharing
    pattern): chao1 = V + f₁(f₁−1)/(2(f₂+1)) (bias-corrected, defined
    at f₂ = 0), gt_coverage = 1 − f₁/N, unseen_frac = 1 − V/chao1.
    Exact-integer frequency-of-frequencies; single divisions; 4/6-dp
    readout with the shared +1e-9 nudge."""
    g = (cnt.groupBy(group_col)
         .agg(F.count(F.lit(1)).alias("vocab"),
              F.sum("n").alias("n_tokens"),
              F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("f1"),
              F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).alias("f2")))
    chao1 = (F.col("vocab")
             + (F.col("f1") * (F.col("f1") - 1)).cast("double")
             / (2 * (F.col("f2") + 1)).cast("double"))
    eps = F.lit(1e-9)
    return (g.select(
        group_col, "n_tokens", "vocab", "f1", "f2",
        F.round(chao1 + eps, 4).alias("chao1"),
        F.round(F.lit(1.0) - F.col("f1").cast("double")
                / F.col("n_tokens") + eps, 6).alias("gt_coverage"),
        F.round(F.lit(1.0) - F.col("vocab") / chao1 + eps, 6)
        .alias("unseen_frac"))
        .orderBy(group_col))


def merge_fold(syms: Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping merge of adjacent (left, right)
    symbol pairs — the BPE rewrite step as a pure JVM fold. After a
    merge the accumulator's last element is the CONCATENATED symbol, so
    an overlapping second match (e.g. pair (a,a) over "a a a") cannot
    fire — exactly the sequential semantics of the reference algorithm.
    """
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(left + right)))
        ).otherwise(F.concat(acc, F.array(x))))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the vocab's symbol arrays.
    Guard ``size >= 2`` because Spark's ``sequence(1, 0)`` DESCENDS
    instead of returning empty (the bpe_pair_counts lesson)."""
    pairs = (vocab.filter(F.size("syms") >= 2)
             .select("wn", F.explode(F.expr(
                 "transform(sequence(1, size(syms) - 1),"
                 " i -> struct(syms[i-1] as l, syms[i] as r))")).alias("p"))
             .select("wn", F.col("p.l").alias("l"), F.col("p.r").alias("r")))
    return pairs.groupBy("l", "r").agg(F.sum("wn").alias("n"))


def bpe_learn_merges(docs: DataFrame, n_merges: int = 5,
                     text_col: str = "text") -> DataFrame:
    """Learn the first ``n_merges`` BPE merges; returns the merge table
    ``(rank, lhs, rhs, merged, n)`` as a driver-built bounded frame
    (the tokenizer artifact — the analog of a saved centroid frame).

    Each iteration localCheckpoints the rewritten vocab so plan lineage
    stays flat across iterations (the CC-loop pattern in
    ``operators/graph.py``); the checkpointed relation is vocab-sized,
    never corpus-sized.
    """
    spark = docs.sparkSession
    vocab = word_vocab(docs, text_col).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, str, int]] = []
    for k in range(n_merges):
        top = (_pair_counts(vocab)
               .orderBy(F.col("n").desc(), "l", "r").limit(1).collect())
        if not top:
            break
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((k + 1, l, r, l + r, n))
        vocab = (vocab.select("word", "wn",
                              merge_fold(F.col("syms"), l, r).alias("syms"))
                 .localCheckpoint(eager=True))
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, n bigint")


def bpe_apply(syms: Column, merges: list[tuple[str, str]]) -> Column:
    """Tokenize: apply learned merges in rank order to a symbol-array
    column (bounded python loop builds a fixed chain of JVM folds — no
    driver data movement, no UDF)."""
    out = syms
    for left, right in merges:
        out = merge_fold(out, left, right)
    return out

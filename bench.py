"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query materializes EVERY output value through the noop datasource —
count() would let Catalyst prune the projections (a window-feature query
"benchmarked" with count() measures a scan, not the windows), while noop
executes the full plan without driver-side collection.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from timeseries_data_analysis_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family (scan-agg, join-topk, windows,
# anomaly flagship, gap-fill, interval join, dedup, text, similarity).
HEADLINE = [
    "pricing_summary",
    "top_revenue_orders",
    "nation_revenue",
    "pivot_event_types",
    "rolling_stats",
    "anomaly_detect",
    "spine_ffill",
    "interpolate",
    "interval_join",
    "asof_join",
    "exact_dedup",
    "quality_scores",
    "similarity_topk",
    "minhash_lsh",
    "simhash",
    "lag_features",
    "label_events_full",
    "simhash_pairs",
    "dedup_clusters",
    "tfidf_top_terms",
    "time_rolling",
]

# Every timed query, one (section, names) row per tranche, in run order.
# Each tranche is reported SEPARATELY (``<section>_trials``,
# ``<section>_queries``, ``summary.<section>_total``) so the earlier
# sections' totals stay comparable across rounds. "query" is the
# headline set: its minima are ``queries`` and ``headline_total``.
SECTIONS: list[tuple[str, list[str]]] = [
    ("query", HEADLINE),
    # round-3 corpus-governance pillar; round 4: best-doc near-dup
    # collapse + vocab coverage, embedding near-dup clusters,
    # governance/tokenizer ops
    ("corpus", ["hash_split", "stratified_sample", "decontaminate",
                "doc_repetition", "source_mix", "pack_documents",
                "pq_topk", "ivf_pq_topk", "seasonal_baseline",
                "collapse_near_dups", "oov_rate", "emb_neardup_clusters",
                "pii_scrub", "unigram_logppl", "bpe_pair_counts",
                "quality_weighted_sample", "chunk_documents",
                "dedup_method_agreement", "per_source_cap",
                "temperature_mix", "bigram_logppl"]),
    # round-5 third batch (graph/CDC/sketch/elastic-similarity/forecast)
    ("analytics", ["pagerank_neardup", "trend_slopes", "acf_lags",
                   "xcorr_leadlag", "snapshot_cdc", "scd2_history",
                   "heavy_hitters", "dtw_profiles", "rrf_fusion",
                   "pit_join", "holt_forecast"]),
    # round 6: sketches, robust stats, drift, graph census
    ("r6", ["ewma_exact", "kll_quantiles", "kll_rollup",
            "triangle_stats_prod", "robust_regression",
            "anomaly_ensemble", "theta_union_distinct",
            "ks_drift", "chi2_keywords", "holt_winters"]),
    # round-6 late batch: eval stats, state-space, IR, graph traversal
    ("r6b", ["roc_auc", "pacf_yw", "js_divergence", "hll_distinct",
             "degree_distribution", "bfs_hops", "bootstrap_ci",
             "kalman_level", "bm25_topk", "basket_lift"]),
    # round-6 continuation: trained classifier, conformal, multi-join
    # classics, LPA communities, feature engineering
    ("r6c", ["quality_logit", "conformal_interval",
             "regional_supplier_volume", "top_supplier_share",
             "community_labelprop", "pca2_axes", "group_kfold",
             "target_encode_oof", "woe_iv", "feature_hashing",
             "community_modularity", "degree_assortativity",
             "int8_quant_audit", "pr_auc", "join_cardinality",
             "semantic_decontaminate", "msprt_monitor",
             "quantile_sgd", "shipping_priority",
             "order_priority_counts", "returned_item_revenue",
             "supplier_part_variety", "small_qty_revenue",
             "bracketed_revenue", "idle_rich_customers"]),
    # round 7: the capped pair-graph pagerank, the 12 shapes completing
    # the 22-shape TPC-H suite, and the analytics trio (fixed-harmonic
    # DFT, HITS, trained NB)
    ("r7", ["pagerank_capped", "discounted_revenue",
            "nation_trade_volume", "market_share",
            "product_type_profit", "late_line_priority", "custdist",
            "promo_revenue_share", "large_volume_customers",
            "waiting_suppliers", "min_cost_supplier",
            "important_stock", "excess_stock_suppliers",
            "periodogram", "hits_authority", "nb_langid", "als_rank1",
            "silhouette_audit", "ppr_trust",
            "link_prediction", "nelson_aalen"]),
    # round 8: rank-2 ALS, trained-centroid silhouette, PAV isotonic
    # calibration and the nonparametric inference trio
    ("r8", ["als_rank2", "silhouette_trained",
            "isotonic_calibration", "logrank_test",
            "mann_whitney", "mann_kendall",
            "binseg_changepoint", "matryoshka_audit", "bh_fdr",
            "ljung_box", "runs_test", "rbo_rankings",
            "l_diversity", "ar2_forecast", "hurst_exponent",
            "mcnemar", "cramers_v", "spectral_entropy",
            "seasonal_strength", "cvm_drift"]),
    # round 9: the rank-4 ALS backtest, the bounded-grain daily twins of
    # the per-series rank family (SCALE §1n-b) and the
    # econometric-diagnostics batch
    ("r9", ["als_rankk_backtest", "kendall_tau", "levene_test",
            "ljung_box_daily", "runs_test_daily",
            "mann_whitney_daily", "cvm_drift_daily", "hurst_daily",
            "jarque_bera", "welch_ttest", "kruskal_wallis",
            "friedman_test", "page_hinkley", "adf_test",
            "aic_order_select", "chow_test", "granger_causality",
            "engle_granger", "dunn_posthoc", "variance_ratio",
            "seasonal_mann_kendall", "cochran_q",
            "grubbs_outlier", "garch_vol", "heaps_law",
            "term_burstiness", "embedding_isotropy"]),
    # round 10: the GARCH sweep, the scaled-C ANN pair, the wide-hash
    # SimHash, the HP filter, the daily-grain TS batch and the
    # behavior/corpus audits
    ("r10", ["pq_distortion", "activity_powerlaw", "holt_damped",
             "prop_ztest", "dau_wau_mau", "time_to_convert",
             "lorenz_deciles", "seasonal_outliers", "funnel_depth",
             "verified_clusters",
             "croston_demand", "entropy_rate", "mde_power",
             "acf_daily", "pacf_daily",
             "garch_select", "ivf_store_scaled", "centroid_balance",
             "simhash_wide_pairs", "hp_filter", "kpss_test",
             "theil_sen_daily", "sample_entropy", "max_drawdown",
             "ar1_halflife", "spearman_daily", "peak_detect",
             "interarrival_burstiness",
             "gini_concentration", "benford_values", "msttr",
             "kl_source_unigram", "pmi_bigrams",
             "brier_decomposition"]),
    # round 11: the distributed-ordinal msttr, the HLL dashboard twin,
    # the verify lenses and the stats/ordinal batch
    ("r11", ["msttr_bucketed", "dau_wau_mau_hll", "ks_2sample",
             "pettitt_test", "bartlett_test", "levenshtein_verify",
             "skyline_docs", "permutation_entropy", "haar_energy",
             "markov_stationary", "rsi_daily", "theil_decomposition",
             "gumbel_maxima", "turning_points", "records_test",
             "langid_confusion", "hubness_audit", "source_leakage",
             "cusum_squares", "mmd_drift", "hubness_ivf"]),
    # round 12: the survivor-form edit-distance verify (SCALE §1v) and
    # the round's audit batch
    ("r12", ["unseen_vocab",
             "levenshtein_survivors", "ivf_recall", "lsh_recall",
             "dup_ngram_mass", "dedup_token_savings",
             "token_fertility", "anderson_darling", "cliffs_delta",
             "ts_complexity", "mood_median", "control_chart",
             "ewma_chart", "cohens_d", "langid_kappa",
             "dup_transitivity", "lsh_s_curve",
             "cluster_size_powerlaw", "intrinsic_dim"]),
]


def bench_kiln_pipeline(spark, trials: int = 1) -> list[float]:
    """The reference's headline workload at ITS scale: 1 simulated year,
    2-min zone grain (~263k × 11 zones) — BASELINE.md total_time = 34.63 s.
    Measures fixture→Spark load + full pipeline plan + execution (count);
    the fixture is generated ONCE and each trial re-executes the pipeline."""
    import shutil
    import tempfile

    from tests.fixtures import kiln_fixture as FX
    from timeseries_data_analysis_spark.plans import kiln_pipeline as KP

    tmp = tempfile.mkdtemp(prefix="kiln_bench_")
    # Workload-scale shuffle sizing (what a cluster job sets per-workload):
    # the hourly feature table is ~614k long rows / a few MB — 32-partition
    # shuffles pay ~150 stages of fixed task latency for no parallelism
    # gain. 8 partitions + aggressive AQE coalescing fit THIS workload; a
    # 100 TB deployment overrides via spark-defaults (same plan shape).
    # parallelismFirst stays at its DEFAULT (true): round 4 traced the
    # kiln plan's worst stage to AQE's size-based coalescing under
    # parallelismFirst=false — the few-MB fill+window mega-stage and the
    # ~900-slot pivot aggregate are CPU-bound, not byte-bound, and were
    # serialized onto ONE task (9-13 s each). Size-based coalescing is
    # the wrong policy when bytes/row is tiny but CPU/row is not.
    tuned = {
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        # data generation + parquet write are corpus setup, not pipeline
        # time (the reference's 34.63 s likewise starts at its CSV load)
        pdfs = FX.all_tables(n_days=365, zone_freq="2min")
        for k, v in pdfs.items():
            spark.createDataFrame(v).write.mode("overwrite").parquet(f"{tmp}/{k}")
        tables = {k: spark.read.parquet(f"{tmp}/{k}") for k in pdfs}
        times = []
        for _ in range(trials):
            spark.catalog.clearCache()  # drop any prior run's persisted stages
            t0 = time.time()
            out, _ = KP.run_pipeline(spark, tables, max_features=500)
            out.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        return times
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    qs = entry_mod.queries()

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm the JVM + parquet footers once (excluded from timings)
    run(qs["pricing_summary"](spark, sf_dir))

    # Every query is min-of-2 trials: the host carries external load that
    # flaps 2-3x within a single bench run (SCALE.md §6 — e.g. the same
    # query measured 2.4 s and 16.2 s minutes apart), so a single draw
    # is a load sample, not a plan property. The min is the defensible
    # plan number; `trials_per_query` discloses the method, and BOTH
    # trials are recorded per query (`query_trials` / `corpus_trials`)
    # so a reader can see which minima sat next to a load-inflated
    # sibling draw without re-running.
    trial_log: dict[str, list[float]] = {}

    def timed(name: str) -> float:
        trials = []
        for _ in range(2):
            t0 = time.time()
            run(qs[name](spark, sf_dir))
            trials.append(round(time.time() - t0, 3))
        trial_log[name] = trials
        return min(trials)

    sections = {sec: {name: timed(name) for name in names}
                for sec, names in SECTIONS}
    timings = dict(sections["query"])

    # reference-parity workload (fixture generation excluded from timing).
    # min of 2 trials: this host shows 2-3x run-to-run variance under
    # external load (SCALE.md §6), and a single draw of the headline
    # number is mostly a load sample; both trials are recorded so the
    # spread itself is visible.
    kiln_trials = bench_kiln_pipeline(spark, trials=2)
    timings["kiln_pipeline_1yr"] = min(kiln_trials)

    total = round(sum(timings.values()), 3)
    tranches = SECTIONS[1:]

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # KEY-ORDER CONTRACT: the driver archives only the TAIL of this one
    # JSON line (BENCH_r06.json shows the head truncated away at 250
    # registry queries). Bulky audit-trail dicts (per-query trial pairs,
    # per-query minima) therefore go FIRST, and the compact round-over-
    # round numbers — headline total, kiln trials, per-pillar totals,
    # sf, loadavg — go LAST so they always survive the truncation.
    out = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "trials_per_query": 2,
    }
    # full per-query trial pairs: the load-contamination audit trail
    # (a big max-min spread marks a draw taken under external load)
    for sec, names in SECTIONS:
        out[f"{sec}_trials"] = {k: trial_log[k] for k in names}
    out["queries"] = timings
    for sec, _ in tranches:
        out[f"{sec}_queries"] = sections[sec]
    # --- compact tail: everything a round-over-round comparison needs,
    # guaranteed inside the driver's preserved suffix ---
    summary = {"headline_total": total, "kiln_trials": kiln_trials,
               "kiln_min": min(kiln_trials)}
    for sec, _ in tranches:
        summary[f"{sec}_total"] = round(sum(sections[sec].values()), 3)
    summary["headline_queries"] = dict(timings)
    out.update({
        "summary": summary,
        "metric_echo": "headline_queries_total",
        "value": total,
        "sf": float(sf) if sf else None,
        # host contention snapshot — driver-vs-local timing deltas are
        # attributable only when the load at measurement time is known
        "loadavg_1m": round(os.getloadavg()[0], 2),
    })
    print(json.dumps(out))


if __name__ == "__main__":
    main()

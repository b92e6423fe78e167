"""Pins the `queries()` registry rotation: the driver's correctness gate
checks the FIRST 50 entries per round, so registry order is the de-facto
evidence scheduler. A silent reorder could starve a row of its gate
slot; this test makes the round-12 window an explicit, reviewed contract.

Round-13 rotation policy (VERDICT r12 "Next round" #9 + the
optimization-round rule that evidence is stale by definition when the
code underneath a query moved): the 28 queries whose code paths
changed in rounds 12-13 after their last driver check lead — the four
r12 rewrites the driver never sampled (mcnemar, levenshtein_verify,
bfs_hops, simhash_wide_pairs) plus the r13-touched graph/dedup/ALS
paths — then the r5-evidence fill ladder (CORRECTNESS_r05 order, the
stalest remaining tier and the documented round-13 leaders), then the
remaining r12-window rows in their r12 order.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

# CC-oracle head: the connected-components oracles moved onto the one
# bounded fragment (`_cc_sql`); corpus_curation was the only one of the
# eight outside the 50-slot window.
# PREPENDING here is part of changing a query's code path (same commit).
CC_ORACLE_TOUCHED: list[str] = ["corpus_curation"]
# Twin-deletion head: the graph queries whose second implementation
# was deleted (star-contraction CC, degree-oriented triangles) and
# that sat outside the 50-slot window.
# PREPENDING here is part of changing a query's code path (same commit).
TWIN_DELETION_TOUCHED: list[str] = [
    "dedup_clusters_star", "triangle_stats_prod", "triangle_stats",
]
# Step/IVF head: the six queries whose batch recursion moved onto the
# step its stream twin shares (garch via a one-candidate garch_sweep),
# then the five consumers of the IVF top-k rewrite that were still
# outside the 50-slot window.
# PREPENDING here is part of changing a query's code path (same commit).
STEP_AND_IVF_TOUCHED: list[str] = [
    "rsi_daily", "garch_vol", "holt_forecast", "holt_damped",
    "croston_demand", "garch_select",
    "ivf_recall", "hubness_ivf", "silhouette_audit", "silhouette_trained",
    "ivf_pq_topk",
]
# Dedup front-end head: touched queries outside the 50-slot window
# when their shingle explodes moved onto the one outer-explode front
# end in operators/dedup.py (the others it touched already lead).
DEDUP_FRONT_END_TOUCHED: list[str] = [
    "ngram_jaccard", "containment_dedup", "containment_capped",
]
# Round-13 head: queries whose code paths changed in rounds 12-13
# after their last driver check (gate evidence stale by definition)
# plus the four r12 rewrites VERDICT r12 flagged builder-only-verified.
# PREPENDING here is part of changing a query's code path (same commit).
ROUND13_TOUCHED: list[str] = [
    "mcnemar", "levenshtein_verify", "bfs_hops", "simhash_wide_pairs",
    "dedup_clusters", "collapse_near_dups", "emb_neardup_clusters",
    "verified_clusters", "cluster_size_powerlaw", "dedup_token_savings",
    "dedup_method_agreement", "dup_transitivity", "lsh_recall",
    "community_labelprop", "community_modularity", "degree_assortativity",
    "link_prediction", "pagerank_neardup", "pagerank_capped", "ppr_trust",
    "kcore", "degree_distribution", "simhash", "simhash_pairs",
    "simhash48_pairs", "als_rank1", "als_rank2", "als_rankk_backtest",
]
# Round-12 new queries, now carrying r12 driver evidence; they follow
# the r5 ladder in the post-window tail (minus the rows the r13 head
# pulled forward).
ROUND12_NEW: list[str] = [
    "unseen_vocab",
    "intrinsic_dim",
    "lsh_s_curve",
    "langid_kappa",
    "cohens_d",
    "ewma_chart",
    "control_chart",
    "mood_median",
    "ts_complexity",
    "cliffs_delta",
    "anderson_darling",
    "token_fertility",
    "dup_ngram_mass",
    "levenshtein_survivors",
]
# The round-4-evidence remainder: the 31 rows of the R4 ladder
# (CORRECTNESS_r04 order) that round 11's 21 additions pushed past
# slot 50 — the oldest evidence in the registry after the r11 gate ran
# (verified against the r1-r11 CORRECTNESS union).
R4_REMAINDER = [
    "time_rolling",
    "group_standardize", "share_of_total", "robust_scale_params",
    "funnel", "asof_tolerance", "dq_report",
    "cooccurrence", "paa_sax", "series_similarity", "sax_bucket_search",
    "ewma", "retention", "oov_rate",
    "asof_nearest", "pii_scrub",
    "unigram_logppl", "bpe_pair_counts", "quality_weighted_sample",
    "chunk_documents", "per_source_cap",
    "temperature_mix", "bigram_logppl", "emb_near_dup",
    "multimodal_features",
]
# The next-stalest tier: rows whose latest driver-green is round 5, in
# CORRECTNESS_r05 order. Follows the round-13 touched head inside the
# 50-slot window.
R5_LADDER = [
    "dup_passages", "bpe_compression", "ivf_kmeans_topk",
    "dsir_weights", "kmeans_step", "ppl_buckets", "zipf_fit",
    "bpe_merges", "gopher_rules", "semdedup", "ngram_novelty",
    "quality_calibration", "ivf_store_search",
    "stride_sample", "time_split", "horizontal_agg", "moments",
    "rank_distribution",
]


def test_gate_window_matches_documented_rotation():
    keys = list(entry_mod.queries())
    expected_head = (CC_ORACLE_TOUCHED + TWIN_DELETION_TOUCHED
                     + STEP_AND_IVF_TOUCHED + DEDUP_FRONT_END_TOUCHED
                     + ROUND13_TOUCHED + R5_LADDER + ROUND12_NEW
                     + R4_REMAINDER)[:50]
    assert keys[:len(expected_head)] == expected_head


def test_registry_and_oracles_are_bijective():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert len(qs) >= 319
    # every query has a value-level oracle and vice versa — no weaker
    # rows-only checks hiding in the registry
    assert set(qs) == set(osql)


def test_no_duplicate_keys_in_registry_source():
    """A dict literal silently keeps the LAST binding of a duplicated
    key, shrinking the registry by one and shifting every later gate
    slot — the silent reorder this file exists to catch. A dict-level
    uniqueness check is a tautology, so count the quoted keys in the
    SOURCE of queries() instead."""
    import inspect
    import re

    src = inspect.getsource(entry_mod.queries)
    keys = re.findall(r'^\s+"([a-z0-9_]+)":\s*q_', src, re.MULTILINE)
    assert len(keys) == len(set(keys)), sorted(
        k for k in set(keys) if keys.count(k) > 1)
    assert len(keys) == len(entry_mod.queries())


def test_driver_gate_report_has_no_red_rows():
    """Regression tripwire (VERDICT r8 'Next round' #6): when the
    driver has written this round's gate report, a red row in it must
    fail the SUITE, not just sit in a JSON file nobody reruns. Skips
    gracefully before the driver's first gate run of the round."""
    import glob
    import re
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # sort by the PARSED round number: lexicographic order would rank
    # r100 before r11 and silently validate a stale report (ADVICE r11)
    reports = sorted(
        glob.glob(os.path.join(root, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)))
    if not reports:
        pytest.skip("driver has not written a CORRECTNESS report yet")
    path = reports[-1]
    with open(path) as f:
        report = json.load(f)
    red = {k: v for k, v in report.items()
           if not (v.get("rows_match") and v.get("schema_match")
                   and v.get("hash_match") and v.get("err") is None)}
    assert not red, f"driver gate regressions: {sorted(red)}"

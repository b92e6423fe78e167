"""Adversarial mini-gate: the text/dedup query family on EDGE-CASE
documents, cross-checked against the same DuckDB oracles the driver
uses.

The driver's gate only sees the generated sf corpora (well-behaved ASCII
word streams). This suite swaps in a crafted documents table — empty
strings, whitespace-only, single tokens, unicode, punctuation-only,
repeated content, very long tokens — and asserts Spark and DuckDB still
agree hash-for-hash, so the cross-engine contracts hold beyond the happy
path. Reuses the production gate's norm/value_hash helpers.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)),
                                "tools"))

import __spark_entry__ as entry_mod  # noqa: E402
from check_oracles import norm, value_hash  # noqa: E402

EDGE_DOCS = [
    (0, "", "en", "src0"),
    (1, "   ", "en", "src0"),                      # whitespace only
    (2, "word", "en", "src1"),                     # single token
    (3, "a b", "en", "src1"),                      # below shingle width
    (4, "x " * 500, "en", "src1"),                 # one token repeated
    (5, "Hello, WORLD!!! ... ???", "en", "src2"),  # punctuation heavy
    (6, "naïve café über schön émigré", "fr", "src2"),      # accents
    (7, "日本語 テキスト 漢字 かな", "ja", "src3"),            # CJK
    (8, "mixed ASCII and 中文 words here", "en", "src3"),
    (9, "a" * 2000, "en", "src4"),                 # one very long token
    (10, "the quick brown fox " * 40, "en", "src4"),  # repeated phrase
    (11, "tab\tseparated\tand\nnewline\nbroken tokens", "en", "src5"),
    (12, "numbers 123 456 789 000 123 456", "en", "src5"),
    (13, "CamelCase MiXeD CASE case", "en", "src6"),
    (14, "unicode emoji \U0001f600 \U0001f680 between words", "en", "src6"),
    # planted PII: email + ipv4 + phone + near-miss shapes (redaction must
    # hit the first three and leave the near-misses)
    (15, "contact bob.smith+x@ex-ample.example.co.uk or 10.0.255.1 call "
         "555-867-5309 not 1234.5.6 nor user@nodot", "en", "src7"),
]

# text-family queries whose oracles only read `documents`
TEXT_QUERIES = [
    "token_stats", "quality_scores", "lang_id", "token_entropy",
    "exact_dedup", "doc_fingerprint", "rolling_hash", "winnow_fingerprints",
    "doc_repetition", "source_mix", "pack_documents", "multimodal_features",
    "ngram_jaccard", "simhash",
    # the heavy dedup/near-dup pipelines (banding, clustering, curation)
    "minhash_lsh", "simhash_pairs", "dedup_clusters", "corpus_curation",
    "tfidf_top_terms", "decontaminate", "simhash48_pairs",
    # round 4: best-doc retention collapse + vocab-coverage diagnostic
    "collapse_near_dups", "oov_rate",
    # round 4: governance/tokenizer ops (PII doc 15 exercises redaction)
    "pii_scrub", "unigram_logppl", "bpe_pair_counts",
    # round 4: quality-weighted mixing + context-window chunking
    "quality_weighted_sample", "chunk_documents",
    # round 4: per-source caps, method-agreement matrix, star-CC clusters
    "per_source_cap", "dedup_method_agreement", "dedup_clusters_star",
    "temperature_mix", "bigram_logppl",
    # round 5: Gopher rules, held-out novelty, calibration audit
    "gopher_rules", "ngram_novelty", "quality_calibration",
    # round 10: segment TTR / smoothed KL / PMI are exact-integer
    # token algebra; the wide SimHash is the same md5-vote class as
    # simhash48_pairs with two disjoint segments
    "msttr", "kl_source_unigram", "pmi_bigrams", "simhash_wide_pairs",
    "verified_clusters",
    # round 5: passage spans, DSIR, ppl terciles, Zipf fit, BPE loop
    "dup_passages", "dsir_weights", "ppl_buckets", "zipf_fit",
    "bpe_merges", "bpe_compression",
    # round 5 second batch: repetition profile (doc 11 has real newlines),
    # vocab coverage curve, KMV sketch, MinHash accuracy, length buckets
    "repetition_profile", "vocab_coverage", "kmv_distinct",
    "minhash_accuracy", "length_buckets",
    # round 5 second batch: PMI collocations (edge corpus mostly falls
    # below min-support — the empty/near-empty result must still agree)
    "pmi_cooccurrence", "source_datacard",
    # round 6: chi2 keyword association (empty/whitespace/CJK token
    # paths), ES weighted reservoir (quality-0 drops), triangle census
    # on the minhash candidate graph (repeated-content docs pair up)
    "chi2_keywords", "weighted_reservoir", "triangle_stats_prod",
    # round 6 continuation: trained logit (empty-text x2=0, ln(1+0)=0
    # paths), WOE/IV (buckets with zero positives ride the ½-smoothing),
    # hashing-trick audit (CJK/emoji/whitespace tokens), LPA communities
    # on the 48-bit pair graph (repeated-content docs pair up)
    "quality_logit", "woe_iv", "feature_hashing", "community_labelprop",
    # graph audits over the same pair graph (repeated-content docs give
    # a tiny but non-empty community structure)
    "community_modularity", "degree_assortativity",
    # round 9: vocabulary-growth fit and term dispersion — both are
    # exact-integer count algebra, so the unicode/empty/CJK docs are
    # in contract (empty-after-trim docs contribute the same ''
    # token on both engines, the zipf_fit precedent)
    "heaps_law", "term_burstiness",
    # round 11: bucketed-ordinal msttr is the same exact-integer token
    # algebra as msttr; skyline's TTR/dominance compares exact ints +
    # 6-dp decimals. levenshtein_verify is NOT here: DuckDB's
    # levenshtein counts BYTES on multi-byte UTF-8 (measured: 36 vs
    # Spark's 14 codepoint edits on the CJK doc), so the cross-engine
    # contract holds on single-byte text only — the ASCII sf corpora —
    # and the divergence is documented in the query docstring.
    "msttr_bucketed", "skyline_docs",
    # round 11 batch 2: Theil partials are x·ln x over the tiny doc
    # set (n_chars > 0 filter pins the empty docs out identically);
    # langid confusion is the lang_id marker algebra with the label
    # carried through
    "theil_decomposition", "langid_confusion",
    # round 11 batch 3: same verified-pair algebra as
    # verified_clusters, rolled up per source pair
    "source_leakage",
    # round 12: Chao1/Good-Turing is exact-integer frequency-of-
    # frequency algebra; the empty/whitespace-only docs exercise the
    # zero-token-source vanishing contract, CJK/emoji the tokenizer
    "unseen_vocab",
    # the remaining consumers of the dedup shingle front end and band
    # join: containment (uncapped and df-capped), verified-pair
    # transitivity, LSH recall / S-curve, cluster-size power law
    "containment_dedup", "containment_capped", "dup_transitivity",
    "lsh_recall", "lsh_s_curve", "cluster_size_powerlaw",
]


@pytest.fixture(scope="module")
def edge_env(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_corpus")
    pdf = pd.DataFrame(EDGE_DOCS, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    path = str(d / "documents.parquet")
    pdf.to_parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    return str(d), con


@pytest.mark.parametrize("name", TEXT_QUERIES)
def test_edge_corpus_cross_engine(spark, edge_env, name):
    sf_dir, con = edge_env
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    sdf = norm(qs[name](spark, sf_dir).toPandas())
    odf = norm(con.execute(oracles[name]).fetchdf())
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} vs {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert value_hash(sdf) == value_hash(odf), \
        f"{name}: cross-engine hash mismatch on edge corpus"

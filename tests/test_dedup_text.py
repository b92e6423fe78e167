"""Dedup / text / similarity operators — semantics + DuckDB parity for the
portable-hash building blocks."""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from timeseries_data_analysis_spark.operators import dedup as DD, similarity as SIM
from timeseries_data_analysis_spark.functions import text as TX


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_exact_dedup_groups(spark):
    df = docs_df(spark, ["Hello World", "hello,  world!", "other text"])
    out = DD.exact_dedup(df)
    rows = sorted(out.collect(), key=lambda r: r["keep_id"])
    # normalization folds case/punct → first two collapse
    assert len(rows) == 2
    assert rows[0]["keep_id"] == 0 and rows[0]["n_dups"] == 2


def test_text_digest_matches_duckdb(spark):
    texts = ["The quick brown fox", "Ünïcode & symbols!!", ""]
    df = docs_df(spark, texts)
    got = {r["doc_id"]: r["d"] for r in
           df.select("doc_id", DD.text_digest("text").alias("d")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        exp = con.execute(
            "SELECT ('0x' || substr(md5(trim(regexp_replace(regexp_replace("
            "lower($1), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))), 1, 15))::BIGINT",
            [t]).fetchone()[0]
        assert got[i] == exp, t


def test_shingles(spark):
    df = docs_df(spark, ["a b c d"])
    out = df.select(DD.shingles("text", 3).alias("s")).collect()[0]["s"]
    assert out == ["a b c", "b c d"]


def test_shingles_short_doc(spark):
    df = docs_df(spark, ["a b"])
    out = df.select(DD.shingles("text", 3).alias("s")).collect()[0]["s"]
    assert out == ["a b"]


def test_minhash_identical_docs_same_signature(spark):
    df = docs_df(spark, ["the cat sat on the mat today ok",
                         "the cat sat on the mat today ok",
                         "completely different words entirely here now"])
    sigs = {r["doc_id"]: r["sig"] for r in
            df.select("doc_id", DD.minhash_signature("text").alias("sig")).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    other = "totally unrelated content about spark window aggregation " * 3
    df = docs_df(spark, [base, near, other])
    cands = DD.minhash_lsh_candidates(df)
    pairs = {(r["id_l"], r["id_r"]) for r in cands.collect()}
    assert (0, 1) in pairs
    jac = DD.ngram_jaccard(cands.select("id_l", "id_r").distinct(), df)
    j01 = {(r["id_l"], r["id_r"]): r["jaccard"] for r in jac.collect()}[(0, 1)]
    assert j01 > 0.5


def test_simhash_near_dup_close_hamming(spark):
    base = "one two three four five six seven eight nine ten " * 4
    near = base.replace("five", "5ive")
    other = "alpha beta gamma delta epsilon zeta eta theta " * 4
    df = docs_df(spark, [base, near, other])
    fps = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id", DD.simhash("text", n=2, bits=16).alias("fp")).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fps[0], fps[1]) < ham(fps[0], fps[2])


def test_token_count(spark):
    df = docs_df(spark, ["one two  three", "", "   ", "single"])
    got = [r["n"] for r in df.select(TX.token_count("text").alias("n"))
           .orderBy("doc_id").collect()]
    assert got == [3, 0, 0, 1]


def test_subword_tokens(spark):
    df = docs_df(spark, ["don't stop, won't stop!"])
    out = df.select(TX.word_tokens("text").alias("t")).collect()[0]["t"]
    assert out == ["don", "'", "t", "stop", ",", "won", "'", "t", "stop", "!"]


def test_lang_id(spark):
    df = docs_df(spark, [
        "the cat and the dog of the house is here",
        "der hund und die katze ist nicht hier",
        "le chat et la maison les arbres des fleurs",
        "xyzzy qwerty asdf",
    ])
    got = [r["l"] for r in df.select(TX.lang_id("text").alias("l"))
           .orderBy("doc_id").collect()]
    assert got == ["en", "de", "fr", "und"]


def test_fingerprint_order_insensitive(spark):
    df = docs_df(spark, ["World hello", "hello, WORLD!", "hello hello world"])
    got = [r["f"] for r in df.select(TX.fingerprint("text").alias("f"))
           .orderBy("doc_id").collect()]
    assert got[0] == got[1] == got[2]


def test_cosine_topk_exact(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = SIM.brute_force_topk(df, q, k=3)
    got = [r["vec_id"] for r in out.orderBy("rk").collect()]
    assert got == [1, 2, 3]


def test_lsh_bucket_deterministic_and_subset(spark):
    import random
    random.seed(7)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b1 = df.select("vec_id", SIM.lsh_bucket(F.col("embedding"), 16, bits=4).alias("b"))
    b2 = df.select("vec_id", SIM.lsh_bucket(F.col("embedding"), 16, bits=4).alias("b"))
    assert b1.collect() == b2.collect()
    # lsh results ⊆ brute-force universe and exact within the shared bucket
    q = df.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    lsh = SIM.lsh_topk(df, q, dim=16, k=5, bits=4)
    bf = SIM.brute_force_topk(df, q, k=100)
    bf_sims = {(r["query_id"], r["vec_id"]): r["sim"] for r in bf.collect()}
    for r in lsh.collect():
        assert bf_sims[(r["query_id"], r["vec_id"])] == pytest.approx(r["sim"])


def test_lsh_neardup_pairs_exact_precision_and_recall(spark):
    """Every emitted pair is exactly cosine-verified (precision 1.0 vs the
    brute-force pair set), and recall on HIGH-sim pairs (planted near-dups,
    sim > 0.95 → P(bit agrees) ≈ 0.93, band hit ≈ 0.75, 6 bands → ~1)
    is total on this fixture."""
    import random
    random.seed(23)
    rows = []
    for i in range(40):
        rows.append((i, [random.gauss(0, 1) for _ in range(16)]))
    # planted near-dups: tiny perturbations of three base vectors
    for j, base in enumerate([0, 1, 2]):
        rows.append((100 + j,
                     [v + random.gauss(0, 0.01) for v in rows[base][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_l"], r["id_r"]): r["sim"]
           for r in SIM.lsh_neardup_pairs(df, dim=16, threshold=0.5,
                                          bands=6, bits=4).collect()}
    # exact reference pairs via a local cross-check
    import itertools, math
    vecs = dict(rows)
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        return d / n if n else 0.0
    exact = {(l, r): cos(vecs[l], vecs[r])
             for l, r in itertools.combinations(sorted(vecs), 2)
             if cos(vecs[l], vecs[r]) > 0.5}
    # precision: every emitted pair is a true pair, sim matches exactly
    for pair, sim in got.items():
        assert pair in exact
        assert sim == pytest.approx(exact[pair], abs=2e-6)
    # recall on the planted (sim>0.95) pairs is total
    planted = {p for p, s in exact.items() if s > 0.95}
    assert planted and planted <= set(got)


def test_lsh_neardup_pairs_no_cartesian_in_plan(spark):
    """The scale claim: candidates come from a (band, bucket) equi-join —
    the physical plan must not contain a cartesian/nested-loop join."""
    import random
    random.seed(5)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = SIM.lsh_neardup_pairs(df, dim=16)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_scrub_exact(spark):
    """Redaction hits email/ip/phone shapes exactly and leaves near-misses
    (3-octet runs, domains without a TLD dot) untouched."""
    df = spark.createDataFrame(
        [(1, "mail a@b.example.io or 192.168.0.1 call 555-123-4567 end"),
         (2, "near-miss 1234.5.6 and user@nodot stay"),
         (3, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", TX.pii_scrub("text").alias("t"),
        *[TX.pii_count("text", p).alias(f"n_{n}")
          for n, p, _ in TX.PII_PATTERNS]).collect()}
    assert out[1]["t"] == "mail <EMAIL> or <IP> call <PHONE> end"
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[2]["t"] == "near-miss 1234.5.6 and user@nodot stay"
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[3]["t"] == ""


# -- rolling hash + winnowing -------------------------------------------------

def test_rolling_hash_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "fox brown quick the"),
         (3, "THE  quick   brown fox!"), (4, "")],
        "doc_id long, text string")
    out = (df.select("doc_id", TX.token_base_hashes("text").alias("_th"))
           .select("doc_id", TX.rolling_hash(F.col("_th")).alias("h")))
    got = {r["doc_id"]: r["h"] for r in out.collect()}
    assert got[1] != got[2]        # order matters
    assert got[1] == got[3]        # normalization: case/space/punct invariant
    assert got[4] == 0             # empty text -> seed value


def test_winnowing_shared_run_guarantee(spark):
    # docs share an 8-token run (= w + k - 1 with k=4, w=5) amid distinct text
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, "one two three " + shared + " four five"),
         (2, "six seven " + shared + " eight nine ten"),
         (3, "completely different words with no overlap at all")],
        "doc_id long, text string")
    out = (df.select("doc_id", TX.token_base_hashes("text").alias("_th"))
           .select("doc_id", TX.kgram_hashes(F.col("_th"), 4).alias("_kg"))
           .select("doc_id", TX.winnow_minima(F.col("_kg"), 5).alias("fps")))
    got = {r["doc_id"]: set(r["fps"]) for r in out.collect()}
    assert got[1] & got[2]         # winnowing guarantee: ≥1 shared print
    assert not (got[1] & got[3])
    # short docs (< k tokens) fingerprint to their raw gram list (empty here)
    short = spark.createDataFrame([(9, "only three tokens")], "doc_id long, text string")
    fps = (short.select(TX.token_base_hashes("text").alias("_th"))
           .select(TX.kgram_hashes(F.col("_th"), 4).alias("_kg"))
           .select(TX.winnow_minima(F.col("_kg"), 5).alias("fps"))).collect()[0]["fps"]
    assert fps == []


def test_ivf_topk_recall_on_clustered_data(spark):
    import random
    random.seed(11)
    # 4 well-separated clusters in 16-d: IVF with enough probes must find
    # the same neighbors as brute force for in-cluster queries
    centers = [[10.0 if d == c * 4 else 0.0 for d in range(16)] for c in range(4)]
    rows = [(i, [c + random.gauss(0, 0.1) for c in centers[i % 4]])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    ivf = SIM.ivf_topk(df, q, k=5, n_centroids=4, n_probe=2)
    bf = SIM.brute_force_topk(df, q, k=5)
    ivf_pairs = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    bf_pairs = {(r["query_id"], r["vec_id"]) for r in bf.collect()}
    recall = len(ivf_pairs & bf_pairs) / len(bf_pairs)
    assert recall >= 0.9
    # sims are exact cosines: every overlapping pair matches brute force
    bf_sims = {(r["query_id"], r["vec_id"]): r["sim"] for r in bf.collect()}
    for r in ivf.collect():
        if (r["query_id"], r["vec_id"]) in bf_sims:
            assert bf_sims[(r["query_id"], r["vec_id"])] == pytest.approx(r["sim"])


def test_ngram_jaccard_all_pairs_exact(spark):
    # doc0 == doc1 (after normalization) → jaccard 1.0; doc2 shares 2 of
    # its 3 distinct 3-grams with them; doc3 is disjoint.
    base = "a b c d e"          # 3-grams {abc, bcd, cde}
    near = "a b c d x"          # 3-grams {abc, bcd, cdx} → inter 2, union 4
    df = docs_df(spark, [base, "A  b c, d e!", near, "p q r s t"])
    out = {(r["id_l"], r["id_r"]): r for r in
           DD.ngram_jaccard_all_pairs(df, n=3, threshold=0.4).collect()}
    assert out[(0, 1)]["jaccard"] == 1.0
    assert out[(0, 2)]["inter"] == 2 and out[(0, 2)]["union_sz"] == 4
    assert abs(out[(0, 2)]["jaccard"] - 0.5) < 1e-12
    assert (0, 3) not in out and (1, 3) not in out


def test_simhash_hamming_pairs_matches_brute_force(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",   # near-dup of 0
        "a completely different document about spark engines",
        "the quick brown fox jumps over the lazy dog",   # exact dup of 0
        "spark engines process completely different documents",
    ]
    df = docs_df(spark, texts)
    got = {(r["id_l"], r["id_r"]): r["hamming"]
           for r in DD.simhash_hamming_pairs(df, bands=4, max_hamming=3).collect()}
    # brute-force oracle: all C(n,2) xor distances from the signatures
    sigs = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", DD.simhash("text", n=2, bits=16).alias("s")).collect()}
    expect = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            h = bin(sigs[i] ^ sigs[j]).count("1")
            if h <= 3:
                expect[(i, j)] = h
    assert got == expect
    assert got[(0, 3)] == 0  # exact dup → distance 0


def test_simhash_hamming_pairs_rejects_uncovered_distance(spark):
    df = docs_df(spark, ["a b c"])
    with pytest.raises(ValueError):
        DD.simhash_hamming_pairs(df, bands=4, max_hamming=4)


def test_simhash_wide_lo_half_equals_narrow_fingerprint(spark):
    """The wide form strictly extends the narrow one: _fp_lo must be
    bit-identical to simhash_fingerprints(bits=48, hex_digits=12) —
    same md5-prefix base hash, same votes."""
    texts = ["the quick brown fox jumps over the lazy dog",
             "spark engines process large corpora quickly",
             "a b"]
    df = docs_df(spark, texts)
    wide = {r["_id"]: (r["_fp_lo"], r["_fp_hi"])
            for r in DD.simhash_wide_fingerprints(df).collect()}
    narrow = {r["_id"]: r["_fp"]
              for r in DD.simhash_fingerprints(
                  df, n=2, bits=48, hex_digits=12).collect()}
    assert {k: v[0] for k, v in wide.items()} == narrow
    # the hi half comes from a DISJOINT md5 segment — on real text it
    # must not simply replicate the lo half
    assert any(v[0] != v[1] for v in wide.values())


def test_simhash_swar_oversized_doc_matches_per_bit_reference(spark):
    """Scale-safety of the SWAR vote packing (ADVICE r12 #1): a document
    with more than 2²¹ shingles — past the r12 3×21-bit lane capacity,
    whose guard raise_error()'d the whole job — must now produce a
    fingerprint, and it must be bit-identical to the unpacked
    one-SUM-per-bit reference form. 31-bit lanes cannot overflow for
    any representable document (Spark strings cap at 2³¹-1 bytes and
    the shingle count never exceeds the token count)."""
    n_shingles = (1 << 21) + 7
    big = " ".join(f"w{i % 97}" for i in range(n_shingles + 1))
    df = spark.createDataFrame([(0, big), (1, "a small doc here")],
                               "doc_id long, text string")
    bits = 16
    got = {r["_id"]: r["_fp"]
           for r in DD.simhash_fingerprints(df, n=2, bits=bits).collect()}

    # unpacked per-bit reference (the pre-r12 form, inlined)
    ex = DD.exploded_shingle_hashes(df, "text", "doc_id", 2, hex_digits=8)
    votes = [F.sum(F.when(F.col("_h").bitwiseAND(F.lit(1 << b)) != 0, 1)
                   .otherwise(-1)).alias(f"_v{b}") for b in range(bits)]
    fp_expr = None
    for b in range(bits):
        term = F.when(F.col(f"_v{b}") > 0,
                      F.lit(1 << b).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
        fp_expr = term if fp_expr is None else fp_expr + term
    ref = {r["_id"]: r["_fp"] for r in
           ex.groupBy("_id").agg(*votes)
           .select("_id", fp_expr.alias("_fp")).collect()}
    assert got == ref
    assert got[0] is not None


def test_simhash_wide_pairs_matches_brute_force(spark):
    """Pigeonhole exactness over the full 96 bits: the banded join must
    find exactly the pairs whose two-half Hamming distance is ≤ 3."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "a completely different document about spark engines",
        "the quick brown fox jumps over the lazy dog",
        "spark engines process completely different documents",
    ]
    df = docs_df(spark, texts)
    got = {(r["id_l"], r["id_r"]): r["hamming"]
           for r in DD.simhash_wide_pairs(df).collect()}
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
    assert got[(0, 3)] == 0  # exact dup → distance 0 across all 96 bits
    with pytest.raises(ValueError):
        DD.simhash_wide_pairs(df, bands=4, max_hamming=4)
    with pytest.raises(ValueError):
        DD.simhash_wide_pairs(df, half_bits=48, bands=3)  # uneven split
    with pytest.raises(ValueError):
        DD.simhash_wide_fingerprints(df, half_bits=61)  # int64 headroom


def test_simhash_fingerprints_reject_bits_past_base_hash(spark):
    """A fingerprint is at most 4 * hex_digits bits wide: with the
    default 8 hex digits, bits 32..63 of a 64-bit fingerprint are 0 in
    every document, so two of four bands would put the whole corpus in
    one bucket and the band join would silently turn all-pairs."""
    df = docs_df(spark, ["a b c"])
    with pytest.raises(ValueError, match="4 \\* hex_digits"):
        DD.simhash_fingerprints(df, bits=64)
    with pytest.raises(ValueError, match="4 \\* hex_digits"):
        DD.simhash_hamming_pairs(df, bits=64, bands=4, max_hamming=3)
    with pytest.raises(ValueError, match="hex_digits <= 15"):
        DD.simhash_fingerprints(df, bits=60, hex_digits=16)
    with pytest.raises(ValueError):
        DD.simhash_fingerprints(df, bits=0)
    DD.simhash_fingerprints(df, bits=48, hex_digits=12)  # in contract


def _random_fps(seed, n_base=40):
    """Signed 64-bit fingerprints (negative ones included) with planted
    near-duplicates at Hamming 0-4, flips spread over every band and the
    sign bit."""
    rng = random.Random(seed)

    def signed(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    fps = [rng.getrandbits(64) for _ in range(n_base)]
    for i in range(0, n_base, 3):
        for k in range(5):
            if k and i % 2 == 0:       # flip the sign bit plus k-1 others
                bits = rng.sample(range(63), k - 1) + [63]
            else:
                bits = rng.sample(range(64), k)
            v = fps[i]
            for b in bits:
                v ^= 1 << b
            fps.append(v)
    return [signed(u) for u in fps]


def _ham(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_hamming_pairs_matches_brute_force_on_signed_64bit(spark):
    fps = _random_fps(7)
    assert any(v < 0 for v in fps)
    df = spark.createDataFrame(list(enumerate(fps)), "id long, fp long")
    got = {(r["id_l"], r["id_r"]): r["hamming"] for r in
           DD.hamming_pairs(df, "id", "fp", bits=64, bands=4,
                            max_hamming=3).collect()}
    expect = {(i, j): _ham(fps[i], fps[j])
              for i in range(len(fps)) for j in range(i + 1, len(fps))
              if _ham(fps[i], fps[j]) <= 3}
    assert got == expect
    assert {0, 1, 2, 3} <= set(expect.values())


def test_simhash_cross_matches_matches_brute_force_on_signed_64bit(spark):
    fps = _random_fps(11)
    probe_ids = set(range(0, len(fps), 2))
    schema = "_id long, _fp long"
    probe = spark.createDataFrame(
        [(i, v) for i, v in enumerate(fps) if i in probe_ids], schema)
    index = spark.createDataFrame(
        [(i, v) for i, v in enumerate(fps) if i not in probe_ids], schema)
    got = {(r["probe_id"], r["index_id"]): r["hamming"] for r in
           DD.simhash_cross_matches(probe, index, bits=64, bands=4,
                                    max_hamming=3).collect()}
    expect = {(i, j): _ham(fps[i], fps[j])
              for i in probe_ids for j in range(len(fps))
              if j not in probe_ids and _ham(fps[i], fps[j]) <= 3}
    assert got == expect
    assert expect
    with pytest.raises(ValueError, match="banding finds all pairs"):
        DD.simhash_cross_matches(probe, index, bits=64, bands=4,
                                 max_hamming=4)


def _regexp_filters(df):
    """Conditions of optimized-plan Filters that contain regexp_replace:
    the tokens chain pushed into an interpreted filter (SCALE §1t)."""
    found = []

    def walk(node):
        if (node.nodeName() == "Filter"
                and "regexp_replace" in node.condition().toString()):
            found.append(node.condition().toString())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


SHINGLE_EXPLODERS = {
    "exploded_shingle_hashes": lambda d, p: DD.exploded_shingle_hashes(d),
    "ngram_jaccard_verify": lambda d, p: DD.ngram_jaccard_verify(p, d),
    "ngram_jaccard_all_pairs": lambda d, p: DD.ngram_jaccard_all_pairs(d),
    "containment_pairs": lambda d, p: DD.containment_pairs(d),
    "containment_pairs_max_posting":
        lambda d, p: DD.containment_pairs(d, max_posting=2),
    "simhash_wide_fingerprints":
        lambda d, p: DD.simhash_wide_fingerprints(d),
    "duplicate_spans": lambda d, p: DD.duplicate_spans(d, n=3),
}


@pytest.fixture(scope="module")
def parquet_docs(spark, tmp_path_factory):
    # a file scan, not a local relation: the optimizer folds projections
    # and filters over local data, which would hide the pushed filter
    path = str(tmp_path_factory.mktemp("plan_guard") / "docs")
    docs_df(spark, ["the quick brown fox jumps", "the quick brown cat",
                    "", None]).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("name", sorted(SHINGLE_EXPLODERS))
def test_shingle_explode_plans_have_no_pushed_tokens_filter(
        spark, parquet_docs, name):
    pairs = spark.createDataFrame([(0, 1)], "id_l long, id_r long")
    df = SHINGLE_EXPLODERS[name](parquet_docs, pairs)
    assert _regexp_filters(df) == []


def test_connected_components_known_graph(spark):
    from timeseries_data_analysis_spark.operators import graph as GR
    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_l long, id_r long")
    got = {r["vertex"]: r["component"]
           for r in GR.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}
    cl = {(r["doc_id"], r["cluster_id"], r["cluster_size"])
          for r in GR.dedup_clusters(edges).collect()}
    assert (4, 1, 4) in cl and (11, 10, 2) in cl and (22, 20, 3) in cl


def test_connected_components_convergence_guard(spark):
    from timeseries_data_analysis_spark.operators import graph as GR
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_l long, id_r long")
    with pytest.raises(RuntimeError):
        GR.connected_components(chain, max_iter=1)


def test_pq_topk_recall_on_clustered_data(spark):
    import random
    random.seed(13)
    # clustered 16-d corpus (PQ's intended regime): codes separate the
    # clusters, so the rerank pool contains the true neighbors
    centers = [[10.0 if d == c * 4 else 0.0 for d in range(16)] for c in range(4)]
    rows = [(i, [c + random.gauss(0, 0.1) for c in centers[i % 4]])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    # rerank pool >= cluster size: quantization collapses same-cluster
    # vectors onto identical codes (approx distances tie), so the pool
    # must cover the whole matching cluster for exact rerank to see all
    # true neighbors
    pq = SIM.pq_topk(df, q, k=5, m=4, n_codes=8, rerank_factor=10)
    bf = SIM.brute_force_topk(df, q, k=5)
    pq_pairs = {(r["query_id"], r["vec_id"]) for r in pq.collect()}
    bf_pairs = {(r["query_id"], r["vec_id"]) for r in bf.collect()}
    assert len(pq_pairs & bf_pairs) / len(bf_pairs) >= 0.9
    # reranked sims are exact cosines — equal to brute force on overlap
    bf_sims = {(r["query_id"], r["vec_id"]): r["sim"] for r in bf.collect()}
    for r in pq.collect():
        if (r["query_id"], r["vec_id"]) in bf_sims:
            assert bf_sims[(r["query_id"], r["vec_id"])] == pytest.approx(r["sim"])


def test_pq_codebooks_shape_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, [float(i + d) for d in range(16)]) for i in range(320)],
        "vec_id long, embedding array<double>")
    cb1 = SIM.pq_codebooks(df, m=4, n_codes=8).toPandas()
    cb2 = SIM.pq_codebooks(df, m=4, n_codes=8).toPandas()
    assert len(cb1) == 4 * 8
    assert set(cb1["sub"]) == {0, 1, 2, 3}
    assert all(len(v) == 4 for v in cb1["cvec"])
    key = ["sub", "code"]
    pd_sorted = lambda d: d.sort_values(key).reset_index(drop=True)  # noqa: E731
    assert pd_sorted(cb1)["cvec"].apply(tuple).tolist() == \
        pd_sorted(cb2)["cvec"].apply(tuple).tolist()


def test_ivf_pq_topk_recall_on_clustered_data(spark):
    import random
    random.seed(19)
    centers = [[10.0 if d == c * 4 else 0.0 for d in range(16)] for c in range(4)]
    rows = [(i, [c + random.gauss(0, 0.1) for c in centers[i % 4]])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = SIM.ivf_pq_topk(df, q, k=5, n_centroids=4, n_probe=2,
                          m=4, n_codes=8, rerank_factor=10)
    bf = SIM.brute_force_topk(df, q, k=5)
    got = {(r["query_id"], r["vec_id"]) for r in out.collect()}
    want = {(r["query_id"], r["vec_id"]) for r in bf.collect()}
    assert len(got & want) / len(want) >= 0.9
    # every returned candidate must come from a probed cell of its query
    # (the IVF restriction is applied BEFORE ranking, not as a post-filter)
    assert len(got) == 20


# -- round 5: SemDeDup + Gopher rules ----------------------------------------

def test_semdedup_drops_lower_priority_near_dups(spark):
    """Within a cell, a vector with cosine >= threshold to a LOWER-id
    cell-mate is dropped; near-orthogonal vectors survive; cells never
    compare across."""
    rows = [
        # cell around +x: 1 and 2 near-dup (cos=1), 3 orthogonal-ish
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0, 0.0]),     # same direction as 1 -> dropped
        (3, [0.1, 1.0, 0.0, 0.0]),     # same cell, low cosine -> kept
        # cell around -x: duplicate pair again, independent of cell 1
        (4, [-1.0, 0.0, 0.0, 0.0]),
        (5, [-1.0, 0.0, 0.0, 0.001]),  # near-dup of 4 -> dropped
    ]
    corpus = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0])],
        "centroid_id: int, centroid: array<double>")
    kept = SIM.semdedup(corpus, cent, threshold=0.9)
    got = {(r["vec_id"], r["cell"]) for r in kept.collect()}
    assert got == {(1, 0), (3, 0), (4, 1)}


def test_semdedup_high_threshold_keeps_everything(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    corpus = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cent = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0])], "centroid_id: int, centroid: array<double>")
    assert SIM.semdedup(corpus, cent, threshold=0.99).count() == 4


def test_gopher_rules_flags(spark):
    """Each rule trips on the document built to violate exactly it."""
    good = " ".join(["the", "be", "to", "of"] + ["token"] * 60)
    docs = spark.createDataFrame(
        [(1, good),                                  # passes all
         (2, "the be " + "x " * 60),                 # mean word len < 3
         (3, "short doc the be"),                    # < 50 words
         (4, " ".join(["the", "be"] + ["#!?"] * 58)),  # symbols + alpha frac
         (5, " ".join(["token"] * 60))],             # no stopwords
        "doc_id: long, text: string")
    g = TX.gopher_rules("text")
    rows = {r["doc_id"]: r.asDict() for r in docs.select(
        "doc_id", g["passes"].alias("p"), g["ok_word_count"].alias("wc"),
        g["ok_mean_len"].alias("ml"), g["ok_symbol_ratio"].alias("sym"),
        g["ok_alpha_words"].alias("al"), g["ok_stopwords"].alias("st"),
    ).collect()}
    assert rows[1]["p"] == 1
    assert rows[2]["ml"] == 0 and rows[2]["p"] == 0
    assert rows[3]["wc"] == 0 and rows[3]["p"] == 0
    assert rows[4]["sym"] == 0 and rows[4]["al"] == 0 and rows[4]["p"] == 0
    assert rows[5]["st"] == 0 and rows[5]["p"] == 0


def test_gopher_rules_empty_text(spark):
    docs = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id: long, text: string")
    g = TX.gopher_rules("text")
    out = docs.select("doc_id", g["n_words"].alias("n"),
                      g["passes"].alias("p")).collect()
    assert all(r["n"] == 0 and r["p"] == 0 for r in out)


# --- round 5: duplicate-passage spans, BPE loop, k-means -------------------

from timeseries_data_analysis_spark.operators import tokenizer as TOKZ  # noqa: E402


def test_duplicate_spans_exact_boundaries(spark):
    """A shared run of L >= n tokens merges back into ONE span of exactly
    L tokens; unique docs report zero spans."""
    shared = "alpha beta gamma delta epsilon zeta"          # 6-token run
    docs = spark.createDataFrame(
        [(1, "aaa bbb " + shared + " ccc ddd"),
         (2, shared + " xxx yyy zzz qqq rrr"),
         (3, "uuu vvv www kkk lll mmm nnn ooo")],
        "doc_id: long, text: string")
    out = {r["doc_id"]: r.asDict()
           for r in DD.duplicate_spans(docs, n=3, min_docs=2).collect()}
    assert out[1]["n_spans"] == 1 and out[1]["dup_tokens"] == 6
    assert out[2]["n_spans"] == 1 and out[2]["dup_tokens"] == 6
    assert out[3]["n_spans"] == 0 and out[3]["dup_tokens"] == 0
    assert abs(out[1]["dup_fraction"] - 6 / 10) < 1e-9


def test_duplicate_spans_merges_adjacent_runs(spark):
    """Two overlapping shared runs coalesce into one island; disjoint
    shared runs stay separate spans."""
    docs = spark.createDataFrame(
        [(1, "s1 s2 s3 u1 u2 u3 u4 t1 t2 t3"),   # two disjoint shared runs
         (2, "s1 s2 s3 v1 v2 v3 v4 w1 w2 w3"),
         (3, "t1 t2 t3 z1 z2 z3 z4 z5 z6 z7")],
        "doc_id: long, text: string")
    out = {r["doc_id"]: r.asDict()
           for r in DD.duplicate_spans(docs, n=3, min_docs=2).collect()}
    assert out[1]["n_spans"] == 2 and out[1]["dup_tokens"] == 6
    assert out[2]["n_spans"] == 1
    assert out[3]["n_spans"] == 1


def _py_bpe(word_counts: dict[str, int], n_merges: int):
    """Pure-python reference BPE (Sennrich et al. 2016 pseudocode) with
    the same (count DESC, lhs, rhs) tie-break."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_counts[w]
        if not counts:
            break
        (l, r), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, n))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_learn_merges_matches_reference(spark):
    """Merge-for-merge equal to the pure-python reference, tiebreaks
    included; on the larger word list through depth 40, past the total
    number of possible merges (exhaustion)."""
    base = (["lower"] * 5 + ["low"] * 7 + ["newest"] * 6 + ["widest"] * 3
            + ["new"] * 2)
    cases = [(base, (6,)),
             (base + ["banana"] * 4 + ["bandana"] * 2, (1, 6, 40))]
    for words, depths in cases:
        docs = spark.createDataFrame([(i, w) for i, w in enumerate(words)],
                                     "doc_id: long, text: string")
        wc: dict[str, int] = {}
        for w in words:
            wc[w] = wc.get(w, 0) + 1
        for depth in depths:
            got = [(r["lhs"], r["rhs"], r["n"])
                   for r in TOKZ.bpe_learn_merges(docs, n_merges=depth)
                   .orderBy("rank").collect()]
            want, _ = _py_bpe(wc, depth)
            assert got == want, (len(words), depth)


def test_bpe_fold_nonoverlapping(spark):
    """(a, a) over 'aaaa' merges positions (0,1) and (2,3), never the
    overlapping middle pair — the left-to-right reference semantics."""
    df = spark.createDataFrame([(["a", "a", "a", "a"],),
                                (["a", "a", "a"],)], "syms: array<string>")
    rows = df.select(TOKZ.merge_fold(F.col("syms"), "a", "a")
                     .alias("m")).collect()
    assert sorted(r["m"] for r in rows) == [["aa", "a"], ["aa", "aa"]]


def test_bpe_apply_matches_learned_rewrite(spark):
    words = ["banana"] * 4 + ["bandana"] * 2
    docs = spark.createDataFrame([(i, w) for i, w in enumerate(words)],
                                 "doc_id: long, text: string")
    merges = [(r["lhs"], r["rhs"]) for r in
              TOKZ.bpe_learn_merges(docs, n_merges=3).orderBy("rank").collect()]
    wc = {"banana": 4, "bandana": 2}
    _, ref_vocab = _py_bpe(wc, 3)
    v = TOKZ.word_vocab(docs)
    got = {r["word"]: r["syms"] for r in v.select(
        "word", TOKZ.bpe_apply(F.col("syms"), merges).alias("syms")).collect()}
    assert got == ref_vocab


def test_kmeans_fit_converges_and_matches_numpy(spark):
    """Two well-separated 2-D blobs: kmeans_fit lands one centroid on
    each blob mean; lloyd_step agrees with the numpy mean."""
    import numpy as np
    pts = ([(i, [10.0 + (i % 3) * 0.1, 10.0]) for i in range(6)]
           + [(i + 6, [-5.0, -5.0 - (i % 3) * 0.1]) for i in range(6)])
    vec = spark.createDataFrame(pts, "vec_id: long, embedding: array<double>")
    init = spark.createDataFrame([(0, [1.0, 0.9]), (1, [-0.9, -1.0])],
                                 "centroid_id: int, centroid: array<double>")
    fit = {r["centroid_id"]: r["centroid"]
           for r in SIM.kmeans_fit(vec, init, n_iter=3).collect()}
    a = np.mean([p[1] for p in pts[:6]], axis=0)
    b = np.mean([p[1] for p in pts[6:]], axis=0)
    assert np.allclose(fit[0], a) and np.allclose(fit[1], b)
    # one lloyd_step from the fitted centroids is a fixed point
    step = SIM.lloyd_step(vec, SIM.kmeans_fit(vec, init, n_iter=3))
    for r in step.collect():
        tgt = a if r["centroid_id"] == 0 else b
        assert abs(r["new_val"] - tgt[r["dim_idx"]]) < 1e-9
        assert r["n_members"] == 6


def test_kmeans_fit_empty_cell_keeps_centroid(spark):
    vec = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.9, 0.1])],
                                "vec_id: long, embedding: array<double>")
    init = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
        "centroid_id: int, centroid: array<double>")
    fit = {r["centroid_id"]: r["centroid"]
           for r in SIM.kmeans_fit(vec, init, n_iter=2).collect()}
    assert fit[1] == [-1.0, 0.0]          # attracted nothing; unchanged


def test_simhash_max_bucket_cap(spark):
    """The skew cap drops pairs only from over-occupied (band, chunk)
    buckets; with a cap above every bucket size the pair set is
    unchanged."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + ("x" if i % 2 else "y"))
         for i in range(8)], "doc_id: long, text: string")
    full = set(map(tuple, DD.simhash_hamming_pairs(
        docs, bits=16, bands=4, max_hamming=3)
        .select("id_l", "id_r").collect()))
    same = set(map(tuple, DD.simhash_hamming_pairs(
        docs, bits=16, bands=4, max_hamming=3, max_bucket=1000)
        .select("id_l", "id_r").collect()))
    capped = set(map(tuple, DD.simhash_hamming_pairs(
        docs, bits=16, bands=4, max_hamming=3, max_bucket=1)
        .select("id_l", "id_r").collect()))
    assert same == full
    assert capped <= full          # cap only ever removes pairs


def test_repetition_profile_hand_built(spark):
    # doc 0: 4 lines, "dup dup" twice (8 chars of 22 line-chars dup'd),
    # words "a a b dup dup dup dup" → known fractions
    txt0 = "dup dup\nunique one\ndup dup\nlast line"
    df = docs_df(spark, [txt0, "plain single line", ""])
    out = {r["doc_id"]: r for r in DD.repetition_profile(df).collect()}
    r0 = out[0]
    assert r0["n_lines"] == 4
    # 4 lines, 3 distinct → 1/4 duplicated
    assert abs(r0["dup_line_frac"] - 0.25) < 1e-12
    # chars: "dup dup"(7)×2 + "unique one"(10) + "last line"(9) = 33;
    # duplicated-line chars = 14
    assert abs(r0["dup_line_char_frac"] - 14 / 33) < 1e-12
    # words: dup×4 unique one dup? → tokens: dup dup unique one dup dup
    # last line = 8 words, 5 distinct → dup_word_frac = 3/8
    assert r0["n_words"] == 8
    assert abs(r0["dup_word_frac"] - 3 / 8) < 1e-12
    # top bigram "dup dup" occurs 2× (within lines 1 and 3, plus the
    # cross-line joins "dup unique", "one dup", "dup dup", "dup last")
    assert r0["top_bigram"] == "dup dup"
    r1 = out[1]
    assert r1["n_lines"] == 1 and r1["dup_line_frac"] == 0.0
    assert r1["dup_word_frac"] == 0.0
    r2 = out[2]  # empty doc must survive with zeroed profile
    assert r2["n_lines"] == 0 and r2["n_words"] == 0
    assert r2["top_bigram"] == "" and r2["top_bigram_share"] == 0.0


def test_kmv_exact_below_k_and_close_above(spark):
    from timeseries_data_analysis_spark.operators import sketch as SK
    rows = ([("small", f"w{i}") for i in range(30)]
            + [("big", f"tok{i}") for i in range(3000)])
    df = spark.createDataFrame(rows, "grp string, item string")
    out = {r["grp"]: r for r in
           SK.kmv_distinct(df, "grp", "item", k=64).collect()}
    # below k: the sketch IS the distinct set — exact
    assert out["small"]["est"] == 30.0
    assert out["small"]["n_kept"] == 30
    # above k: (k-1)/h_k estimate within the ~1/sqrt(k) ≈ 12.5% band
    # (deterministic hash → this is a fixed number, not a flaky bound)
    assert out["big"]["n_kept"] == 64
    assert abs(out["big"]["est"] - 3000) / 3000 < 0.25


def test_kmv_ignores_null_items(spark):
    from timeseries_data_analysis_spark.operators import sketch as SK
    df = spark.createDataFrame(
        [("g", "a"), ("g", None), ("g", "b")], "grp string, item string")
    out = SK.kmv_distinct(df, "grp", "item", k=8).collect()
    assert out[0]["est"] == 2.0


def test_cusum_matches_sequential_reference(spark):
    from timeseries_data_analysis_spark.operators import windows as WIN
    vals = [1.0, 1.1, 0.9, 1.0, 5.0, 5.1, 5.2, 4.9, 1.0, 1.05]
    rows = [("s", i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "series string, t long, value double")
    out = (WIN.cusum_features(df, "series", "value", ["t"], k_sigma=0.5)
           .orderBy("t").collect())
    # sequential reference: S_t = max(0, S_{t-1} + z_t - k) in micro-units
    n = len(vals)
    mu = sum(vals) / n
    var = sum(v * v for v in vals) / n - mu * mu
    sd = var ** 0.5
    z = [round((v - mu) / sd * 1_000_000) for v in vals]
    sp = sn = 0
    for i, r in enumerate(out):
        sp = max(0, sp + z[i] - 500_000)
        sn = max(0, sn - z[i] - 500_000)
        assert r["cusum_pos_micro"] == sp, f"row {i}"
        assert r["cusum_neg_micro"] == sn, f"row {i}"


def test_cusum_zero_variance_series_is_flat(spark):
    from timeseries_data_analysis_spark.operators import windows as WIN
    df = spark.createDataFrame(
        [("c", i, 2.0) for i in range(5)], "series string, t long, value double")
    out = WIN.cusum_features(df, "series", "value", ["t"]).collect()
    assert all(r["z_micro"] == 0 for r in out)
    assert all(r["cusum_pos_micro"] == 0 for r in out)


def test_random_project_preserves_cosine_on_average(spark):
    import math
    import random
    rng = random.Random(7)
    vecs = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    mat = SIM.rademacher_matrix(64, 16)
    # deterministic public rule: regenerate and compare
    assert mat == SIM.rademacher_matrix(64, 16)
    assert all(s in (-1, 1) for row in mat for s in row)
    proj = {r["vec_id"]: r["pv"] for r in df.select(
        "vec_id", SIM.random_project(F.col("embedding"), mat).alias("pv"))
        .collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    errs = []
    for i in range(0, 20, 2):
        a, b = vecs[i], vecs[i + 1]
        errs.append(abs(cos(a, b) - cos(proj[i], proj[i + 1])))
    # JL at 16 dims: cosine preserved to ~1/sqrt(16) on average —
    # deterministic fixture, fixed numbers
    assert sum(errs) / len(errs) < 0.3


def test_kmv_sketch_is_mergeable(spark):
    """The KMV merge law behind incremental maintenance: union the
    bottom-k states of two partitions, re-take bottom-k → identical
    estimate to sketching the union directly (plans/incremental.py's
    algebraic-partial contract extended to distinct counts)."""
    from timeseries_data_analysis_spark.operators import sketch as SK
    part1 = [("g", f"w{i}") for i in range(0, 900)]
    part2 = [("g", f"w{i}") for i in range(600, 1500)]  # overlapping
    df1 = spark.createDataFrame(part1, "grp string, item string")
    df2 = spark.createDataFrame(part2, "grp string, item string")
    whole = SK.kmv_distinct(df1.union(df2), "grp", "item", k=64).collect()[0]
    # merge = union of the two bottom-k hash sets, re-bottom-k: emulate
    # by unioning the RAW frames' bottom-k survivors
    from pyspark.sql import Window as W
    import pyspark.sql.functions as SF

    def bottom(df):
        pairs = (df.distinct()
                 .select("grp", SK.hash_frac(SF.col("item")).alias("_f")))
        w = W.partitionBy("grp").orderBy("_f")
        return (pairs.withColumn("_rk", SF.row_number().over(w))
                .filter(SF.col("_rk") <= 64).select("grp", "_f"))

    merged = bottom(df1).union(bottom(df2))
    w = W.partitionBy("grp").orderBy("_f")
    re_k = (merged.dropDuplicates(["grp", "_f"])
            .withColumn("_rk", SF.row_number().over(w))
            .filter(SF.col("_rk") <= 64)
            .groupBy("grp").agg(SF.count(SF.lit(1)).alias("n"),
                                SF.max("_f").alias("kf"))
            .collect()[0])
    est_merged = 63.0 / re_k["kf"] if re_k["n"] == 64 else float(re_k["n"])
    assert abs(est_merged - whole["est"]) < 1e-9


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np
    from timeseries_data_analysis_spark.operators import graph as GR
    # chain 1-2-3-4 plus a triangle 10-11-12: known asymmetric degrees
    raw = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(raw, "id_l long, id_r long")
    got = {r["vertex"]: (r["degree"], r["pr_rel"])
           for r in GR.pagerank(edges, iters=6, damping=0.85).collect()}
    # numpy reference: identical fixed power iteration on the
    # symmetrized graph, same (1-d)/n + d*sum(pr/deg) update
    verts = sorted({v for e in raw for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    adj = np.zeros((n, n))
    for a, b in raw:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1
    deg = adj.sum(axis=1)
    pr = np.full(n, 1.0 / n)
    for _ in range(6):
        pr = (1.0 - 0.85) / n + 0.85 * adj.T @ (pr / deg)
    for v in verts:
        d_got, rel_got = got[v]
        assert d_got == int(deg[idx[v]])
        assert abs(rel_got - pr[idx[v]] * n) < 1e-9
    # mass conservation: mean of pr_rel == 1
    assert abs(sum(r for _, r in got.values()) / n - 1.0) < 1e-9
    # chain interior (2,3) must outrank chain ends (1,4)
    assert got[2][1] > got[1][1] and got[3][1] > got[4][1]


def test_triangle_stats_known_graph(spark):
    from timeseries_data_analysis_spark.operators import graph as GR
    # K4 on {1,2,3,4} (every vertex in 3 triangles, coeff 1.0) plus a
    # pendant chain 4-10-11 (10 bridges, 11 is a leaf)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 10), (10, 11)]
    df = spark.createDataFrame(edges, "id_l long, id_r long")
    got = {r["vertex"]: (r["degree"], r["triangles"], r["coeff"])
           for r in GR.triangle_stats(df).collect()}
    for v in (1, 2, 3):
        assert got[v] == (3, 3, 1.0)
    assert got[4] == (4, 3, 0.5)      # 3 of C(4,2)=6 wedges closed
    assert got[10] == (2, 0, 0.0)
    assert got[11] == (1, 0, 0.0)     # degree < 2 -> coeff 0 by contract


def test_cms_never_undercounts_and_merges(spark):
    """Count-min guarantees: est >= exact for EVERY item (one-sided
    error), bounded overcount for heavy items, and cell-wise-sum merge
    of two partitions' states == state of the union."""
    from pyspark.sql import functions as F
    from timeseries_data_analysis_spark.operators import sketch as SK

    items = ([f"hot{i}" for i in range(5) for _ in range(60 - 10 * i)]
             + [f"cold{i}" for i in range(400)])
    df = spark.createDataFrame([(x,) for x in items], "item string")
    d, w = 4, 64
    state = SK.cms_state(df, "item", depth=d, width=w)
    probe = spark.createDataFrame(
        [(x,) for x in set(items)], "item string")
    est = {r["item"]: r["est"] for r in
           SK.cms_estimate(state, probe, "item", depth=d, width=w)
           .collect()}
    from collections import Counter
    true = Counter(items)
    n = len(items)
    for it, c in true.items():
        assert est[it] >= c, it                    # never undercounts
    # heavy items stay near-exact: CM error bound e*N/w w.h.p.
    import math
    bound = math.e * n / w
    for i in range(5):
        it = f"hot{i}"
        assert est[it] - true[it] <= bound, it

    # merge law: state(A) +cell state(B) == state(A ∪ B)
    half = len(items) // 2
    a = spark.createDataFrame([(x,) for x in items[:half]], "item string")
    b = spark.createDataFrame([(x,) for x in items[half:]], "item string")
    merged = (SK.cms_state(a, "item", d, w)
              .unionByName(SK.cms_state(b, "item", d, w))
              .groupBy("r", "c").agg(F.sum("cnt").alias("cnt")))
    got = sorted((r["r"], r["c"], r["cnt"]) for r in merged.collect())
    want = sorted((r["r"], r["c"], r["cnt"]) for r in state.collect())
    assert got == want


def test_multi_source_bfs_known_graph(spark):
    """Path 1-2-3-4-5 plus isolated edge 8-9; seeds {1, 8}: hops must be
    the nearest-seed distances, bounded at max_hops, vertices beyond the
    bound absent, duplicate banded edges collapsed first."""
    from timeseries_data_analysis_spark.operators import graph as GR

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9), (2, 1), (1, 2)],
        "id_l long, id_r long")
    seeds = spark.createDataFrame([(1,), (8,)], "vertex long")
    got = {r["vertex"]: r["hop"] for r in
           GR.multi_source_bfs(edges, seeds, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 8: 0, 9: 1}


def test_degrees_dedupes_banded_pairs(spark):
    """The same pair emitted from several bands counts as ONE edge."""
    from timeseries_data_analysis_spark.operators import graph as GR

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3)],
        "id_l long, id_r long")
    got = {r["vertex"]: r["degree"] for r in GR.degrees(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 1}


def test_pagerank_empty_graph_returns_empty(spark):
    """A bucket cap can drop EVERY candidate pair (measured at the
    100x corpus with the gate-sized max_bucket=2 — avg band occupancy
    ~122 swamps it); pagerank on the resulting empty edge list must
    return an empty frame, not divide by the zero vertex count."""
    from timeseries_data_analysis_spark.operators import graph as GR

    edges = spark.createDataFrame([], "id_l bigint, id_r bigint")
    out = GR.pagerank(edges, iters=2)
    assert out.columns == ["vertex", "degree", "pr_rel"]
    assert out.count() == 0


def test_personalized_pagerank_locality_and_empty_seeds(spark):
    """Mass stays near the seeds: on a path graph seeded at one end,
    ppr decays monotonically with hop distance, unreachable components
    emit NO rows, and a seed set disjoint from the graph yields an
    empty frame (the sparsity contract that makes PPR scale)."""
    from timeseries_data_analysis_spark.operators import graph as GR

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "id_l bigint, id_r bigint")
    seeds = spark.createDataFrame([(1,)], "doc_id bigint")
    out = {r.vertex: (r.ppr, r.is_seed)
           for r in GR.personalized_pagerank(edges, seeds,
                                             iters=3).collect()}
    assert out[1][1] is True and out[2][1] is False
    # the frontier is EXACTLY iters hops: 3 rounds reach vertex 4
    # (hop 3) but not vertex 5 (hop 4) — sparsity is the contract.
    # (No per-vertex ranking asserted: at few iterations a path graph
    # oscillates mass by hop parity — only the support is stable.)
    assert 4 in out and 5 not in out
    # the disconnected 10-11 component holds no mass -> no rows
    assert 10 not in out and 11 not in out
    # mass conservation cannot exceed 1 (teleport keeps it bounded)
    assert 0.99 * sum(p for p, _ in out.values()) <= 1.0

    off_graph = spark.createDataFrame([(99,)], "doc_id bigint")
    assert GR.personalized_pagerank(edges, off_graph, iters=2).count() == 0


def test_ngram_jaccard_verify_matches_plain_form(spark):
    """The broadcast/hash-sketch verify (SCALE §1t form) must agree with
    the string-set ngram_jaccard on every pair, both broadcast and
    shuffle paths — hash-set Jaccard == string-set Jaccard unless a
    32-bit collision lands inside one doc's ~10²-shingle set."""
    texts = ["a b c d e f g", "a b c d e f x", "a b c d e f g",
             "p q r s t u v", "p q r s t u x", "totally different words here"]
    df = docs_df(spark, texts)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (3, 4), (0, 3), (2, 5)],
        "id_l long, id_r long")
    want = {(r["id_l"], r["id_r"]): r["jaccard"]
            for r in DD.ngram_jaccard(pairs, df).collect()}
    for bc in (True, False):
        got = {(r["id_l"], r["id_r"]): r["jaccard"]
               for r in DD.ngram_jaccard_verify(
                   pairs, df, threshold=None, broadcast_docs=bc).collect()}
        assert got.keys() == want.keys()
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-12), k
    # threshold filters server-side: only the >= 0.5 pairs survive
    kept = {(r["id_l"], r["id_r"]) for r in
            DD.ngram_jaccard_verify(pairs, df, threshold=0.5).collect()}
    assert kept == {k for k, v in want.items() if v >= 0.5}

"""Document deduplication for large-scale training-data pipelines.

Not in the reference (its data is sensor telemetry); these are the
first-class corpus operators a 100 TB text pipeline needs: exact dedup,
MinHash+LSH near-dedup, SimHash, and n-gram Jaccard.

All hashing is **engine-portable**: base token/shingle hashes derive from
``md5`` (identical in Spark and DuckDB/any oracle) and the MinHash family
is the classic affine family h_i(x) = (a_i·x + b_i) mod p over that base
hash — so correctness oracles can replay the exact pipeline in SQL.

Scale design:
- Exact dedup: hash-groupBy on a digest of the normalized text — the
  shuffle moves 16-byte digests + ids, never the documents.
- MinHash: signatures are computed per-document with higher-order array
  functions (transform/aggregate — JVM, no UDF). LSH banding turns
  all-pairs O(n²) into a groupBy on (band, band-hash) buckets followed by
  within-bucket pair generation; candidate pairs then verify with exact
  Jaccard. Skewed buckets (boilerplate docs) are capped.
- Shingle rows: every operator that explodes shingles gets its rows from
  ``_shingle_rows`` (outer explode, see there). ``ngram_jaccard`` and
  ``minhash_signatures`` keep per-document arrays (no explode, so no
  Generate filter; the signature array form measured ~2× faster), and
  ``ngram_contamination`` keeps its distinct-over-hashes explode, which
  its oracle mirrors.
- Hamming pairs: ``hamming_pairs`` is the one pigeonhole band join, for
  every SimHash width and any precomputed fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Affine minhash family h_i(x) = (a_i·x + b_i) mod p. Everything is sized
# so the arithmetic NEVER overflows a signed 64-bit integer in ANY engine
# (base hash < 2^32, a_i < 2^30 → product < 2^62): overflow wrap-around is
# engine-specific and would silently break oracle portability.
MINHASH_PRIME = (1 << 61) - 1
# Deterministic coefficients: odd primes < 2^30 (public-constant choice).
_A = [1073741789, 536870909, 268435399, 134217689,
      67108859, 33554393, 16777213, 805306457,
      402653171, 201326611, 100663291, 50331653,
      25165843, 12582917, 6291469, 3145739]
_B = [981783497, 545602969, 101842887, 718281829,
      141592653, 618033988, 414213562, 732050807,
      236067977, 449489742, 645751311, 828427124,
      162277660, 316624790, 464101615, 605551275]


def normalize_text(col: Column | str) -> Column:
    """Canonical text normalization: lowercase, strip non-alphanumerics,
    collapse whitespace runs, trim — so 'Hello,  World!' ≡ 'hello world'."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", " "), r" +", " "))


def text_digest(col: Column | str) -> Column:
    """Portable 60-bit digest of normalized text (md5-hex prefix → bigint)."""
    return F.conv(F.substring(F.md5(normalize_text(col)), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: keep min-id representative + duplicate count.

    groupBy on the digest: map-side combine shrinks the shuffle to one row
    per distinct digest per partition. At 100 TB the 60-bit digest
    collides ~never within a dedup batch (birthday bound ≈ 10^9 docs →
    p<0.001); use the full md5 string if stronger guarantees are needed.
    """
    return (df.select(F.col(id_col), text_digest(text_col).alias("digest"))
            .groupBy("digest")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_dups")))


def tokens(col: Column | str) -> Column:
    """Normalized word tokens. MATERIALIZE this in its own select before
    shingling: every ``element_at`` inside a shingle lambda re-evaluates
    its argument expression, so an inlined normalize+split turns one regex
    pass into one per (shingle × n) — a >100× blowup on real text.
    """
    return F.split(F.trim(normalize_text(col)), r"\s+")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token-array column.

    Built as an elementwise ``zip_with`` of n SLICED copies of the token
    array — never ``element_at(toks, i)`` inside a lambda. The optimizer
    sometimes inlines the token expression into downstream consumers
    (e.g. through a Generate/explode), and with element_at that inline
    re-evaluates the whole regex+split PER ELEMENT (measured 40× slowdown
    at sf0.1); with slices it is evaluated at most n times per document.
    """
    L = F.size(toks)
    k = L - (n - 1)
    acc = F.slice(toks, 1, k)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(toks, 1 + j, k),
                         lambda x, y: F.concat(x, F.lit(" "), y))
    return F.when(L >= n, acc).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of normalized text as array<string>.

    Convenience single-expression form — fine for one-off use on short
    text; pipelines must materialize ``tokens`` first (see that docstring).
    """
    return shingles_from_tokens(tokens(col), n)


def _shingle_hash_w(s: Column, hex_digits: int) -> Column:
    """Portable base hash of one shingle (md5 hex prefix → bigint).

    8 hex = 32 bits keeps every downstream affine product inside int64;
    collision rate within one document's shingle set (~10³ shingles) is
    negligible. Wider widths (≤ 15 hex) serve fingerprint families that
    need entropy above bit 31 (e.g. 48-bit SimHash).
    """
    return F.conv(F.substring(F.md5(s), 1, hex_digits), 16, 10).cast("bigint")


def _shingle_hash(s: Column) -> Column:
    """Single-argument form for higher-order functions: F.transform
    passes (element, index) to TWO-parameter callables, so the HOF-facing
    hash must stay unary (a default arg here once silently received the
    array index)."""
    return _shingle_hash_w(s, 8)


def hash_shingles(sh: Column) -> Column:
    """array<string> shingles → array<bigint> portable base hashes."""
    return F.transform(sh, _shingle_hash)


def hashed_shingles(col: Column | str, n: int = 3) -> Column:
    """array<bigint> of portable base hashes of the text's shingles.

    Materialize this ONCE (its own select) before fanning out into the
    per-hash-function minhash/simhash expressions: each md5 is expensive
    and Catalyst will not common-subexpression-eliminate it out of
    higher-order-function lambdas, so inlining it ``num_hashes`` times
    multiplies the md5 work by ``num_hashes``.
    """
    return F.transform(shingles(col, n), _shingle_hash)


def minhash_from_hashes(hashed: Column, num_hashes: int = 8) -> Column:
    """MinHash signature array<bigint> from a pre-hashed shingle array.

    For each affine hash h_i, the signature element is
    ``min over shingles of (a_i·base + b_i) mod p`` — computed with
    ``transform`` + ``array_min`` entirely in the JVM, one cheap
    arithmetic pass per hash function over the already-hashed array.
    """
    def affine(a: int, b: int):
        # closure factory — PySpark counts lambda default-args as extra
        # lambda parameters, so the coefficients must be captured this way
        return lambda h: (h * a + b) % MINHASH_PRIME

    elems = []
    for i in range(num_hashes):
        a, b = _A[i % len(_A)], _B[i % len(_B)]
        elems.append(F.array_min(F.transform(hashed, affine(a, b))))
    return F.array(*elems)


def minhash_signature(col: Column | str, n: int = 3,
                      num_hashes: int = 8) -> Column:
    """MinHash signature array<bigint> of length ``num_hashes``.

    Convenience single-expression form; prefer materializing
    ``hashed_shingles`` first in pipelines (see ``minhash_lsh_candidates``).
    """
    return minhash_from_hashes(hashed_shingles(col, n), num_hashes)


def _shingle_arrays(docs: DataFrame, text_col: str, id_col: str, n: int,
                    distinct: bool = False) -> DataFrame:
    """(_id, _nt, _sh): token count and shingle array per document, with
    the ``tokens`` projection BEFORE the repartition (see
    :func:`_shingle_rows`)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = (docs.select(F.col(id_col).alias("_id"),
                      tokens(text_col).alias("_toks"))
          .repartition(par)
          .select("_id", F.size("_toks").alias("_nt"),
                  shingles_from_tokens(F.col("_toks"), n).alias("_sh")))
    if distinct:
        sh = sh.select("_id", "_nt", F.array_distinct("_sh").alias("_sh"))
    return sh


def _shingle_rows(docs: DataFrame, text_col: str, id_col: str, n: int,
                  distinct: bool = False,
                  positions: bool = False) -> DataFrame:
    """(_id, _nt, _n, [pos,] _g): one shingle per row, with the doc's
    token count ``_nt`` and shingle count ``_n`` — the one docs →
    shingle-rows front end of every exploding operator here.

    The explode is ``explode_outer``/``posexplode_outer`` plus a null
    filter, and the repartition sits AFTER the ``tokens`` projection
    (SCALE §1t). Under a non-outer explode ``InferFiltersFromGenerate``
    plants a ``size(shingles) > 0`` filter, and predicate pushdown
    rebuilds the full tokens+shingles chain inside it, past every
    projection and the exchange, evaluated INTERPRETED per doc (~6 ms
    of regex spin per doc at corpus scale, thread-dump-confirmed; the
    fix took the 5M-doc verify from 1698 to 635 s). The rule does not
    fire on outer generates, and the shingle array is never empty by
    construction (``shingles_from_tokens`` falls back to the whole-text
    shingle), so the outer form emits the same rows. Hash or md5 the
    ``_g`` column as a TOP-LEVEL projection over these rows: inside
    whole-stage codegen, not in an interpreted ``transform`` lambda
    (measured ~10× slower for signature-sized shingle sets).
    """
    sh = _shingle_arrays(docs, text_col, id_col, n, distinct)
    gen = (F.posexplode_outer("_sh").alias("pos", "_g") if positions
           else F.explode_outer("_sh").alias("_g"))
    return (sh.select("_id", "_nt", F.size("_sh").alias("_n"), gen)
            .filter(F.col("_g").isNotNull()))


def exploded_shingle_hashes(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            distinct: bool = False,
                            hex_digits: int = 8) -> DataFrame:
    """(_id, _h) rows: one portable 32-bit shingle hash per row — the
    fast path for signature pipelines. Signatures become plain groupBy
    aggregates over it, so map-side combine shrinks the shuffle back to
    one row per document."""
    return (_shingle_rows(docs, text_col, id_col, n, distinct)
            .select("_id", _shingle_hash_w(F.col("_g"), hex_digits)
                    .alias("_h")))


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 16) -> DataFrame:
    """(_id, _sig array<bigint>) MinHash signature table.

    Stays in per-document ARRAY form (each stage materialized in its own
    select): shuffle-free map-only signatures. Measured ~2× faster than
    exploding shingles to rows + a 16-min groupBy, which pays a 50×-row
    shuffle for the same arithmetic (the exploded path wins only for
    SimHash, whose per-shingle 16-wide vote ``zip_with`` is pathological
    in interpreted HOF evaluation — see ``simhash_fingerprints``).
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (docs.select(F.col(id_col).alias("_id"), F.col(text_col))
            .repartition(par)
            .select("_id", tokens(text_col).alias("_toks"))
            .select("_id", shingles_from_tokens(F.col("_toks"), n).alias("_sh"))
            .select("_id", F.transform("_sh", _shingle_hash).alias("_hashed"))
            .select("_id",
                    minhash_from_hashes(F.col("_hashed"), num_hashes).alias("_sig")))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n: int = 3,
                           num_hashes: int = 16, bands: int = 8,
                           max_bucket: int = 1000) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band hash land in one bucket; pairs are generated
    within buckets via a self-join on the bucket key with ``id_l < id_r``.
    ``max_bucket`` caps pathological buckets (boilerplate skew) — the cap
    is logged via the ``bucket_n`` column rather than silently dropped.

    Returns (id_l, id_r, band) candidate pairs (dedup by pair downstream).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    band_rows = sig.select(
        "_id",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.md5(F.concat_ws(",", F.slice(
                    F.col("_sig"), b * rows_per_band + 1, rows_per_band
                ))).alias("bucket"))
        )).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")
    sized = band_rows.withColumn(
        "bucket_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bucket_n") <= max_bucket)
    a = sized.select(F.col("_id").alias("id_l"), "band", "bucket")
    b = sized.select(F.col("_id").alias("id_r"), "band", "bucket")
    return (a.join(b, on=["band", "bucket"])
            .filter(F.col("id_l") < F.col("id_r"))
            .select("id_l", "id_r", "band").distinct())


def ngram_jaccard(df_pairs: DataFrame, docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Joins the (small) candidate pair list back to the docs and computes
    |A∩B|/|A∪B| with ``array_intersect``/``array_union`` — set semantics,
    JVM-side.

    The pair list is hash-repartitioned on ``id_l`` before the doc joins
    (explicit count + key): candidate pairs are ~16 bytes/row, so AQE's
    byte-based coalescing (1 MB minPartitionSize floor) collapses the
    upstream distinct's output to ONE task, and the CPU-bound per-pair
    set arithmetic — which dominates this operator — serializes onto a
    single core (measured round 12: the levenshtein DP downstream of an
    identical shape ran 9 s on 1 task vs <1 s fanned out). Only the
    EXPLICIT-count repartition (REPARTITION_BY_NUM) is exempt from AQE
    coalescing — the count-less by-column form is a supported coalesce
    origin and collapses right back. It carries ids only and scales
    with ``defaultParallelism``.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    d = (docs.select(F.col(id_col).alias("_jid"), F.col(text_col))
         .repartition(par)
         .select("_jid", tokens(text_col).alias("_toks"))
         .select("_jid", F.array_distinct(
             shingles_from_tokens(F.col("_toks"), n)).alias("_sh")))
    out = (df_pairs.repartition(par, F.col("id_l"))
           .join(d.select(F.col("_jid").alias("id_l"), F.col("_sh").alias("_sh_l")), "id_l")
           .join(d.select(F.col("_jid").alias("id_r"), F.col("_sh").alias("_sh_r")), "id_r"))
    inter = F.size(F.array_intersect("_sh_l", "_sh_r"))
    union = F.size(F.array_union("_sh_l", "_sh_r"))
    return out.select(
        "id_l", "id_r",
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0).alias("jaccard"))


def ngram_jaccard_verify(df_pairs: DataFrame, docs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 3, threshold: float | None = 0.5,
                         broadcast_docs: bool = True) -> DataFrame:
    """Exact n-gram Jaccard VERIFY sized for 10⁸-10⁹-row candidate
    tables — the scale form of :func:`ngram_jaccard` (same |A∩B|/|A∪B|
    set semantics; cf. reference ``pre_processing.py:97-99`` dup
    collapse, generalized to corpus near-dup verification).

    Two changes make the E-row verify tractable where the plain form is
    not (SCALE §1t: 426M candidate pairs × ~1 KB string-shingle arrays
    ≈ 850 GB of join payload — over this host's disk, and pure shuffle
    waste on any cluster):

    - **Sketches, not strings.** Each doc's DISTINCT shingle set is
      carried as ``array<bigint>`` of 32-bit portable base hashes
      (``_shingle_hash`` — the exactness anchor
      :func:`ngram_jaccard_all_pairs` already established; a collision
      inside one ~10²-shingle doc set is ~10⁻⁶). Hashes are computed
      explode-side as a top-level projection (whole-stage codegen md5,
      never inside a ``transform`` lambda) and ``collect_set`` back:
      ~200 B/doc vs ~1 KB of strings.
    - **Map-side doc join.** With ``broadcast_docs`` the V-row sketch
      table broadcasts (5M docs ≈ 1 GB — one copy per executor, two
      build sides) so the E-row pair table streams through WITHOUT
      ever shuffling array payloads; the only per-pair bytes in flight
      are two ids. Boundary: the sketch table must fit executor memory
      (≈ ≤50M short docs); beyond that set ``broadcast_docs=False``
      for the plain shuffle join, or bucket both sides on doc id.

    ``threshold`` filters server-side (verified edges are the sparse
    output CC consumes); pass ``None`` to keep every candidate's score.
    The filter compares the 4-dp-ROUNDED Jaccard (the
    ``verified_clusters``/`_r` convention shared with the oracle SQL
    and the scale probes' string-form spot checks), so a borderline
    pair in [threshold − 5e-5, threshold) passes identically in every
    form; the returned ``jaccard`` column stays raw. Docs with
    NULL/absent text get an EMPTY sketch via a left join (never
    silently dropped): their pairs emit jaccard 0.0, the same set
    semantics as :func:`ngram_jaccard`.

    The sketch build is :func:`exploded_shingle_hashes` (distinct)
    plus ``collect_set``; its plan note is on :func:`_shingle_rows`.
    """
    sk = (exploded_shingle_hashes(docs, text_col, id_col, n, distinct=True)
          .groupBy("_id").agg(F.collect_set("_h").alias("_hs")))
    d_l = sk.select(F.col("_id").alias("id_l"), F.col("_hs").alias("_hs_l"))
    d_r = sk.select(F.col("_id").alias("id_r"), F.col("_hs").alias("_hs_r"))
    if broadcast_docs:
        d_l, d_r = F.broadcast(d_l), F.broadcast(d_r)
    # LEFT joins + empty-set coalesce: a null-text doc has no sketch row
    # (its explode_outer row is null-filtered), and an inner join would
    # silently drop its pairs — the plain form emits them with 0.0.
    empty = F.array().cast("array<bigint>")
    # Pair-side fan-out (same rule as ngram_jaccard): the broadcast doc
    # joins preserve the pair table's partitioning, and on small corpora
    # AQE's byte-based coalescing leaves the ids-only pair stream — and
    # with it the CPU-bound intersect stage — on one task. The explicit
    # count makes the repartition REPARTITION_BY_NUM, the one origin
    # AQE never coalesces. The ids-only shuffle is noise at
    # candidate-mass scale (16 B/row vs the per-pair set arithmetic it
    # parallelizes).
    par = docs.sparkSession.sparkContext.defaultParallelism
    out = (df_pairs.select("id_l", "id_r").repartition(par, F.col("id_l"))
           .join(d_l, "id_l", "left").join(d_r, "id_r", "left")
           .select("id_l", "id_r",
                   F.coalesce("_hs_l", empty).alias("_hs_l"),
                   F.coalesce("_hs_r", empty).alias("_hs_r")))
    inter = F.size(F.array_intersect("_hs_l", "_hs_r"))
    union = F.size("_hs_l") + F.size("_hs_r") - inter
    res = out.select(
        "id_l", "id_r",
        F.when(union > 0, inter.cast("double") / union)
        .otherwise(0.0).alias("jaccard"))
    if threshold is not None:
        res = res.filter(
            F.round(F.col("jaccard") + F.lit(1e-9), 4) >= threshold)
    return res


def _postings(docs: DataFrame, text_col: str, id_col: str,
              n: int) -> DataFrame:
    """(_id, _n, _h): one row per DISTINCT shingle hash of each doc,
    with the doc's distinct-shingle count ``_n``."""
    return (_shingle_rows(docs, text_col, id_col, n, distinct=True)
            .select("_id", "_n", _shingle_hash(F.col("_g")).alias("_h")))


def _overlaps(post: DataFrame) -> DataFrame:
    """(id_l, id_r, inter, _n_l, _n_r) for every pair sharing a posting:
    the self-equi-join on the hash emits one row per shared shingle, so
    ``count(*)`` per pair IS |A∩B|."""
    a = post.select(F.col("_id").alias("id_l"), F.col("_n").alias("_n_l"), "_h")
    b = post.select(F.col("_id").alias("id_r"), F.col("_n").alias("_n_r"), "_h")
    return (a.join(b, "_h")
            .filter(F.col("id_l") < F.col("id_r"))
            .groupBy("id_l", "id_r")
            .agg(F.count(F.lit(1)).alias("inter"),
                 F.min("_n_l").alias("_n_l"), F.min("_n_r").alias("_n_r")))


def ngram_jaccard_all_pairs(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            threshold: float = 0.5) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs via an inverted-index join.

    Each document's DISTINCT shingle set is exploded into (shingle-hash,
    doc) postings; a self-equi-join on the 32-bit shingle hash generates
    exactly one match row per shared shingle, so ``count(*)`` per pair IS
    |A∩B| and Jaccard follows from |A∪B| = |A|+|B|−|A∩B|. Only pairs with
    at least one shared shingle ever materialize — the classic set-
    similarity join (cf. Vernica et al., SIGMOD'10).

    Scale: the join shuffles 8-byte hashes + ids, never text. Super-common
    shingles (boilerplate) skew the bucket sizes; at corpus scale run
    ``minhash_lsh_candidates`` first and verify with ``ngram_jaccard`` —
    this operator is the exact path for bounded inputs and the oracle
    anchor for the approximate ones.
    """
    inter = F.col("inter")
    union = F.col("_n_l") + F.col("_n_r") - inter
    return (_overlaps(_postings(docs, text_col, id_col, n))
            .filter(inter.cast("double") / union >= threshold)
            .select("id_l", "id_r", "inter",
                    union.cast("bigint").alias("union_sz"),
                    (inter.cast("double") / union).alias("jaccard")))


def containment_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold: float = 0.8,
                      max_posting: int | None = None) -> DataFrame:
    """Shingle-CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|)
    (Broder's containment, vs Jaccard's |A∩B|/|A∪B|) — the measure
    that catches doc-IN-doc duplication (a quote, a wholesale
    inclusion, a page wrapping another) which Jaccard structurally
    misses: a 50-shingle doc fully contained in a 5000-shingle doc
    scores containment 1.0 but Jaccard 0.01, below any dedup
    threshold. Same inverted-index set-similarity join as
    :func:`ngram_jaccard_all_pairs` (Vernica et al., SIGMOD'10):
    postings shuffle 8-byte hashes + ids only, pairs materialize only
    when they share a shingle.

    ``max_posting`` is the 100 TB switch (same contract as
    ``simhash_hamming_pairs(max_bucket=)``): shingles whose document
    frequency exceeds it are dropped from CANDIDATE GENERATION only —
    they are corpus boilerplate, and candidate volume is
    Σ C(df, 2) per shingle, so the df head IS the quadratic term
    (measured: the 10× clone corpus holds 2.98e9 raw candidate rows,
    6.6e6 at ``max_posting=500``). Surviving candidates are then
    verified EXACTLY against the full distinct-shingle arrays
    (``array_intersect``, one row per candidate), so every emitted
    score is exact; the only recall loss is a pair whose entire
    overlap is >df-cap boilerplate — at threshold t that requires
    ≥t of the smaller doc's shingles to be boilerplate. MinHash
    banding is NOT the escape hatch here (unlike the Jaccard family):
    doc-in-doc pairs have low Jaccard by construction, which is the
    point of the measure. ``None`` = exact uncapped join.
    """
    post = _postings(docs, text_col, id_col, n)
    if max_posting is not None:
        # stop-shingle list: at most total_postings/cap rows by
        # construction — tiny relative to postings; AQE broadcasts it
        stop = (post.groupBy("_h")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") > max_posting)
                .select("_h"))
        kept = post.join(stop, "_h", "left_anti")
        cand = (kept.select(F.col("_id").alias("id_l"), "_h")
                .join(kept.select(F.col("_id").alias("id_r"), "_h"), "_h")
                .filter(F.col("id_l") < F.col("id_r"))
                .select("id_l", "id_r")
                .distinct())
        sh = _shingle_arrays(docs, text_col, id_col, n, distinct=True)
        ver = (cand
               .join(sh.select(F.col("_id").alias("id_l"),
                               F.col("_sh").alias("_sh_l")), "id_l")
               .join(sh.select(F.col("_id").alias("id_r"),
                               F.col("_sh").alias("_sh_r")), "id_r"))
        inter = F.size(F.array_intersect("_sh_l", "_sh_r"))
        smaller = F.least(F.size("_sh_l"), F.size("_sh_r"))
        return (ver
                .filter(inter.cast("double") / smaller >= threshold)
                .select("id_l", "id_r", inter.cast("bigint").alias("inter"),
                        smaller.cast("bigint").alias("min_sz"),
                        (inter.cast("double") / smaller)
                        .alias("containment")))
    inter = F.col("inter")
    smaller = F.least("_n_l", "_n_r")
    return (_overlaps(post)
            .filter(inter.cast("double") / smaller >= threshold)
            .select("id_l", "id_r", "inter",
                    smaller.cast("bigint").alias("min_sz"),
                    (inter.cast("double") / smaller).alias("containment")))


def simhash_from_hashes(hashed: Column, bits: int = 16) -> Column:
    """SimHash fingerprint from a pre-hashed shingle array.

    Per bit b: sum over shingles of ±1 depending on bit b of the shingle
    hash; fingerprint bit = 1 if the sum > 0. ONE ``aggregate`` pass with
    an array<bigint> accumulator of per-bit votes (elementwise ``zip_with``
    add), then a ``transform``+``aggregate`` to assemble the fingerprint —
    each shingle hash is consumed exactly once. ``bits`` ≤ 32 keeps the
    fingerprint inside a bigint portably.
    """
    # bit masks as a literal array — shiftleft/shiftright need Python-int
    # shift amounts, so bit extraction inside lambdas uses bitwiseAND masks
    masks = F.array(*[F.lit(1 << b).cast("bigint") for b in range(bits)])
    zero = F.array(*[F.lit(0).cast("bigint") for _ in range(bits)])

    votes = F.aggregate(
        hashed, zero,
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)))

    return F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)


# SWAR vote-packing geometry: 2 bit-counters of 31 bits per packed
# bigint sum. Lane width bounds the per-document shingle count the
# counters hold exactly — and 31-bit lanes make overflow UNREACHABLE:
# a Spark string caps at 2³¹-1 bytes, whitespace tokens are ≥2 bytes
# each (char + separator), and the shingle count (duplicates kept)
# never exceeds the token count, so n < 2³⁰ < 2³¹ for ANY document
# the engine can hold, and the top lane's sum (< 2³⁰·2³¹ = 2⁶¹) stays
# inside the signed bigint. Round 12 shipped 3×21-bit lanes with a
# job-killing raise_error past 2²¹ shingles (~12 MB of text — rare
# but real in a web corpus); round 13 measured the 2-lane form
# performance-neutral (simhash_wide_pairs 3.39 vs 3.56 s, simhash
# tie) and dropped the failure mode outright (ADVICE r12 #1).
_SWAR_LANES = 2
_SWAR_LW = 31


def _swar_vote_aggs(hash_col: str, bits: int, prefix: str) -> list[Column]:
    """Packed per-bit popcount aggregates over a hash column: lane ``l``
    of packed sum ``g`` accumulates Σ bit(g·LANES+l) of the hash — one
    bigint SUM carries ``_SWAR_LANES`` bit-counters, so ``bits`` votes
    need ``ceil(bits/LANES)`` aggregation columns instead of ``bits``
    (measured 1.9× on the 48-bit fingerprint build at sf0.1: narrower
    aggregation state AND narrower shuffle rows, guide §2.3). Lane sums
    can't carry into each other below 2^LW shingles per group."""
    aggs = []
    for g in range(0, bits, _SWAR_LANES):
        terms = [f"shiftleft(shiftright({hash_col}, {b}) & 1, "
                 f"{(b - g) * _SWAR_LW})"
                 for b in range(g, min(g + _SWAR_LANES, bits))]
        aggs.append(F.sum(F.expr(" + ".join(terms)))
                    .alias(f"{prefix}{g // _SWAR_LANES}"))
    return aggs


def _swar_fp_sql(n_col: str, bits: int, prefix: str) -> str:
    """SQL assembling the fingerprint from packed vote sums: per bit,
    ones = the bit's lane counter, vote = 2·ones − n, fingerprint bit
    set iff vote > 0 — integer-exact, identical to the per-bit ±1 sum
    form. No overflow guard needed: 31-bit lanes cannot overflow for
    any representable document (see the _SWAR_LANES geometry note)."""
    mask = (1 << _SWAR_LW) - 1
    terms = []
    for b in range(bits):
        g, l = b // _SWAR_LANES, b % _SWAR_LANES
        ones = f"(shiftright({prefix}{g}, {l * _SWAR_LW}) & {mask})"
        terms.append(f"(CASE WHEN 2 * {ones} - {n_col} > 0 "
                     f"THEN CAST({1 << b} AS BIGINT) "
                     f"ELSE CAST(0 AS BIGINT) END)")
    return " + ".join(terms)


def simhash_fingerprints(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 2,
                         bits: int = 16, hex_digits: int = 8) -> DataFrame:
    """(_id, _fp bigint) SimHash fingerprint table via the exploded fast
    path: per-bit ±1 votes ride SWAR-packed popcount aggregates
    (codegen'd, map-side combined — duplicates kept: SimHash weights by
    shingle frequency), then the fingerprint assembles from the vote
    signs. Bit-identical to the one-SUM-per-bit form (votes are exact
    integers); ceil(bits/_SWAR_LANES) packed sums replace ``bits``
    sums — measured 1.2-1.4× across the simhash query family at
    sf0.1 (r13 quiet-host A/B vs the per-bit form).

    Raises ``ValueError`` unless ``1 <= bits <= 4 * hex_digits`` and
    ``hex_digits <= 15``: the base hash carries ``4 * hex_digits`` bits,
    so every fingerprint bit above that is 0 for every document (a band
    cut from those bits puts the whole corpus in one bucket), and 16 hex
    digits overflow the signed bigint."""
    if not (1 <= bits <= 4 * hex_digits and hex_digits <= 15):
        raise ValueError(
            f"simhash needs 1 <= bits <= 4 * hex_digits and hex_digits "
            f"<= 15; got bits={bits}, hex_digits={hex_digits}")
    ex = exploded_shingle_hashes(docs, text_col, id_col, n,
                                 hex_digits=hex_digits)
    return (ex.groupBy("_id")
            .agg(F.count(F.lit(1)).alias("_n"),
                 *_swar_vote_aggs("_h", bits, "_p"))
            .select("_id", F.expr(_swar_fp_sql("_n", bits, "_p"))
                    .alias("_fp")))


def _band_chunks(fps: DataFrame, id_col: str, fp_cols: list[str],
                 bits: int, bands: int, max_hamming: int) -> DataFrame:
    """(_id, _f0.._fk, band, chunk): one row per band of each fingerprint.

    The ``bits``-bit fingerprint, held in ``fp_cols`` of ``bits/k`` bits
    each, splits into ``bands`` chunks of ``bits // bands`` bits that
    never straddle two columns. Shifts are unsigned, and with the mask a
    negative 64-bit fingerprint (image dHash) chunks like any other. The
    bands unroll in Python: the shift amount must be a literal int, not
    a Column."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding finds all pairs only up to hamming {bands - 1}; "
            f"got max_hamming={max_hamming}")
    if bands % len(fp_cols) != 0:
        raise ValueError("bands must split evenly across the fingerprint "
                         f"columns; got bands={bands} over {len(fp_cols)}")
    per_col = bands // len(fp_cols)
    chunk_bits = bits // bands
    mask = (1 << chunk_bits) - 1
    fs = [f"_f{i}" for i in range(len(fp_cols))]
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.shiftrightunsigned(F.col(fp_cols[band // per_col]),
                                 (band % per_col) * chunk_bits)
            .bitwiseAND(F.lit(mask)).alias("chunk"))
        for band in range(bands)]
    return (fps.select(F.col(id_col).alias("_id"),
                       *[F.col(c).alias(f) for c, f in zip(fp_cols, fs)],
                       F.explode(F.array(*band_structs)).alias("bc"))
            .select("_id", *fs, "bc.band", "bc.chunk"))


def _chunk_join(a: DataFrame, b: DataFrame, id_a: str, id_b: str,
                max_hamming: int, ordered: bool) -> DataFrame:
    """(id_a, id_b, hamming): equi-join two :func:`_band_chunks` tables
    on (band, chunk) and verify with Σ ``bit_count(xor)`` over the
    fingerprint columns. ``ordered`` keeps only ``id_a < id_b`` (the
    self-join)."""
    fs = [c for c in a.columns if c.startswith("_f")]
    l = a.select(F.col("_id").alias(id_a),
                 *[F.col(f).alias(f + "a") for f in fs], "band", "chunk")
    r = b.select(F.col("_id").alias(id_b),
                 *[F.col(f).alias(f + "b") for f in fs], "band", "chunk")
    j = l.join(r, on=["band", "chunk"])
    if ordered:
        j = j.filter(F.col(id_a) < F.col(id_b))
    xors = [F.bit_count(F.col(f + "a").bitwiseXOR(F.col(f + "b")))
            for f in fs]
    ham = sum(xors[1:], xors[0])
    return (j.select(id_a, id_b, ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .groupBy(id_a, id_b)
            .agg(F.min("hamming").alias("hamming")))


def hamming_pairs(fps: DataFrame, id_col: str, fp_col: str | list[str],
                  bits: int = 64, bands: int = 4,
                  max_hamming: int = 3,
                  max_bucket: int | None = None) -> DataFrame:
    """(id_l, id_r, hamming): every pair within Hamming distance
    ``max_hamming`` of a ``bits``-bit fingerprint — the one banded
    Hamming join, for SimHash (:func:`simhash_hamming_pairs`,
    :func:`simhash_wide_pairs`) and any precomputed fingerprint column
    (the image dHash in ``operators/multimodal.py``). ``fp_col`` is one
    column, or a list of columns that together hold ``bits`` bits.

    The fingerprint splits into ``bands`` chunks; by pigeonhole, any
    pair within Hamming distance ``bands - 1`` shares at least one
    identical chunk, so an equi-join on (band, chunk) finds all such
    pairs without the O(n²) cross join (Manku et al., WWW'07). The join
    shuffles (band, chunk, id, fingerprint) rows only. Candidates verify
    with ``bit_count(fp_l XOR fp_r)``. Raises ``ValueError`` if
    ``max_hamming > bands - 1``.

    ``max_bucket`` (optional) is the skew cap MinHash banding already
    carries: (band, chunk) buckets holding more than ``max_bucket``
    fingerprints are dropped from pair generation. On templated corpora
    the chunk distribution is heavily non-uniform (SCALE.md §1e measured
    a 27× skew multiplier over the uniform-occupancy prediction at 500k
    docs), so a handful of super-buckets carry most of the quadratic
    candidate volume; the cap trades recall ONLY against those
    boilerplate-like super-clusters (a pair is still found via any OTHER
    band whose bucket is under the cap) and restores ~linear emitted
    volume. ``None`` (default) preserves the exact pigeonhole guarantee
    — the oracle-checked queries use the uncapped form.
    """
    cols = [fp_col] if isinstance(fp_col, str) else list(fp_col)
    chunks = _band_chunks(fps, id_col, cols, bits, bands, max_hamming)
    if max_bucket is not None:
        chunks = chunks.withColumn(
            "_bn", F.count(F.lit(1)).over(
                Window.partitionBy("band", "chunk"))
        ).filter(F.col("_bn") <= max_bucket).drop("_bn")
    return _chunk_join(chunks, chunks, "id_l", "id_r", max_hamming,
                       ordered=True)


def simhash_hamming_pairs(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 2,
                          bits: int = 16, bands: int = 4,
                          max_hamming: int = 3,
                          hex_digits: int = 8,
                          max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``:
    :func:`simhash_fingerprints` banded by :func:`hamming_pairs` (same
    pigeonhole contract and ``max_bucket`` cap). All arithmetic is
    integer and md5-portable, so an external SQL engine reproduces the
    exact pair set (full value oracle, not rows-only). Wider
    fingerprints need a matching ``hex_digits`` (``bits=48,
    hex_digits=12``); past 60 bits use :func:`simhash_wide_pairs`.
    """
    fp = simhash_fingerprints(docs, text_col, id_col, n, bits,
                              hex_digits=hex_digits)
    return hamming_pairs(fp, "_id", "_fp", bits, bands, max_hamming,
                         max_bucket)


def simhash_wide_fingerprints(docs: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", n: int = 2,
                              half_bits: int = 48) -> DataFrame:
    """(_id, _fp_lo, _fp_hi): a 2×``half_bits``-bit SimHash fingerprint
    built from two DISJOINT md5 segments of each shingle (hex digits
    1..12 and 17..28 at the default) — the wider-hash engineering step
    SCALE §1o's width rule calls for once fixed 60-bit fingerprints are
    exhausted (5M docs need ≥18 bits per band chunk; a single signed
    int64 caps at 15 hex = 60 bits). Two int64 halves lift the ceiling
    to 120 bits with every hash/vote still native 64-bit arithmetic.

    ``_fp_lo`` is bit-identical to ``simhash_fingerprints(bits=half_bits,
    hex_digits=half_bits//4)`` (same md5-prefix base hash), so the wide
    form strictly extends the narrow one. The md5 materializes ONCE per
    exploded shingle row, in its own projection; both segment hashes
    are top-level projections of it.
    """
    if not 1 <= half_bits <= 60:
        raise ValueError("half_bits must be in [1, 60] (int64 headroom)")
    hexd = (half_bits + 3) // 4
    ex = (_shingle_rows(docs, text_col, id_col, n)
          .select("_id", F.md5("_g").alias("_m"))
          .select("_id",
                  F.conv(F.substring("_m", 1, hexd), 16, 10).cast("bigint")
                  .alias("_hlo"),
                  F.conv(F.substring("_m", 17, hexd), 16, 10).cast("bigint")
                  .alias("_hhi")))

    # SWAR-packed votes per half (see _swar_vote_aggs):
    # 2·ceil(48/_SWAR_LANES) packed sums replace 96 per-bit sums,
    # sharing one count column
    return (ex.groupBy("_id")
            .agg(F.count(F.lit(1)).alias("_n"),
                 *_swar_vote_aggs("_hlo", half_bits, "_plo"),
                 *_swar_vote_aggs("_hhi", half_bits, "_phi"))
            .select("_id",
                    F.expr(_swar_fp_sql("_n", half_bits, "_plo"))
                    .alias("_fp_lo"),
                    F.expr(_swar_fp_sql("_n", half_bits, "_phi"))
                    .alias("_fp_hi")))


def simhash_wide_pairs(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 2,
                       half_bits: int = 48, bands: int = 4,
                       max_hamming: int = 3,
                       max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate pairs over the 2×``half_bits``-bit wide SimHash:
    :func:`hamming_pairs` over both halves, so the fingerprint splits
    into ``bands`` chunks of ``2*half_bits/bands`` bits (24-bit chunks
    at the default — past the ≥18 bits/chunk the §1o width rule derives
    for 5M-doc corpora, where the 60-bit form's 15-bit chunks are
    exhausted), and random chunk collisions stay ~0 as N grows. All
    pairs within Hamming distance ``bands - 1`` across the full
    2×``half_bits`` bits are found (``bands`` must be even: chunks never
    straddle halves). Hamming verifies as
    ``bit_count(lo⊕lo') + bit_count(hi⊕hi')``.
    """
    fp = simhash_wide_fingerprints(docs, text_col, id_col, n, half_bits)
    return hamming_pairs(fp, "_id", ["_fp_lo", "_fp_hi"], 2 * half_bits,
                         bands, max_hamming, max_bucket)


def simhash_cross_matches(probe: DataFrame, index: DataFrame,
                          bits: int = 48, bands: int = 4,
                          max_hamming: int = 3) -> DataFrame:
    """Near matches BETWEEN two fingerprint tables (each ``(_id, _fp)``):
    ``(probe_id, index_id, hamming)`` for every probe fingerprint within
    ``max_hamming`` of an index fingerprint — the incremental-dedup
    primitive (probe = new micro-batch, index = corpus kept so far).

    The chunking and verify of :func:`hamming_pairs`, but the
    band-chunk equi-join runs probe × index instead of self — per batch
    the shuffle is O(probe chunks + matching index chunks), never the
    full index (chunks are hash-partitioned; a 100 TB index is touched
    only where a probe chunk collides).
    """
    a = _band_chunks(probe, "_id", ["_fp"], bits, bands, max_hamming)
    b = _band_chunks(index, "_id", ["_fp"], bits, bands, max_hamming)
    return _chunk_join(a, b, "probe_id", "index_id", max_hamming,
                       ordered=False)


def simhash(col: Column | str, n: int = 2, bits: int = 16) -> Column:
    """SimHash fingerprint over word n-grams (portable arithmetic).

    Convenience form; in pipelines materialize ``hashed_shingles`` in its
    own select first so the md5 pass runs once (see module docstring).
    """
    return simhash_from_hashes(hashed_shingles(col, n), bits)


def ngram_contamination(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, flag_threshold: float = 0.2) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of its
    distinct n-gram shingles that also occur anywhere in the benchmark
    set — the standard pre-training hygiene check that eval data has not
    leaked into the training corpus.

    Plan shape: the benchmark's DISTINCT shingle-hash set is tiny next to
    the corpus (eval suites are fixed-size), so it broadcasts; the corpus
    side explodes to (doc, shingle-hash) postings once and left-semi
    aggregates. Per-doc output: total distinct shingles, how many are
    contaminated, the rate, and a 0/1 flag at ``flag_threshold``. The
    corpus scan dominates; shuffle is one groupBy on doc id.

    All arithmetic is md5-portable (32-bit shingle base hashes), so an
    external SQL engine reproduces the exact counts — full value oracle.
    """
    cs = (corpus.select(F.col(id_col).alias("_id"),
                        tokens(text_col).alias("_t"))
          .select("_id", F.explode(F.array_distinct(
              hash_shingles(shingles_from_tokens(F.col("_t"), n)))).alias("_h")))
    bs = (benchmark.select(tokens(text_col).alias("_t"))
          .select(F.explode(hash_shingles(
              shingles_from_tokens(F.col("_t"), n))).alias("_h"))
          .distinct()
          .withColumn("_hit", F.lit(1)))
    joined = cs.join(F.broadcast(bs), on="_h", how="left")
    out = (joined.groupBy(F.col("_id").alias(id_col))
           .agg(F.count(F.lit(1)).alias("n_shingles"),
                F.sum(F.coalesce("_hit", F.lit(0))).alias("n_contaminated")))
    rate = F.col("n_contaminated") / F.col("n_shingles")
    return out.select(
        id_col, "n_shingles",
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        rate.alias("contamination_rate"),
        (rate >= flag_threshold).cast("int").alias("flagged"))


def duplicate_spans(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 5,
                    min_docs: int = 2, hex_digits: int = 8) -> DataFrame:
    """Per-document duplicated-PASSAGE detection (the positional exact-
    substring family of Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): instead of asking "is this document
    a near-dup", find WHICH token runs inside each document also occur
    in other documents — the memorization-prone boilerplate a span-level
    scrubber would cut.

    Method: every token position opens an ``n``-gram; a position is
    *duplicated* when its n-gram hash occurs in ≥ ``min_docs`` distinct
    documents; overlapping/adjacent duplicated positions merge into
    maximal spans (gaps-and-islands over a per-document window). A
    shared run of L ≥ n tokens yields L−n+1 consecutive duplicated
    positions that merge back into one span of exactly L tokens, so
    span boundaries are token-exact — the suffix-array result for runs
    ≥ n, without a distributed suffix array.

    Returns one row per document: ``(id_col, n_tokens, n_spans,
    dup_tokens, dup_fraction)`` (0/0.0 when nothing is duplicated).

    Scale design: the shuffle carries (id, position, 32-bit hash) rows,
    never text; the duplicated-hash set is a map-side-combined groupBy
    on the hash key; the join back is an equi-join on that key (each
    position row matches at most once — no pair blowup, unlike
    candidate-pair generation); the islands window partitions per
    document. Docs shorter than ``n`` tokens fall back to one whole-doc
    shingle (same convention as ``shingles_from_tokens``).
    """
    pos = (_shingle_rows(docs, text_col, id_col, n, positions=True)
           .select("_id", F.col("_nt").alias("n_tokens"), "pos",
                   _shingle_hash_w(F.col("_g"), hex_digits).alias("_h")))
    dup = (pos.groupBy("_h")
           .agg(F.countDistinct("_id").alias("_nd"))
           .filter(F.col("_nd") >= min_docs)
           .select("_h"))
    glen = F.least(F.lit(n), F.col("n_tokens"))
    hits = (pos.join(dup, on="_h")
            .select("_id", "n_tokens", "pos",
                    (F.col("pos") + glen - 1).alias("_end")))
    w_prev = (Window.partitionBy("_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, 0))
    pmax = F.max("_end").over(w_prev)
    brk = F.when(pmax.isNull() | (F.col("pos") > pmax), 1).otherwise(0)
    spans = (hits.withColumn("_brk", brk)
             .withColumn("_isl", F.sum("_brk").over(w_run))
             .groupBy("_id", "_isl")
             .agg(F.min("pos").alias("_s"), F.max("_end").alias("_e")))
    per = (spans.groupBy("_id")
           .agg(F.count(F.lit(1)).alias("n_spans"),
                F.sum(F.col("_e") - F.col("_s") + 1).alias("dup_tokens")))
    base = (docs.select(F.col(id_col).alias("_id"), F.col(text_col))
            .select("_id", F.size(tokens(text_col)).alias("n_tokens")))
    return (base.join(per, on="_id", how="left")
            .select(F.col("_id").alias(id_col), "n_tokens",
                    F.coalesce("n_spans", F.lit(0)).cast("bigint")
                    .alias("n_spans"),
                    F.coalesce("dup_tokens", F.lit(0)).cast("bigint")
                    .alias("dup_tokens"),
                    (F.coalesce("dup_tokens", F.lit(0))
                     / F.col("n_tokens")).alias("dup_fraction")))


def repetition_profile(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """The line/word repetition rules from Gopher's quality filter
    (Rae et al. 2021 §A1.1; also C4/RefinedWeb) that ``doc_repetition``
    (shingle-level) does not cover:

    - ``dup_line_frac``: fraction of non-empty trimmed lines that are
      repeats of an earlier-seen line (1 − distinct/total);
    - ``dup_line_char_frac``: fraction of line CHARACTERS contained in
      lines occurring more than once (every occurrence counts — the
      paper's "fraction of characters in duplicate lines");
    - ``dup_word_frac``: same ratio at word granularity;
    - ``top_bigram_share``: characters of the single most frequent word
      2-gram (space removed) over all word characters — the paper's
      "top n-gram character fraction" at n=2. Ties break on the
      lexicographically smallest bigram, deterministic in any engine.

    Scale shape: two explodes (lines, word bigrams) each collapsed by a
    map-side-combined groupBy on (doc, unit); the per-doc top-bigram is a
    key-partitioned row_number window. Nothing global, nothing driver-side.
    Single-line docs (no ``\\n``) degenerate to dup_line_frac = 0 — the
    adversarial edge gate exercises the multi-line path.
    """
    d = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))

    lines = (d.select("_id", F.explode(F.filter(
                F.transform(F.split("_t", "\n"), lambda x: F.trim(x)),
                lambda x: F.length(x) > 0)).alias("_line"))
             .groupBy("_id", "_line")
             .agg(F.count(F.lit(1)).alias("_c"),
                  F.length(F.first("_line")).alias("_len"))
             .groupBy("_id")
             .agg(F.sum("_c").alias("n_lines"),
                  F.count(F.lit(1)).alias("_nd_lines"),
                  F.sum(F.col("_c") * F.col("_len")).alias("_lchars"),
                  F.sum(F.when(F.col("_c") > 1,
                               F.col("_c") * F.col("_len"))
                        .otherwise(F.lit(0))).alias("_dup_lchars")))

    toks = d.select("_id", F.filter(
        F.split(F.lower(F.trim("_t")), r"\s+"),
        lambda x: F.length(x) > 0).alias("_toks"))
    words = (toks.select("_id", F.explode("_toks").alias("_w"))
             .groupBy("_id", "_w")
             .agg(F.count(F.lit(1)).alias("_c"),
                  F.length(F.first("_w")).alias("_len"))
             .groupBy("_id")
             .agg(F.sum("_c").alias("n_words"),
                  F.count(F.lit(1)).alias("_nd_words"),
                  F.sum(F.col("_c") * F.col("_len")).alias("_wchars")))

    nt = F.size("_toks")
    bigrams = (toks.filter(nt >= 2)
               .select("_id", F.explode(F.zip_with(
                   F.slice("_toks", 1, nt - 1),
                   F.slice("_toks", 2, nt - 1),
                   lambda a, b: F.concat_ws(" ", a, b))).alias("_bg"))
               .groupBy("_id", "_bg")
               .agg(F.count(F.lit(1)).alias("_c")))
    w_top = Window.partitionBy("_id").orderBy(F.col("_c").desc(), "_bg")
    top_bg = (bigrams.withColumn("_rk", F.row_number().over(w_top))
              .filter(F.col("_rk") == 1)
              .select("_id", F.col("_bg").alias("top_bigram"),
                      (F.col("_c") * F.length(
                          F.replace(F.col("_bg"), F.lit(" "), F.lit(""))))
                      .alias("_top_chars")))

    zero = F.lit(0.0)
    base = d.select("_id")
    return (base.join(lines, on="_id", how="left")
            .join(words, on="_id", how="left")
            .join(top_bg, on="_id", how="left")
            .select(
                F.col("_id").alias(id_col),
                F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                F.coalesce(F.lit(1.0) - F.col("_nd_lines") / F.col("n_lines"),
                           zero).alias("dup_line_frac"),
                F.coalesce(F.col("_dup_lchars") / F.col("_lchars"), zero)
                .alias("dup_line_char_frac"),
                F.coalesce("n_words", F.lit(0)).alias("n_words"),
                F.coalesce(F.lit(1.0) - F.col("_nd_words") / F.col("n_words"),
                           zero).alias("dup_word_frac"),
                F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
                F.coalesce(F.col("_top_chars") / F.col("_wchars"), zero)
                .alias("top_bigram_share")))

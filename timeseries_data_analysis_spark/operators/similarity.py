"""Embedding similarity search (ANN) over ``array<float>`` columns.

Training-data-pipeline operator (not in the reference, which has no
embeddings): brute-force cosine top-k as the exact baseline, and an
LSH-bucketed (random hyperplane) variant as the 100 TB scale path.

Scale design:
- Brute force: the query set is broadcast (it is small by construction);
  the corpus streams through one map stage computing dot products with
  ``zip_with``/``aggregate`` (JVM higher-order functions, no Python), and
  top-k per query is a TakeOrderedAndProject per group — no all-pairs
  shuffle of the corpus.
- LSH: each vector maps to a signed-projection bucket; queries probe only
  their bucket (and optionally neighboring buckets), turning O(N·Q) into
  O(N/2^bits · Q) at a recall cost. Hyperplanes are deterministic
  (seeded) so results are reproducible.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via ``zip_with`` + ``aggregate`` — JVM-side, no UDF."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    den = l2_norm(a) * l2_norm(b)
    return F.when(den > 0, dot(a, b) / den).otherwise(F.lit(0.0))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries(query_id, embedding)`` is broadcast; returns
    ``(query_id, vec_id, sim, rk)``. Excludes self-matches when ids collide.
    """
    from pyspark.sql import Window
    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec")))
    joined = corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(q)
    scored = joined.select(
        "query_id", id_col,
        cosine(F.col(vec_col), F.col("_qvec")).alias("sim"),
    ).filter(F.col(id_col) != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG — no numpy dependency
    in the plan; coefficients are baked into the closure as literals)."""
    state = seed
    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        norm = math.sqrt(sum(v * v for v in row)) or 1.0
        planes.append([v / norm for v in row])
    return planes


def lsh_bucket_sql(vec_sql: str, dim: int, bits: int = 8,
                   seed: int = 42) -> str:
    """SQL text of :func:`lsh_bucket` for a column/expression given as SQL.

    Why a string builder exists at all: the Column form costs one py4j
    round trip per ``F.lit``/operator — bits·dim literals ≈ thousands of
    driver RPCs rebuilt on EVERY query construction (measured 3.2-4.2 s
    of pure Python time for the 6-band × 8-bit × 64-dim near-dup plan).
    The parsed expression tree is identical — ``0.0D`` is DoubleType
    exactly like ``F.lit(0.0)``, ``repr(float)`` round-trips the IEEE
    bits, lambda variable names don't affect semantics — so results are
    bit-equal; only the construction path changes (one ``expr()`` parse).
    """
    planes = _hyperplanes(dim, bits, seed)
    terms = []
    for b, plane in enumerate(planes):
        arr = ", ".join(f"{p!r}D" for p in plane)
        proj = (f"aggregate(zip_with({vec_sql}, array({arr}),"
                f" (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)")
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << b} ELSE 0 END)")
    return "0 + " + " + ".join(terms)


def lsh_bucket(vec: Column | str, dim: int, bits: int = 8,
               seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket id (0..2^bits-1) for a vector column.

    ``vec`` as a str (column name / SQL expression) takes the single-parse
    SQL fast path; a Column argument keeps the legacy builder (for callers
    composing the signature vector from other Columns, e.g. KNN imputation).

    The str form is TRUSTED-SQL-only (ADVICE r12): it is embedded
    verbatim in generated SQL, so callers quoting a column NAME must
    escape embedded backticks (``name.replace("`", "``")`` — see
    ``lsh_topk``); never pass untrusted text.
    """
    if isinstance(vec, str):
        return F.expr(lsh_bucket_sql(vec, dim, bits, seed))
    planes = _hyperplanes(dim, bits, seed)
    bucket = F.lit(0)
    for b, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(p) for p in plane]), lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             bits: int = 8, id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket, then exact cosine within.

    Recall/latency tradeoff via ``bits`` (8 bits ≈ 256 buckets → ~1/256 of
    the corpus scanned per query on uniform data).
    """
    from pyspark.sql import Window
    # backtick-escape the quoted column name: lsh_bucket's str form is
    # trusted SQL, and an embedded backtick would otherwise break out
    # of the quoting (ADVICE r12)
    cb = corpus.withColumn("_bucket", lsh_bucket(
        f"`{vec_col.replace('`', '``')}`", dim, bits))
    qb = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
    ).withColumn("_bucket", lsh_bucket("_qvec", dim, bits)))
    joined = cb.join(qb, on="_bucket")
    scored = joined.select(
        "query_id", id_col,
        cosine(F.col(vec_col), F.col("_qvec")).alias("sim"),
    ).filter(F.col(id_col) != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def lsh_neardup_pairs(vectors: DataFrame, dim: int, threshold: float = 0.35,
                      bands: int = 6, bits: int = 4, seed: int = 1000,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH —
    the 100 TB scale replacement for the exact all-pairs anchor
    (``q_emb_near_dup``): candidate pairs come from an equi-join on
    (band, bucket), never a cross join.

    Each vector gets ``bands`` independent bucket ids (``bits`` sign bits
    per band, seeds ``seed+band``); two vectors are CANDIDATES when any
    band agrees, and candidates are verified with the exact cosine before
    emission, so precision is exact — banding only bounds recall. For
    random hyperplanes P(bit agrees) = 1 - θ/π, so band-match probability
    is that to the ``bits``-th power and recall follows the standard
    1-(1-p^bits)^bands S-curve: more bands → recall, more bits →
    selectivity. At corpus scale raise ``bits`` (16 → 65k buckets/band)
    so per-bucket pair counts stay bounded; the demo width keeps buckets
    dense enough to exercise the verify stage on small fixtures.

    Returns ``(id_l, id_r, sim)`` with ``id_l < id_r``, sim rounded to 6.
    """
    base = vectors.select(F.col(id_col).alias("_id"),
                          F.col(vec_col).cast("array<double>").alias("_v"))
    # one SQL parse for all bands — the Column form costs bands·bits·dim
    # py4j literal round trips per query construction (guide §4/§7.3:
    # driver-side plan construction is single-threaded wall time)
    buckets = F.expr(
        "array(" + ", ".join(lsh_bucket_sql("_v", dim, bits, seed + b)
                             for b in range(bands)) + ")")
    # band only (id, band, bucket) — the self-join shuffles 3 small ints
    # per banded row, never the vectors (carrying vectors through the
    # explode would shuffle ``bands`` copies of the whole corpus).
    # localCheckpoint: the 24-plane projection is a HUGE expression tree
    # (bands·bits·dim literals) whose codegen+eval would otherwise run
    # on BOTH sides of the self-join and again in any downstream
    # re-execution (e.g. connected components); the checkpointed frame
    # is 3 ints per banded row — the same size class the CC edge list
    # already materializes.
    long = (base.select("_id", F.posexplode(buckets).alias("band", "bucket"))
            .localCheckpoint())
    cand = (long.alias("a")
            .join(long.alias("b"), on=["band", "bucket"])
            .select(F.col("a._id").alias("id_l"), F.col("b._id").alias("id_r"))
            .filter(F.col("id_l") < F.col("id_r"))
            .distinct())
    # verify stage: fetch vectors for surviving candidates only — two
    # id-equi-joins shuffling the corpus once per side, then exact cosine.
    # The explicit hash repartition matters when the vector side is small
    # enough to broadcast: AQE then coalesces the distinct's output by
    # BYTES (candidate rows are 16 B) and the CPU-bound cosine fold lands
    # on a handful of tasks (measured 4 tasks / 4.2 s → 32 tasks / 2.2 s
    # at sf0.1). With a large vector side the join's own shuffle fans out
    # anyway and this exchange is reused by subset-key co-partitioning.
    # EXPLICIT count (round-12 fix): the count-less by-column form is a
    # supported AQE coalesce origin in Spark 4.1 and the 16 B/row stream
    # still collapsed below the 1 MB minPartitionSize floor; only
    # REPARTITION_BY_NUM is never coalesced.
    cand = cand.repartition(
        vectors.sparkSession.sparkContext.defaultParallelism,
        F.col("id_l"))
    # norms hoisted to the per-VECTOR projections: cosine() inline would
    # recompute each side's l2_norm once per PAIR (pairs >> vectors on a
    # banded graph); den = norm_l * norm_r is the same arithmetic on the
    # same values, so sims are bit-identical (guide §2.3: shrink per-row
    # work before the verify join, the pair stream carries ids only)
    va = base.select(F.col("_id").alias("id_l"), F.col("_v").alias("_va"),
                     l2_norm(F.col("_v")).alias("_na"))
    vb = base.select(F.col("_id").alias("id_r"), F.col("_v").alias("_vb"),
                     l2_norm(F.col("_v")).alias("_nb"))
    den = F.col("_na") * F.col("_nb")
    sim = F.when(den > 0, dot(F.col("_va"), F.col("_vb")) / den) \
        .otherwise(F.lit(0.0))
    return (cand.join(va, on="id_l").join(vb, on="id_r")
            .select("id_l", "id_r", sim.alias("_s"))
            .filter(F.col("_s") > threshold)
            .select("id_l", "id_r",
                    (F.round(F.col("_s") + F.lit(1e-9), 6) + 0.0).alias("sim")))


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-label mean vector in LONG form: (label, pos, c) — one row per
    (label, dimension).

    ``posexplode`` turns the N×D corpus into N·D scalar rows; the groupBy
    on (label, pos) partial-aggregates map-side, so the shuffle carries at
    most |labels|·D rows per partition regardless of corpus size — the
    scalable way to average 100 TB of vectors (no driver collect, no UDF).
    """
    return (df.select(F.col(label_col).alias("label"),
                      F.posexplode(F.col(vec_col)).alias("pos", "v"))
            .groupBy("label", "pos")
            .agg(F.avg("v").alias("c")))


def centroid_cosine_pairs(centroids_long: DataFrame) -> DataFrame:
    """Pairwise cosine similarity between label centroids given in long
    (label, pos, c) form: self-join on the dimension index, one agg pass
    computing Σab, Σa², Σb² per pair. |labels|² is tiny by construction,
    so the join input is the already-aggregated centroid table.
    """
    a = centroids_long.select(F.col("label").alias("label_l"),
                              "pos", F.col("c").alias("_ca"))
    b = centroids_long.select(F.col("label").alias("label_r"),
                              "pos", F.col("c").alias("_cb"))
    pairs = a.join(b, "pos").filter(F.col("label_l") < F.col("label_r"))
    agg = pairs.groupBy("label_l", "label_r").agg(
        F.sum(F.col("_ca") * F.col("_cb")).alias("_dot"),
        F.sum(F.col("_ca") * F.col("_ca")).alias("_na"),
        F.sum(F.col("_cb") * F.col("_cb")).alias("_nb"))
    den = F.sqrt(F.col("_na")) * F.sqrt(F.col("_nb"))
    return agg.select(
        "label_l", "label_r",
        F.when(den > 0, F.col("_dot") / den).otherwise(F.lit(0.0)).alias("cos_sim"))


# -- IVF (inverted-file) ANN --------------------------------------------------

def ivf_fit_centroids(corpus: DataFrame, n_centroids: int = 16,
                      seed: int = 42, max_iter: int = 20,
                      sample_fraction: float | None = None,
                      vec_col: str = "embedding") -> DataFrame:
    """Coarse quantizer for IVF: k-means centroids of the corpus vectors.

    Spark ML KMeans (kmeans|| init, seeded) fits on the corpus — or on a
    ``sample_fraction`` of it, the standard play at 100 TB where a ~1%
    sample trains centroids just as well. The model's centers are a tiny
    driver-side list (n_centroids × dim floats) re-emitted as a DataFrame
    to broadcast into the assignment joins.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    rows = [(i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())]
    return corpus.sparkSession.createDataFrame(
        rows, "centroid_id int, centroid array<double>")


def _assign_cells(vectors: DataFrame, centroids: DataFrame, n_probe: int,
                  id_col: str, vec_col: str) -> DataFrame:
    """Top ``n_probe`` centroids per vector by cosine (broadcast cross join).

    Norms are materialized per vector and per centroid BEFORE the N×C
    scoring select — inlining cosine() would recompute both norms per
    pair, C× more sqrt/aggregate passes than needed.

    The per-vector top-``n_probe`` is a groupBy with a map-side-combined
    ``sort_array(collect_list(struct(csim, -centroid_id)))`` rather than
    a row_number window (round 13, guide §2.3): the window form shuffled
    N×C scored rows EACH carrying the full vector payload (~C× the
    necessary bytes — 430 MB at sf0.1's N×16×64-double plan) and paid a
    per-partition sort; the groupBy combines to one row per vector
    map-side (the broadcast cross join scores all C centroids of a
    vector in its source partition), so the exchange carries each vector
    ONCE plus C small (csim, id) structs. Selection is identical:
    descending struct order on (csim, -centroid_id) is exactly
    row_number over (csim DESC, centroid_id ASC), and centroid ids are
    unique so no tie reaches the payload fields.
    """
    v = vectors.select(id_col, F.col(vec_col).cast("array<double>").alias("_v")) \
        .withColumn("_vn", l2_norm(F.col("_v")))
    c = F.broadcast(centroids.withColumn("_cn", l2_norm(F.col("centroid"))))
    den = F.col("_vn") * F.col("_cn")
    scored = v.crossJoin(c).select(
        id_col, "_v", "centroid_id",
        F.when(den > 0, dot(F.col("_v"), F.col("centroid")) / den)
        .otherwise(F.lit(0.0)).alias("_csim"))
    s = F.struct(F.col("_csim").alias("c"),
                 (-F.col("centroid_id")).alias("nid"))
    top = (scored.groupBy(id_col)
           .agg(F.first("_v").alias("_v"),
                F.slice(F.sort_array(F.collect_list(s), False), 1, n_probe)
                .alias("_top")))
    return (top.select(id_col, "_v",
                       F.explode("_top").alias("_t"))
            .select(id_col, "_v", (-F.col("_t.nid")).alias("centroid_id")))


def ivf_store_topk(spark, store_path: str, queries: DataFrame,
                   centroids: DataFrame, k: int = 5, n_probe: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id") -> DataFrame:
    """Probed top-k over a CELL-partitioned IVF store (as written by
    ``streaming.jobs.ivf_commit_batch``): each query's ``n_probe``
    nearest cells become an IN-filter on the store's ``cell`` partition
    column, so the parquet scan reads ONLY those cells' directories —
    Spark's partition pruning IS the inverted-index lookup; no bespoke
    index structure, no full scan. Exact cosine ranks within the probed
    cells.

    The probed-cell set is collected to literals deliberately: it is
    ≤ |queries|·n_probe ints (queries are small by contract), and a
    literal IN-list is what static partition pruning needs to elide
    directories at planning time.
    """
    from pyspark.sql import Window
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_qv"))
    # ONE evaluation of the probe assignment: the collected rows feed
    # both the literal IN-list (what static pruning needs) and the
    # (query, cell) probes frame — re-evaluating the lineage for the
    # join would double the assignment work and, for a non-deterministic
    # queries source, let the join-time probes diverge from the pruned
    # cell set (silently losing candidates).
    probe_rows = (_assign_cells(q, centroids, n_probe=n_probe,
                                id_col="query_id", vec_col="_qv")
                  .select("query_id", F.col("centroid_id").alias("cell"))
                  .collect())
    if not probe_rows:
        # An empty queries frame yields zero probes; createDataFrame([])
        # cannot infer a schema, so short-circuit with an explicitly
        # typed empty result instead of crashing.
        qid_t = dict(q.dtypes)["query_id"]
        id_t = dict(spark.read.parquet(store_path).dtypes)[id_col]
        return spark.createDataFrame(
            [], f"query_id {qid_t}, {id_col} {id_t}, sim double, rk int")
    cells = sorted({r["cell"] for r in probe_rows})
    probed = spark.createDataFrame(probe_rows)  # Rows keep their types
    store = (spark.read.parquet(store_path)
             .filter(F.col("cell").isin(cells)))
    pairs = store.join(F.broadcast(probed), on="cell")
    qv = q.select("query_id", "_qv")
    scored = (pairs.join(F.broadcast(qv), on="query_id")
              .filter(F.col(id_col) != F.col("query_id"))
              .select("query_id", id_col,
                      cosine(F.col(vec_col), F.col("_qv")).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4,
             centroids: DataFrame | None = None,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id") -> DataFrame:
    """IVF approximate top-k: corpus vectors partition into centroid cells;
    each query probes only its ``n_probe`` nearest cells, then ranks by
    exact cosine within them — O(N·C) assignment once + O(N·n_probe/C · Q)
    search instead of O(N·Q) brute force.

    Pass a precomputed ``centroids`` frame to amortize the fit across
    query batches (the production shape: fit once, search many).
    """
    from pyspark.sql import Window
    if centroids is None:
        centroids = ivf_fit_centroids(corpus, n_centroids=n_centroids)
    base = _assign_cells(corpus, centroids, 1, id_col, vec_col) \
        .withColumnRenamed("_v", "_bv")
    probes = F.broadcast(
        _assign_cells(queries.select(F.col(query_id_col).alias("query_id"),
                                     F.col(vec_col)),
                      centroids, n_probe, "query_id", vec_col)
        .withColumnRenamed("_v", "_qv"))
    joined = base.join(probes, on="centroid_id")
    scored = joined.select(
        "query_id", id_col,
        cosine(F.col("_bv"), F.col("_qv")).alias("sim"),
    ).filter(F.col(id_col) != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def semdedup(corpus: DataFrame, centroids: DataFrame,
             threshold: float = 0.9, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic deduplication by
    cluster-then-dedup-within-cluster — the embedding-space analog of
    MinHash near-dup removal, used to shrink LAION/C4-scale corpora
    with minimal quality loss.

    Each vector is assigned to its nearest centroid cell; WITHIN a cell,
    any vector whose cosine similarity to a LOWER-id cell-mate is
    ≥ ``threshold`` is dropped (the paper keeps the member farthest
    from the centroid; the lowest-id rule is the deterministic,
    engine-portable variant — documented deviation). Returns the kept
    rows as ``(id_col, cell)``.

    Scale design: the quadratic term is confined to cells — the
    self-join equi-matches on ``centroid_id``, so candidate pairs are
    Σ|cell|² instead of N². Centroid count is the knob: grow it with
    the corpus (cells of ~1k vectors keep the per-cell work trivially
    parallel at any N, same posture as the IVF search family).
    """
    assign = _assign_cells(corpus, centroids, n_probe=1,
                           id_col=id_col, vec_col=vec_col)
    a = assign.select(F.col(id_col).alias("_id_a"),
                      F.col("_v").alias("_va"), "centroid_id")
    b = assign.select(F.col(id_col).alias("_id_b"),
                      F.col("_v").alias("_vb"), "centroid_id")
    dup = (a.join(b, on="centroid_id")
           .filter(F.col("_id_a") < F.col("_id_b"))
           .filter(cosine(F.col("_va"), F.col("_vb")) >= threshold)
           .select(F.col("_id_b").alias(id_col))
           .distinct())
    return (assign.select(id_col, F.col("centroid_id").alias("cell"))
            .join(dup, on=id_col, how="left_anti"))


# -- product quantization (IVF-PQ family scale path) -------------------------

def dense_seed_ids(frame: DataFrame, order_col: str, n: int,
                   id_name: str, payload_col: str) -> DataFrame:
    """Assign dense ids 0..n-1 (ascending ``order_col``) to a BOUNDED
    frame, as driver-collected literals.

    The obvious spelling — ``row_number() over (order by ...)`` — is a
    partition-less window: Spark logs ``WindowExec: No Partition
    Defined`` and funnels the frame through one partition (a literal
    partition key does NOT silence it; Catalyst folds the constant
    away). For a frame already bounded by ``limit(n)`` with small n
    (codebooks, centroid seeds: ≤16 rows), the honest fix is to stop
    pretending it's distributed: collect the ≤n rows once and return
    them as a literal DataFrame — no window, no single-partition sort,
    no misleading warning, and downstream broadcast joins get a
    plan-time-known tiny relation. Payload element types are preserved
    exactly (same schema), so oracle value hashes are unchanged.
    """
    spark = frame.sparkSession
    rows = (frame.orderBy(order_col).limit(n)
            .select(order_col, payload_col).collect())
    ptype = frame.schema[payload_col].dataType
    schema = T.StructType([
        T.StructField(id_name, T.IntegerType(), False),
        T.StructField(payload_col, ptype),
    ])
    return spark.createDataFrame(
        [(i, r[payload_col]) for i, r in enumerate(rows)], schema)


def pq_codebooks(vectors: DataFrame, m: int = 8, n_codes: int = 16,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 stride: int = 31) -> DataFrame:
    """(sub, code, cvec) PQ codebooks by deterministic seed selection: the
    ``n_codes`` lowest-id vectors with ``id % stride == 0`` are sliced
    into ``m`` subvectors; code ids are dense ranks by source id. A
    k-means refinement drops in without changing the search plan — seed
    selection keeps the whole operator replayable by the SQL oracle
    (same trick as the IVF coarse quantizer)."""
    seeds = dense_seed_ids(
        vectors.filter(F.col(id_col) % stride == 0)
        .select(id_col, F.col(vec_col).alias("_v")),
        id_col, n_codes, "code", "_v")
    dim_div = f"size(_v) div {m}"
    subs = F.array(*[
        F.struct(F.lit(sub).alias("sub"),
                 F.expr(f"slice(_v, {sub} * ({dim_div}) + 1, {dim_div})")
                 .alias("cvec"))
        for sub in range(m)])
    return (seeds.select("code", F.explode(subs).alias("s"))
            .select("s.sub", "code", "s.cvec"))


def _l2sq_fold(a: Column, b: Column) -> Column:
    """Σ (aᵢ-bᵢ)² as a LEFT FOLD (sequential, deterministic order) so an
    external engine's list_reduce reproduces the exact float sum."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
            m: int = 8, n_codes: int = 16, rerank_factor: int = 4,
            codebooks: DataFrame | None = None,
            candidate_pairs: DataFrame | None = None,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id") -> DataFrame:
    """Product-quantization ANN: corpus vectors compress to ``m`` byte
    codes (nearest sub-codebook entry per slice); queries score
    candidates through per-subspace distance TABLES instead of raw
    vectors, then the top ``k·rerank_factor`` approximate hits rerank
    with exact cosine.

    This is the memory side of the IVF-PQ standard (Jégou et al., TPAMI
    2011): at 100 TB the corpus representation drops from d floats to m
    bytes per vector (64× at d=64/m=8), the scan reads only the code
    table, and the distance work per pair is m table lookups. Compose
    with ``ivf_topk``'s cell probing to also bound the number of pairs —
    here the scan is exhaustive over codes so the oracle can replay it
    exactly. All sums are sequential left-folds (see ``_l2sq_fold``) so
    the SQL replay is bit-identical before the 6-decimal rounding.
    """
    from pyspark.sql import Window
    if codebooks is None:
        codebooks = pq_codebooks(corpus, m, n_codes, id_col, vec_col)
    cb = F.broadcast(codebooks)

    dim_div = f"size(_v) div {m}"
    subs = F.array(*[
        F.struct(F.lit(sub).alias("sub"),
                 F.expr(f"slice(_v, {sub} * ({dim_div}) + 1, {dim_div})")
                 .alias("sv"))
        for sub in range(m)])

    def sliced(df, keep_name):
        return (df.select(F.col(keep_name), F.col(vec_col).alias("_v"))
                .select(keep_name, F.explode(subs).alias("s"))
                .select(keep_name, "s.sub", "s.sv"))

    # encode corpus: nearest codebook entry per (vector, sub)
    w_enc = Window.partitionBy(id_col, "sub").orderBy("_d2", "code")
    enc = (sliced(corpus, id_col).join(cb, "sub")
           .select(id_col, "sub", "code",
                   _l2sq_fold(F.col("sv"), F.col("cvec")).alias("_d2"))
           .withColumn("_rk", F.row_number().over(w_enc))
           .filter(F.col("_rk") == 1)
           .select(id_col, "sub", "code"))

    # per-query distance tables over ALL codes (m · n_codes rows each)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col))
    qtab = F.broadcast(
        sliced(q, "query_id").join(cb, "sub")
        .select("query_id", "sub", "code",
                _l2sq_fold(F.col("sv"), F.col("cvec")).alias("_d2")))

    # approximate distance: sum the m table lookups per (query, vector),
    # folded in sub order so the float sum is engine-reproducible.
    # ``candidate_pairs`` (query_id, id) restricts the scan BEFORE
    # ranking — the IVF composition hook: only in-cell pairs are scored.
    joined = enc.join(qtab, on=["sub", "code"])
    if candidate_pairs is not None:
        joined = joined.join(candidate_pairs, on=["query_id", id_col],
                             how="left_semi")
    pairs = (joined
             .groupBy("query_id", id_col)
             .agg(F.aggregate(
                 F.array_sort(F.collect_list(F.struct("sub", "_d2"))),
                 F.lit(0.0), lambda acc, s: acc + s["_d2"])
                 .alias("approx_d2"))
             .filter(F.col(id_col) != F.col("query_id")))
    w_cand = Window.partitionBy("query_id").orderBy("approx_d2", id_col)
    cand = (pairs.withColumn("_crk", F.row_number().over(w_cand))
            .filter(F.col("_crk") <= k * rerank_factor)
            .select("query_id", id_col, "approx_d2"))

    # exact cosine rerank of the candidate pool
    cv = corpus.select(F.col(id_col), F.col(vec_col).alias("_bv"))
    qv = F.broadcast(q.withColumnRenamed(vec_col, "_qv"))
    w_fin = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), id_col)
    return (cand.join(cv, id_col).join(qv, "query_id")
            .select("query_id", id_col,
                    cosine(F.col("_bv"), F.col("_qv")).alias("sim"))
            .withColumn("rk", F.row_number().over(w_fin))
            .filter(F.col("rk") <= k))


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                n_centroids: int = 16, n_probe: int = 4,
                m: int = 8, n_codes: int = 16, rerank_factor: int = 4,
                centroids: DataFrame | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Full IVF-PQ composition: the coarse quantizer bounds WHICH pairs
    are scored (each query sees only its ``n_probe`` cells ≈
    N·n_probe/n_centroids candidates), and PQ bounds the COST PER PAIR
    (m table lookups on byte codes instead of d-float arithmetic) — the
    two halves of Jégou et al.'s system, each already verified separately
    (``ivf_topk``, ``pq_topk``). Exact-cosine rerank of the approximate
    pool, as in both parents.

    At 100 TB: corpus state is n_centroids cells × (code table of m
    bytes/vector); a query touches n_probe cells and reads codes only —
    the standard billion-scale ANN serving shape.
    """
    cent = centroids if centroids is not None \
        else ivf_fit_centroids(corpus, n_centroids=n_centroids)
    base = _assign_cells(corpus, cent, 1, id_col, vec_col) \
        .select(id_col, "centroid_id")
    probes = F.broadcast(
        _assign_cells(queries.select(F.col(query_id_col).alias("query_id"),
                                     F.col(vec_col)),
                      cent, n_probe, "query_id", vec_col)
        .select("query_id", "centroid_id"))
    cell_pairs = base.join(probes, on="centroid_id") \
        .select("query_id", id_col).distinct()
    return pq_topk(corpus, queries, k=k, m=m, n_codes=n_codes,
                   rerank_factor=rerank_factor,
                   candidate_pairs=cell_pairs,
                   id_col=id_col, vec_col=vec_col,
                   query_id_col=query_id_col)


def lloyd_step(vectors: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """One Lloyd (k-means) iteration in long form: assign every vector to
    its nearest centroid (cosine, same rule as the IVF family), then the
    new centroid is the element-wise mean of its members.

    Returns ``(centroid_id, dim_idx, new_val, n_members)`` — long layout
    on purpose: the element-wise mean becomes a plain groupBy average over
    ``posexplode``d (cell, dim) keys, map-side combined, instead of an
    array re-assembly that would need an order-sensitive collect_list.
    Cells that attract no members emit no rows (callers keep the old
    centroid — see ``kmeans_fit``).

    Scale shape: the assignment is the broadcast N×K scoring join shared
    with ``ivf_topk``; the mean shuffles (K·dim) running sums after
    partial aggregation, independent of N.
    """
    assign = _assign_cells(vectors, centroids, n_probe=1,
                           id_col=id_col, vec_col=vec_col)
    return (assign.select("centroid_id",
                          F.posexplode("_v").alias("dim_idx", "_x"))
            .groupBy("centroid_id", "dim_idx")
            .agg(F.avg("_x").alias("new_val"),
                 F.count(F.lit(1)).alias("n_members")))


def kmeans_fit(vectors: DataFrame, init_centroids: DataFrame,
               n_iter: int = 5, id_col: str = "vec_id",
               vec_col: str = "embedding",
               quant: int | None = None) -> DataFrame:
    """Bounded-iteration Lloyd refinement of an initial centroid frame
    (the from-first-principles trainer behind ``ivf_fit_centroids``'s
    Spark-ML path — same contract: returns ``(centroid_id, centroid)``).

    Each iteration runs one distributed ``lloyd_step`` and collects the
    K×dim long rows to the driver to rebuild the (tiny, broadcast-bound)
    centroid literal — the identical bounded-collect posture as
    ``dense_seed_ids``/``ivf_fit_centroids``: centroids are driver-sized
    by definition (K·dim floats), the CORPUS never leaves the executors.
    Cells with no members keep their previous centroid (the standard
    empty-cluster rule). Deterministic: no sampling, no RNG.

    ``quant``: round every collected mean to this many decimals (with
    the +1e-12 nudge) before it re-enters the next iteration — the
    ``ml/logit.QUANT`` contract. With quantized per-iteration state a
    SQL oracle can unroll the whole fit CTE-for-CTE: summation-order
    noise in the per-(cell, dim) averages is absorbed at each round
    instead of compounding through assignments.
    """
    spark = vectors.sparkSession
    cur = {r["centroid_id"]: list(r["centroid"])
           for r in init_centroids.collect()}
    for _ in range(n_iter):
        cent_df = spark.createDataFrame(
            sorted(cur.items()), "centroid_id int, centroid array<double>")
        rows = lloyd_step(vectors, cent_df, id_col=id_col,
                          vec_col=vec_col).collect()
        nxt: dict[int, list[float]] = {}
        for r in rows:
            val = float(r["new_val"])
            if quant is not None:
                # HALF_UP (away-from-zero) decimal rounding — the same
                # law as `_q`/F.round (BigDecimal ROUND_HALF_UP), not
                # Python round()'s banker's rounding, so the QUANT
                # contract has ONE rounding convention repo-wide.
                nudged = val + 1e-12
                s = 10.0 ** quant
                val = math.copysign(
                    math.floor(abs(nudged) * s + 0.5) / s, nudged)
            nxt.setdefault(r["centroid_id"],
                           [0.0] * len(cur[r["centroid_id"]]))
            nxt[r["centroid_id"]][r["dim_idx"]] = val
        cur = {cid: nxt.get(cid, vec) for cid, vec in cur.items()}
    return spark.createDataFrame(
        sorted(cur.items()), "centroid_id int, centroid array<double>")


def rademacher_matrix(dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 (Rademacher) projection matrix for the
    Johnson-Lindenstrauss sketch (Achlioptas 2001: ±1 entries preserve
    pairwise distances in expectation exactly like Gaussian entries).

    Entry sign is the parity of the first hex digit of ``md5("i:j")`` —
    a public, engine-free rule, so the SQL oracle regenerates the
    identical matrix without sharing literals with this code path.
    Returned as ``matrix[j][i]`` (one row per OUTPUT component).
    """
    import hashlib
    return [[1 if int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0], 16) % 2 == 0
             else -1 for i in range(dim)]
            for j in range(out_dim)]


def random_project(vec: Column, matrix: list[list[int]]) -> Column:
    """Project an array<double> vector through a ±1 matrix as a flat
    codegen expression: each output component is a signed SUM of input
    elements (entries are ±1, so no multiplies), built left-to-right in
    index order — the identical association an SQL left-fold replays.

    Scale shape: a pure map-stage expression (no shuffle, no UDF); the
    matrix lives in the plan as literals, the Tungsten codegen sees
    ``±v[i] ± v[i+1] …`` per component.
    """
    comps = []
    for row in matrix:
        acc = None
        for i, s in enumerate(row):
            term = F.element_at(vec, i + 1)
            term = term if s > 0 else -term
            acc = term if acc is None else acc + term
        comps.append(acc)
    return F.array(*comps)


def mmr_rerank(corpus: DataFrame, queries: DataFrame,
               k_candidates: int = 10, k_select: int = 5,
               lam: float = 0.7, id_col: str = "vec_id",
               vec_col: str = "embedding",
               query_id_col: str = "query_id") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) — the diversity step of a RAG retrieval stack: from each
    query's exact top-``k_candidates``, greedily select ``k_select``
    maximizing ``lam * sim(q, c) - (1 - lam) * max_sel sim(c, s)`` so
    near-duplicate passages don't crowd the context window.

    Scale shape: the candidate stage is the existing broadcast
    brute-force scan (swap in ``lsh_topk``/``ivf_topk`` upstream at
    corpus scale — the greedy is source-agnostic); everything after is
    per-query over k rows, so the ``applyInPandas`` group is k vectors
    and the k×k pairwise block — constant work per query, distributed
    across queries. The greedy itself is inherently sequential (each
    pick changes the next score): a real Python case.

    Determinism: query sims round to 6 dp JVM-side, pairwise sims round
    to 6 dp in the kernel (sequential left-fold dot products — the same
    accumulation order as `cosine`'s F.aggregate and DuckDB's
    list_dot_product), the MMR arithmetic is fixed-operand-order over
    those rounded inputs, and every argmax tiebreaks on ``vec_id``.
    Returns ``(query_id, step, vec_id)`` — integer-only output.
    """
    import math as _math

    import pandas as pd

    cand = brute_force_topk(corpus, queries, k=k_candidates,
                            id_col=id_col, vec_col=vec_col,
                            query_id_col=query_id_col)
    withv = (cand.join(corpus.select(F.col(id_col), F.col(vec_col)),
                       on=id_col)
             .select("query_id", F.col(id_col).alias("cid"),
                     F.round(F.col("sim") + F.lit(1e-9), 6).alias("qs"),
                     F.col(vec_col).alias("v")))

    lam_f = float(lam)

    def _cos(a, b) -> float:
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        den = _math.sqrt(na) * _math.sqrt(nb)
        return dot / den if den > 0 else 0.0

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        ids = pdf["cid"].tolist()
        qs = dict(zip(ids, pdf["qs"]))
        vecs = dict(zip(ids, pdf["v"]))
        pw = {}
        for a in ids:
            for b in ids:
                if a < b:
                    s = round(_cos(vecs[a], vecs[b]) + 1e-9, 6)
                    pw[(a, b)] = pw[(b, a)] = s
        selected: list = []
        remaining = sorted(ids)
        while remaining and len(selected) < k_select:
            if not selected:
                best = min(remaining, key=lambda c: (-qs[c], c))
            else:
                def mmr(c):
                    red = max(pw[(c, s)] for s in selected)
                    return lam_f * qs[c] - (1 - lam_f) * red
                best = min(remaining, key=lambda c: (-mmr(c), c))
            selected.append(best)
            remaining.remove(best)
        return pd.DataFrame({
            "query_id": [qid] * len(selected),
            "step": list(range(1, len(selected) + 1)),
            "vec_id": selected})

    return withv.groupBy("query_id").applyInPandas(
        greedy, "query_id long, step int, vec_id long")


def benchmark_max_cosine(corpus: DataFrame, bench: DataFrame,
                         vec_col: str = "v", bench_vec_col: str = "bv",
                         out_col: str = "_best",
                         max_bench: int = 4096) -> DataFrame:
    """Max cosine of every corpus vector against a BOUNDED benchmark
    set, as one Arrow-batched BLAS matmul per batch — the semantic-
    decontamination scorer.

    The benchmark side is collected to a driver numpy matrix (hard cap
    ``max_bench`` rows — raises rather than silently truncating; the
    cap IS the operator's contract, a benchmark suite is small by
    definition), then broadcast in the UDF closure; corpus rows stream
    once with per-batch cost (batch × |bench|) fused into a single
    matmul. Versus the zip_with-HOF crossJoin form this removes the
    N×|bench| intermediate rows AND the per-element lambda overhead —
    measured 49.5 s → ~2 s on the 10× corpus at |bench| = 1024.
    Zero-norm rows (either side) score 0.0, matching
    :func:`cosine`'s guard.
    """
    b = benchmark_matrix(bench, bench_vec_col, max_bench)
    return max_cosine_vs_matrix(corpus, vec_col, b, out_col)


def benchmark_matrix(bench: DataFrame, vec_col: str,
                     max_bench: int = 4096):
    """Collect the bounded benchmark side to a driver numpy matrix
    (``None`` for an empty benchmark).  Raises past ``max_bench``
    rather than silently truncating.  Long-lived callers (the
    streaming guard sink) build this ONCE and reuse it per batch."""
    rows = bench.select(vec_col).collect()
    if len(rows) > max_bench:
        raise ValueError(
            f"benchmark side has {len(rows)} rows > max_bench "
            f"{max_bench}; a benchmark suite must be bounded — "
            "pre-cut it (deterministically) before scoring")
    if not rows:
        return None
    return np.asarray([r[vec_col] for r in rows], dtype=np.float64)


def max_cosine_vs_matrix(corpus: DataFrame, vec_col: str, b,
                         out_col: str = "_best") -> DataFrame:
    """Score max cosine against a prebuilt benchmark matrix (``None``
    = empty benchmark → every row scores 0.0)."""
    from pyspark.sql.types import DoubleType

    if b is None:
        return corpus.withColumn(out_col, F.lit(0.0))
    bn = np.sqrt((b * b).sum(axis=1))
    bz = bn == 0.0
    bn = np.where(bz, 1.0, bn)

    @F.pandas_udf(DoubleType())
    def _best(v: pd.Series) -> pd.Series:
        # NULL / empty vectors score NULL (NaN → Arrow null), not a
        # crash: np.stack would raise on a None element or ragged
        # lengths, and downstream routers (benchmark_guard_sink) send
        # NULL-scored rows to quarantine so every input lands somewhere
        ok = v.map(lambda a: a is not None and len(a) > 0)
        out = np.full(len(v), np.nan)
        if ok.any():
            x = np.stack(v[ok].to_numpy()).astype(np.float64)
            xn = np.sqrt((x * x).sum(axis=1))
            xz = xn == 0.0
            xn[xz] = 1.0
            cos = (x @ b.T) / np.outer(xn, bn)
            cos[:, bz] = 0.0
            cos[xz, :] = 0.0
            out[ok.to_numpy()] = cos.max(axis=1)
        return pd.Series(out, index=v.index)

    return corpus.withColumn(out_col, _best(F.col(vec_col)))

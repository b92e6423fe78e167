"""Graph operators for corpus deduplication: connected components over
near-duplicate pair edges.

The final stage of large-scale dedup: candidate PAIRS (from MinHash LSH,
SimHash banding, or exact digests) must collapse into CLUSTERS so one
canonical document survives per group. That grouping is connected
components on the pair graph.

Spark-first design: iterative min-label propagation expressed as
DataFrame joins — each round every vertex adopts the smallest component
label among itself and its neighbors; fixpoint when no label changes.
Near-dup graphs have tiny diameters (clusters are cliques or short
chains), so rounds ≈ 2-4 in practice; ``max_iter`` caps adversarial
chains. Each round ``localCheckpoint``s the label frame: iterative plans
otherwise grow lineage exponentially (self-referential join trees) and
re-execute every prior round at each action — the canonical Spark
iteration pitfall.

At 100 TB scale the same loop holds: labels are (vertex, label) pairs —
8+8 bytes/vertex shuffled per round on the vertex hash; the edge table is
re-joined per round but never mutated, so AQE/broadcast handles skewed
hub vertices. Label propagation is the one CC engine: a star-contraction
twin (Kiveris et al., SOCC'14) won only on a 1000× corpus no workload
runs (SCALE §1q) and lost on both sf0.1 gate graphs, so it was deleted
(last in commit ``19a35ce``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Rounds the most recent ``connected_components`` call (its only writer)
# took to converge, one propagate+jump label update per round — a probe
# observable, not an API: read immediately after the call that set it.
LAST_CC_ROUNDS: int = 0


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) ∪ (b, a) in ONE pass over ``edges`` via explode.

    The union-of-two-selects form executes the upstream edge plan TWICE
    inside whatever action materializes it: AQE's runtime exchange
    reuse only dedups work at or below a shared Exchange, and the
    expensive part of a pair build (per-pair set arithmetic in a
    verify chain, post-shuffle pair aggregation in a banding build)
    sits ABOVE its last exchange, so each union branch replays it.
    Measured round 13 (quiet-host min-of-3): degree_assortativity
    5.7 → 3.5 s, community_labelprop 4.3 → 2.6 s, link_prediction
    5.3 → 4.2 s — ≈ one full 48/16-bit SimHash build saved per
    symmetrization. The explode emits both orientations from one scan
    of each edge row; row multiset, hence every downstream
    aggregation/join, is identical to the union form."""
    s = F.explode(F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b"))))
    return edges.select(s.alias("_s")).select("_s.a", "_s.b")


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) with a < b: each undirected edge once, self-loops dropped.

    Banded candidate generators (MinHash/SimHash) emit one row per
    colliding band, so the same pair can arrive several times and in
    either order; every operator that counts degrees, wedges or hops
    starts from this set — the least/greatest + GROUP BY canonicalization
    the SQL oracles perform."""
    return (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                         F.greatest(F.col(src), F.col(dst)).alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def connected_components(edges: DataFrame, src: str = "id_l",
                         dst: str = "id_r", max_iter: int = 25) -> DataFrame:
    """(vertex, component) — component = MIN vertex id reachable via edges.

    ``edges`` is undirected input (each pair listed once, either order).
    Isolated vertices don't appear (join-derived graphs have none).
    Raises if ``max_iter`` rounds don't reach the fixpoint — raise the cap.

    One Spark job per round: the round's changed-label count is an
    ``Observation`` on its ``localCheckpoint``, not a second action. Do
    not probe convergence with a limit-then-count either: Spark names
    each limit counter from a JVM-global sequence, so that plan
    regenerates and recompiles its Java on every call and never hits
    the generated-class cache.
    """
    global LAST_CC_ROUNDS
    sym = _symmetrize(edges, src, dst).localCheckpoint()
    # seed fused with round 1: label = min(self, neighbors) straight from
    # the edge list — one aggregation, no join
    labels = (sym.groupBy(F.col("a").alias("v"))
              .agg(F.least(F.min("b"), F.min("a")).alias("label"))
              .localCheckpoint())
    def _round(lbl: DataFrame) -> DataFrame:
        """One propagate+jump round: label <- min(label, neighbor
        labels), then the pointer-jumping shortcut label <-
        min(label, label[label]) (one V-row join next to the E-row
        neighbor join; halves the effective diameter, so chains
        converge in ~log2(D) rounds instead of D — measured 5 -> 4
        rounds / 3.3 -> 3.0 s on the sf0.1 near-dup graph). The hop
        join targets lbl itself: every _mid value is a vertex id and
        lbl covers all vertices. Extra columns (_old) pass through."""
        nbr = (sym.join(lbl.select(F.col("v").alias("b"), "label"), on="b")
               .groupBy(F.col("a").alias("v"))
               .agg(F.min("label").alias("_nl")))
        prop = (lbl.join(nbr, on="v", how="left")
                .withColumn("_mid",
                            F.least("label", F.coalesce("_nl", "label")))
                .drop("_nl", "label"))
        hop = lbl.select(F.col("v").alias("_mid"),
                         F.col("label").alias("_hop"))
        return (prop.join(hop, on="_mid", how="left")
                .withColumn("label",
                            F.least("_mid", F.coalesce("_hop", "_mid")))
                .drop("_mid", "_hop"))

    for it in range(max_iter):
        obs = Observation()
        labels = (_round(labels.withColumn("_old", F.col("label")))
                  .observe(obs, F.count_if(F.col("label") != F.col("_old"))
                           .alias("changed"))
                  .select("v", "label")
                  .localCheckpoint())
        if obs.get["changed"] == 0:
            LAST_CC_ROUNDS = it + 1
            return labels.select(F.col("v").alias("vertex"),
                                 F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "graph diameter exceeds the cap — raise max_iter")


def dedup_clusters(pairs: DataFrame, src: str = "id_l",
                   dst: str = "id_r", max_iter: int = 25) -> DataFrame:
    """Near-duplicate clusters from a candidate-pair table:
    (cluster_id = min doc id, doc_id, cluster_size). The keep-policy
    "retain cluster_id, drop the rest" is then a single filter."""
    cc = connected_components(pairs, src, dst, max_iter)
    w_size = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (cc.join(w_size, on="component")
            .select(F.col("component").alias("cluster_id"),
                    F.col("vertex").alias("doc_id"),
                    "cluster_size"))


def pagerank(edges: DataFrame, src: str = "id_l", dst: str = "id_r",
             iters: int = 6, damping: float = 0.85) -> DataFrame:
    """(vertex, degree, pr_rel) after ``iters`` fixed power iterations of
    PageRank on the UNDIRECTED pair graph — centrality over a candidate
    near-dup / similarity graph (the web-graph-derived quality signal
    corpus curation pipelines use to rank documents inside a cluster or
    score domains; same role as the reference's per-cluster retention
    heuristics, generalized to graph structure).

    ``pr_rel`` is PageRank NORMALIZED to mean 1 (``pr * n_vertices``), so
    the score reads as "centrality relative to uniform" and stays O(1)
    regardless of graph size — the form that survives cross-engine
    rounding without losing resolution.

    Spark-first shape: edges are symmetrized once and ``localCheckpoint``ed
    (lineage control, same rationale as :func:`connected_components`); the
    source degree is fused onto the edge list BEFORE the loop so each
    iteration is exactly one V-row hash join (ranks onto edges by source)
    plus one shuffle-on-destination aggregation — the minimal per-iteration
    shuffle. A fixed iteration count (power iteration converges
    geometrically at rate ``damping``; 6 rounds ≈ 0.85^6 = 0.38 residual
    on the slowest mode, plenty to rank vertices) keeps the operator
    deterministic and the oracle SQL finitely unrollable. In a symmetrized
    join-derived graph every vertex has degree ≥ 1, so there is no
    dangling-mass term — documented contract, asserted nowhere cheaper
    than here.

    At 100 TB: per-iteration state is (vertex, pr) — 16 bytes/vertex —
    shuffled on the vertex hash; the edge table is partition-stable and
    re-joined, never rewritten. Skewed hub vertices are AQE's skew-join
    case on the destination aggregation.
    """
    # checkpoint the edge list FIRST: everything below (degree, the n
    # count action, the loop, the final join) re-reads it, and without
    # the cut each re-read replays the upstream pair-generation plan
    # (measured: 4 replays ≈ 4× the whole operator's cost at sf0.01)
    sym = _symmetrize(edges, src, dst).localCheckpoint()
    deg = (sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint())  # V-row frame, reused by loop + final join
    # degree fused onto edges once: the loop below never re-aggregates it
    sym_w = sym.join(deg, on="a").localCheckpoint()
    n = deg.count()  # scalar vertex count (one action, bounded output)
    if n == 0:
        # empty graph (e.g. a bucket cap dropped every candidate pair):
        # the fixed point is trivially empty — 1/n below would raise
        return deg.select(F.col("a").alias("vertex"),
                          F.col("deg").alias("degree"),
                          F.lit(0.0).alias("pr_rel"))
    ranks = deg.select("a", F.lit(1.0 / n).alias("pr"))
    base = (1.0 - damping) / n
    # checkpoint every SECOND iteration (round-12 measurement): each
    # eager localCheckpoint is a full job barrier, and the rank frame
    # is referenced once per iteration so lineage grows LINEARLY — a
    # two-iteration lazy chain stays small while halving the barrier
    # count (measured 8.6 -> 7.2 s on the sf0.1 near-dup graph; same
    # math, identical output).
    for it in range(iters):
        ranks = (sym_w.join(ranks, on="a")
                 .groupBy(F.col("b").alias("a"))
                 .agg((F.lit(base) + F.lit(damping)
                       * F.sum(F.col("pr") / F.col("deg"))).alias("pr")))
        if it % 2 == 1 or it == iters - 1:
            ranks = ranks.localCheckpoint()
    return (ranks.join(deg, on="a")
            .select(F.col("a").alias("vertex"), F.col("deg").alias("degree"),
                    (F.col("pr") * F.lit(float(n))).alias("pr_rel")))


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          src: str = "id_l", dst: str = "id_r",
                          iters: int = 3,
                          damping: float = 0.85) -> DataFrame:
    """Personalized PageRank on the UNDIRECTED pair graph: restart mass
    lands ONLY on ``seeds`` (one id column, first column used), so the
    stationary mass measures proximity to the seed set — trust
    propagation from a vetted subcorpus, contamination spread from
    flagged documents, seeded recommendation. Returns ``(vertex,
    degree, is_seed, ppr)`` for every vertex holding mass after
    ``iters`` rounds (vertices unreachable from the seeds hold none
    and emit no row — the sparsity IS the point at scale: mass stays
    within ``iters`` hops of the seeds no matter how large the graph).

    Seeds outside the graph's vertex set are ignored (they can neither
    hold nor spread mass on this graph); empty effective seed set →
    empty frame. Each round is one edges⋈mass join + groupBy (ids-only
    rows) and a full join against the (seed-sized) restart vector —
    the per-round frontier is bounded by the seed set's ``iters``-hop
    neighborhood, not by |V|.
    """
    sym = _symmetrize(edges, src, dst).localCheckpoint()
    deg = (sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint())
    sym_w = sym.join(deg, on="a").localCheckpoint()
    seed_ids = (seeds.select(F.col(seeds.columns[0]).alias("a"))
                .distinct()
                .join(deg, on="a", how="left_semi"))
    ns = seed_ids.count()
    if ns == 0:
        return deg.select(F.col("a").alias("vertex"),
                          F.col("deg").alias("degree"),
                          F.lit(False).alias("is_seed"),
                          F.lit(0.0).alias("ppr")).limit(0)
    e = seed_ids.select("a", F.lit(1.0 / ns).alias("_e"))
    e = e.localCheckpoint()  # restart vector re-read every round
    p = e.select("a", F.col("_e").alias("pr"))
    base = 1.0 - damping
    # every-2nd-iteration checkpoint cadence — the pagerank rationale:
    # the mass frame is referenced once per round, so a two-round lazy
    # chain is bounded and each skipped eager checkpoint is one fewer
    # job barrier.
    for it in range(iters):
        contrib = (sym_w.join(p, on="a")
                   .groupBy(F.col("b").alias("a"))
                   .agg(F.sum(F.col("pr") / F.col("deg")).alias("_m")))
        p = (e.join(contrib, on="a", how="full")
             .select("a",
                     (F.lit(base) * F.coalesce(F.col("_e"), F.lit(0.0))
                      + F.lit(damping)
                      * F.coalesce(F.col("_m"), F.lit(0.0))).alias("pr")))
        if it % 2 == 1 or it == iters - 1:
            p = p.localCheckpoint()
    return (p.join(deg, on="a")
            .join(e.select("a", F.lit(True).alias("is_seed")),
                  on="a", how="left")
            .select(F.col("a").alias("vertex"),
                    F.col("deg").alias("degree"),
                    F.coalesce(F.col("is_seed"), F.lit(False))
                    .alias("is_seed"),
                    F.col("pr").alias("ppr")))


def adamic_adar(edges: DataFrame, src: str = "id_l",
                dst: str = "id_r",
                max_degree: int | None = None) -> DataFrame:
    """Adamic-Adar link prediction on the UNDIRECTED pair graph:
    for every NON-adjacent pair (u, v) sharing ≥1 neighbor, score
    AA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z) — the classic
    graph-completion signal (which near-dup links did banding miss?
    which co-purchase edge comes next?). Computed as a wedge self-join
    through the shared neighbor (u < v kept once), minus existing
    edges via a LEFT ANTI join — both ids-only shuffles, so the cost
    driver is the wedge count Σ_z deg(z)², the same skew surface the
    triangle census documents: on capped/banded graphs deg is
    cap-bounded, which is what makes this runnable at corpus scale.
    ln(deg) term: degree-1 shared neighbors (ln 1 = 0) are excluded
    from the sum on BOTH engines (a 1/0 would poison the score);
    a pair whose every witness has degree 1 simply never appears.

    ``max_degree`` is the family's skew cap (`max_bucket` /
    `max_posting` rule): witnesses with deg > max_degree are dropped
    BEFORE the wedge join, bounding wedge volume to |V|·max_degree²
    — hub witnesses carry near-zero AA signal anyway (1/ln(deg)
    shrinks exactly as the wedge count explodes). Measured (SCALE
    §1l): the uncapped wedge join on the 10× clone corpus's
    SATURATING 16-bit demo graph DNF'd on shuffle-spill disk (a
    mega-hub's deg² wedges), and that demo graph is gate-scale-only
    by §1d's standing verdict; the PRODUCTION form — the 48-bit
    `max_bucket`-capped pair build + max_degree=64 — runs the 10×
    corpus in 38 s (24.3k predictions), build-dominated like every
    pair-graph op. Returns ``(id_l, id_r, n_common, aa_score)``.

    Input hygiene: the edge list is canonicalized first
    (:func:`_canonical_edges`, one ids-only distinct, cheap next to the
    wedge join) so duplicate or both-orientation input edges cannot
    inflate ``deg`` / wedge counts, however raw the caller's edge list
    is."""
    sym = _symmetrize(_canonical_edges(edges, src, dst), "a", "b")
    sym = sym.localCheckpoint()
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # wedges u - z - v with u < v; z carries its degree
    zw = (sym.select(F.col("a").alias("z"), F.col("b").alias("u"))
          .join(deg.select(F.col("a").alias("z"),
                           F.col("deg").alias("zdeg")), on="z"))
    if max_degree is not None:
        zw = zw.filter(F.col("zdeg") <= max_degree)
    wedges = (zw.join(sym.select(F.col("a").alias("z"),
                                 F.col("b").alias("v")), on="z")
              .filter(F.col("u") < F.col("v"))
              .filter(F.col("zdeg") > 1))
    cand = (wedges.groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("n_common"),
                 F.sum(F.lit(1.0) / F.log(F.col("zdeg")))
                 .alias("aa_score")))
    existing = (sym.filter(F.col("a") < F.col("b"))
                .select(F.col("a").alias("u"), F.col("b").alias("v"))
                .distinct())
    return (cand.join(existing, on=["u", "v"], how="left_anti")
            .select(F.col("u").alias("id_l"), F.col("v").alias("id_r"),
                    "n_common", "aa_score"))


def triangle_stats(edges: DataFrame, src: str = "id_l",
                   dst: str = "id_r") -> DataFrame:
    """Per-vertex triangle count and local clustering coefficient over
    an undirected pair graph — the cluster-cohesion diagnostic for
    near-dup neighborhoods (a high-coefficient vertex sits in a
    near-clique that will collapse to one retained doc; a low one is a
    chain artifact of banding noise).

    Algorithm: orient every edge low-id → high-id, self-join on the
    wedge apex (a→b, a→c with b < c), close the wedge against the
    oriented edge (b, c). Each triangle is counted exactly once (its
    lowest vertex is the apex). This is the classic MapReduce triangle
    enumeration (Suri & Vassilvitskii, WWW'11), in the id order the SQL
    oracles replay. Their degree orientation bounds a power-law hub's
    wedge fan-out; it won 2× only on the 10× minhash clique graph (SCALE
    §1j), the gate graphs are hub-free, and it was deleted (last in
    commit ``19a35ce``).

    Returns ``(vertex, degree, triangles, coeff)`` for every vertex,
    ``coeff = triangles / C(degree, 2)`` (0.0 where degree < 2),
    rounded to 6 dp.
    """
    # wedge join + closure reuse it 3x
    e = _canonical_edges(edges, src, dst).localCheckpoint()
    deg = (e.select(F.col("a").alias("v"))
           .union(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("degree")))
    x, y = e.alias("x"), e.alias("y")
    wedges = (x.join(y, (F.col("x.a") == F.col("y.a"))
                     & (F.col("x.b") < F.col("y.b")))
              .select(F.col("x.a").alias("a"), F.col("x.b").alias("b"),
                      F.col("y.b").alias("c")))
    tris = wedges.join(
        e.select(F.col("a").alias("b"), F.col("b").alias("c")),
        on=["b", "c"])
    per_v = (tris.select(F.explode(F.array("a", "b", "c")).alias("v"))
             .groupBy("v").agg(F.count(F.lit(1)).alias("triangles")))
    possible = (F.col("degree") * (F.col("degree") - 1) / F.lit(2.0))
    return (deg.join(per_v, on="v", how="left")
            .select(F.col("v").alias("vertex"), "degree",
                    F.coalesce("triangles", F.lit(0)).alias("triangles"),
                    F.round(
                        F.when(F.col("degree") >= 2,
                               F.coalesce("triangles", F.lit(0)) / possible)
                        .otherwise(F.lit(0.0)) + F.lit(1e-9), 6)
                    .alias("coeff")))


def degrees(edges: DataFrame, src: str = "id_l",
            dst: str = "id_r") -> DataFrame:
    """(vertex, degree) over the DEDUPED undirected edge set
    (:func:`_canonical_edges`). One shuffle on the canonical pair, one
    on vertex."""
    e = _canonical_edges(edges, src, dst)
    # both endpoints from ONE scan of the deduped edge set (the
    # _symmetrize rationale: a unionAll branch pair re-runs the
    # post-shuffle dedup aggregation twice)
    return (e.select(F.explode(F.array("a", "b")).alias("vertex"))
            .groupBy("vertex")
            .agg(F.count(F.lit(1)).alias("degree")))


def multi_source_bfs(edges: DataFrame, seeds: DataFrame,
                     src: str = "id_l", dst: str = "id_r",
                     max_hops: int = 3) -> DataFrame:
    """(vertex, hop) — hop distance to the NEAREST seed, bounded by
    ``max_hops``; vertices farther than the bound are absent.

    Multi-source BFS as bounded frontier expansion: each round joins the
    previous frontier against the symmetric edge list and keeps the
    MIN hop per vertex — the "distance to nearest audited/canonical
    document" primitive curation QA runs over near-dup graphs. The loop
    is ``max_hops`` rounds of (frontier ⋈ edges) with a
    ``localCheckpoint`` per round (same lineage-cut discipline as
    :func:`connected_components`); per-round shuffle is (vertex, hop)
    pairs plus the edge join, so seed count scales freely — ALL sources
    expand in one pass, never one BFS per seed.

    ``seeds`` must have a ``vertex`` column; seeds not present in the
    graph still appear at hop 0.
    """
    e = _canonical_edges(edges, src, dst)
    sym = _symmetrize(e, "a", "b").localCheckpoint()
    dist = (seeds.select(F.col("vertex"), F.lit(0).alias("hop"))
            .distinct().localCheckpoint())
    for k in range(1, max_hops + 1):
        frontier = dist.filter(F.col("hop") == k - 1)
        nxt = (frontier.join(sym, frontier.vertex == sym.a)
               .select(F.col("b").alias("vertex"),
                       F.lit(k).alias("hop")))
        dist = (dist.unionByName(nxt)
                .groupBy("vertex").agg(F.min("hop").alias("hop"))
                .localCheckpoint())
    return dist


def kcore(edges: DataFrame, k: int = 3, rounds: int = 5,
          src: str = "id_l", dst: str = "id_r") -> DataFrame:
    """Bounded-round k-core peeling: repeatedly delete vertices with
    degree < k (and their edges) for ``rounds`` rounds, then report the
    surviving vertices with their residual degree — the cohesion filter
    that separates genuinely dense near-dup communities from chains and
    stars before an expensive census or clustering run.

    Exact k-core needs peeling to a fixpoint (data-dependent round
    count); this operator fixes the round budget up front — the same
    bounded-iteration contract as :func:`multi_source_bfs` — because on
    real near-dup graphs low-degree fringe vanishes in the first 1-2
    rounds (clique interiors never peel at all), and a FIXED unrolling
    is what a DuckDB oracle can replay CTE-for-CTE. Each round is two
    bounded shuffles (degree count + endpoint semi-joins) with a
    ``localCheckpoint`` lineage cut (the :func:`connected_components`
    discipline); per-round traffic is ids only, never payloads.
    """
    e = _canonical_edges(edges, src, dst).localCheckpoint()
    for _ in range(rounds):
        deg = (e.select(F.explode(F.array("a", "b")).alias("vertex"))
               .groupBy("vertex").agg(F.count(F.lit(1)).alias("degree")))
        keep = deg.filter(F.col("degree") >= k).select("vertex")
        e = (e.join(keep.withColumnRenamed("vertex", "a"), "a", "left_semi")
             .join(keep.withColumnRenamed("vertex", "b"), "b", "left_semi")
             .localCheckpoint())
    return (e.select(F.explode(F.array("a", "b")).alias("vertex"))
            .groupBy("vertex").agg(F.count(F.lit(1)).alias("degree")))


def label_propagation(edges: DataFrame, rounds: int = 2,
                      src: str = "id_l", dst: str = "id_r") -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), ``rounds`` fixed rounds: every vertex starts as its own
    community, then each round adopts the MOST FREQUENT label among its
    neighbors' previous-round labels, ties broken by the smallest
    label — the deterministic variant (classic LPA breaks ties
    randomly; a random tie-break can't be oracle-replayed or even
    re-run stably, so determinism here is a correctness feature, not a
    simplification).

    Distinct from :func:`connected_components`: min-label propagation
    merges everything reachable; MODE-label propagation stops at weak
    bridges (a 1-edge bridge between two cliques never outvotes the
    cliques), which is the near-dup curation question "is this one
    template family or two families sharing a boilerplate edge?".

    Plan per round: one E-row join (neighbor labels) + one
    (vertex,label)-grouped count + one per-vertex argmax window — all
    keyed shuffles on vertex ids, payloads are two int64s, with the
    :func:`connected_components` ``localCheckpoint`` lineage cut. A
    FIXED round budget (default 2 — LPA's own authors report ~95 % of
    membership settles in the first 2-3 rounds) keeps the job graph
    static and lets a SQL oracle unroll it CTE-for-CTE.
    """
    from pyspark.sql import Window

    sym = _symmetrize(edges, src, dst).localCheckpoint()
    labels = sym.select(F.col("a").alias("v"),
                        F.col("a").alias("label")).distinct()
    rk = Window.partitionBy("v").orderBy(F.col("n").desc(), F.col("label"))
    for _ in range(rounds):
        votes = (sym.join(labels.withColumnRenamed("v", "b"), on="b")
                 .groupBy(F.col("a").alias("v"), "label")
                 .agg(F.count(F.lit(1)).alias("n")))
        labels = (votes.withColumn("_rk", F.row_number().over(rk))
                  .filter(F.col("_rk") == 1)
                  .select("v", "label")
                  .localCheckpoint())
    return labels.select(F.col("v").alias("vertex"),
                         F.col("label").alias("community"))

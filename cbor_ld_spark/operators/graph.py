"""Graph analytics over the extracted entity graph (KG tier).

Edges are ``(src, dst)`` IRI pairs (``entity_edges``), optionally with
an evidence ``weight`` (``entity_edges_weighted``).  Operators:

* centrality: ``pagerank`` (plain, dangling-redistributed, weighted or
  seeded/personalized), ``hits``, ``out_degrees``;
* reachability: ``k_hop`` (batched BFS), ``transitive_closure`` (path
  doubling), ``approx_neighborhood_function`` and
  ``effective_diameter`` (HyperANF sketches);
* structure: ``triangle_stats``, ``k_core_decomposition``,
  ``label_propagation``, ``neighborhood_overlap`` (exact) and
  ``neighborhood_overlap_lsh`` / ``adjacency_lsh_candidates`` (MinHash);
* shared frames: ``graph_nodes`` (the node set) and
  ``undirected_edges`` (the self-loop-free undirected projection).

Every result is a deterministic function of the edge set, so the
DuckDB oracle replays it exactly (sketch operators: within a stated
tolerance).

Materialized-edges contract: ``pagerank``, ``k_hop``, ``hits``,
``approx_neighborhood_function`` and ``effective_diameter`` read
``edges`` once per round and do not checkpoint it.  Pass a
materialized frame (a ``localCheckpoint``, a cached table or a local
relation), or every round replays the edges' lineage.  What the
operators derive (node sets, adjacency, per-round state) they
localCheckpoint themselves: ``persist`` keeps the whole logical plan,
which doubles per round, while a checkpoint cuts it.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import islice

from pyspark.sql import DataFrame, functions as F


def entity_edges(triples: DataFrame) -> DataFrame:
    """Distinct subject->object edges between IRIs (the entity graph)."""
    return (triples
            .filter(F.col("obj_is_iri"))
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .distinct())


def entity_edges_weighted(triples: DataFrame) -> DataFrame:
    """(src, dst, weight) entity edges; weight = number of triple
    instances asserting the edge across the corpus — evidence counts
    that downstream weighted analytics (PageRank) should respect."""
    return (triples
            .filter(F.col("obj_is_iri"))
            .groupBy(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .agg(F.count(F.lit(1)).alias("weight")))


def out_degrees(edges: DataFrame) -> DataFrame:
    """Out-degree per source; with a ``weight`` column present, the
    weighted out-degree (sum of weights)."""
    w = (F.sum("weight") if "weight" in edges.columns
         else F.count(F.lit(1)))
    return edges.groupBy("src").agg(w.alias("out_deg"))


def graph_nodes(edges: DataFrame) -> DataFrame:
    """The distinct ``node`` set (sources and destinations),
    localCheckpoint'd: callers count it and join it every round."""
    return (edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint())


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges ``(a, b)`` with ``a < b``, self-loops
    dropped.  Lazy: callers checkpoint what they reuse."""
    return (edges.filter(F.col("src") != F.col("dst"))
            .select(F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"))
            .distinct())


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both orientations ``(u, v)`` and ``(v, u)`` of every undirected
    edge, localCheckpoint'd: the adjacency frame that neighbor
    aggregations join every round."""
    und = undirected_edges(edges)
    return (und.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(und.select(F.col("b").alias("u"),
                                    F.col("a").alias("v")))
            .localCheckpoint())


def pagerank(edges: DataFrame, iters: int = 5,
             damping: float = 0.85, round_to: int = 6,
             redistribute_dangling: bool = False,
             seeds: DataFrame | None = None) -> DataFrame:
    """Fixed-iteration PageRank over a materialized edge list.

    rank_0 = 1/N for the N distinct nodes (sources + destinations);
    rank_{t+1}(v) = (1-d)/N + d * sum(rank_t(u)/out_deg(u), u->v).
    If ``edges`` carries a ``weight`` column (entity_edges_weighted),
    contributions are rank * weight / weighted_out_degree — same plan
    shape, one extra column through the iteration join.
    By default dangling-node mass is dropped (not redistributed) —
    deterministic and mirrored verbatim by the oracle's replay; ranks
    are a relative centrality ordering, not a probability distribution.
    With ``redistribute_dangling=True`` each iteration adds the summed
    rank of out-degree-0 nodes back uniformly (d * dangling/N per node)
    — one extra 1-row aggregation per iteration — and rank sums stay
    ~1.0, the variant a consumer comparing ranks ACROSS graphs wants.

    With ``seeds`` (a ``node`` column) this is personalized PageRank,
    "what is central relative to these entities": N counts the seeds
    present in the graph, and rank_0 and the (1-d)/N teleport go to
    those seeds only (0 elsewhere).  No seed in the graph gives an
    empty frame.  Seeds with ``redistribute_dangling`` raise
    ValueError: that variant has no oracle.

    Each node carries its teleport term as a column, so every variant
    adds in the oracle's order: (1-d)/N, then d*dangling/N, then
    d*inbound.

    Float note: the inbound sum's addition order is partition-dependent
    (FP non-associative), while the oracle sums sequentially.  The
    divergence is ~1e-16 relative per iteration against the 1e-6
    output granularity of ``round_to=6`` — a boundary flip needs a rank
    within ~1e-18 of a 0.5e-6 rounding edge (odds ~1e-12 per value),
    the accepted residual for an order-free distributed aggregation.
    """
    if seeds is not None and redistribute_dangling:
        raise ValueError("pagerank: seeds cannot be combined with "
                         "redistribute_dangling")
    nodes = graph_nodes(edges)
    if seeds is None:
        n = nodes.count()
        at_seed = F.lit(True)
    else:
        seeds = (seeds.select("node").distinct().join(nodes, "node")
                 .withColumn("_seed", F.lit(True))
                 .localCheckpoint())
        n = seeds.count()
        nodes = nodes.join(F.broadcast(seeds), "node", "left")
        at_seed = F.col("_seed").isNotNull()
    if n == 0:
        return edges.sparkSession.createDataFrame(
            [], "node string, rank double")
    # rank_0 and the per-node teleport term, materialized once
    nodes = nodes.select(
        "node",
        F.when(at_seed, 1.0 / n).otherwise(0.0).alias("rank"),
        F.when(at_seed, (1.0 - damping) / n).otherwise(0.0).alias("_tp"),
    ).localCheckpoint()
    ranks, teleport = nodes.select("node", "rank"), nodes.drop("rank")
    deg = out_degrees(edges)
    # (src, dst, out_deg) reused every iteration
    e = edges.join(deg, "src").localCheckpoint()
    if redistribute_dangling:
        # out-degree-0 nodes, fixed across iterations
        dangling_nodes = teleport.select("node").join(
            deg.select(F.col("src").alias("node")), "node", "left_anti"
        ).localCheckpoint()
    cw = (F.col("rank") * F.col("weight") / F.col("out_deg")
          if "weight" in edges.columns else F.col("rank") / F.col("out_deg"))
    for _ in range(iters):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select(F.col("dst").alias("node"), cw.alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inbound")))
        new_ranks = teleport.join(contribs, "node", "left")
        base = F.col("_tp")
        if redistribute_dangling:
            # dangling mass as a broadcast 1-row frame, not a collected
            # scalar: the iteration stays one job with no driver sync
            dmf = (dangling_nodes.join(ranks, "node")
                   .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")))
            new_ranks = new_ranks.crossJoin(F.broadcast(dmf))
            base = base + F.lit(damping) * F.col("_dm") / F.lit(float(n))
        ranks = (
            new_ranks
            .select("node",
                    (base
                     + F.lit(damping) * F.coalesce("inbound", F.lit(0.0)))
                    .alias("rank"))
            .localCheckpoint())
    return ranks.select("node", F.round("rank", round_to).alias("rank")) \
        .localCheckpoint()


def k_hop(edges: DataFrame, seeds: DataFrame, k: int = 3) -> DataFrame:
    """Nodes reachable within k hops of each seed (excluding the seed).

    ``seeds`` carries a ``node`` column; output is (root, node,
    first_hop) — the hop at which each node was FIRST reached from that
    root (BFS layering, deterministic).

    One unioned ``visited`` frame (localCheckpoint'd per hop: a single
    materializing job) replaces the per-layer anti-join chain — O(k)
    joins in the whole plan instead of O(k^2), which is what survives
    k=10+ traversals.  The frontier is a filter on the checkpointed
    visited set, not a separate materialization.  ``edges`` must be
    materialized (module contract).
    """
    visited = (seeds.select(F.col("node").alias("root"), F.col("node"),
                            F.lit(0).alias("first_hop"))
               .localCheckpoint())
    for hop in range(1, k + 1):
        frontier = visited.filter(F.col("first_hop") == hop - 1)
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select("root", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["root", "node"], "left_anti")
            .withColumn("first_hop", F.lit(hop)))
        visited = visited.unionByName(nxt).localCheckpoint()
    return visited.filter(F.col("first_hop") > 0)


def transitive_closure(edges: DataFrame,
                       max_iters: int = 20) -> DataFrame:
    """Directed transitive closure (SPARQL ``p+`` over an edge set):
    every (src, dst) with a directed path src -> ... -> dst.

    Iterative DOUBLING, not frontier expansion: each round joins the
    closure-so-far with itself (``reach.dst == reach.src``), so the
    covered path length SQUARES per round — a diameter-D graph closes
    in ceil(log2 D) shuffle rounds instead of D.  That is the term
    that matters on a 1000-executor cluster, where each round is a
    full shuffle barrier.  The accumulator is localCheckpoint'd per
    round (module contract) and convergence is one scalar
    count per round.

    Scale honesty: the OUTPUT is inherently Θ(Σ over components of
    |closure|) — quadratic in dense-component size, regardless of
    algorithm.  At 10^12 edges you run this only on pred-filtered
    (sparse, shallow) relations; for "is X reachable from Y" over the
    whole graph use ``k_hop`` (bounded depth) or
    ``approx_neighborhood_function`` (sketched), which exist for
    exactly that reason.

    Raises after ``max_iters`` rounds.  Bound, stated precisely: after
    r productive rounds the closure covers path length 2^r, but
    convergence is only OBSERVED on the following round (the one where
    the count stops growing), so ``max_iters`` rounds are guaranteed
    sufficient for diameter <= 2^(max_iters - 1) — the detection round
    costs one extra iteration (same contract as forward_chain)."""
    reach = (edges.select("src", "dst").distinct().localCheckpoint())
    n = reach.count()
    for _ in range(max_iters):
        stepped = (reach.alias("a")
                   .join(reach.alias("b"),
                         F.col("a.dst") == F.col("b.src"))
                   .select(F.col("a.src").alias("src"),
                           F.col("b.dst").alias("dst")))
        grown = (reach.unionByName(stepped).distinct()
                 .localCheckpoint())
        m = grown.count()
        if m == n:
            return grown
        reach, n = grown, m
    raise RuntimeError(
        f"transitive_closure did not converge in {max_iters} doubling "
        f"rounds (guaranteed only for diameter <= 2^{max_iters - 1}; "
        "raise max_iters)")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Undirected triangle + wedge counts and the global clustering
    coefficient, via degree-ordered edge orientation.

    Scale shape — the part that matters on a skewed entity graph: each
    undirected edge is oriented from its LOWER-degree endpoint to the
    higher ((degree, node) lexicographic, so orientation is total and
    deterministic).  Every wedge is then enumerated from the small side
    — a node's oriented out-degree is bounded by O(sqrt(m)) — so a
    mega-hub with degree d contributes wedges only through its few
    higher-degree neighbors instead of d^2 pairs.  Two shuffle joins on
    uniform oriented keys; no all-pairs stage, no driver collect.

    Output (one row): n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering = 3 * triangles / total wedge (length-2 path)
    count, i.e. sum over nodes of C(deg, 2), closed wedges included —
    the standard global clustering coefficient (0 when the graph has
    no wedges), rounded to 6.
    """
    und = undirected_edges(edges).localCheckpoint()
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).alias("deg")))
    n_nodes = deg.count()
    n_edges = und.count()
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    lab = und.join(da, "a").join(db, "b")
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = (lab.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lo_first, F.col("db")).otherwise(F.col("da")).alias("dv"))
        .localCheckpoint())
    # wedges centered at u: unordered pairs of out-neighbors, kept in
    # the SAME (degree, node) order so the closing edge — which is also
    # oriented low->high — matches exactly once
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"),
                         F.col("dv").alias("dx"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"),
                         F.col("dv").alias("dy"))
    wedges = (e1.join(e2, "u")
              .filter((F.col("dx") < F.col("dy")) | (
                  (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))))
              .select(F.col("x").alias("u"), F.col("y").alias("v")))
    closed = wedges.join(oriented.select("u", "v"), ["u", "v"])
    n_tri = closed.count()
    # total wedges (open or closed, any center) = sum over nodes of
    # C(deg, 2) — NOT the oriented wedge count above, which enumerates
    # each triangle exactly once but open wedges at most once
    n_wedges = deg.select(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).alias("w")
    ).collect()[0]["w"] or 0.0
    clustering = round(3.0 * n_tri / n_wedges, 6) if n_wedges else 0.0
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(n_nodes, n_edges, int(n_wedges), n_tri, clustering)],
        "n_nodes long, n_edges long, n_wedges long, n_triangles long, "
        "global_clustering double")


def neighborhood_overlap(edges: DataFrame,
                         threshold: float = 0.5) -> DataFrame:
    """Entity-merge candidates by neighborhood Jaccard overlap.

    In KG construction, two IRIs that connect to largely the same
    neighbors are merge candidates even when no direct edge links them
    (coreference via context).  Exact computation: a symmetric wedge
    join — sym(c, x) |><| sym(c, y) on the center, x < y — then one
    hash aggregation counts common neighbors per pair (wedge
    multiplicity) and degrees turn counts into Jaccard.

    Scale honesty: ANY exact co-neighbor enumeration is Omega(#pairs
    sharing a neighbor) = sum_c C(deg_c, 2) — a mega-hub's neighborhood
    genuinely creates that many candidates, so no orientation trick can
    bound it (unlike triangles, a wedge has no alternative counting
    vertex: a center higher-degree than both endpoints must still emit
    the pair).  At 10^12 scale the mitigations are (a) the Jaccard
    threshold — a degree-d hub contributes pairs that can only pass if
    both endpoint degrees are within ~1/threshold of each other, so a
    degree-ordered pre-filter (|deg_a - deg_b| bound) prunes before the
    wedge explosion, applied below — and (b)
    ``neighborhood_overlap_lsh`` below, the minhash-LSH tier over
    neighbor SETS (the dedup family's banded machinery applied to
    adjacency lists): THE scale path — candidate generation is
    bucket-bounded instead of wedge-bounded, so a mega-hub center never
    materializes its C(deg, 2) pair fan-out.  This exact tier is the
    oracle/gate-scale formulation.

    Output: (node_a, node_b, common_neighbors,
    jaccard = common / (deg_a + deg_b - common)) for pairs with
    jaccard >= threshold, node_a < node_b.
    """
    sym = _symmetric(edges)  # (center u, neighbor v)
    deg = sym.groupBy(F.col("u").alias("node")) \
        .agg(F.count(F.lit(1)).alias("deg"))
    # attach endpoint degrees to the wedge legs so the threshold's
    # degree-ratio implication prunes INSIDE the join, before the
    # per-pair aggregation: jaccard >= t forces
    # common >= t * max(da, db) and common <= min(da, db), hence
    # min(da, db) >= t * max(da, db).
    legs = sym.join(deg.select(F.col("node").alias("v"),
                               F.col("deg").alias("dv")), "v")
    e1 = legs.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    e2 = legs.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    # endpoint degrees ride the wedge legs and are constant per pair, so
    # first() through the aggregation replaces two whole degree joins
    # (plan: 7 exchanges instead of 11, 3 sort-merge joins instead of 5)
    common = (e1.join(e2, "u")
              .filter((F.col("x") < F.col("y"))
                      # 1e-6 slack: the output filter accepts ROUND-6
                      # jaccard >= threshold, so the prune must not drop
                      # pairs whose exact jaccard sits a hair under the
                      # threshold but rounds onto it
                      & (F.least("dx", "dy")
                         >= (threshold - 1e-6) * F.greatest("dx", "dy")))
              .groupBy(F.col("x").alias("node_a"),
                       F.col("y").alias("node_b"))
              .agg(F.count(F.lit(1)).alias("common_neighbors"),
                   F.first("dx").alias("deg_a"),
                   F.first("dy").alias("deg_b")))
    return (common
            .withColumn(
                "jaccard",
                F.round(F.col("common_neighbors")
                        / (F.col("deg_a") + F.col("deg_b")
                           - F.col("common_neighbors")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("node_a", "node_b", "common_neighbors", "jaccard"))


def neighborhood_overlap_lsh(edges: DataFrame, threshold: float = 0.5,
                             num_hashes: int = 24,
                             bands: int = 8) -> DataFrame:
    """Merge candidates by neighborhood Jaccard — the minhash-LSH tier.

    Same output contract as ``neighborhood_overlap`` (node_a < node_b,
    common_neighbors, jaccard >= threshold, rounded to 6) but candidates come
    from banded MinHash over each node's undirected adjacency SET
    instead of the exact wedge join, then ONLY bucket-colliding pairs
    are reranked with the exact intersection count.

    Scale shape (the 10^12-file answer to the wedge join's inherent
    Omega(sum_c C(deg_c, 2)) fan-out): signatures are one groupBy over
    the symmetric edge list (k min-aggregates, whole-stage codegen, one
    shuffle on the uniform node key); bucketing shuffles on (band,
    bucket) which is uniform by construction; the rerank join fans each
    candidate pair to its common neighbors only.  A degree-d mega-hub
    CENTER costs d signature rows — never d^2 candidate pairs — because
    its leaves only collide when their neighbor sets genuinely agree on
    a band.

    Probabilistic recall, stated honestly: a pair with Jaccard j
    collides with probability 1 - (1 - j^r)^bands, r = num_hashes /
    bands.  Defaults (24 hashes, 8 bands, r=3) give ~0.66 at j=0.5,
    ~0.97 at j=0.7 and 1.0 at j=1.0 — tuned for high-confidence merge
    candidates while suppressing background pairs hard (a j=1/15
    coincidental-hub pair collides with p~0.002, the term that keeps a
    mega-hub's candidate volume bucket-bounded).  For boundary-recall
    work set bands=12 (r=2: ~0.97 at j=0.5) and pay more candidates.
    Precision is exact (rerank).  The exact tier remains the
    gate-scale oracle formulation; for driver-verification the oracle
    replays THIS pipeline (bit-exact XXH64 replica), so the comparison
    is deterministic despite the probabilistic recall.
    """
    sym, pairs = adjacency_lsh_candidates(edges, num_hashes, bands)
    deg = sym.groupBy(F.col("u").alias("node")) \
        .agg(F.count(F.lit(1)).alias("deg"))
    # exact rerank on candidates only: fan each pair to node_a's
    # neighbors, keep rows where the neighbor is also node_b's — the
    # intermediate is deg(node_a) rows per candidate, and candidates
    # are bucket-bounded
    pa = sym.select(F.col("u").alias("node_a"), "v")
    pb = sym.select(F.col("u").alias("node_b"), "v")
    common = (pairs.join(pa, "node_a")
              .join(pb, ["node_b", "v"])
              .groupBy("node_a", "node_b")
              .agg(F.count(F.lit(1)).alias("common_neighbors")))
    da = deg.select(F.col("node").alias("node_a"),
                    F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"),
                    F.col("deg").alias("deg_b"))
    return (common.join(da, "node_a").join(db, "node_b")
            .withColumn(
                "jaccard",
                F.round(F.col("common_neighbors")
                        / (F.col("deg_a") + F.col("deg_b")
                           - F.col("common_neighbors")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("node_a", "node_b", "common_neighbors", "jaccard"))


def adjacency_lsh_candidates(edges: DataFrame, num_hashes: int = 24,
                             bands: int = 8
                             ) -> tuple[DataFrame, DataFrame]:
    """(symmetric ``(u, v)`` adjacency frame, candidate pairs) for the
    LSH overlap tier — split out so the candidate volume is testable on its own
    (the mega-hub skew test asserts candidates << C(deg, 2))."""
    from cbor_ld_spark.operators.dedup import banded_signature_pairs

    sym = _symmetric(edges)
    # k seeded min-hashes over the adjacency set: sym is already one
    # row per (node, neighbor), so the signature is a single hash
    # aggregation — no explode, no higher-order folds
    aggs = [F.min(F.xxhash64("v", F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)]
    sigs = (sym.groupBy(F.col("u").alias("node")).agg(*aggs)
            .select("node",
                    F.array(*[F.col(f"mh_{i}")
                              for i in range(num_hashes)])
                    .alias("signature")))
    pairs = banded_signature_pairs(sigs, num_hashes, bands,
                                   id_col="node",
                                   out_a="node_a", out_b="node_b")
    return sym, pairs


def hits(edges: DataFrame, iters: int = 5,
         round_to: int = 6) -> DataFrame:
    """HITS hubs/authorities over the directed entity graph.

    a_{t+1}(v) = sum(h_t(u), u->v); h_{t+1}(u) = sum(a_{t+1}(v), u->v);
    each vector L2-normalized per iteration.  Norms are 1-row
    aggregations broadcast back, not collected scalars, so the loop has
    no driver sync; sqrt and division are IEEE in both engines, so the
    oracle replays the same arithmetic.  A null or zero sum of squares
    normalizes by 1.0, leaving an all-zero vector zero.  Each half-step
    localCheckpoints its un-normalized vector (two lineage cuts per
    iteration); ``edges`` must be materialized (module contract).
    """
    import math

    if iters < 1:
        # there is no meaningful "HITS after 0 rounds" output
        raise ValueError(f"hits() requires iters >= 1, got {iters}")
    nodes = graph_nodes(edges)
    n = nodes.count()
    if n == 0:
        return edges.sparkSession.createDataFrame(
            [], "node string, hub double, authority double")

    def half_step(vec: DataFrame, frm: str, to: str, col_in: str,
                  col_out: str) -> DataFrame:
        """Sum ``col_in`` over each node's ``frm`` -> ``to`` edges into
        ``col_out`` (0 for no edges), then L2-normalize."""
        summed = (edges.join(vec, edges[frm] == vec.node)
                  .groupBy(F.col(to).alias("node"))
                  .agg(F.sum(col_in).alias(col_out)))
        raw = (nodes.join(summed, "node", "left")
               .select("node", F.coalesce(col_out, F.lit(0.0))
                       .alias(col_out))
               .localCheckpoint())
        s = F.col("_s")
        norm = (raw.agg(F.sum(F.col(col_out) * F.col(col_out)).alias("_s"))
                .select(F.sqrt(F.when(s.isNull() | (s == 0.0), F.lit(1.0))
                               .otherwise(s)).alias("_norm")))
        return (raw.crossJoin(F.broadcast(norm))
                .select("node", (F.col(col_out) / F.col("_norm"))
                        .alias(col_out)))

    hv = nodes.withColumn("hub", F.lit(1.0 / math.sqrt(n)))
    for _ in range(iters):
        av = half_step(hv, "src", "dst", "hub", "authority")
        hv = half_step(av, "dst", "src", "authority", "hub")
    return (hv.join(av, "node")
            .select("node", F.round("hub", round_to).alias("hub"),
                    F.round("authority", round_to).alias("authority"))
            .localCheckpoint())


def k_core_decomposition(edges: DataFrame,
                         max_iters: int = 50) -> DataFrame:
    """Coreness per node via distributed h-index iteration (Montresor/
    De Pellegrini/Miorandi, "Distributed k-core decomposition" — public
    algorithm): c_0(v) = deg(v); each round c_{t+1}(v) = h-index of its
    neighbors' current estimates (the largest h such that >= h
    neighbors have c >= h).  Estimates decrease monotonically to the
    true coreness; iteration stops when NO estimate changed, so the
    result AND the iteration count are pure functions of the edge set
    (replayable by the oracle), with ``max_iters`` as a loud bound.

    Scale shape (bounded histogram, so a mega-hub cannot skew a task):
    per round, one shuffle join (adjacency x estimates, on the uniform
    node key), then the h-index is computed from a per-node VALUE
    HISTOGRAM instead of a per-node ``row_number`` window over raw
    neighbor messages.  The histogram ``groupBy(node, value)`` has
    map-side partial aggregation, so a degree-d mega-hub never
    funnels d rows into one task's sort buffer — only its distinct
    neighbor-estimate values shuffle; values are then CAPPED at the
    node's current estimate (a new estimate can never exceed it, and
    capped values yield the identical h-index), which bounds the
    per-node histogram at cap+1 rows, so the remaining cumulative-sum
    window touches <= cap+1 rows per node per round regardless of
    degree.  Bit-identical to the direct h-index (property-tested,
    incl. a 10^4-degree hub); per-iteration localCheckpoint (module
    contract) and a 1-row convergence count.

    Output: (node, coreness int).
    """
    from pyspark.sql import Window

    sym = _symmetric(edges)
    cur = (sym.groupBy(F.col("u").alias("node"))
           .agg(F.count(F.lit(1)).alias("c"))
           .localCheckpoint())
    wh = (Window.partitionBy("node").orderBy(F.desc("val"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    for _ in range(max_iters):
        nbr = cur.select(F.col("node").alias("v"), F.col("c").alias("c_nb"))
        msgs = sym.join(nbr, "v").select(F.col("u").alias("node"),
                                         "c_nb")
        # raw histogram first: map-side combine absorbs hub fan-in
        hist0 = (msgs.groupBy("node", "c_nb")
                 .agg(F.count(F.lit(1)).alias("cnt")))
        # cap at the node's current estimate and re-bucket: <= cap+1
        # histogram rows per node survive
        hist = (hist0.join(cur, "node")
                .select("node", F.least("c_nb", "c").alias("val"),
                        "cnt")
                .groupBy("node", "val").agg(F.sum("cnt").alias("cnt")))
        # h-index over the histogram: rows desc by value, running
        # neighbor count m — h = max over rows of min(val, m)
        h = (hist.withColumn("_m", F.sum("cnt").over(wh))
             .groupBy("node")
             .agg(F.max(F.least(F.col("val"), F.col("_m")))
                  .alias("h")))
        # carry the changed flag through the checkpoint: convergence
        # detection then scans the checkpoint blocks instead of paying
        # a new-vs-old join job per round
        new = (cur.join(h, "node")
               .select("node", F.least("c", "h").alias("c"),
                       (F.least("c", "h") != F.col("c")).alias("_chg"))
               .localCheckpoint())
        n_changed = new.filter(F.col("_chg")).count()
        cur = new.drop("_chg")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"k_core_decomposition did not converge in {max_iters} "
            "iterations — raise max_iters (estimates are monotone, so "
            "non-convergence means a pathological diameter, not a loop)")
    return cur.select("node", F.col("c").cast("int").alias("coreness"))


def _anf_totals(edges: DataFrame, lg_k: int) -> Iterator[int]:
    """The HyperANF hop loop: yields the floored ANF total at hop 0, 1,
    2, ... for as long as the caller pulls (nothing for an empty
    graph).  One edge join + one sketch union-aggregate per hop,
    localCheckpoint'd, plus one 1-row collect of the total."""
    nodes = graph_nodes(edges)
    n = nodes.count()
    if n == 0:
        return
    yield int(n)  # singleton sketches are exact by construction
    # ball(v, 0) = {v}: one sketch per node over its own id
    r = (nodes.groupBy("node")
         .agg(F.hll_sketch_agg("node", F.lit(lg_k)).alias("sk"))
         .localCheckpoint())
    while True:
        nbr = (edges.join(r, edges.dst == r.node)
               .select(edges.src.alias("node"), "sk"))
        r = (r.unionByName(nbr)
             .groupBy("node")
             .agg(F.hll_union_agg("sk").alias("sk"))
             .localCheckpoint())
        yield int(r.agg(
            F.sum(F.floor(F.hll_sketch_estimate("sk")).cast("long"))
            .alias("e")).collect()[0]["e"])


def approx_neighborhood_function(edges: DataFrame, k: int = 4,
                                 lg_k: int = 12) -> DataFrame:
    """HyperANF-style approximate neighborhood function (Boldi/Rosa/
    Vigna, WWW'11 — public algorithm): per-node HyperLogLog sketches of
    the out-reachability ball, unioned along edges each hop.

    ANF(h) = sum over nodes v of |{u : dist(v, u) <= h}| (self
    included) — the distance distribution / effective-diameter
    primitive.  Exact all-pairs BFS is Theta(n * m) and impossible at
    10^12 scale; this is the 100 TB answer: state is one fixed-size
    sketch per node (Spark's native Datasketches HLL via
    ``hll_sketch_agg`` / ``hll_union_agg`` — JVM-side, mergeable,
    register state independent of merge order), one edge join + one
    union-aggregate per hop (``_anf_totals``).  ``edges`` must be
    materialized (module contract).

    Output: (hop, est_pairs) for hop 0..k.  Each per-node estimate is
    FLOORED to a long before summing, so the total is exact integer
    arithmetic — partition-order-free and deterministic, which is what
    lets the driver's oracle verify a sketch-based result by value
    (tolerance-bool pattern at the query layer).
    """
    return edges.sparkSession.createDataFrame(
        list(enumerate(islice(_anf_totals(edges, lg_k), k + 1))),
        "hop int, est_pairs long")


def effective_diameter(edges: DataFrame, alpha: float = 0.9,
                       max_hops: int = 32,
                       lg_k: int = 12) -> tuple[int, int, list[int]]:
    """Effective diameter from the HyperANF curve (Boldi/Rosa/Vigna):
    the smallest hop h whose neighborhood-function value reaches
    ``alpha`` of the saturated total — the classic "90% of reachable
    pairs are within h hops" statistic, computable at 10^12 scale
    because it needs only the ANF curve, never all-pairs distances.

    Runs the same hop loop as ``approx_neighborhood_function`` but to
    SATURATION (stops the hop after the floored-estimate total stops
    growing) instead of a fixed k, with ``max_hops`` as the loud bound.
    The threshold compare is exact integer arithmetic (``alpha`` as a
    fraction, cross-multiplied), so the result is a deterministic pure
    function of the edge set — the property the tolerance-bool oracle
    pattern needs.  ``edges`` must be materialized (module contract).

    Returns ``(eff_hops, saturation_hop, curve)`` where ``curve[h]``
    is the floored ANF total at hop h (driver-side ints: one 1-row
    collect per hop, the algorithm's own output — bounded)."""
    from fractions import Fraction

    fa = Fraction(alpha).limit_denominator(10 ** 6)
    curve: list[int] = []
    for est in islice(_anf_totals(edges, lg_k), max_hops + 1):
        if curve and est == curve[-1]:
            break  # no growth this hop: saturated at the previous one
        curve.append(est)
    else:
        if curve:
            raise RuntimeError(
                f"effective_diameter: ANF total still growing after "
                f"{max_hops} hops — raise max_hops")
        return 0, 0, [0]  # empty graph
    sat = len(curve) - 1
    final = curve[sat]
    eff = next(h for h in range(sat + 1)
               if curve[h] * fa.denominator >= fa.numerator * final)
    return eff, sat, curve


def label_propagation(edges: DataFrame, iters: int = 5,
                      hub_degree_threshold: int | None = 10_000,
                      salt: int = 16) -> DataFrame:
    """Deterministic semi-synchronous label propagation communities.

    label_0(v) = v; each iteration every node adopts the most frequent
    label among its undirected neighbors, ties broken by smallest
    label (so the result is a pure function of the edge set — no
    random ordering, replayable by the oracle).  Isolated nodes keep
    their own label.  Fixed iterations; per-iteration localCheckpoint
    (module contract).

    Scale shape: one shuffle join + one (node, label) hash aggregation
    + one per-node window (partitioned by node, never global) per
    iteration; a hub's per-iteration work is bounded by its degree.

    Skew: the message join keys the adjacency frame on the label
    PROVIDER ``v``, so a degree-d hub's d adjacency rows land in one
    join task.  Nodes with degree >= ``hub_degree_threshold`` take a
    salted path: their adjacency rows spread over ``salt`` buckets and
    the (tiny) hot slice of the label frame is replicated per salt —
    the standard hot-key split, same machinery as
    ``operators/scoring.salted_join``.  The split is degree-based and
    computed ONCE (degrees don't change across iterations); results
    are bit-identical with or without salting (the aggregation sees
    the same messages).  AQE's skew-join handles residual runtime skew
    on top.  ``hub_degree_threshold=None`` disables the split.
    """
    from pyspark.sql import Window

    sym = _symmetric(edges)
    nodes = graph_nodes(edges)

    has_hot = False
    sym_cold = sym
    if hub_degree_threshold is not None:
        # provider-side degree = how many adjacency rows carry each v;
        # hot set is tiny by definition (true hubs), broadcast twice
        hot = (sym.groupBy("v")
               .agg(F.count(F.lit(1)).alias("_d"))
               .filter(F.col("_d") >= hub_degree_threshold)
               .select("v")
               .localCheckpoint())
        has_hot = hot.limit(1).count() > 0
        # hub-free graphs (the common case at the default threshold)
        # skip the split entirely — no duplicate adjacency blocks, no
        # extra materializing jobs
        if has_hot:
            sym_hot = (sym.join(F.broadcast(hot), "v", "left_semi")
                       .withColumn("_salt",
                                   F.floor(F.rand(42) * salt).cast("int"))
                       .localCheckpoint())
            sym_cold = (sym.join(F.broadcast(hot), "v", "left_anti")
                        .localCheckpoint())

    labels = nodes.withColumn("label", F.col("node")).localCheckpoint()
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(iters):
        lbl_v = labels.select(F.col("node").alias("v"), "label")
        msgs = (sym_cold.join(lbl_v, "v")
                .select(F.col("u").alias("node"), "label"))
        if has_hot:
            lbl_hot = (lbl_v.join(F.broadcast(hot), "v", "left_semi")
                       .withColumn("_salt",
                                   F.explode(F.sequence(
                                       F.lit(0), F.lit(salt - 1)))))
            msgs_hot = (sym_hot.join(lbl_hot, ["v", "_salt"])
                        .select(F.col("u").alias("node"), "label"))
            msgs = msgs.unionByName(msgs_hot)
        counts = (msgs.groupBy("node", "label")
                  .agg(F.count(F.lit(1)).alias("c")))
        best = (counts.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("node", F.col("label").alias("_new")))
        labels = (nodes.join(best, "node", "left")
                  .select("node",
                          F.coalesce("_new", F.col("node")).alias("label"))
                  .localCheckpoint())
    return labels

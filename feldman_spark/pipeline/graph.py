"""Connected components over near-duplicate pair graphs.

Beyond-reference capability (no counterpart in laccore/feldman): the
dedup operators (:mod:`feldman_spark.pipeline.dedup`) emit *pairs*; a
training pipeline needs *clusters* — the transitive closure of the
pair graph — and then one survivor per cluster. This module closes that
gap with a Pregel-style iterative min-label propagation expressed as
DataFrame joins:

* every node starts labeled with itself;
* each round, a node's label becomes the min of its own and its
  neighbors' labels (one join + one aggregate — both shuffle on the
  node id, both linear in the edge count), then pointer-jumps
  (label := label's label), which halves label-chain lengths;
* convergence when no label changes — O(log diameter) rounds thanks to
  the pointer jumping; near-dup clusters (stars / short chains around
  a template) finish in 2-3. ``max_iter`` caps pathological graphs.

Scale notes (100 TB corpus): the edge list is the candidate-pair output
of LSH/banding — a vanishing fraction of the corpus — so each round
shuffles ids only, never documents. The driver-side loop holds no data,
only iteration control (checking the convergence count), which is the
standard shape for iterative algorithms on Spark. The hop + jump round
is the two-phase idea of Kiveris et al., "Connected Components in
MapReduce and Beyond" (large-star/small-star), expressed as two joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from feldman_spark.ops.sizing import persist_scoped, plan_size_estimate

__all__ = ["connected_components", "dedup_survivors",
           "dedup_survivors_best", "pagerank", "triangle_stats",
           "cooccurrence_pairs", "cooccurrence_pmi"]


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc1",
    dst_col: str = "doc2",
    out_id: str = "doc_id",
    out_label: str = "cluster_id",
    max_iter: int = 20,
) -> DataFrame:
    """Label every node of the pair graph with the minimum node id of its
    connected component. Returns one row per distinct node:
    ``(out_id, out_label)``.

    Deterministic: labels are min ids, independent of partitioning or
    iteration order. Raises ``RuntimeError`` if ``max_iter`` rounds do
    not converge (diameter > max_iter — not a near-dup-shaped graph).
    """
    edges = (
        pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            pairs.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .persist()
    )
    # localCheckpoint (not persist): each round's plan would otherwise
    # NEST the previous round's — with the pointer-jump self-join that
    # doubles the logical-plan tree per round, exhausting driver heap on
    # deep iterations. Checkpointing truncates lineage to the
    # materialized blocks. On a cluster prefer a reliable checkpoint dir
    # (sc.setCheckpointDir + .checkpoint()) to survive executor loss.
    labels = (
        edges.select(F.col("a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # min neighbor label per node, folded with the node's own label
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        hopped = (
            labels.join(neighbor_min, "id", "left")
            .select("id",
                    F.least(F.col("label"), F.coalesce("nmin", "label"))
                    .alias("label"))
        )
        # pointer jumping (label := label's label): halves label-chain
        # lengths each round, so convergence is O(log diameter) instead
        # of O(diameter) — a path graph finishes in ~log2(n) rounds
        lookup = hopped.select(F.col("id").alias("label"),
                               F.col("label").alias("_ll"))
        new_labels = (
            hopped.join(lookup, "label", "left")
            .select("id",
                    F.least(F.col("label"), F.coalesce("_ll", "label"))
                    .alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "id")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")

    edges.unpersist()
    return labels.select(F.col("id").alias(out_id), F.col("label").alias(out_label))


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc1",
    dst_col: str = "doc2",
) -> DataFrame:
    """Drop every near-duplicate except one per cluster: the surviving
    document is the minimum id of its connected component (== the
    cluster label), so survivors are deterministic under any
    partitioning. Documents in no pair survive untouched.

    The anti-join side is (id) pairs only — the corpus rows never
    shuffle; with a broadcast-sized victim set the join is map-side.
    """
    comp = connected_components(pairs, src_col, dst_col,
                                out_id=id_col, out_label="_cluster")
    victims = comp.filter(F.col(id_col) != F.col("_cluster")).select(id_col)
    return df.join(victims, id_col, "left_anti")


def dedup_survivors_best(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    src_col: str = "doc1",
    dst_col: str = "doc2",
) -> DataFrame:
    """Like :func:`dedup_survivors`, but the survivor of each
    near-duplicate cluster is its BEST document by ``quality_col``
    (min-id tiebreak) — the production policy when near-dups differ in
    extraction quality and "keep the cleanest copy" beats "keep the
    first crawl". Documents in no pair survive untouched; a cluster
    whose every quality is NULL survives whole (``max`` ignores nulls —
    no winner can be named, so nothing is dropped).

    The argmax is two cluster-keyed AGGREGATES (max quality, then min
    id among the maxima) rather than a ``row_number`` window: a
    boilerplate cluster of millions partial-aggregates map-side instead
    of funnelling through the single reducer owning its cluster label.
    Only (id, cluster, quality) triples shuffle — never documents."""
    comp = connected_components(pairs, src_col, dst_col,
                                out_id=id_col, out_label="_cluster")
    ranked = comp.join(df.select(F.col(id_col), F.col(quality_col)), id_col)
    mq = ranked.groupBy("_cluster").agg(
        F.max(F.col(quality_col)).alias("_qmax"))
    winners = (
        ranked.join(mq, "_cluster")
        .filter(F.col(quality_col) == F.col("_qmax"))
        .groupBy("_cluster")
        .agg(F.min(F.col(id_col)).alias("_keep"))
    )
    victims = (
        comp.join(winners, "_cluster")
        .filter(F.col(id_col) != F.col("_keep"))
        .select(id_col)
    )
    return df.join(victims, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    round_digits: int = 8,
) -> DataFrame:
    """Fixed-iteration PageRank (Page et al. 1999) over a directed edge
    list — the classic link-authority score crawl pipelines use to
    prioritize fetch order and weight training documents by source
    quality. Returns ``(node, rank)`` with ranks rounded to
    ``round_digits`` (so results are stable across float summation
    orders and engines).

    Semantics: ``r_0 = 1/N`` for the N distinct nodes (either
    endpoint); each iteration
    ``r = (1-d)/N + d * sum_{u -> v} r_u / outdeg_u``. Duplicate edges
    are collapsed first (an edge either exists or not). Mass from
    dangling nodes (no out-edges) is NOT redistributed — ranks then sum
    to < 1, the standard "PageRank without dangling patch" variant;
    callers wanting a probability vector can renormalize the output.
    This keeps every iteration to exactly one join + one aggregate.

    Scale shape: per iteration the rank vector (two scalar columns)
    joins the deduplicated edge list on ``src`` and aggregates on
    ``dst`` — both shuffles linear in |E|, nothing document-sized
    moves, and the driver holds only loop control. For many iterations
    interpose ``localCheckpoint`` every few rounds to cut lineage (the
    connected-components operator above does the same).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(
        F.col(f"`{src_col}`").alias("src"), F.col(f"`{dst_col}`").alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # N is one broadcast scalar; the degree-annotated edge list is
    # loop-invariant — join degrees ONCE, not once per iteration
    n_total = nodes.agg(F.count("*").alias("_n"))
    deg = e.groupBy("src").agg(F.count("*").alias("_deg"))
    e_deg = e.join(deg, "src")
    ranks = nodes.crossJoin(F.broadcast(n_total)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank"), "_n"
    )
    for _ in range(iters):
        contrib = (
            e_deg.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", (F.col("rank") / F.col("_deg")).alias("_c"), "_n")
        )
        inbound = contrib.groupBy("dst", "_n").agg(F.sum("_c").alias("_in"))
        ranks = (
            ranks.select("node", "_n")
            .join(inbound.withColumnRenamed("dst", "node"), ["node", "_n"],
                  "left")
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("_n")
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
                "_n",
            )
        )
    return ranks.select(
        "node", F.round("rank", round_digits).alias("rank"))


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected graph given as a (possibly directed, possibly duplicated)
    edge list — the graph-shape statistic behind community detection,
    spam-host scoring, and link-farm triage in crawl pipelines.

    Returns ONE row: ``(n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering)`` where ``n_wedges = sum_v deg(v)*(deg(v)-1)/2``
    and ``global_clustering = 3 * triangles / wedges`` (0 when the graph
    has no wedge; rounded to 6).

    The textbook 3-way self-join counts every triangle 6 times and lets
    a hub node explode the intermediate. Here edges are **oriented by
    degree** first (low-(degree, id) endpoint → high), the standard
    Ortmann/Schank refinement: every wedge is enumerated only at its
    lowest-rank corner, so per-node wedge work is bounded by
    *out*-degree² — O(m^1.5) total regardless of hubs (a celebrity node
    has huge in-degree but tiny out-degree under this orientation), and
    each triangle is counted exactly once with no DISTINCT pass.

    Scale (100 TB): canonicalize + degree are linear shuffles on node
    ids; the wedge join and the closing semi-join shuffle id pairs only
    — no payload columns ride along. Skewed residual wedges (after
    orientation the out-degree cap is ~sqrt(m)) split fine under AQE.
    """
    a, b = F.col(f"`{src_col}`"), F.col(f"`{dst_col}`")
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "a")
                .withColumnRenamed("deg", "_da"), "a")
        .join(deg.withColumnRenamed("node", "b")
                .withColumnRenamed("deg", "_db"), "b")
    )
    # rank = (degree, id): a total order; orient low -> high
    ra = F.struct(F.col("_da").alias("d"), F.col("a").alias("n"))
    rb = F.struct(F.col("_db").alias("d"), F.col("b").alias("n"))
    lt = ra < rb
    oriented = ed.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lt, rb).otherwise(ra).alias("rv"),
    )
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("x"), F.col("rv").alias("rx"))
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("rv").alias("ry"))
    wedges = o1.join(o2, "u").filter(F.col("rx") < F.col("ry")).select(
        F.col("x"), F.col("y"))
    # the closing edge (x, y) with rank(x) < rank(y) is oriented x -> y
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "left_semi").agg(
        F.count("*").alias("n_triangles"))
    totals = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum("deg") / F.lit(2)).cast("bigint").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / F.lit(2))
        .cast("bigint").alias("n_wedges"),
    )
    return (
        totals.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes", "n_edges", "n_wedges",
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            F.round(
                F.when(F.col("n_wedges") > 0,
                       F.lit(3.0) * F.col("n_triangles")
                       / F.col("n_wedges")).otherwise(F.lit(0.0)),
                6,
            ).alias("global_clustering"),
        )
    )


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    cap: int = 50,
    min_count: int = 2,
    seed: str = "coocc",
) -> DataFrame:
    """Item co-occurrence counts: for every unordered item pair, in how
    many groups (baskets / users / documents) do both appear — the
    association signal behind related-items, query suggestion, and
    co-citation graphs.

    Returns ``(item_a, item_b, n_groups)`` with ``item_a < item_b`` and
    ``n_groups >= min_count``.

    The raw self-join is quadratic in basket size: ONE group with 10M
    distinct items contributes 5·10^13 pairs. The standard production
    guard is applied first — each group's item set is **capped** at
    ``cap`` via the deterministic hash-variate sampler
    (:func:`feldman_spark.pipeline.sampling.cap_per_group`), bounding
    every group's contribution at ``cap·(cap-1)/2`` pairs, so the join
    output is ≤ ``n_groups · cap²/2`` no matter how pathological the
    hot basket. Which items survive a capped basket is variate-decided
    — stable across runs, partitionings, and corpus growth.

    Scale (100 TB): dedup + cap shuffle once on the group key; the
    pair join reuses that same key (co-partitioned self-join, no extra
    exchange of the big side); the final count aggregates map-side on
    the pair key. Only (group, item) id pairs move — never payloads.
    """
    from feldman_spark.pipeline.sampling import cap_per_group

    if cap < 2:
        raise ValueError(f"cap must be >= 2, got {cap}")
    base = (
        df.select(F.col(f"`{group_col}`").alias("_g"),
                  F.col(f"`{item_col}`").alias("_i"))
        .filter(F.col("_g").isNotNull() & F.col("_i").isNotNull())
        .distinct()
    )
    capped = cap_per_group(base, "_g", cap, key_col="_i", seed=seed)
    l = capped.select("_g", F.col("_i").alias("item_a"))
    r = capped.select("_g", F.col("_i").alias("item_b"))
    return (
        l.join(r, "_g")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_groups"))
        .filter(F.col("n_groups") >= min_count)
    )


def cooccurrence_pmi(
    df: DataFrame,
    group_col: str,
    item_col: str,
    cap: int = 50,
    min_count: int = 2,
    seed: str = "coocc",
    digits: int = 4,
) -> DataFrame:
    """Pointwise mutual information over item co-occurrence — raw
    pair counts (:func:`cooccurrence_pairs`) rank popular×popular
    pairs first even when the association is pure chance; PMI
    ``log2(P(a,b) / (P(a)·P(b)))`` asks "do these co-occur MORE than
    their popularities predict?", the collocation/related-items
    ranking that actually surfaces signal. Also emits normalized NPMI
    ``pmi / −log2(P(a,b))`` ∈ [−1, 1] (Bouma 2009), which doesn't
    inflate for rare pairs the way raw PMI does.

    Probabilities are over GROUPS: ``P(a) = groups containing a / N``,
    computed on the SAME capped item sets as the pair counts, so the
    three counts are mutually consistent by construction. Returns
    ``(item_a, item_b, n_groups, pmi, npmi)`` with ``item_a <
    item_b`` and ``n_groups >= min_count``.

    Scale (100 TB): identical exchange plan to
    :func:`cooccurrence_pairs` (dedup+cap on the group key, pair
    self-join reusing it, map-side pair counts) plus one item-sized
    margin aggregate broadcast twice onto the pair table and a one-row
    N — the PMI arithmetic adds zero fact-table passes.

    Large inputs persist the capped item-set table in-process so all
    four consumers share one computation; in a long-lived session call
    :func:`feldman_spark.ops.sizing.release` when done (each call on a
    large input pins another table until released — ``clearCache()``
    between queries, as the bench harness does, also works).
    """
    from feldman_spark.pipeline.sampling import cap_per_group

    if cap < 2:
        raise ValueError(f"cap must be >= 2, got {cap}")
    base = (
        df.select(F.col(f"`{group_col}`").alias("_g"),
                  F.col(f"`{item_col}`").alias("_i"))
        .filter(F.col("_g").isNotNull() & F.col("_i").isNotNull())
        .distinct()
    )
    # FOUR consumers read the capped item sets (both pair-join sides,
    # the item margins, the group total) — uncached, each re-ran the
    # distinct exchange + cap window over the corpus (plan: 4 Window /
    # 4 Sort subtrees). The capped table is ≤ cap rows per group of two
    # ids each; persist it once and every consumer reads the cache
    # (through persist_scoped — the returned plan is lazy, so an
    # in-function unpersist would kill the cache before the caller's
    # action). Size-gated like
    # repetition_metrics' auto mode: on a small input the four subtrees
    # run as concurrent branches of one job and the cache's
    # materialization barrier only serializes them; at scale the three
    # redundant distinct+window passes dominate — unlike mutual_info's
    # map-side-cheap passes, each re-run here pays the full per-group
    # cap SORT. Measured minima (alternating A/B, this host): sf1
    # (4.9 MB input estimate) uncached 1.98 s vs cached 4.57 s; sf5
    # (22 MB) uncached 5.99 s vs cached 0.94 s — the gate sits between
    # those rungs.
    capped = cap_per_group(base, "_g", cap, key_col="_i", seed=seed)
    if plan_size_estimate(df) > (8 << 20):
        capped = persist_scoped(capped)
    l = capped.select("_g", F.col("_i").alias("item_a"))
    r = capped.select("_g", F.col("_i").alias("item_b"))
    pairs = (
        l.join(r, "_g")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_groups"))
        .filter(F.col("n_groups") >= min_count)
    )
    margins = capped.groupBy(F.col("_i")).agg(F.count("*").alias("_ni"))
    tot = capped.agg(F.countDistinct("_g").alias("_n"))
    j = (pairs
         .join(F.broadcast(margins.select(F.col("_i").alias("item_a"),
                                          F.col("_ni").alias("_na"))),
               "item_a")
         .join(F.broadcast(margins.select(F.col("_i").alias("item_b"),
                                          F.col("_ni").alias("_nb"))),
               "item_b")
         .crossJoin(F.broadcast(tot)))
    nab = F.col("n_groups").cast("double")
    n = F.col("_n").cast("double")
    pmi = F.log2((nab * n)
                 / (F.col("_na").cast("double") * F.col("_nb").cast("double")))
    npmi = pmi / -F.log2(nab / n)
    # P(a,b) = 1 (a pair in EVERY group) makes −log2 P(a,b) = 0;
    # NPMI is +1 by convention there
    npmi = F.when(F.col("n_groups") == F.col("_n"), F.lit(1.0)) \
        .otherwise(npmi)
    return j.select(
        "item_a", "item_b", "n_groups",
        F.bround(pmi, digits).alias("pmi"),
        F.bround(npmi, digits).alias("npmi"))

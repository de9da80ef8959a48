"""Duplicate-cluster resolution: distributed connected components over
near-dup candidate pairs.

LSH / SimHash banding (datapipe.dedup) emits *pairs*; a production dedup
pipeline needs *clusters* — the transitive closure of the pair graph — so
exactly one canonical document survives per duplicate group (the reference
deduplicates per-key with keep-first, ``analyse.py:372``; this is the
graph generalization a 100 TB corpus needs once near-dup edges are fuzzy).

Algorithm: iterative min-label propagation on the symmetrized edge list —
each round every node adopts ``min(own label, neighbours' labels)``:

    labels_{t+1}(v) = min(labels_t(v), min_{(u,v) in E} labels_t(u))

Properties that make this the right Spark shape:

- each round is ONE shuffle (edges ⋈ labels on dst, then min-groupBy) and
  the frames carry only (int64, int64) rows — never text;
- rounds needed = graph diameter; near-dup graphs are clique-like (every
  member pairs with most others), so 2–3 rounds in practice. A pathological
  chain of D near-identical docs needs D rounds — ``max_iter`` bounds it
  and the implementation raises rather than silently returning a
  half-merged clustering;
- ``localCheckpoint`` truncates the lineage each round so the plan does not
  grow (and re-execute) quadratically across iterations — same
  materialization-barrier discipline as the Lloyd loop in
  datapipe.similarity;
- convergence test is a count of changed labels — one tiny action per
  round, exactly the MLlib iterative pattern.

The result is deterministic: min() over a set, no RNG, no tie-breaks.
Cluster id = the smallest member id, so ``cluster_id`` doubles as the
survivor key with no extra pass.

For graphs with truly large diameters the published fix is large-star /
small-star (Kiveris et al., "Connected Components in MapReduce and
Beyond"), which converges in O(log² n) rounds; min-label propagation is
preferred here because dedup graphs are shallow and each round is cheaper
(no double edge materialization); the trade is more rounds on a deep,
chain-like graph, where large-star/small-star would win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve the pair graph into components.

    Returns one row per node appearing in any pair:
    ``(id, cluster_id)`` where ``cluster_id`` is the minimum node id
    reachable from ``id`` (the canonical survivor of the duplicate group).

    Raises ``RuntimeError`` if ``max_iter`` rounds do not converge — a
    correctness guard, not a soft cap: a half-propagated labelling would
    under-merge clusters.
    """
    # Materialize the (usually expensive) pair plan ONCE before it fans out
    # into both directions of the symmetrized edge list.
    base = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst")).localCheckpoint(
        eager=True
    )
    # Symmetrize so propagation flows both ways; distinct() keeps each
    # (src, dst) once — the frame is two ints wide, the shuffle is cheap.
    edges = base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)

    # Round 0 folds the first propagation into label initialization:
    # label(v) = min(v, min neighbour) straight off the edge list.
    labels = edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("lab")
    ).select(F.col("src").alias("id"), "lab")
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iter):
        # Push every node's current label to its neighbours, then take the
        # min of (own label, pushed labels). Join key is dst (int64).
        # The node's own previous label rides along as a conditional max
        # (each id has exactly one own row), so the convergence test is a
        # column compare on the just-checkpointed frame — one trivial scan
        # instead of the old new⋈old join job per round.
        pushed = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(F.col("src").alias("id"), "lab", F.lit(0).alias("own"))
        )
        new_labels = (
            labels.select("id", "lab", F.lit(1).alias("own"))
            .unionByName(pushed)
            .groupBy("id")
            .agg(
                F.min("lab").alias("lab"),
                F.max(F.when(F.col("own") == 1, F.col("lab"))).alias("old_lab"),
            )
            .localCheckpoint(eager=True)
        )
        # min-label only ever decreases, so "changed" == strictly-lower
        changed = new_labels.filter(F.col("lab") < F.col("old_lab")).count()
        labels = new_labels.select("id", "lab")
        if changed == 0:
            return labels.select("id", F.col("lab").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the pair graph has a longer path than expected — raise max_iter."
    )


def resolve_duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-document dedup verdict from a candidate-pair frame.

    Output: ``(doc_id, cluster_id, cluster_size, keep)`` for every document
    in ``docs``. Documents in no pair are their own singleton cluster
    (size 1, kept). ``keep`` is true exactly for the cluster's minimum id —
    one survivor per duplicate group.

    The components frame is tiny relative to the corpus (only docs that
    matched a band), so the join back to ``docs`` broadcasts at scale.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    comp = comp.join(sizes, "cluster_id")
    return (
        docs.select(F.col(id_col).cast("bigint").alias("doc_id"))
        .join(F.broadcast(comp), F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            F.coalesce(F.col("cluster_size"), F.lit(1)).alias("cluster_size"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def triangle_stats(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Exact triangle count + global clustering coefficient of an
    undirected graph, via degree-ordered orientation (the standard
    distributed algorithm: Suri & Vassilvitskii 2011 / Cohen 2009).

    Input is any (u, v) pair frame; self-loops are dropped and edges are
    normalized to one undirected row. Every edge is oriented from its
    lower endpoint to its higher endpoint under the total order
    ``(degree, node_id)``; a wedge (b, c) anchored at a is generated only
    from the *oriented* adjacency, so each triangle is produced exactly
    once and the per-node fan-out is bounded by the oriented out-degree
    — O(sqrt(m)) on any graph, which is what keeps the wedge join from
    exploding on power-law degree skew at 100 TB (a celebrity node with
    degree 1e7 contributes 0 wedges as anchor of its heavy side; the
    orientation pushes all its edges inbound). Both joins are equi-joins
    on node ids; the tuple comparison is a join residual, never a
    cartesian. No global window anywhere — the (degree, id) order is
    compared pairwise, not materialized as a rank.

    Returns one row: n_nodes, n_edges, n_wedges (all open wedges,
    sum d(d-1)/2), n_triangles, global_clustering = 3T/W round 9.
    """
    # Materialization discipline: `e` feeds FOUR branches (deg twice,
    # the orientation join, the edge count), `deg` three, and the
    # oriented frame `o` three (both wedge sides + closure) — without
    # checkpoints Catalyst re-evaluates the fact self-join + distinct
    # per branch (measured 6.7s -> ~2s at sf0.1). All three frames are
    # ints-only, constant bytes per edge/node.
    e = (
        edges.select(F.col(u).alias("x"), F.col(v).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("node", "y").withColumnRenamed("deg", "dy"), "y")
    )
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    o = ed.select(
        F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("a"),
        F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("b"),
        F.when(x_first, F.col("dy")).otherwise(F.col("dx")).alias("db"),
    ).localCheckpoint(eager=True)
    # Triangle closure by ADJACENCY INTERSECTION: instead of
    # materializing every wedge as a row (sum of oriented out-degrees
    # squared — 41M rows at sf0.1) and shuffling all of them into a
    # (w1, w2) closure join, attach each oriented edge (a, b) its two
    # out-neighbor lists and count |N+(a) ∩ N+(b)| row-locally — every
    # triangle (a < b < c under the (deg, id) order) is found exactly
    # once on its (a, b) edge. The shuffled volume is the adjacency
    # arrays (2·#wedges longs — same asymptotics, smaller constant:
    # no per-wedge row/join machinery), the intersect is a per-row hash
    # probe over arrays bounded by the O(sqrt m) oriented out-degree.
    # Same-session A/B vs the r13 wedge join + SHUFFLE_HASH closure:
    # 5.0-5.6 s -> 2.1-2.9 s at sf0.1, identical count (1884488).
    adj = o.groupBy("a").agg(F.array_sort(F.collect_list("b")).alias("nbrs"))
    a1 = adj.select(F.col("a").alias("x1"), F.col("nbrs").alias("na"))
    a2 = adj.select(F.col("a").alias("x2"), F.col("nbrs").alias("nb"))
    tri = (
        o.join(a1, o["a"] == a1["x1"])
        .join(a2, o["b"] == a2["x2"])
        .select(F.size(F.array_intersect("na", "nb")).alias("t"))
        # coalesce: sum over an empty frame is NULL where the old
        # count(*) closure emitted 0 (triangle-free graphs)
        .agg(F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_triangles"))
    )
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / F.lit(2)).cast("bigint").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        base.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0)),
                9,
            ).alias("global_clustering"),
        )
    )

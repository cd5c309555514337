"""Graph algorithms over edge DataFrames (PageRank, triangle counting).

Companion to the label-propagation connected components in
``operators.dedup`` — both exist because near-duplicate detection at
corpus scale produces an edge list whose global structure (clusters,
centrality) drives keep/drop decisions: PageRank-style centrality picks
the canonical document inside a near-dup cluster.

Execution model: classic synchronous PageRank as a driver loop of
DataFrame joins — contributions = ranks ⋈ out-degree edges, new ranks =
groupBy(dst).sum with teleport + dangling-mass redistribution. Each
iteration is one shuffle on the node key; each iteration's rank frame
is a local checkpoint, which keeps the lineage flat instead of
exponentially nested. At cluster scale the same loop runs unchanged —
iterations dominate, so pre-partitioning edges and ranks by node id
(bucketing) removes the per-iteration edge shuffle; the rank frame is
the only thing that moves.

Not oracle-SQL-expressible (iterative fixpoint with float state); covered
by property tests instead: rank mass conservation (sum == n), positivity,
and run-to-run determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cachectl import finalize_iterative, scoped_cache


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    damping: float = 0.85,
    assume_edges_valid: bool = False,
) -> DataFrame:
    """PageRank with uniform teleport and dangling-node mass
    redistribution. ``nodes``: one row per vertex (distinct ``id_col``);
    ``edges``: directed (src, dst) pairs, duplicates allowed (parallel
    edges weight the contribution). Returns (id, rank) with
    sum(rank) == n_nodes (total-mass convention, as in the original
    formulation scaled by n).

    ``assume_edges_valid``: callers that CONSTRUCT the node frame from
    the edge endpoints (or otherwise guarantee every non-null endpoint
    is a node) can skip the two validation semi-joins that restrict
    edges to known vertices — at corpus scale those are two full
    shuffles of the EDGE table bought purely as input hygiene (guide
    §2.4). Output is identical whenever the guarantee holds."""
    with scoped_cache() as scope:
        n = scope.persist(nodes.select(F.col(id_col).alias("id")).distinct())
        n_nodes = n.count()
        if n_nodes == 0:
            # keep the contract schema (id_col, rank) on the empty path too
            return n.select(F.col("id").alias(id_col), F.lit(0.0).alias("rank"))

        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if not assume_edges_valid:
            e = e.join(n.withColumnRenamed("id", "src"), "src").join(
                n.withColumnRenamed("id", "dst"), "dst"
            )
        else:
            # the fast path skips only the two SEMI-JOIN shuffles; null
            # endpoints are still dropped map-side, so a violated
            # guarantee cannot leak rank mass through null keys
            e = e.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        out_deg = scope.persist(e.groupBy("src").agg(F.count("*").alias("deg")))
        # weighted edges: contribution share of each (src,dst) = multiplicity/deg
        ew = scope.persist(e.join(out_deg, "src"))
        ew.count()

        # dangling node set (no out-edges) is static across iterations
        dangling_ids = scope.persist(
            n.join(out_deg.withColumnRenamed("src", "id"), "id", "left_anti")
        )
        # one bounded probe: when NOTHING dangles (symmetric near-dup
        # graphs over edge-incident nodes — the dedup-pipeline caller),
        # the per-iteration dangling-mass semi-join + broadcast
        # contributes an exact 0.0 and can be dropped from every round's
        # plan (one fewer pass over the rank frame per iteration at
        # corpus scale)
        has_dangling = bool(dangling_ids.limit(1).count())

        ranks = n.withColumn("rank", F.lit(1.0))
        for it in range(iterations):
            contribs = (
                ew.join(ranks.withColumnRenamed("id", "src"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
                .withColumnRenamed("dst", "id")
            )
            # mass sitting on dangling nodes this iteration, as a
            # broadcast 1-row frame — no driver collect round-trip per
            # iteration. With an empty dangling set the term is exactly
            # +0.0, so the whole subtree is elided (x + 0.0 == x for
            # every finite rank).
            if has_dangling:
                dang = ranks.join(dangling_ids, "id", "left_semi").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang")
                )
                base = (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.col("__dang") / F.lit(float(n_nodes))
                )
            else:
                base = F.lit(1.0 - damping)
            # localCheckpoint truncates the logical plan each iteration
            # (a LAZY one truncates immediately too — the plan becomes a
            # LogicalRDD at once, only the compute is deferred), so
            # Catalyst never re-analyzes a nested lineage. Lazy rounds
            # chain the whole fixed-iteration loop into ONE job fired by
            # the final eager round — iterations-1 fewer job launches.
            # The cost is holding every round's n-row rank frame until
            # the chain materializes; at billion-node scale cap that by
            # going eager every few rounds and releasing the frames
            # behind the eager point. On a cluster swap for reliable
            # checkpoint(dir) to also survive executor loss.
            ranks = n.join(contribs, "id", "left")
            if has_dangling:
                ranks = ranks.crossJoin(F.broadcast(dang))
            ranks = ranks.select(
                "id",
                (base + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rank"),
            )
            ranks = scope.local_ckpt(ranks, eager=(it == iterations - 1))

        # final ranks go to a RELIABLE checkpoint (disk files, re-readable
        # on demand) so the scope can release every block it holds; on a
        # cluster the checkpoint dir is HDFS/S3 and doubles as fault
        # tolerance
        return finalize_iterative(ranks.select(F.col("id").alias(id_col), "rank"))


def canonical_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected edge list in canonical form: (u, v) with u < v,
    self-loops dropped, parallel edges collapsed. Everything downstream
    (triangles, components) assumes this shape."""
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    return (
        edges.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Degree orientation: direct every canonical edge from the
    lower-rank endpoint to the higher, where rank orders nodes by
    (degree asc, id asc). This is the standard compact-forward /
    node-iterator++ trick (Schank & Wagner 2005; Suri & Vassilvitskii's
    MapReduce formulation): every node's OUT-degree under this
    orientation is O(sqrt(m)), so the wedge join below generates
    O(m^1.5) candidates total regardless of skew — a hub with degree d
    no longer fans out d^2 wedges. Returns (lo, hi) in rank order."""
    e = canonical_edges(edges)
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    with_deg = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of the undirected graph, exactly once, as
    (a, b, c) with a < b < c. Plan: wedges from the degree-oriented
    adjacency (lo→x, lo→y generates each wedge at its lowest-RANK apex
    only) closed by an equi-join back against the oriented edge list —
    two shuffles on node keys, no cross join, skew bounded by the
    orientation (see oriented_edges). Emitted labels are sorted by id
    so the output is orientation-independent (and matches the plain
    a<b<c three-way-join oracle formulation)."""
    # reuse-not-cache (cachectl.py): one repartition(lo) exchange feeds
    # both aliased wedge sides AND the closer projection via ReuseExchange
    # — the oriented adjacency materializes once in shuffle files, nothing
    # sits in the storage pool
    oe = oriented_edges(edges).repartition("lo")
    w1 = oe.alias("W1")
    w2 = oe.alias("W2")
    wedges = (
        w1.join(w2, F.col("W1.lo") == F.col("W2.lo"))
        .filter(F.col("W1.hi") < F.col("W2.hi"))
        .select(
            F.col("W1.lo").alias("apex"),
            F.col("W1.hi").alias("x"),
            F.col("W2.hi").alias("y"),
        )
    )
    # each canonical edge appears exactly once in oe → re-keying by id
    # order is already duplicate-free, matching the wedge's x < y key
    closer = oe.select(
        F.least("lo", "hi").alias("x"), F.greatest("lo", "hi").alias("y")
    )
    tri = wedges.join(closer, ["x", "y"])
    ids = F.array_sort(F.array("apex", "x", "y"))
    return tri.select(
        ids[0].alias("a"), ids[1].alias("b"), ids[2].alias("c")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(id, n_triangles): per-node triangle participation — the local
    clustering signal (dense co-occurrence neighborhoods). One extra
    explode + groupBy over the triangle frame."""
    t = triangles(edges)
    member = (
        t.select(F.col("a").alias("id"))
        .unionAll(t.select(F.col("b").alias("id")))
        .unionAll(t.select(F.col("c").alias("id")))
    )
    return member.groupBy("id").agg(F.count("*").alias("n_triangles"))

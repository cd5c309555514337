"""Iterative clustering (mini k-means) over embedding columns — the
engine's template for iterative distributed algorithms: small state
(centroids) broadcast each round, big data (points) scanned once per
round, intermediate frames persisted so each iteration is one job, not a
replay of the whole lineage.

Determinism: seeds are the k lowest vector ids; assignment ties break on
the lowest cluster id; centroid means are computed per (cluster, dim) via
posexplode + avg. At 100 TB each iteration is one scan + one shuffle
(the posexplode groupBy); centroids stay driver-side tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cachectl import finalize_iterative, scoped_cache
from ..functions import spread
from .similarity import as_double


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def _assign(pts: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, vec, cluster, dist): nearest centroid per point (broadcast).
    The argmin is a hash AGGREGATE of min(struct(dist, cluster, v)) —
    lexicographic struct ordering reproduces the (lowest dist, then
    lowest cluster) tiebreak, and v rides along un-compared because
    (dist, cluster) is unique per scored row. vs the former row_number
    window: map-side partial combine collapses the k candidate rows per
    point before any exchange, and no per-key sort — the difference
    between a ranking shuffle and a reduction at corpus scale."""
    scored = pts.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "v", "cluster", _sq_dist(F.col("v"), F.col("centroid")).alias("dist")
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cluster", "v")).alias("__m"))
        .select(
            "vec_id",
            F.col("__m.v").alias("v"),
            F.col("__m.cluster").alias("cluster"),
            F.col("__m.dist").alias("dist"),
        )
    )


def _recompute_centroids(assigned: DataFrame) -> DataFrame:
    expl = assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
    return (
        expl.groupBy("cluster", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("s"))
        .select("cluster", F.transform("s", lambda t: t["m"]).alias("centroid"))
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = 10,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Run ``iters`` rounds of Lloyd's algorithm; return the final
    (vec_id, cluster, dist) assignment. Rounds are chained through LAZY
    localCheckpoints (the same fixed-iteration pattern as
    operators/graph.pagerank and operators/pq.pq_train): each round's
    plan truncates to a LogicalRDD immediately, but nothing executes
    until the LAST round's eager checkpoint fires — no per-round
    count() action. The cost is holding every round's n-row assignment
    until the chain materializes; at billion-point scale cap that by
    going eager every few rounds and releasing frames behind the eager
    point.

    ``keep_vec=True`` additionally carries the (as_double) vector
    through the final checkpoint as column ``v``: the rounds
    already carry it — only the final select dropped it — and a caller
    that needs vectors next to the assignment (semantic_dedup's unit
    vectors) otherwise re-scans the embedding table and pays a
    sort-merge join back onto ``vec_id``, once per differently-pruned
    plan branch."""
    with scoped_cache() as scope:
        pts = scope.persist(
            spread(emb).select(
                F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
            )
        )
        # seeds: k lowest ids via orderBy().limit(k) — plans
        # TakeOrderedAndProject (per-partition top-k, merge on driver),
        # NOT a global single-partition sort of the whole corpus. The
        # k-row window that assigns cluster ids is trivially small.
        seeds = pts.orderBy("vec_id").limit(k)
        w = Window.orderBy("vec_id")
        centroids = seeds.withColumn("__rn", F.row_number().over(w)).select(
            (F.col("__rn") - 1).alias("cluster"), F.col("v").alias("centroid")
        )
        assigned = None
        for it in range(iters):
            assigned = scope.local_ckpt(_assign(pts, centroids), eager=(it == iters - 1))
            if it < iters - 1:
                centroids = _recompute_centroids(assigned)
        # final assignment to a RELIABLE checkpoint so the scope can
        # release every local checkpoint — no session-lifetime blocks
        cols = ["vec_id", "cluster", "dist"] + (["v"] if keep_vec else [])
        return finalize_iterative(assigned.select(*cols))


def kmeans_inertia(assigned: DataFrame) -> float:
    """Sum of squared distances to the assigned centroid (the quantity
    Lloyd's algorithm monotonically decreases). Empty assignment → 0.0
    (SUM over zero rows is NULL; the objective of an empty corpus is 0)."""
    return assigned.agg(
        F.coalesce(F.sum("dist"), F.lit(0.0)).alias("i")
    ).collect()[0]["i"]


def split_oversized_clusters(
    pts: DataFrame,
    max_cluster_size: int,
    split_factor: int = 4,
    max_levels: int = 16,
) -> DataFrame:
    """Recursively split clusters above ``max_cluster_size`` so a single
    hot k-means cluster cannot re-inflate SemDeDup's within-cluster pair
    join toward n² (Σ|cluster|² must stay bounded by the cap, not by
    luck).

    Input/output: (vec_id, cluster, uv) — cluster labels come out as
    STRINGS ("3", "3.1", "3.1#2", …) since each split level appends a
    sub-label. Per level, every oversized cluster is split
    ``split_factor``-ways by nearest-seed assignment (seeds = the
    cluster's lowest-id points; one Lloyd's half-step — locality-
    preserving, deterministic, same min-struct argmin as
    :func:`_assign`). A level that makes NO progress (max oversized size
    did not shrink — e.g. bit-identical vectors, where every seed
    distance ties) switches to deterministic hash splitting
    (xxhash64(vec_id) % split_factor), which always makes progress.

    Semantics trade, documented: splitting loses candidate pairs that
    straddle a split boundary, so an oversized near-dup group can elect
    up to one keeper per final sub-cluster — the standard SemDeDup
    recall/cost dial (cluster granularity), applied adaptively instead
    of globally via k. Each level materializes via local checkpoint; the
    result is finalized to a reliable checkpoint.
    """
    from .similarity import dot

    if max_cluster_size < 1:
        raise ValueError(f"max_cluster_size must be >= 1, got {max_cluster_size}")
    S = int(split_factor)
    # every level's frame is checkpointed and re-read; the hash-split
    # path is NARROW on both union branches, so without a per-level
    # partition bound the count would DOUBLE per level (2^levels empty
    # tasks by the final checkpoint). coalesce is shuffle-free.
    n_part = int(
        pts.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cur = pts.select("vec_id", F.col("cluster").cast("string").alias("cluster"), "uv")
    prev_max = None
    use_hash = False
    with scoped_cache() as scope:
        for _ in range(max_levels):
            sizes = cur.groupBy("cluster").agg(F.count("*").alias("__n"))
            stat = (
                sizes.filter(F.col("__n") > max_cluster_size)
                .agg(F.count("*").alias("c"), F.max("__n").alias("m"))
                .collect()[0]
            )
            if not stat["c"]:
                break
            if prev_max is not None and stat["m"] >= prev_max:
                use_hash = True  # seed split stalled (ties) — hash always splits
            prev_max = stat["m"]
            over = F.broadcast(
                sizes.filter(F.col("__n") > max_cluster_size).select("cluster")
            )
            small = cur.join(over, "cluster", "left_anti")
            big = cur.join(over, "cluster", "left_semi")
            if use_hash:
                # the label participates in the hash so each level's re-split
                # of a still-oversized cluster lands points DIFFERENTLY —
                # hashing vec_id alone would re-produce the same sub-label
                # every level and never make progress past the first split
                newbig = big.select(
                    "vec_id",
                    F.concat(
                        "cluster",
                        F.lit("#"),
                        F.pmod(F.xxhash64("cluster", "vec_id"), F.lit(S)).cast("string"),
                    ).alias("cluster"),
                    "uv",
                )
            else:
                w = Window.partitionBy("cluster").orderBy("vec_id")
                seed_ids = (
                    big.select("cluster", "vec_id")
                    .withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= S)
                )
                seeds = seed_ids.join(big, ["cluster", "vec_id"]).select(
                    "cluster",
                    (F.col("__rn") - 1).alias("__sub"),
                    F.col("uv").alias("__seed"),
                )
                best = (
                    big.join(seeds, "cluster")
                    .select(
                        "cluster",
                        "vec_id",
                        F.struct(
                            (-dot(F.col("uv"), F.col("__seed"))).alias("ns"),
                            F.col("__sub").alias("sub"),
                        ).alias("__sc"),
                    )
                    .groupBy("cluster", "vec_id")
                    .agg(F.min("__sc").alias("__b"))
                )
                newbig = big.join(best, ["cluster", "vec_id"]).select(
                    "vec_id",
                    F.concat(
                        "cluster", F.lit("."), F.col("__b.sub").cast("string")
                    ).alias("cluster"),
                    "uv",
                )
            cur = scope.local_ckpt(
                small.unionByName(newbig).coalesce(n_part), eager=True
            )
        return finalize_iterative(cur)


def assign_to_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, uv) — each vector assigned to its nearest FIXED
    centroid by cosine (centroids are unit-normalized driver-side, so
    cosine ordering = one dot product per centroid over the row's unit
    vector). The similarity is ROUNDED to 1e-6 before the argmax and
    ties break to the LOWEST centroid index, so the assignment is
    bit-reproducible cross-engine (the DuckDB funnel oracle inlines the
    same unit-centroid literals and replays the same rounded argmax —
    queries_registry.incremental_semantic_funnel). Null vectors are
    dropped (no embedding → no cluster). One map-only projection: the
    centroid list is a plan literal, never a join."""
    import math

    from .similarity import dot, round6, unit_vectors

    uv = unit_vectors(df, id_col, vec_col, out_col="uv")
    structs = []
    for c, cent in enumerate(centroids):
        norm = math.sqrt(sum(x * x for x in cent)) or 1.0
        uc = F.array(*[F.lit(float(x) / norm) for x in cent])
        structs.append(
            F.struct(
                (-round6(dot(F.col("uv"), uc))).alias("nd"),
                F.lit(c).alias("c"),
            )
        )
    best = F.least(*structs) if len(structs) > 1 else structs[0]
    return uv.select(F.col(id_col), best["c"].alias("cluster"), "uv")


def semantic_dedup(
    emb: DataFrame,
    k: int = 10,
    iters: int = 3,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | str | None = "auto",
    split_factor: int = 4,
) -> DataFrame:
    """Semantic (embedding-space) deduplication, the SemDeDup recipe
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): k-means partitions the embedding
    space, pairwise cosine runs ONLY within each cluster, and one
    representative survives per near-dup group.

    Why this scales where exact near-dup doesn't: the O(n²) pair scoring
    is confined to clusters, so the self-join's equi-key is the cluster
    id — at 100 TB the candidate volume is Σ|cluster|², controlled by k,
    instead of n². (The LSH twin in operators/similarity.py bounds
    candidates differently — by hyperplane bucket; k-means buckets adapt
    to the actual density, the published argument for SemDeDup over LSH.)
    ``max_cluster_size`` hard-caps the worst case: one hot cluster would
    otherwise re-inflate Σ|cluster|² toward n², so clusters above the
    cap are recursively split (:func:`split_oversized_clusters`) before
    the pair join. The DEFAULT is ``"auto"`` = ``split_factor`` ×
    ⌈n/k⌉ — four times the average cluster size (on by default so every
    end-to-end composition is protected: at 100 TB one hot cluster is
    the realistic failure, and an uncapped default quietly plans it).
    The cap only ENGAGES when some cluster
    actually exceeds it (one cheap size aggregate decides): a non-binding
    cap — every corpus whose k-means spread is sane, including all the
    oracle-checked testdata runs — leaves the output byte-identical to
    the uncapped path (integer cluster labels). When splitting does
    engage, cluster labels become strings and near-dup groups larger
    than the cap may elect extra keepers (the documented recall/cost
    dial). ``max_cluster_size=None`` disables the cap explicitly.

    Pipeline (all existing engine operators, no new primitives):
      kmeans_assign → within-cluster self-join on unit vectors →
      cosine ≥ threshold edges → connected_components → min-id keeper.

    Returns (vec_id, cluster, component_id, keep): every input row
    appears exactly once; ``keep`` is false only for rows whose
    component keeper is another row. Deterministic end-to-end (seeded
    k-means, min-label components, min-id keeper).

    Not oracle-SQL-expressible (two nested iterative fixpoints —
    Lloyd's + label propagation); property-tested instead: partition
    invariants, dropped-row-has-kept-neighbor, determinism
    (tests/test_semantic_bpe_pq.py).
    """
    from .dedup import connected_components
    from .similarity import dot

    # the assignment checkpoint carries the vector (keep_vec), so unit
    # vectors are a map expression over the checkpoint files. Expression
    # identical to similarity.unit_vectors (same as_double input, norm
    # projection, per-element divide); the isNotNull filter drops
    # null-embedding rows as a join back onto the embeddings would.
    assigned = kmeans_assign(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col, keep_vec=True
    )
    base = (
        assigned.filter(F.col("v").isNotNull())
        .withColumn("__norm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .select(
            "vec_id",
            "cluster",
            F.transform(F.col("v"), lambda x: x / F.col("__norm")).alias("uv"),
        )
    )
    if max_cluster_size is not None:
        # one cheap size aggregate decides whether splitting engages at
        # all — a non-binding cap leaves the uncapped plan (and integer
        # labels) untouched, so the default-on cap is free in the common
        # case and pays only when a hot cluster actually exists
        stat = (
            base.groupBy("cluster")
            .agg(F.count("*").alias("__n"))
            .agg(
                F.coalesce(F.sum("__n"), F.lit(0)).alias("__total"),
                F.coalesce(F.max("__n"), F.lit(0)).alias("__max"),
            )
            .collect()[0]
        )
        cap = (
            max(split_factor * -(-int(stat["__total"]) // max(int(k), 1)), 1)
            if max_cluster_size == "auto"
            else int(max_cluster_size)
        )
        if int(stat["__max"]) > cap:
            base = split_oversized_clusters(base, cap, split_factor)
    # reuse-not-cache (cachectl.py): the assignment (file-backed after
    # kmeans_assign's reliable checkpoint) joins unit vectors once into a
    # cluster-partitioned exchange that the aliased self-join sides, the
    # components' node list, and the final keeper join all re-read
    pts = base.repartition("cluster")
    a = pts.alias("A")
    b = pts.alias("B")
    edges = (
        a.join(b, F.col("A.cluster") == F.col("B.cluster"))
        .filter(F.col("A.vec_id") < F.col("B.vec_id"))
        .filter(dot(F.col("A.uv"), F.col("B.uv")) >= threshold)
        .select(F.col("A.vec_id").alias("doc_a"), F.col("B.vec_id").alias("doc_b"))
    )
    comps = connected_components(
        edges, pts.select(F.col("vec_id").alias("doc_id")), id_col="doc_id"
    )
    keeper = comps.groupBy("component_id").agg(F.min("doc_id").alias("keeper_id"))
    out = (
        pts.select("vec_id", "cluster")
        .join(comps.withColumnRenamed("doc_id", "vec_id"), "vec_id")
        .join(keeper, "component_id")
        .select(
            "vec_id",
            "cluster",
            "component_id",
            (F.col("vec_id") == F.col("keeper_id")).alias("keep"),
        )
    )
    return out

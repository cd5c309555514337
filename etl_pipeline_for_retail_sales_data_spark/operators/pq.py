"""Product-quantization (PQ) approximate nearest neighbor search.

Third ANN family next to the hyperplane-LSH and IVF operators in
``operators/similarity.py`` — the published PQ scheme (Jégou, Douze &
Schmid 2011, "Product Quantization for Nearest Neighbor Search"): split
each D-dim vector into m subvectors, vector-quantize each subspace with
its own ksub-centroid codebook, and represent every corpus vector by m
small codes (m bytes at ksub=256; m nibbles at ksub=16). Queries score
candidates with the asymmetric distance computation (ADC): a per-query
lookup table of query-subvector ↔ centroid distances, summed over the m
code positions — no original vectors touched at query time.

Why this is the 100 TB memory story: the corpus's float vectors
(64 dims × 4 B = 256 B/row) collapse to m codes (8 B/row at m=8) — a
32× smaller frame to scan, cache, and shuffle; the codebooks are
KB-sized and broadcast. The int8 scalar quantizer
(queries_registry.embed_quantize_int8) compresses per-dimension; PQ
compresses per-subspace with a learned codebook, the standard
billion-vector regime (FAISS IVFPQ's building block).

Execution shape — everything is one exploded frame + equi-joins:
  train   one frame (vec_id, sub, subvector); Lloyd rounds assign via
          broadcast of the (m·ksub)-row codebook and re-average per
          (sub, code, dim). ALL m subspaces train in the same
          distributed job — the explode IS the parallelism over
          subspaces; no per-subspace driver loop.
  encode  nearest-centroid per (vec_id, sub) → collect codes into an
          m-array per vector. One broadcast join + one groupBy.
  search  LUT = queries × codebook (broadcast, (q·m·ksub) rows);
          candidate scores = codes ⋈ LUT on (sub, code) — an equi-join
          whose build side is the broadcast LUT — then
          groupBy(q_id, vec_id).sum → top-k window. The corpus is
          scanned once, in code form only.

Determinism: seeds are the ksub lowest vec_ids' subvectors; assignment
and rank ties break on the lowest code / lowest vec_id. Not
oracle-SQL-expressible (iterative codebook fixpoint); covered by
property tests: code-range bounds, ADC-vs-exact recall@k against
knn_bruteforce, compression invariants, determinism
(tests/test_semantic_bpe_pq.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cachectl import finalize_iterative, scoped_cache
from ..functions import spread
from .similarity import as_double


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def _probe_dim(emb: DataFrame, vec_col: str) -> int:
    """One 1-row job reading the corpus vector dimensionality (0 on an
    empty/all-null corpus). Callers that split several frames of the
    same corpus (train / encode / query) probe ONCE and pass ``d``
    down — three probe jobs collapse to one."""
    dims = emb.select(F.size(vec_col).alias("d")).filter(F.col("d") > 0).limit(1).collect()
    return dims[0]["d"] if dims else 0


def _subvectors(
    emb: DataFrame, m: int, id_col: str, vec_col: str, d: int | None = None
) -> DataFrame:
    """(vec_id, sub, sv): each vector split into m contiguous blocks.
    Dim must divide evenly by m (asserted once against the first row —
    padding policies belong to the caller)."""
    if d is None:
        d = _probe_dim(emb, vec_col)
    if d:
        if d % m != 0:
            raise ValueError(f"vector dim {d} not divisible by m={m}")
        dsub = d // m
    else:
        dsub = 0
    sub_rows = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.struct(
            s.alias("sub"),
            F.slice(as_double(F.col(vec_col)), s * dsub + 1, dsub).alias("sv"),
        ),
    )
    return (
        spread(emb)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("vec_id"), F.explode(sub_rows).alias("p"))
        .select("vec_id", F.col("p.sub").alias("sub"), F.col("p.sv").alias("sv"))
    )


def _assign_codes(
    subs: DataFrame, codebooks: DataFrame, with_sv: bool = False
) -> DataFrame:
    """(vec_id, sub, code, dist): nearest codebook centroid per
    subvector; the codebook (m·ksub rows) is broadcast. The argmin is a
    hash AGGREGATE of min(struct(dist, code)) — lexicographic struct
    ordering gives exactly the (lowest dist, then lowest code) tiebreak
    — instead of a row_number window: the aggregate gets a map-side
    partial combine and no per-key sort, which at corpus scale turns
    the assignment's shuffle from sort-based ranking into partial-agg
    reduction (ksub candidate rows collapse to 1 before the exchange).

    ``with_sv=True`` rides the subvector through the argmin struct (the
    clustering._assign trick: (dist, code) is unique per scored row, so
    sv is never compared) — pq_train's centroid update then reads sv
    straight off the assignment instead of joining back to the subs
    frame, removing one (vec_id, sub)-keyed join per Lloyd round. Off
    by default: encode/search consumers don't need the
    extra shuffle bytes."""
    scored = subs.join(F.broadcast(codebooks), "sub").select(
        "vec_id", "sub", "sv", "code",
        _sq_dist(F.col("sv"), F.col("centroid")).alias("dist"),
    )
    fields = ["dist", "code"] + (["sv"] if with_sv else [])
    out = scored.groupBy("vec_id", "sub").agg(
        F.min(F.struct(*fields)).alias("__m")
    )
    cols = [
        F.col("vec_id"),
        F.col("sub"),
        F.col("__m.code").alias("code"),
        F.col("__m.dist").alias("dist"),
    ] + ([F.col("__m.sv").alias("sv")] if with_sv else [])
    return out.select(*cols)


def pq_train(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int | None = None,
) -> DataFrame:
    """Learn the m per-subspace codebooks with Lloyd's algorithm run on
    the single exploded (vec_id, sub, sv) frame — every iteration is one
    broadcast-join assignment + one per-(sub, code, dim) mean, identical
    in shape to operators/clustering.kmeans_assign but covering all m
    subspaces at once. Returns (sub, code, centroid)."""
    with scoped_cache() as scope:
        subs = scope.persist(_subvectors(emb, m, id_col, vec_col, d=d))
        seeds = (
            subs.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("sub").orderBy(F.col("vec_id").asc())
                ),
            )
            .filter(F.col("__rn") <= ksub)
            .select("sub", (F.col("__rn") - 1).alias("code"), F.col("sv").alias("centroid"))
        )
        codebooks = scope.local_ckpt(seeds, eager=True)
        for it in range(iters):
            # sv rides the argmin struct (with_sv) — no join back to subs
            # per round (values identical: the struct min never compares
            # sv because (dist, code) is unique per candidate row)
            assigned = _assign_codes(subs, codebooks, with_sv=True)
            expl = assigned.select("sub", "code", F.posexplode("sv").alias("dim", "x"))
            # LAZY checkpoints chain the rounds into ONE job, fired by the
            # final round's eager materialization. Intermediate codebooks
            # are m*ksub rows (~128), so the scope holding every round
            # until the chain has materialized costs nothing.
            codebooks = (
                expl.groupBy("sub", "code", "dim")
                .agg(F.avg("x").alias("mu"))
                .groupBy("sub", "code")
                .agg(F.array_sort(F.collect_list(F.struct("dim", "mu"))).alias("s"))
                .select("sub", "code", F.transform("s", lambda t: t["mu"]).alias("centroid"))
            )
            codebooks = scope.local_ckpt(codebooks, eager=(it == iters - 1))
        # tiny (m*ksub rows) but long-lived: a RELIABLE checkpoint lets the
        # scope release every local checkpoint instead of pinning
        # storage-pool blocks for the session
        return finalize_iterative(codebooks)


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int | None = None,
) -> DataFrame:
    """(vec_id, codes): the m-array PQ code of every vector — the
    compressed corpus representation downstream search scans instead of
    the float vectors."""
    subs = _subvectors(emb, m, id_col, vec_col, d=d)
    assigned = _assign_codes(subs, codebooks)
    return (
        assigned.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("s"))
        .select("vec_id", F.transform("s", lambda t: t["code"]).alias("codes"))
    )


def pq_search(
    emb: DataFrame,
    query_filter: Column,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: (q_id, neighbor_id, adist, rnk) — approximate squared
    L2 between each query and every corpus vector, computed entirely
    from codes + the per-query lookup table. Pass pre-trained
    ``codebooks``/pre-computed ``codes`` to amortize training across
    queries (the production shape: train once, encode once, search
    many)."""
    d = _probe_dim(emb, vec_col)
    if codebooks is None:
        codebooks = pq_train(emb, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col=vec_col, d=d)
    if codes is None:
        codes = pq_encode(emb, codebooks, m=m, id_col=id_col, vec_col=vec_col, d=d)

    q_subs = _subvectors(emb.filter(query_filter), m, id_col, vec_col, d=d).withColumnRenamed(
        "vec_id", "q_id"
    )
    lut = q_subs.join(F.broadcast(codebooks), "sub").select(
        "q_id", "sub", "code", _sq_dist(F.col("sv"), F.col("centroid")).alias("d")
    )
    code_rows = codes.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )
    scores = (
        code_rows.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").alias("adist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("vec_id").asc())
    return (
        scores.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.floor(F.col("adist") * 1e6 + F.lit(0.5)) / 1e6).alias("adist"),
            "rnk",
        )
    )


def _exact_rerank(
    emb: DataFrame,
    query_filter: Column,
    cands: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine re-rank of a (q_id, neighbor_id) candidate shortlist:
    original vectors are fetched with ONE equi-join on vec_id — touching
    shortlist rows, not the corpus — and scored with the same sequential
    fold as knn_bruteforce_expr, so overlapping pairs carry identical
    sims. Returns (q_id, neighbor_id, sim, rnk)."""
    from .similarity import dot, round6

    vecs = (
        spread(emb)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("e"))
        .withColumn("en", F.sqrt(dot(F.col("e"), F.col("e"))))
    )
    q = (
        emb.filter(query_filter)
        .select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("qe"))
        .withColumn("qn", F.sqrt(dot(F.col("qe"), F.col("qe"))))
    )
    scored = (
        cands.join(vecs, "neighbor_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "neighbor_id",
            (dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("en"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", round6(F.col("cos")).alias("sim"), "rnk")
    )


def pq_search_rerank(
    emb: DataFrame,
    query_filter: Column,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    k: int = 5,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ candidate generation + exact re-rank (the FAISS refine shape,
    and the production answer to raw ADC's recall ceiling — quantization
    error caps ADC@k around 0.3 on isotropic data, while the ADC top-50
    candidate set holds ~0.8 of the true top-5). Returns (q_id,
    neighbor_id, sim, rnk)."""
    cands = pq_search(
        emb, query_filter, m=m, ksub=ksub, iters=iters, k=n_candidates,
        id_col=id_col, vec_col=vec_col,
    ).select("q_id", "neighbor_id")
    return _exact_rerank(emb, query_filter, cands, k, id_col, vec_col)


def ivfpq_search(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    nprobe: int = 3,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "label",
) -> DataFrame:
    """IVF + PQ + exact refine — the complete FAISS IVFPQ architecture
    (Jégou et al. 2011 §V; the billion-vector standard), composed from
    the engine's existing pieces:

      IVF    the coarse quantizer (inverted lists = ``list_col``, same
             convention as similarity.knn_ivf) bounds WHICH rows each
             query touches: only the nprobe lists whose mean centroids
             are nearest — scan cost ÷ (n_lists/nprobe).
      PQ     the sub-quantizer bounds the BYTES per touched row: probed
             lists are scanned in m-code form via the broadcast ADC
             lookup table, never as float vectors (÷32 at m=8 on
             64-dim floats).
      refine the ADC top-``n_candidates`` shortlist is re-scored with
             the exact sequential-fold cosine (one vec_id equi-join,
             shortlist-sized), so returned sims are exact.

    This variant quantizes RAW vectors with one shared codebook set
    (FAISS trains per-list residuals; raw-vector PQ keeps the codebook
    broadcastable and the encode pass list-independent — the residual
    refinement is orthogonal to the distributed shape). Returns (q_id,
    neighbor_id, sim, rnk); queries whose probed lists hold fewer than k
    non-self rows return fewer rows, by construction."""
    d = _probe_dim(emb, vec_col)
    codebooks = pq_train(emb, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col=vec_col, d=d)
    codes = pq_encode(emb, codebooks, m=m, id_col=id_col, vec_col=vec_col, d=d)
    lists = spread(emb).select(F.col(id_col).alias("vec_id"), F.col(list_col).alias("lst"))

    # coarse centroids: per-list mean vectors (posexplode + groupBy —
    # the knn_ivf formulation; n_lists rows, broadcast everywhere after)
    expl = spread(emb).select(
        F.col(list_col).alias("lst"),
        F.posexplode(as_double(F.col(vec_col))).alias("dim", "x"),
    )
    cent = (
        expl.groupBy("lst", "dim")
        .agg(F.avg("x").alias("mu"))
        .groupBy("lst")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mu"))).alias("s"))
        .select("lst", F.transform("s", lambda t: t["mu"]).alias("centroid"))
    )
    q_subs = _subvectors(emb.filter(query_filter), m, id_col, vec_col, d=d).withColumnRenamed(
        "vec_id", "q_id"
    )
    qv = (
        emb.filter(query_filter)
        .select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("qe"))
    )
    from .similarity import cosine

    probes = qv.crossJoin(F.broadcast(cent)).select(
        "q_id", "lst", cosine(F.col("qe"), F.col("centroid")).alias("ccos")
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("ccos").desc(), F.col("lst"))
    probed = (
        probes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("q_id", "lst")
    )
    lut = q_subs.join(F.broadcast(codebooks), "sub").select(
        "q_id", "sub", "code", _sq_dist(F.col("sv"), F.col("centroid")).alias("dd")
    )
    # probed-list code scan: codes ⋈ lists ⋈ (q_id, lst) probes — each
    # code row is replicated only to the queries probing its list
    code_rows = (
        codes.join(lists, "vec_id")
        .join(F.broadcast(probed), "lst")
        .select("q_id", "vec_id", F.posexplode("codes").alias("sub", "code"))
    )
    scores = (
        code_rows.join(F.broadcast(lut), ["q_id", "sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dd").alias("adist"))
    )
    wc = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("vec_id"))
    cands = (
        scores.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= n_candidates)
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )
    return _exact_rerank(emb, query_filter, cands, k, id_col, vec_col)

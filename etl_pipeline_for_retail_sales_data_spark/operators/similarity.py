"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set, one
pass over the corpus, per-query top-k via window. At 100 TB the corpus
side stays partitioned; only queries move.

Scale path: LSH bucketing (random hyperplanes) so each query only scores
its bucket — candidate generation by equi-join on the bucket key instead
of a full scan. Recall is tested against the brute-force baseline.

Dot products use zip_with + aggregate (sequential left-to-right double
accumulation — verified bit-identical to DuckDB's list_dot_product, so
the oracle ranks identically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cachectl import finalize_iterative, scoped_cache
from ..functions import spread


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def round6(c: Column) -> Column:
    return F.floor(c * 1e6 + F.lit(0.5)) / 1e6


def unit_vectors(df: DataFrame, id_col: str, vec_col: str, out_col: str = "uv") -> DataFrame:
    """(id, unit-normalized vector): the norm is computed ONCE per row in a
    prior projection (not inlined per element), so pairwise cosine becomes
    a single dot product — 3× fewer array folds in pair-heavy scoring.
    Null vectors are dropped (no embedding → nothing to score)."""
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
        .withColumn("__norm", F.sqrt(dot(F.col("__v"), F.col("__v"))))
        .select(
            F.col(id_col),
            F.transform(F.col("__v"), lambda x: x / F.col("__norm")).alias(out_col),
        )
    )


def knn_bruteforce_expr(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding self),
    pure-JVM expression form — the semantics twin of the Arrow hot path
    below (a test pins them bit-equal). Queries are broadcast; ranking is
    deterministic (cosine desc, id asc). The self-norm folds are hoisted
    out of the pair loop (dot(e,e) once per corpus row, dot(qe,qe) once
    per query — same fold, same value, 3x fewer interpreted HOF folds
    than inlining cosine per pair). Null vectors are dropped on both
    sides (no embedding → nothing to score)."""
    emb = emb.filter(F.col(vec_col).isNotNull())
    q = (
        emb.filter(query_filter)
        .select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("qe"))
        .withColumn("qn", F.sqrt(dot(F.col("qe"), F.col("qe"))))
    )
    c = (
        spread(emb)
        .select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("e"))
        .withColumn("en", F.sqrt(dot(F.col("e"), F.col("e"))))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("q_id"))
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


def knn_bruteforce(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact top-k cosine neighbors, Arrow hot path. One mapInPandas pass
    over the partitioned corpus scores every (query, row) pair with
    numpy; each Arrow batch emits only its local top-k per query, so the
    shuffle into the final window carries O(batches*k) rows, not the full
    n_corpus x n_queries score matrix. At 100 TB the corpus never moves —
    only the tiny query set (driver-collected, closure-broadcast) and the
    per-batch top-k survivors do.

    The driver collect is BOUNDED: the query scan is limit()'d to
    ``max_queries`` + 1 rows before collect, so a too-broad
    ``query_filter`` raises instead of silently pulling the corpus onto
    the driver — brute force over a huge query set is the wrong tool
    anyway (use ann_lsh / knn_ivf, or raise the cap deliberately). An
    empty query set short-circuits to an empty result of the declared
    schema (no corpus scan).

    Float parity with the DuckDB oracle (and the expression twin above):
    products are elementwise-exact, accumulation is np.cumsum — a
    SEQUENTIAL left-to-right double fold, bit-identical to DuckDB's
    list_dot_product and to the zip_with+aggregate JVM fold; sqrt and
    divide are correctly-rounded IEEE ops. Ranks therefore match exactly
    (asserted in tests: arrow == expr, both == oracle). Null vectors are
    dropped on both sides, matching the expression twin."""
    import numpy as np
    import pandas as pd

    emb = emb.filter(F.col(vec_col).isNotNull())
    q_rows = (
        emb.filter(query_filter).select(id_col, vec_col).limit(max_queries + 1).collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"knn_bruteforce: query_filter selected more than max_queries="
            f"{max_queries} rows; broadcast-scoring that many queries would "
            "bottleneck on the driver. Use ann_lsh/knn_ivf or raise max_queries."
        )
    if not q_rows:
        return emb.sparkSession.createDataFrame(
            [], "q_id long, neighbor_id long, sim double, rnk integer"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)  # (nq, dim)
    q_norm = np.sqrt(np.cumsum(q_mat * q_mat, axis=1)[:, -1])  # sequential fold

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (n, dim)
            xn = np.sqrt(np.cumsum(x * x, axis=1)[:, -1])  # sequential fold
            # BLAS SCREEN (same pattern as embedding_neardup_lsh_numpy):
            # one matmul scores all (row, query) pairs approximately; per
            # query, only rows within 1e-9 of the k-th best BLAS cosine
            # can possibly make the exact top-k (|blas − seq| ≈ 1e-14 for
            # cosines in [-1, 1]), so the exact sequential fold — which
            # alone decides rank and emitted value — runs on ~k rows
            # instead of the whole batch.
            cos_b = (x @ q_mat.T) / (xn[:, None] * q_norm[None, :])  # (n, nq)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                cid, cb = ids[mask], cos_b[mask, qi]
                if len(cb) > k:
                    kth = np.partition(cb, len(cb) - k)[len(cb) - k]
                    cand = cb >= kth - 1e-9
                else:
                    cand = np.ones(len(cb), dtype=bool)
                xs = x[mask][cand]
                # exact sequential fold on the survivors
                dots = np.cumsum(xs * q_mat[qi], axis=1)[:, -1]
                cc = dots / (q_norm[qi] * xn[mask][cand])
                ccid = cid[cand]
                # local top-k under the exact global order (cos desc, id
                # asc) — safe pruning: a dropped row has >= k strictly
                # better rows in this batch alone, so it can never enter
                # the global top-k. lexsort keys are last-key-primary.
                sel = np.lexsort((ccid, -cc))[:k]
                out_q.append(np.full(len(sel), q_ids[qi], dtype=np.int64))
                out_n.append(ccid[sel])
                out_c.append(cc[sel])
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos": np.concatenate(out_c),
                }
            )

    scored = spread(emb).select(id_col, vec_col).mapInPandas(
        score, "q_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", round6(F.col("cos")).alias("sim"), "rnk")
    )


def embedding_neardup_exact(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact baseline: all (a, b)
    with a < b and cosine >= threshold. O(n²) self-join — correct at any
    scale but only affordable when one side fits broadcast; the 100 TB
    path is ``embedding_neardup_lsh`` (same output filtered to LSH
    candidates, recall-tested against this baseline). Vectors are
    unit-normalized up front so each pair costs one dot product."""
    ua = unit_vectors(emb, id_col, vec_col).select(F.col(id_col).alias("id_a"), F.col("uv").alias("ua"))
    ub = unit_vectors(spread(emb), id_col, vec_col).select(
        F.col(id_col).alias("id_b"), F.col("uv").alias("ub")
    )
    pairs = ub.crossJoin(F.broadcast(ua)).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", dot(F.col("ua"), F.col("ub")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", round6(F.col("cos")).alias("sim"))
    )


def multitable_buckets(
    emb: DataFrame,
    tables: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, bucket) rows for every LSH table in ONE corpus pass:
    all tables' sign-bit buckets are computed in a single projection and
    exploded, so candidate generation is one self-equi-join on
    (table, bucket) instead of a join per table. Null vectors are
    dropped (no embedding → no bucket)."""
    emb = emb.filter(F.col(vec_col).isNotNull())
    e = as_double(F.col(vec_col))
    structs = []
    for t, planes in enumerate(tables):
        bits = [
            F.when(dot(e, F.array(*[F.lit(x) for x in p])) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for p in planes
        ]
        structs.append(F.struct(F.lit(t).alias("tbl"), F.concat(*bits).alias("bucket")))
    return spread(emb).select(F.col(id_col), F.explode(F.array(*structs)).alias("s")).select(
        F.col(id_col), F.col("s.tbl").alias("tbl"), F.col("s.bucket").alias("bucket")
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    tables: list[list[list[float]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs at scale: multi-table hyperplane LSH generates
    candidate pairs via ONE self-equi-join on (table, bucket) — a pair is
    a candidate if it shares a bucket in ANY table — then exact cosine
    filters at the threshold. Misses only pairs bucketed apart in every
    table; recall vs the exact baseline is asserted in tests. The bucket
    frame is repartitioned on its join key so both aliased self-join
    sides re-read ONE exchange (reuse-not-cache, cachectl.py) — the
    hyperplane-bucket corpus pass runs once, nothing persisted."""
    bucketed = multitable_buckets(emb, tables, id_col, vec_col).repartition(
        "tbl", "bucket"
    )
    l = bucketed.alias("L")
    r = bucketed.alias("R")
    cand = (
        l.join(
            r,
            (F.col("L.tbl") == F.col("R.tbl"))
            & (F.col("L.bucket") == F.col("R.bucket")),
        )
        .filter(F.col(f"L.{id_col}") < F.col(f"R.{id_col}"))
        .select(
            F.col(f"L.{id_col}").alias("id_a"),
            F.col(f"R.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # vecs joins: let AQE pick broadcast vs shuffle from runtime sizes —
    # measured faster than forcing broadcast on both probes, and at 100 TB
    # the vector side may exceed broadcast limits anyway
    vecs = unit_vectors(emb, id_col, vec_col)
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("uv").alias("ua"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("uv").alias("ub"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", dot(F.col("ua"), F.col("ub")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", round6(F.col("cos")).alias("sim"))
    )


def embedding_neardup_lsh_numpy(
    emb: DataFrame,
    tables: list[list[list[float]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs, Arrow/numpy scoring variant: instead of
    materializing candidate PAIRS and folding a dot per pair (the
    pure-JVM path above), each (table, bucket) group ships its vectors
    once to a numpy worker that scores all bucket pairs vectorized and
    emits only the pairs above threshold. Data transfer is
    per-vector-per-bucket (not per-pair). Same candidate semantics as
    embedding_neardup_lsh.

    ORACLE-EXACT float discipline (same contract as knn_bruteforce):
    everything OBSERVABLE — sign bits, threshold decisions, emitted sims
    — is decided by a np.cumsum SEQUENTIAL left-to-right double fold,
    bit-identical to DuckDB's list_dot_product and the zip_with/
    aggregate JVM fold. BLAS matmul (blocked accumulation, ulp-level
    divergence) is used only as a SCREEN with a safety margin many
    orders of magnitude above its error bound (|blas − seq| ≤
    dim·eps·Σ|products|): pairs/planes that clear the margin get their
    exact fold recomputed; the rest provably agree in outcome. That
    keeps BLAS throughput for the O(pairs·dim) scoring while every
    comparison the oracle can see is made on the exact fold. Per-bucket
    pair scoring materializes an O(pairs) gram block; buckets are sized
    by plane count precisely so this stays small (grow planes
    ~log2(corpus) at scale)."""
    import numpy as np
    import pandas as pd

    # One Arrow pass computes ALL tables' sign-bit buckets AND the unit
    # vector per row. Emitting one row per (vector, table) duplicates the
    # 64-double uv per table, which is exactly what the (tbl, bucket)
    # shuffle needs anyway.
    planes = np.array([p for t in tables for p in t], dtype=np.float64)
    n_tables, n_planes = len(tables), len(tables[0])

    def bucket_and_unit(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # null embedding → no bucket
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = np.sqrt(np.cumsum(x * x, axis=1)[:, -1])  # sequential fold
            u = x / nrm[:, None]
            # plane dots via BLAS; any |dot| inside the sign-ambiguity
            # margin is recomputed with the exact sequential fold so the
            # sign bit matches the oracle's list_dot_product exactly
            # (error bound here ~1e-11; margin 1e-6)
            d = x @ planes.T  # (n, n_tables*n_planes)
            sus_r, sus_c = np.nonzero(np.abs(d) < 1e-6)
            for r, c in zip(sus_r, sus_c):
                d[r, c] = np.cumsum(x[r] * planes[c])[-1]
            bits = d >= 0
            weights = 1 << np.arange(n_planes - 1, -1, -1)
            codes = bits.reshape(len(x), n_tables, n_planes) @ weights  # exact small ints
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(x)),
                    "bucket": codes.astype(np.int32).ravel(),
                    "uv": list(np.repeat(u, n_tables, axis=0)),
                }
            )

    grouped = spread(emb).mapInPandas(
        bucket_and_unit, f"{id_col} long, tbl int, bucket int, uv array<double>"
    )

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
            {"id_a": "int64", "id_b": "int64", "sim": "float64"}
        )
        if len(pdf) < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack(pdf["uv"].to_numpy()[order])
        # BLAS gram screens the bucket's pairs; unit vectors bound the
        # blas-vs-sequential divergence at ~dim·eps ≈ 1.4e-14 ≪ 1e-9
        g = m @ m.T
        iu, ju = np.triu_indices(len(ids), k=1)
        cand = g[iu, ju] >= threshold - 1e-9
        ci, cj = iu[cand], ju[cand]
        if not len(ci):
            return empty
        # exact sequential fold decides the filter AND the emitted value
        exact = np.cumsum(m[ci] * m[cj], axis=1)[:, -1]
        keep = exact >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[ci[keep]],
                "id_b": ids[cj[keep]],
                "sim": np.floor(exact[keep] * 1e6 + 0.5) / 1e6,
            }
        )

    out = grouped.groupBy("tbl", "bucket").applyInPandas(
        score_bucket, "id_a long, id_b long, sim double"
    )
    # same pair can surface from several tables with an identical sim
    # (same vectors → same sequential fold) — one distinct dedups
    return out.distinct()


def knn_ivf(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: the corpus is pre-assigned to inverted lists
    (``list_col`` — here the stored cluster label; in production the
    argmin-centroid assignment from a k-means pass). Centroids are the
    per-list mean vectors, computed distributively via posexplode +
    groupBy. Each query scores only the ``nprobe`` lists whose centroids
    are nearest, so the scan cost drops by ~n_lists/nprobe vs brute force.
    Recall vs brute force is asserted in tests."""
    # centroids: mean per (list, dim) then re-assemble ordered arrays
    expl = spread(emb).select(
        F.col(list_col).alias("lst"), F.posexplode(as_double(F.col(vec_col))).alias("dim", "x")
    )
    cent = (
        expl.groupBy("lst", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("lst")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("s"))
        .select("lst", F.transform("s", lambda t: t["m"]).alias("centroid"))
    )
    q = emb.filter(query_filter).select(
        F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("qe")
    )
    # probe: top-nprobe lists per query by centroid cosine (both sides tiny)
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("q_id", "qe", "lst", cosine(F.col("qe"), F.col("centroid")).alias("ccos"))
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("ccos").desc(), F.col("lst"))
    probed = probes.withColumn("pr", F.row_number().over(wp)).filter(F.col("pr") <= nprobe)
    # score only vectors in probed lists: equi-join on the list key
    c = spread(emb).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(list_col).alias("lst"),
        as_double(F.col(vec_col)).alias("e"),
    )
    scored = (
        c.join(F.broadcast(probed.select("q_id", "qe", "lst")), "lst")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", cosine(F.col("qe"), F.col("e")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", round6(F.col("cos")).alias("sim"), "rnk")
    )


def ann_lsh(
    emb: DataFrame,
    query_filter: Column,
    tables: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with multi-table hyperplane LSH: L independent
    tables of a few planes each; candidates = union over tables of
    same-bucket pairs (distinct), then exact cosine scoring + top-k.
    More tables → higher recall at linear candidate cost; recall vs brute
    force is asserted in tests. At scale the candidate join is ONE
    equi-join on (table, bucket) — never a cross join; buckets for all
    tables come from ONE corpus pass re-read by the query and corpus
    branches via a repartition exchange (reuse-not-cache, cachectl.py)."""
    bucketed = multitable_buckets(emb, tables, id_col, vec_col).repartition(
        "tbl", "bucket"
    )
    q = bucketed.filter(query_filter).select(
        F.col(id_col).alias("q_id"), "tbl", "bucket"
    )
    c = bucketed.select(F.col(id_col).alias("neighbor_id"), "tbl", "bucket")
    cand = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id")
        .distinct()
    )

    vecs = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    qv = vecs.select(F.col(id_col).alias("q_id"), F.col("__v").alias("qe"))
    cv = vecs.select(F.col(id_col).alias("neighbor_id"), F.col("__v").alias("e"))
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "neighbor_id")
        .select("q_id", "neighbor_id", cosine(F.col("qe"), F.col("e")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", round6(F.col("cos")).alias("sim"), "rnk")
    )


def quantize_int8(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Scalar (per-dimension affine) int8 quantization of an embedding
    column — the storage/bandwidth lever for vector corpora (4x smaller
    than float32 before any codec). Pass 1 computes per-dimension min/max
    (exact, order-free aggregates); the 2x``dim``-value stats row
    broadcasts onto the corpus scan; pass 2 maps each component to
    q = floor((x-lo)/scale + 0.5) in [0,255] and reports reconstruction
    error. No shuffle on the corpus side at any scale.

    Float parity: all arithmetic is widened to double first (DuckDB would
    otherwise subtract in float32), every op is +,-,*,/,floor,abs,min,max
    (IEEE-deterministic), and the error sum folds sequentially in
    dimension order on both engines."""
    mins = F.array(
        *[F.min(F.element_at(vec_col, i + 1)).cast("double") for i in range(dim)]
    ).alias("mins")
    maxs = F.array(
        *[F.max(F.element_at(vec_col, i + 1)).cast("double") for i in range(dim)]
    ).alias("maxs")
    stats = df.agg(mins, maxs)

    j = df.crossJoin(F.broadcast(stats))
    idx = F.sequence(F.lit(1), F.lit(dim))

    def _x(i):
        return F.element_at(F.col(vec_col), i).cast("double")

    def _lo(i):
        return F.element_at(F.col("mins"), i)

    def _scale(i):
        return F.greatest(
            (F.element_at(F.col("maxs"), i) - _lo(i)) / 255.0, F.lit(1e-30)
        )

    def _q(i):
        return F.floor((_x(i) - _lo(i)) / _scale(i) + F.lit(0.5))

    def _err(i):
        return F.abs(_x(i) - (_lo(i) + _q(i) * _scale(i)))

    q_arr = F.transform(idx, _q)
    err_arr = F.transform(idx, _err)
    sum_err = F.aggregate(err_arr, F.lit(0.0), lambda acc, x: acc + x)
    return j.select(
        F.col(id_col),
        F.element_at(q_arr, 1).cast("long").alias("q_first"),
        F.element_at(q_arr, dim).cast("long").alias("q_last"),
        F.aggregate(q_arr, F.lit(0.0), lambda acc, x: acc + x).cast("long").alias("sum_q"),
        round6(F.array_max(err_arr)).alias("max_abs_err"),
        round6(sum_err / float(dim)).alias("mean_abs_err"),
    )


def mmr_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 4,
    n_candidates: int = 12,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k retrieval (Carbonell
    & Goldstein 1998, "The use of MMR, diversity-based reranking ...").
    Plain top-k returns near-duplicates of the same best hit; MMR
    re-ranks greedily:

        pick argmax over unselected candidates of
            lam * rel(q, d)  -  (1 - lam) * max_{s in selected} sim(d, s)

    The diversity penalty starts at -1.0 (the cosine floor, an empty
    selected set), so the first pick is exactly the relevance argmax —
    pinned against knn_bruteforce in tests.

    Scale shape (the reason this is not a driver loop per query): ALL
    queries advance through the k greedy rounds together. Candidates are
    the exact top-``n_candidates`` per query (broadcast queries, one
    corpus pass — knn_bruteforce's plan); the candidate-candidate sim
    table is ONE self-equi-join on q_id (n_candidates² rows per query,
    bounded); each round is a tiny per-q argmax aggregate (min-struct,
    map-side combinable — the kmeans/pq pattern) plus one keyed join to
    fold the new pick into the running max-sim. Rounds chain through
    LAZY localCheckpoints into one job (the pagerank/kmeans pattern).
    Nothing driver-side, nothing O(corpus²).

    Float parity: rel and sim are the sequential-fold cosine (dot), norms
    hoisted once per row; the greedy score uses lam and (1 - lam)
    evaluated ONCE in Python and injected as literals, so the DuckDB
    oracle replays the identical doubles and the unrolled-CTE greedy
    selects identical ids. Returns (q_id, doc_id, rnk, rel, mmr) with
    rel/mmr on the round6 grid; ties break on the lowest candidate id.
    """
    lamc = float(lam)
    divc = 1.0 - lamc
    emb = emb.filter(F.col(vec_col).isNotNull())
    q = (
        emb.filter(query_filter)
        .select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("qe"))
        .withColumn("qn", F.sqrt(dot(F.col("qe"), F.col("qe"))))
    )
    c = (
        spread(emb)
        .select(F.col(id_col).alias("cand"), as_double(F.col(vec_col)).alias("e"))
        .withColumn("en", F.sqrt(dot(F.col("e"), F.col("e"))))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand") != F.col("q_id"))
        .select(
            "q_id",
            "cand",
            "e",
            "en",
            (dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("en"))).alias("rel"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rel").desc(), F.col("cand"))
    with scoped_cache() as scope:
        cand = scope.persist(
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_candidates)
            .select("q_id", "cand", "e", "en", "rel")
        )
        a = cand.select(
            "q_id", F.col("cand").alias("ca"), F.col("e").alias("va"), F.col("en").alias("na")
        )
        b = cand.select(
            "q_id", F.col("cand").alias("cb"), F.col("e").alias("vb"), F.col("en").alias("nb")
        )
        cc = scope.persist(
            a.join(b, "q_id").select(
                "q_id",
                "ca",
                "cb",
                (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("s"),
            )
        )
        state = (
            cand.select("q_id", "cand", "rel")
            .withColumn("maxsim", F.lit(-1.0))
            .withColumn("rnk", F.lit(None).cast("int"))
            .withColumn("mmr", F.lit(None).cast("double"))
        )
        for t in range(1, k + 1):
            score = F.lit(lamc) * F.col("rel") - F.lit(divc) * F.col("maxsim")
            pick = (
                state.filter(F.col("rnk").isNull())
                .groupBy("q_id")
                .agg(F.min(F.struct((-score).alias("ns"), F.col("cand").alias("cand"))).alias("__p"))
                .select("q_id", F.col("__p.cand").alias("pick"))
            )
            selected_now = F.col("rnk").isNull() & (F.col("cand") == F.col("pick"))
            state = (
                state.join(F.broadcast(pick), "q_id", "left")
                .join(
                    cc.select(
                        "q_id", F.col("ca").alias("cand"), F.col("cb").alias("pick"), "s"
                    ),
                    ["q_id", "cand", "pick"],
                    "left",
                )
                .select(
                    "q_id",
                    "cand",
                    "rel",
                    F.greatest(F.col("maxsim"), F.coalesce(F.col("s"), F.lit(-1.0))).alias(
                        "maxsim"
                    ),
                    F.when(selected_now, F.lit(t)).otherwise(F.col("rnk")).alias("rnk"),
                    F.when(selected_now, score).otherwise(F.col("mmr")).alias("mmr"),
                )
            )
            state = scope.local_ckpt(state, eager=(t == k))
        # final selection to a RELIABLE checkpoint so the scope can release
        # every round's local checkpoint and the cand/cc caches
        return finalize_iterative(
            state.filter(F.col("rnk").isNotNull()).select(
                "q_id",
                F.col("cand").alias("doc_id"),
                "rnk",
                round6(F.col("rel")).alias("rel"),
                round6(F.col("mmr")).alias("mmr"),
            )
        )


def binary_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    band_bits: int = 8,
) -> DataFrame:
    """Sign-bit binary quantization (BQ): each embedding collapses to
    ``dim`` bits (bit i set iff component i > 0), emitted as
    ``dim/band_bits`` integer band columns (``band0..``, each in
    [0, 2**band_bits)) rather than one packed 64-bit word — the bands ARE
    the multi-index-hashing keys downstream, and staying under 2**63
    keeps every value exact signed-integer arithmetic in both engines
    (no sign-bit wraparound to reason about). 64x smaller than float32:
    the cheapest ANN storage tier, below int8 (quantize_int8) and PQ
    (operators/pq.py). Bit extraction is a strict > 0 comparison on the
    RAW float column (no double cast needed — sign is cast-invariant),
    so the signature is bit-reproducible across engines."""
    n_bands = dim // band_bits
    cols = [F.col(id_col)]
    for j in range(n_bands):
        band = None
        for kbit in range(band_bits):
            i = j * band_bits + kbit
            bit = F.when(
                F.element_at(F.col(vec_col), i + 1) > 0, F.lit(1 << kbit)
            ).otherwise(F.lit(0))
            band = bit if band is None else band + bit
        cols.append(band.cast("long").alias(f"band{j}"))
    return df.filter(F.col(vec_col).isNotNull()).select(*cols)


def bq_hamming_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    band_bits: int = 8,
    probe_bits: int = 1,
) -> DataFrame:
    """ANN via binary quantization + multi-index Hamming search + exact
    rerank (Norouzi et al., "Fast Search in Hamming Space with
    Multi-Index Hashing", CVPR 2012). Candidate generation is
    pigeonhole-exact on the Hamming ball: with ``probe_bits=1`` each
    query band probes its own value plus every single-bit flip, so a
    corpus point can only be missed if EVERY one of the ``dim/band_bits``
    bands differs in >= 2 bits — every neighbor within total Hamming
    distance ``2*n_bands - 1`` (15 at the 8x8 default) is guaranteed
    retrieved. Measured on the testdata corpus: recall@5 = 0.70 scoring
    ~26% of the corpus per query (vs 0.16 with exact-band probing).

    Scale shape: ONE equi-join on (band_idx, band_val) between the
    (broadcast, multi-probe-expanded) query band keys and the corpus
    band keys — probe expansion multiplies only the tiny query side by
    (band_bits+1); the corpus emits exactly n_bands rows per vector and
    never moves. The 64-bit signatures live in n_bands long columns, so
    the corpus pass that builds them is pure whole-stage-codegen
    projection. Candidates are scored twice: integer Hamming distance
    (bit_count of per-band XOR — exact in both engines) and exact cosine
    (the shared sequential-fold dot, bit-identical to DuckDB
    list_dot_product); ranking is cosine desc with id tiebreak, so the
    output is the exact ranking RESTRICTED to the Hamming candidate set.
    Self-pairs are excluded to match knn_bruteforce."""
    n_bands = dim // band_bits
    emb = emb.filter(F.col(vec_col).isNotNull())
    # reuse-not-cache (cachectl.py): one repartition exchange feeds the
    # query projection, the exploded corpus bands, and the verify join
    sig = binary_quantize(spread(emb), id_col, vec_col, dim, band_bits).repartition(
        id_col
    )
    q_sig = sig.filter(query_filter).select(
        F.col(id_col).alias("q_id"), *[F.col(f"band{j}").alias(f"qb{j}") for j in range(n_bands)]
    )
    band_arr = F.array(*[F.col(f"band{j}") for j in range(n_bands)])
    c_bands = sig.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(band_arr).alias("band_idx", "band_val"),
    )
    q_band_arr = F.array(*[F.col(f"qb{j}") for j in range(n_bands)])
    # multi-probe expansion (query side only): XOR each band value with 0
    # and, for probe_bits=1, with each single-bit mask
    flips = [0] + ([1 << b for b in range(band_bits)] if probe_bits >= 1 else [])
    q_bands = (
        q_sig.select("q_id", F.posexplode(q_band_arr).alias("band_idx", "__bv"))
        .select(
            "q_id",
            "band_idx",
            F.explode(F.array(*[F.lit(fl).cast("long") for fl in flips])).alias("__flip"),
            F.col("__bv"),
        )
        .select(
            "q_id",
            "band_idx",
            F.col("__bv").bitwiseXOR(F.col("__flip")).alias("band_val"),
        )
    )
    cand = (
        c_bands.join(F.broadcast(q_bands), ["band_idx", "band_val"])
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id")
        .distinct()
    )
    # integer Hamming over the full signature (sum of per-band XOR popcounts)
    c_sig = sig.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"band{j}").alias(f"cb{j}") for j in range(n_bands)],
    )
    hamming = None
    for j in range(n_bands):
        h = F.bit_count(F.col(f"qb{j}").bitwiseXOR(F.col(f"cb{j}")))
        hamming = h if hamming is None else hamming + h
    vecs = emb.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    qv = vecs.select(F.col(id_col).alias("q_id"), F.col("__v").alias("qe"), F.col("__n").alias("qn"))
    cv = vecs.select(F.col(id_col).alias("neighbor_id"), F.col("__v").alias("e"), F.col("__n").alias("en"))
    scored = (
        cand.join(c_sig, "neighbor_id")
        .join(F.broadcast(q_sig), "q_id")
        .withColumn("hamming", hamming.cast("long"))
        .select("q_id", "neighbor_id", "hamming")
        .join(F.broadcast(qv), "q_id")
        .join(cv, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            "hamming",
            (dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("en"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            "neighbor_id",
            "hamming",
            round6(F.col("cos")).alias("sim"),
            "rnk",
        )
    )


def hyperplane_signature(
    emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    word_bits: int = 32,
) -> DataFrame:
    """B-bit hyperplane signature (Charikar SimHash for vectors): bit i is
    set iff dot(v, plane_i) >= 0, packed into ``B/word_bits`` long
    columns ``w0..`` (32 bits per word keeps every value < 2**32 — exact
    signed-integer arithmetic in both engines). Unlike sign-bit
    quantization of the raw components (binary_quantize, capped at dim
    bits), hyperplane bits extend to ANY signature width: each extra bit
    is an independent angle estimate, so normalized Hamming concentrates
    on theta/pi with variance ~1/(4B) — the lever that separates true
    neighbors from the random-pair bulk on corpora where neighbors are
    only modestly closer than random (this testdata: neighbor cos 0.26-
    0.49 vs random ~0).

    One Arrow pass over the corpus, zero shuffles. Float discipline
    (same contract as embedding_neardup_lsh_numpy): plane dots go
    through BLAS, and any |dot| inside a 1e-6 sign-ambiguity margin is
    recomputed with the exact sequential np.cumsum fold — bit-identical
    to DuckDB's list_dot_product — so every sign bit matches the oracle
    exactly (BLAS error here is ~1e-11)."""
    import numpy as np
    import pandas as pd

    P = np.array(planes, dtype=np.float64)
    n_bits = len(planes)
    if n_bits % word_bits:
        raise ValueError(f"n_bits {n_bits} not a multiple of word_bits {word_bits}")
    n_words = n_bits // word_bits
    weights = (1 << np.arange(word_bits)).astype(np.int64)

    def kernel(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = x @ P.T  # (n, n_bits) BLAS screen
            sus_r, sus_c = np.nonzero(np.abs(d) < 1e-6)
            for r, c in zip(sus_r, sus_c):
                d[r, c] = np.cumsum(x[r] * P[c])[-1]  # exact sequential fold
            bits = d >= 0
            words = bits.reshape(len(x), n_words, word_bits) @ weights  # exact ints
            out = {id_col: pdf[id_col].to_numpy()}
            for j in range(n_words):
                out[f"w{j}"] = words[:, j]
            yield pd.DataFrame(out)

    schema = f"{id_col} long, " + ", ".join(f"w{j} long" for j in range(n_words))
    return spread(emb.filter(F.col(vec_col).isNotNull())).select(
        id_col, vec_col
    ).mapInPandas(kernel, schema)


def bq_screen_topk(
    emb: DataFrame,
    query_filter: Column,
    planes: list[list[float]],
    max_hamming: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    word_bits: int = 32,
) -> DataFrame:
    """ANN via wide binary quantization + full-signature Hamming SCREEN +
    exact cosine rerank — the binary-flat search mode (FAISS
    IndexBinaryFlat / Lucene BQ): every corpus signature is Hamming-
    tested against the (broadcast) query batch with pure integer
    XOR+popcount — 64x cheaper per byte than float scoring and a
    map-only pass with NO shuffle of the corpus — and only rows with
    hamming <= max_hamming enter the exact rerank. With B hyperplane
    bits, normalized Hamming estimates theta/pi with sigma ~ 1/(2*sqrt(B)),
    so a sharp threshold separates neighbors from the random bulk far
    better than banded multi-index probing on LSH-hard corpora (measured
    here: B=256, T=112 -> recall@5 0.98-1.00 with ~11% of the corpus
    entering the rerank, vs 0.70 at ~26% for the 64-bit banded MIH path
    in bq_hamming_topk).

    Scale shape: signature build is one Arrow pass (hyperplane_signature);
    the screen is corpus-signatures x broadcast-query-signatures
    (BroadcastNestedLoopJoin over a bounded query batch — the corpus
    never moves, same discipline as knn_bruteforce_expr); the rerank
    joins vectors only for the screened ~tau tail. Ranking is exact
    cosine desc with id tiebreak on the shared sequential fold, so the
    output is the exact ranking RESTRICTED to the Hamming-screened set;
    self-pairs excluded to match knn_bruteforce."""
    n_bits = len(planes)
    n_words = n_bits // word_bits
    emb = emb.filter(F.col(vec_col).isNotNull())
    # reuse-not-cache (cachectl.py): the Arrow signature pass materializes
    # once into a repartition exchange re-read by the broadcast query
    # batch and the corpus screen side
    sig = hyperplane_signature(emb, planes, id_col, vec_col, word_bits).repartition(
        id_col
    )
    q_sig = sig.filter(query_filter).select(
        F.col(id_col).alias("q_id"),
        *[F.col(f"w{j}").alias(f"qw{j}") for j in range(n_words)],
    )
    hamming = None
    for j in range(n_words):
        h = F.bit_count(F.col(f"qw{j}").bitwiseXOR(F.col(f"w{j}")))
        hamming = h if hamming is None else hamming + h
    cand = (
        sig.crossJoin(F.broadcast(q_sig))
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", F.col(id_col).alias("neighbor_id"), hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    vecs = emb.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    qv = vecs.select(F.col(id_col).alias("q_id"), F.col("__v").alias("qe"), F.col("__n").alias("qn"))
    cv = vecs.select(F.col(id_col).alias("neighbor_id"), F.col("__v").alias("e"), F.col("__n").alias("en"))
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            "hamming",
            (dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("en"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            "neighbor_id",
            "hamming",
            round6(F.col("cos")).alias("sim"),
            "rnk",
        )
    )


def matryoshka_recall(
    emb: DataFrame,
    query_filter: Column,
    dims: tuple = (8, 16, 32, 64),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka truncation study (Kusupati et al. 2022, "Matryoshka
    Representation Learning"): exact top-k recall of TRUNCATED-dimension
    cosine search against the full-dimension ground truth, per query and
    dimension budget — the evaluation every MRL-embedding deployment runs
    to pick its serving dimension (store/scan d/64 of the bytes, keep
    recall). Every ranking is the deterministic brute-force fold of
    knn_bruteforce_expr over prefix-sliced vectors, so the output is
    pure integers: n_hits = |top-k_d ∩ top-k_full|.

    SCALE — ONE corpus scan for ALL dimension budgets: every
    (corpus row × broadcast query) pair computes the truncated-fold
    cosine for each budget in a single projection, explodes to
    (dim_budget, cos) rows, and one partitioned top-k window ranks all
    budgets at once. Ground truth is the max(dims) fold from the SAME
    pass (slice(v, 1, full_dim) ≡ v on full_dim-wide embeddings, and
    the oracle defines truth the same way — a per-row assert_true
    REJECTS embeddings whose width differs from max(dims), so the truth
    can never be a silent truncation), so the old
    one-knn-per-budget shape (len(dims)+1 corpus scans, one broadcast
    build each) collapses into a single pass. The tiny top-k frame is
    repartition-barriered before the truth self-join so the pair
    scoring runs exactly once (reuse-not-cache, cachectl.py). Recall is
    exact, not sampled.
    """
    full_dim = max(dims)
    base = emb.filter(F.col(vec_col).isNotNull())

    # Ground truth is the max(dims) prefix fold, which equals the
    # full-vector ranking ONLY when the embeddings are exactly max(dims)
    # wide — wider vectors would silently truncate the truth. Guard the
    # contract per row, JVM-side (assert_true feeds a used column, so it
    # cannot be pruned); callers with wider embeddings must pass the full
    # width as a dims budget.
    def _width_checked(col):
        return F.when(
            F.assert_true(
                F.size(col) == full_dim,
                F.concat(
                    F.lit("matryoshka_recall: embedding width "),
                    F.size(col).cast("string"),
                    F.lit(f" != max(dims)={full_dim}; ground truth would be "
                          "computed over a truncated vector"),
                ),
            ).isNull(),
            col,
        )

    q = base.filter(query_filter).select(
        F.col(id_col).alias("q_id"), as_double(_width_checked(F.col(vec_col))).alias("qe")
    )
    c = spread(base).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(_width_checked(F.col(vec_col))).alias("e"),
    )

    def cos_at(d: int):
        qs = F.slice(F.col("qe"), 1, d)
        es = F.slice(F.col("e"), 1, d)
        return dot(qs, es) / (F.sqrt(dot(qs, qs)) * F.sqrt(dot(es, es)))

    folds = F.array(
        *[
            F.struct(F.lit(d).alias("dim_budget"), cos_at(d).alias("cos"))
            for d in sorted(set(dims))
        ]
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", F.explode(folds).alias("s"))
        .select(
            "q_id",
            "neighbor_id",
            F.col("s.dim_budget").alias("dim_budget"),
            F.col("s.cos").alias("cos"),
        )
    )
    w = Window.partitionBy("q_id", "dim_budget").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "dim_budget")
        .repartition("q_id")  # barrier: the scoring pass runs once
    )
    truth = topk.filter(F.col("dim_budget") == full_dim).select(
        "q_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    hits = topk.join(F.broadcast(truth), ["q_id", "neighbor_id"], "left")
    return (
        hits.groupBy("q_id", "dim_budget")
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_hits"))
        .select(
            "q_id",
            F.col("dim_budget").cast("long").alias("dim_budget"),
            "n_hits",
            (F.floor(F.col("n_hits") / k * 1e6 + F.lit(0.5)) / 1e6).alias("recall"),
        )
    )


def maxsim_late_interaction(
    emb: DataFrame,
    n_queries: int = 3,
    tokens_per_query: int = 5,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR 2020): a query is a BAG of token vectors, a document is a bag
    of token vectors, and score(q, d) = sum over query tokens of the MAX
    cosine against any document token — the MaxSim operator. Documents
    here are the ``group_col`` groups of the embedding table; queries are
    the first ``n_queries * tokens_per_query`` vectors chunked in id
    order.

    Exactness: each per-token MaxSim is floored to integer micro-units
    before the per-query SUM, so the sum is order-free (exact int64) and
    both engines rank identically — max() over bit-identical cosines is
    itself order-free.

    SCALE: query tokens broadcast against ONE corpus scan (the
    irreducible late-interaction cost — production systems put an ANN
    candidate filter in front; composable here with bq_ann/ivfpq), then
    two hash aggregates: (query, doc, q_token) max, (query, doc) sum.
    No doc-token-by-doc-token pair materialization beyond the scan, no
    driver collects.
    """
    base = emb.filter(F.col(vec_col).isNotNull())
    q = (
        base.filter(F.col(id_col) < n_queries * tokens_per_query)
        .select(
            (F.col(id_col) / tokens_per_query).cast("long").alias("query_id"),
            F.col(id_col).alias("q_tok"),
            as_double(F.col(vec_col)).alias("qe"),
        )
        .withColumn("qn", F.sqrt(dot(F.col("qe"), F.col("qe"))))
    )
    c = (
        spread(base)
        .select(
            F.col(group_col).cast("long").alias("doc_label"),
            as_double(F.col(vec_col)).alias("e"),
        )
        .withColumn("en", F.sqrt(dot(F.col("e"), F.col("e"))))
    )
    cos = (dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("en"))).alias("cos")
    per_tok = (
        c.crossJoin(F.broadcast(q))
        .select("query_id", "doc_label", "q_tok", cos)
        .groupBy("query_id", "doc_label", "q_tok")
        .agg(F.max("cos").alias("mx"))
    )
    micro = F.floor(F.col("mx") * 1e6 + F.lit(0.5)).cast("long")
    scored = per_tok.groupBy("query_id", "doc_label").agg(
        F.sum(micro).alias("__sum_u")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sum_u").desc(), F.col("doc_label")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "doc_label",
            (F.col("__sum_u").cast("double") / 1e6).alias("maxsim_score"),
            "rnk",
        )
    )


def jl_projection_recall(
    emb: DataFrame,
    query_filter: Column,
    planes: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random-projection retrieval study: exact
    top-k recall of cosine search in a seeded Gaussian random projection
    (len(planes) output dims) against the full-dimension ground truth —
    the data-independent counterpart of matryoshka_recall's learned
    prefixes (JL guarantees distance preservation for ANY point set; a
    Matryoshka prefix needs the encoder trained for it). Projection is a
    per-row array of sequential-fold dot products, so both engines
    compute bit-identical coordinates from the same inlined plane
    literals; recall counts are exact integers.

    SCALE: the projection is a map-only expression over one scan; both
    rankers are the broadcast-queries brute-force twin. At 100 TB the
    projected column would be materialized once and reused — the plan
    shape per query is unchanged.
    """
    base = emb.filter(F.col(vec_col).isNotNull())
    proj = F.array(
        *[
            dot(as_double(F.col(vec_col)), F.array(*[F.lit(x) for x in p]))
            for p in planes
        ]
    )
    projected = base.withColumn(vec_col, proj)
    full = knn_bruteforce_expr(
        base, query_filter, k=k, id_col=id_col, vec_col=vec_col
    ).select("q_id", "neighbor_id", F.lit(1).alias("__hit"))
    low = knn_bruteforce_expr(
        projected, query_filter, k=k, id_col=id_col, vec_col=vec_col
    ).select("q_id", "neighbor_id")
    return (
        low.join(F.broadcast(full), ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_hits"))
        .select(
            "q_id",
            F.lit(len(planes)).cast("long").alias("proj_dim"),
            "n_hits",
            (F.floor(F.col("n_hits") / k * 1e6 + F.lit(0.5)) / 1e6).alias("recall"),
        )
    )

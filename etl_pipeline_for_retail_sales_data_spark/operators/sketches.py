"""Count-min sketch over DataFrames, built from portable hash arithmetic.

Spark ships a ``count_min_sketch`` aggregate but returns an opaque JVM
binary (no cross-engine oracle possible). This implementation keeps the
same structure — ``depth`` independent hash rows x ``width`` buckets, point
estimate = min over rows of the landed bucket's count — as plain
group-bys over md5-derived buckets, so DuckDB can replay the identical
math and every cell is inspectable.

Scale shape: building the sketch is ONE map-side-combinable hash
aggregation whose result has at most depth*width rows regardless of input
size (the whole point of the sketch); estimating K probe keys joins a
K*depth-row frame against that tiny cell table — both sides broadcastable.
The classic guarantee holds: estimates never undercount (asserted in
tests), overcount by at most eps*N with probability 1-delta for
width=ceil(e/eps), depth=ceil(ln(1/delta)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cm_bucket(key: Column, seed: int, width: int) -> Column:
    """Row ``seed``'s bucket for a key: first 6 md5 hex digits → int mod
    width. Identical to the engine-portable hash used by dataset_split /
    minhash (md5 is the only hash both Spark and DuckDB expose)."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % width


def cm_bucket_sql(key_expr: str, seed: int, width: int) -> str:
    """Oracle twin of :func:`cm_bucket`."""
    return (
        f"CAST(('0x' || substring(md5('{seed}:' || CAST({key_expr} AS VARCHAR)), 1, 6)) "
        f"AS BIGINT) % {width}"
    )


def cm_sketch_cells(df: DataFrame, key: str, depth: int = 4, width: int = 256) -> DataFrame:
    """Materialize the sketch as (depth, bucket, n) cells — one hash agg,
    ≤ depth*width output rows. Each input row increments one bucket per
    depth row; doing it as an exploded (depth x rows) agg keeps everything
    in whole-stage codegen (no per-row Python)."""
    d = df.select(
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("depth"),
        F.col(key).alias("__k"),
    )
    buckets = [
        F.when(F.col("depth") == j, cm_bucket(F.col("__k"), j, width)) for j in range(depth)
    ]
    return (
        d.withColumn("bucket", F.coalesce(*buckets))
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("n"))
    )


def cm_estimate(cells: DataFrame, probes: DataFrame, key: str, depth: int = 4, width: int = 256) -> DataFrame:
    """Point-estimate counts for ``probes[key]``: min over depth rows of the
    landed cell's count. probes x depth is tiny; the join against the
    bounded cell table broadcasts."""
    p = probes.select(
        F.col(key),
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("depth"),
    )
    buckets = [
        F.when(F.col("depth") == j, cm_bucket(F.col(key), j, width)) for j in range(depth)
    ]
    p = p.withColumn("bucket", F.coalesce(*buckets))
    return (
        p.join(F.broadcast(cells), ["depth", "bucket"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_n"))
    )


# ---------------------------------------------------------------------------
# q-digest: deterministic mergeable quantile sketch over a bounded
# non-negative integer domain (Shrivastava, Buragohain, Agrawal & Suri
# 2004, "Medians and Beyond: New Aggregation Techniques for Sensor
# Networks"). Completes the mergeable-sketch family next to HLL
# (distinct), count-min (frequency), and KMV (distinct): bounded-size
# state answering any quantile with rank error <= bits*n/k.
#
# Execution split (the BPE-fast-path philosophy): the corpus-sized work
# is ONE distributed value-histogram aggregation — for a bounded integer
# domain (cents, token counts) the distinct-value table is bounded and
# tiny relative to the corpus at any scale — followed by a driver-side
# deterministic bottom-up compression over the BOUNDED collected
# histogram (capped collect: fetch cap+1, raise if incomplete). The
# digest itself is O(k*log domain) cells. Merging digests = summing cell
# counts + one recompression, so per-partition / per-day digests roll up
# without touching raw data (asserted in tests).
#
# Determinism: leaf ids are heap-numbered tree nodes (2^bits + value);
# compression walks levels bottom-up and ids ascending, so two builds of
# the same data produce identical cells — and the quantile walk (cells
# by (max_value, range size), cumulative count) is reproducible across
# engines, which is what lets the registry oracle pin rank-error
# invariants.
# ---------------------------------------------------------------------------


def _qd_compress_ref(cells: dict[int, int], n: int, k: int, bits: int) -> dict[int, int]:
    """REFERENCE implementation (the published sequential formulation,
    kept verbatim for the equivalence pin in tests): classic bottom-up
    q-digest compression — merge (node, sibling, parent) triples whose
    combined count fits under n/k. Deterministic: levels bottom-up,
    node ids ascending."""
    thr = n // k
    if thr <= 0:
        return dict(cells)
    out = dict(cells)
    for level in range(bits, 0, -1):
        lo, hi = 1 << level, 1 << (level + 1)
        for node in sorted(i for i in out if lo <= i < hi):
            if node not in out:
                continue
            sib = node ^ 1
            parent = node >> 1
            total = out.get(node, 0) + out.get(sib, 0) + out.get(parent, 0)
            if total <= thr:
                out.pop(node, None)
                out.pop(sib, None)
                out[parent] = total
    return out


def _qd_compress(cells: dict[int, int], n: int, k: int, bits: int) -> dict[int, int]:
    """Vectorized q-digest compression — EXACTLY the reference result
    (r12, guide §1.2 step 2: with the distributed pass already one
    histogram aggregation, the remaining qdigest cost was this driver
    loop — ~2 s per million cells in interpreted Python, ×3 digests per
    qdigest_quantiles call).

    Why per-level vectorization is legal: within one level, the
    sequential loop's (node, sibling, parent) triples are INDEPENDENT —
    a merge writes only the pair's own parent (level-1, not iterated
    this level) and removes only the pair itself, and when the
    lower-id child declines the merge the higher-id child re-evaluates
    the identical total. So each parent's outcome depends only on
    (child counts at this level, the parent's own pre-level count):
    merge iff their sum <= thr. All arithmetic is int64 (counts are
    bounded by n, which fits — the collect cap guarantees it);
    equivalence with the sequential form is fuzz-pinned in tests."""
    import numpy as np

    thr = n // k
    if thr <= 0 or not cells:
        return dict(cells)
    nodes = np.fromiter(cells.keys(), np.int64, len(cells))
    cnts = np.fromiter(cells.values(), np.int64, len(cells))
    order = np.argsort(nodes)
    nodes, cnts = nodes[order], cnts[order]
    for level in range(bits, 0, -1):
        lo_i = np.searchsorted(nodes, np.int64(1) << level)
        hi_i = np.searchsorted(nodes, np.int64(1) << (level + 1))
        if lo_i == hi_i:
            continue
        ch_nodes, ch_cnts = nodes[lo_i:hi_i], cnts[lo_i:hi_i]
        prefix_n, prefix_c = nodes[:lo_i], cnts[:lo_i]
        suffix_n, suffix_c = nodes[hi_i:], cnts[hi_i:]
        parents, inv = np.unique(ch_nodes >> 1, return_inverse=True)
        sums = np.zeros(len(parents), np.int64)
        np.add.at(sums, inv, ch_cnts)
        # existing parent counts (parents live in the sorted prefix)
        if len(prefix_n):
            pos = np.searchsorted(prefix_n, parents)
            safe = np.minimum(pos, len(prefix_n) - 1)
            has = (pos < len(prefix_n)) & (prefix_n[safe] == parents)
            pexist = np.where(has, prefix_c[safe], 0)
        else:
            pos = np.zeros(len(parents), np.int64)
            has = np.zeros(len(parents), bool)
            pexist = np.zeros(len(parents), np.int64)
        totals = sums + pexist
        merged = totals <= thr
        if not merged.any():
            continue
        # drop merged pairs' children; keep the rest of the level
        keep_child = ~merged[inv]
        # update/insert merged parents into the prefix
        upd = merged & has
        if upd.any():
            prefix_c = prefix_c.copy()
            prefix_c[pos[upd]] = totals[upd]
        new = merged & ~has
        if new.any():
            ins = np.searchsorted(prefix_n, parents[new])
            prefix_n = np.insert(prefix_n, ins, parents[new])
            prefix_c = np.insert(prefix_c, ins, totals[new])
        nodes = np.concatenate([prefix_n, ch_nodes[keep_child], suffix_n])
        cnts = np.concatenate([prefix_c, ch_cnts[keep_child], suffix_c])
    return dict(zip(nodes.tolist(), cnts.tolist()))


def qdigest_from_hist(
    hist: list[tuple[int, int]], k: int, bits: int
) -> dict[int, int]:
    """Build the digest from a (value, count) histogram. Values must be
    in [0, 2^bits)."""
    import numpy as np

    if not hist:
        return {}
    arr = np.asarray(hist, dtype=np.int64)
    return _qdigest_from_arrays(arr[:, 0], arr[:, 1], k, bits)


def _qdigest_from_arrays(values, counts, k: int, bits: int) -> dict[int, int]:
    """Array-native digest build (r12): the leaf-cell accumulation of
    :func:`qdigest_from_hist` as numpy aggregation instead of a per-row
    Python loop — exact integer math, same cells, same compression."""
    import numpy as np

    dom = 1 << bits
    if len(values) == 0:
        return {}
    bad = (values < 0) | (values >= dom)
    if bad.any():
        raise ValueError(f"qdigest: value {int(values[bad][0])} outside [0, {dom})")
    uv, inv = np.unique(values, return_inverse=True)
    uc = np.zeros(len(uv), np.int64)
    np.add.at(uc, inv, counts)
    cells = dict(zip((uv + dom).tolist(), uc.tolist()))
    return _qd_compress(cells, int(counts.sum()), k, bits)


def qdigest_build(
    df: DataFrame,
    value: Column,
    k: int = 1024,
    bits: int = 25,
    hist_cap: int = 2_000_000,
) -> dict[int, int]:
    """One distributed aggregation → bounded histogram collect → driver
    compression. Raises when the distinct-value count exceeds
    ``hist_cap`` (a histogram that big means the domain was mis-sized —
    raise the cap deliberately or shrink the domain)."""
    hist_df = (
        df.select(value.cast("long").alias("__v"))
        .filter(F.col("__v").isNotNull())
        .groupBy("__v")
        .agg(F.count("*").alias("__c"))
    )
    # Arrow transfer (r12, guide §6): the bounded histogram is the one
    # big driver fetch in this family — toPandas moves it as columnar
    # batches instead of pickled Rows (measured ~4x on ~1M rows)
    pdf = hist_df.limit(hist_cap + 1).toPandas()
    if len(pdf) > hist_cap:
        raise ValueError(
            f"qdigest_build: more than hist_cap={hist_cap} distinct values; "
            "the bounded-domain histogram is the scale contract — raise the "
            "cap deliberately if the driver can hold it"
        )
    return _qdigest_from_arrays(
        pdf["__v"].to_numpy("int64"), pdf["__c"].to_numpy("int64"), k, bits
    )


def qdigest_build_split(
    df: DataFrame,
    value: Column,
    split: Column,
    k: int = 1024,
    bits: int = 25,
    hist_cap: int = 2_000_000,
) -> tuple[dict[int, int], dict[int, int], dict[int, int]]:
    """(full, split-true, split-false) digests from ONE distributed
    aggregation — the fused form of three ``qdigest_build`` calls over
    ``df``, ``df.filter(split)`` and ``df.filter(~split)``. The value
    histogram of the full table is exactly the cell-wise sum of the two
    split histograms, so one (split, value) groupBy determines all
    three digests; ``qdigest_from_hist``'s dict accumulation and the
    id-sorted bottom-up compression are insertion-order-independent, so
    each digest is bit-identical to its separately-built twin (pinned
    in tests). Null split values count only toward the full digest
    (matching filter/~filter semantics, where they appear in neither
    half)."""
    # split encoded as int (1/0/-1 for true/false/null) so the collected
    # frame is fully numeric for the Arrow transfer + numpy splits below;
    # the grouping is identical (three distinct split states either way)
    skey = F.when(split, 1).when(~split, 0).otherwise(-1)
    hist_df = (
        df.select(value.cast("long").alias("__v"), skey.alias("__s"))
        .filter(F.col("__v").isNotNull())
        .groupBy("__v", "__s")
        .agg(F.count("*").alias("__c"))
    )
    # each value contributes <= 3 rows (true/false/null split); fetch up
    # to that bound, then enforce the DOCUMENTED per-digest contract —
    # at most hist_cap distinct values (r11 ADVICE: the row-count check
    # alone let up to 3x hist_cap distinct values through while the
    # message claimed otherwise)
    import numpy as np

    pdf = hist_df.limit(3 * hist_cap + 1).toPandas()
    v = pdf["__v"].to_numpy("int64")
    s = pdf["__s"].to_numpy("int64")
    c = pdf["__c"].to_numpy("int64")
    if len(pdf) > 3 * hist_cap or len(np.unique(v)) > hist_cap:
        raise ValueError(
            f"qdigest_build_split: more than hist_cap={hist_cap} distinct "
            "values; the bounded-domain histogram is the scale contract — "
            "raise the cap deliberately if the driver can hold it"
        )
    return (
        _qdigest_from_arrays(v, c, k, bits),
        _qdigest_from_arrays(v[s == 1], c[s == 1], k, bits),
        _qdigest_from_arrays(v[s == 0], c[s == 0], k, bits),
    )


def qdigest_merge(
    d1: dict[int, int], d2: dict[int, int], k: int, bits: int
) -> dict[int, int]:
    """Mergeable-summary contract: cell-wise count sum + one
    recompression at the combined n/k threshold. Error bounds compose
    (eps1*n1 + eps2*n2 <= eps*(n1+n2))."""
    cells = dict(d1)
    for node, c in d2.items():
        cells[node] = cells.get(node, 0) + c
    n = sum(cells.values())
    return _qd_compress(cells, n, k, bits)


def qdigest_total(digest: dict[int, int]) -> int:
    return sum(digest.values())


def _qd_bounds(node: int, bits: int) -> tuple[int, int, int]:
    """(level, min_value, max_value) of a heap-numbered node."""
    level = node.bit_length() - 1
    span = 1 << (bits - level)
    lo = (node - (1 << level)) * span
    return level, lo, lo + span - 1


def qdigest_quantile(digest: dict[int, int], q: float, bits: int) -> int:
    """Rank-q estimate: walk cells in (max_value asc, range asc) order,
    return the first cell's max_value whose cumulative count reaches
    ceil(q*n). Guarantee: the true rank of the returned value is within
    bits*n/k of q*n."""
    import math

    n = qdigest_total(digest)
    if n == 0:
        raise ValueError("qdigest_quantile: empty digest")
    target = max(1, math.ceil(q * n))
    ordered = sorted(
        ((_qd_bounds(node, bits), c) for node, c in digest.items()),
        key=lambda t: (t[0][2], t[0][2] - t[0][1]),
    )
    cum = 0
    for (level, lo, hi), c in ordered:
        cum += c
        if cum >= target:
            return hi
    return ordered[-1][0][2]


# ---------------------------------------------------------------------------
# Bloom filter: mergeable set-membership sketch (Bloom 1970)
# ---------------------------------------------------------------------------


def bloom_bit(key: Column, seed: int, m: int) -> Column:
    """Hash row ``seed``'s bit position for a key — the same portable
    md5-prefix family as cm_bucket / dataset_split, so DuckDB replays
    identical positions."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % m


def bloom_positions(df: DataFrame, key: str, k: int = 5, m: int = 4096) -> DataFrame:
    """The filter as its set-bit positions: DISTINCT over k hash rows x
    members — ONE map-side-combinable distinct agg whose output is
    bounded by m rows regardless of input scale (the point of the
    sketch). Spark ships ``bloom_filter_agg`` as an opaque JVM binary;
    this keeps every bit inspectable and cross-engine replayable."""
    j = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("j")
    d = df.select(F.col(key).alias("__k"), j)
    pos = F.coalesce(
        *[F.when(F.col("j") == i, bloom_bit(F.col("__k"), i, m)) for i in range(k)]
    )
    return d.select(pos.alias("pos")).distinct()


def bloom_words(positions: DataFrame, word_bits: int = 32) -> DataFrame:
    """Pack the position set into (word_idx, word) integer words via a
    bit_or aggregate — the dense mergeable representation: two filters
    merge by bit_or on word_idx. 32-bit words inside BIGINTs so the
    shift stays in range on every engine (DuckDB raises on 1<<63)."""
    return (
        positions.select(
            (F.col("pos") / word_bits).cast("long").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {word_bits} AS INT))").alias("b"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(b)").alias("word"))
    )


def bloom_merge_words(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two packed filters: full-outer join on word_idx, bit_or
    of the words (missing word = 0)."""
    aw = a.select("word_idx", F.col("word").alias("wa"))
    bw = b.select("word_idx", F.col("word").alias("wb"))
    return aw.join(bw, "word_idx", "full_outer").select(
        "word_idx",
        (
            F.coalesce(F.col("wa"), F.lit(0)).bitwiseOR(F.coalesce(F.col("wb"), F.lit(0)))
        ).alias("word"),
    )


def bloom_probe(
    positions: DataFrame, probes: DataFrame, key: str, k: int = 5, m: int = 4096
) -> DataFrame:
    """Membership test: a probe is positive iff ALL k of its bit
    positions are set. The filter is <= m rows → broadcast to the probe
    side; no shuffle of the probe stream. Classic guarantee: no false
    negatives (every true member probes positive), false-positive rate
    ~ (1 - e^{-kn/m})^k."""
    j = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("j")
    p = probes.select(F.col(key), j)
    pos = F.coalesce(
        *[F.when(F.col("j") == i, bloom_bit(F.col(key), i, m)) for i in range(k)]
    )
    p = p.select(key, pos.alias("pos"))
    hits = p.join(F.broadcast(positions.withColumn("__set", F.lit(1))), "pos", "left")
    return hits.groupBy(key).agg(
        F.min(F.coalesce(F.col("__set"), F.lit(0))).cast("boolean").alias("bloom_positive")
    )


def kmv_group_sketches(
    df: DataFrame, group_col: str, hv_col: str = "hv", k: int = 128
) -> DataFrame:
    """Per-group K-minimum-values sketch rows: the k smallest distinct
    48-bit hash values of each group (``hv`` must already be the
    portable md5-derived integer — callers hash their element key the
    same way on the oracle side). ONE distinct aggregate over the
    elements, then a group-partitioned rank — never a global sort; the
    output is <= k rows per group regardless of group size, which is
    the whole point: downstream set algebra runs over sketches, not
    corpora."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(hv_col)
    return (
        df.select(group_col, hv_col)
        .distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_overlap_matrix(
    sketches: DataFrame,
    group_col: str,
    hv_col: str = "hv",
    k: int = 128,
    space: int = 1 << 48,
) -> DataFrame:
    """Theta-sketch set algebra over per-group KMV sketches: for every
    group pair, the union sketch (k smallest of the merged hash sets,
    theta = its max) and the intersection estimate
    n_common_below_theta / theta — Beyer et al. 2007 / the DataSketches
    theta-intersection shape, entirely from sketch rows.

    Scale rationale: cross-source overlap normally costs a full
    distinct-element equi-join across every source pair
    (source_overlap_matrix's exact shape). Here the corpus is touched
    ONCE to build <= k-row sketches and all pair math runs on
    |groups|·k rows — mergeable (a union sketch is itself a KMV
    sketch), so per-day or per-shard partial sketches roll up without
    revisiting elements. When a pair's union sketch holds fewer than k
    values the sketches ARE the full sets and both estimates are exact
    (the standard small-set escape).

    Output per (grp_a < grp_b): k_union (rows in the union sketch),
    theta_union, n_common (intersection sketch rows below theta), and
    est_inter / est_union (FLOOR(x + 0.5) of one double division each,
    the kmv_distinct_estimate float-parity pattern)."""
    from pyspark.sql import Window

    sk = sketches.select(
        F.col(group_col).alias("__g"), F.col(hv_col).alias("__hv")
    ).repartition("__g")
    a = sk.select(F.col("__g").alias("grp_a"), F.col("__hv").alias("__hv"))
    b = sk.select(F.col("__g").alias("grp_b"), F.col("__hv").alias("__hv"))
    # union sketch per pair: replicate each group's sketch to its pairs
    groups = sk.select(F.col("__g")).distinct()
    pairs = (
        groups.select(F.col("__g").alias("grp_a"))
        .join(F.broadcast(groups.select(F.col("__g").alias("grp_b"))))
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    ua = pairs.join(a, "grp_a").select("grp_a", "grp_b", "__hv")
    ub = pairs.join(b, "grp_b").select("grp_a", "grp_b", "__hv")
    wu = Window.partitionBy("grp_a", "grp_b").orderBy("__hv")
    usk = (
        ua.unionByName(ub)
        .distinct()
        .withColumn("__rn", F.row_number().over(wu))
        .filter(F.col("__rn") <= k)
    )
    ustats = usk.groupBy("grp_a", "grp_b").agg(
        F.count("*").cast("int").alias("k_union"),
        F.max("__hv").alias("theta_union"),
    )
    # no broadcast hint on ustats: it holds one row per GROUP PAIR, so
    # at the 10k-source scale this function is for it is O(|groups|²)
    # rows — let the planner shuffle the keyed equi-join (AQE will
    # still broadcast it when it is actually small)
    common = (
        a.join(b, "__hv")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .join(ustats, ["grp_a", "grp_b"])
        .filter(F.col("__hv") <= F.col("theta_union"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = ustats.join(common, ["grp_a", "grp_b"], "left").na.fill({"n_common": 0})
    exact_mode = F.col("k_union") < k  # sketches hold the full sets
    est_inter = F.when(exact_mode, F.col("n_common")).otherwise(
        F.floor(
            F.col("n_common") * F.lit(float(space)) / F.col("theta_union") + F.lit(0.5)
        )
    )
    est_union = F.when(exact_mode, F.col("k_union")).otherwise(
        F.floor(
            (F.col("k_union") - 1) * F.lit(float(space)) / F.col("theta_union")
            + F.lit(0.5)
        )
    )
    return out.select(
        "grp_a",
        "grp_b",
        "k_union",
        "theta_union",
        F.col("n_common").cast("long").alias("n_common"),
        est_inter.cast("long").alias("est_inter"),
        est_union.cast("long").alias("est_union"),
    )


def shingle_hv(df: DataFrame, key_cols: list, text_col: str = "text") -> DataFrame:
    """THE shared sketch-element definition: lowercase ``\\S+`` tokens →
    3-gram shingles → distinct 48-bit md5 integers, carried alongside
    ``key_cols``. One implementation on purpose — the kmv overlap
    query, the incremental sketch leg, and their DuckDB oracles all
    hash THIS way, and the stateful leg's replay-safety claim rests on
    it staying bit-identical to its oracled twin (any drift desyncs
    them silently)."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
    base = df.select(*key_cols, toks.alias("__toks")).filter(F.size("__toks") >= 3)
    sh = base.select(
        *key_cols,
        F.explode(
            F.expr(
                "transform(sequence(1, size(__toks) - 2), "
                "i -> concat_ws(' ', __toks[i-1], __toks[i], __toks[i+1]))"
            )
        ).alias("__shingle"),
    )
    return sh.select(
        *key_cols,
        F.conv(F.substring(F.md5(F.col("__shingle")), 1, 12), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()

"""Tests for the scale-technique operators: runtime-filter join, Z-order
layout, count-min sketch, SCD2 history, PageRank."""

import datetime

import pytest

from pyspark.sql import functions as F

from etl_pipeline_for_retail_sales_data_spark.operators.graph import pagerank
from etl_pipeline_for_retail_sales_data_spark.operators.joins import runtime_filter_join
from etl_pipeline_for_retail_sales_data_spark.operators.layout import (
    clamp,
    interleave_bits,
    zorder_layout,
)
from etl_pipeline_for_retail_sales_data_spark.operators.sketches import (
    cm_estimate,
    cm_sketch_cells,
)
from etl_pipeline_for_retail_sales_data_spark.operators.windows import scd2_history
from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table


# ---------------------------------------------------------------- runtime filter
def test_runtime_filter_join_equals_plain_join(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem").select("l_partkey", "l_quantity")
    small = (
        load_table(spark, sf_smoke, "part")
        .filter(F.col("p_size") <= 5)
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    got = runtime_filter_join(li, small, "l_partkey")
    want = li.join(small, "l_partkey")
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_runtime_filter_join_plan_has_semi_prune(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    small = (
        load_table(spark, sf_smoke, "part")
        .filter(F.col("p_size") <= 5)
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    plan = runtime_filter_join(li, small, "l_partkey")._jdf.queryExecution().toString()
    assert "LeftSemi" in plan


# ---------------------------------------------------------------------- z-order
def _interleave_py(x, y, bits=6):
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_interleave_matches_python_and_roundtrips(spark):
    rows = [(x, y) for x in (0, 1, 5, 31, 63) for y in (0, 2, 17, 63)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", interleave_bits(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == _interleave_py(x, y)
    # bijectivity on the clamped domain
    assert len(set(got.values())) == len(rows)


def test_zorder_layout_partitions_own_contiguous_ranges(spark, sf_smoke):
    p = load_table(spark, sf_smoke, "part")
    x = clamp(F.col("p_size").cast("long"), 0, 63)
    y = clamp(F.floor((F.col("p_retailprice") - 900.0) * 0.64).cast("long"), 0, 63)
    z = interleave_bits(x, y)
    laid = zorder_layout(p, z, n_files=4)
    # each output partition owns a contiguous, non-overlapping z-range
    part_ranges = (
        laid.withColumn("__z2", interleave_bits(x, y))
        .withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(F.min("__z2").alias("lo"), F.max("__z2").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    for a, b in zip(part_ranges, part_ranges[1:]):
        assert a["hi"] <= b["lo"]


# ------------------------------------------------------------------- count-min
def test_cm_sketch_never_undercounts(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    cells = cm_sketch_cells(li, "l_suppkey", depth=3, width=32)
    exact = li.groupBy("l_suppkey").agg(F.count("*").alias("exact_n"))
    est = cm_estimate(cells, exact, "l_suppkey", depth=3, width=32)
    joined = exact.join(est, "l_suppkey").collect()
    assert len(joined) > 0
    for r in joined:
        assert r["est_n"] >= r["exact_n"]


def test_cm_sketch_bounded_cells(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    cells = cm_sketch_cells(li, "l_partkey", depth=4, width=16)
    assert cells.count() <= 4 * 16
    # every input row lands in exactly one bucket per depth row
    per_depth = cells.groupBy("depth").agg(F.sum("n").alias("total")).collect()
    n_rows = li.count()
    assert all(r["total"] == n_rows for r in per_depth)


# ------------------------------------------------------------------------ SCD2
def test_scd2_collapses_runs_and_closes_intervals(spark):
    t = datetime.datetime
    rows = [
        (1, "free", t(2024, 1, 1), 1),
        (1, "free", t(2024, 1, 2), 2),
        (1, "pro", t(2024, 1, 5), 3),
        (1, "free", t(2024, 1, 9), 4),
        (2, "pro", t(2024, 1, 1), 5),
    ]
    df = spark.createDataFrame(rows, "user_id long, plan string, ts timestamp, event_id long")
    hist = scd2_history(df, "user_id", "plan", "ts", "event_id").orderBy("user_id", "version")
    got = [
        (r.user_id, r.version, r.plan, r.is_current, r.n_events) for r in hist.collect()
    ]
    assert got == [
        (1, 1, "free", False, 2),
        (1, 2, "pro", False, 1),
        (1, 3, "free", True, 1),
        (2, 1, "pro", True, 1),
    ]
    rows_by_version = {(r.user_id, r.version): r for r in hist.collect()}
    # intervals chain: v1 closes where v2 opens; current row is open (-1)
    assert (
        rows_by_version[(1, 1)].effective_to_us == rows_by_version[(1, 2)].effective_from_us
    )
    assert rows_by_version[(1, 3)].effective_to_us == -1


# -------------------------------------------------------------------- PageRank
@pytest.fixture
def pr_result(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    # 1<->2<->3 triangle-ish cluster, 4->5, 6 dangling
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (4, 5)], "src long, dst long"
    )
    return pagerank(nodes, edges, iterations=10).collect()


def test_pagerank_conserves_mass_and_positive(pr_result):
    total = sum(r["rank"] for r in pr_result)
    assert abs(total - 6.0) < 1e-6
    assert all(r["rank"] > 0 for r in pr_result)


def test_pagerank_ordering_reflects_structure(pr_result):
    ranks = {r["id"]: r["rank"] for r in pr_result}
    # 5 receives from 4; 4 and 6 receive only teleport+dangling mass
    assert ranks[5] > ranks[4]
    assert ranks[2] > ranks[4]
    # symmetric triangle nodes 1 and 3 get identical ranks
    assert abs(ranks[1] - ranks[3]) < 1e-9


def test_pagerank_deterministic(spark, pr_result):
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (4, 5)], "src long, dst long"
    )
    again = pagerank(nodes, edges, iterations=10).collect()
    assert {r["id"]: r["rank"] for r in again} == {r["id"]: r["rank"] for r in pr_result}


def test_pagerank_fast_paths_bit_identical(spark, pr_result):
    """(a) assume_edges_valid=True (skip the two
    edge-validation semi-joins) is bit-identical when edges really are
    within the node set; (b) on a graph with NO dangling node the elided
    dangling-mass subtree leaves every rank bit-identical to the padded
    +0.0 form (exercised indirectly: a symmetric graph routes through
    the has_dangling=False branch, and the mass/structure invariants
    still hold exactly)."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (4, 5)], "src long, dst long"
    )
    fast = pagerank(nodes, edges, iterations=10, assume_edges_valid=True).collect()
    assert {r["id"]: r["rank"] for r in fast} == {
        r["id"]: r["rank"] for r in pr_result
    }
    # fully symmetric edge set over its own incident nodes: nothing
    # dangles, so the dangling subtree is elided; a node's mass must
    # still conserve exactly and symmetric nodes tie exactly
    sym_nodes = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    sym_edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    r_default = pagerank(sym_nodes, sym_edges, iterations=6).collect()
    r_fast = pagerank(
        sym_nodes, sym_edges, iterations=6, assume_edges_valid=True
    ).collect()
    assert {r["id"]: r["rank"] for r in r_fast} == {
        r["id"]: r["rank"] for r in r_default
    }
    assert abs(sum(r["rank"] for r in r_fast) - 3.0) < 1e-9


def test_zorder_write_narrows_rowgroup_stats(spark, sf_smoke, tmp_path):
    """The point of Z-ordering, proven on real parquet footers: after a
    z-ordered write, each file's min/max span on BOTH encoded dimensions
    is far narrower than the full domain, so a predicate on either
    dimension can skip most files/row-groups on statistics alone."""
    import pyarrow.parquet as pq

    p = load_table(spark, sf_smoke, "part")
    lo, hi = p.agg(F.min("p_retailprice"), F.max("p_retailprice")).first()
    x = clamp(F.col("p_size").cast("long"), 0, 63)
    # normalize price to the observed range so y fills the 0..63 domain
    # regardless of scale factor
    y = clamp(
        F.floor((F.col("p_retailprice") - lo) / (hi - lo + 1e-9) * 64).cast("long"), 0, 63
    )
    enc = p.select("p_partkey", x.alias("zx"), y.alias("zy"))
    z = interleave_bits(F.col("zx"), F.col("zy"))

    out_z = str(tmp_path / "zordered")
    out_plain = str(tmp_path / "plain")
    zorder_layout(enc, z, n_files=16).write.parquet(out_z)
    enc.repartition(16).write.parquet(out_plain)

    def mean_file_span(path, col):
        spans = []
        import glob, os
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.read_metadata(f)
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            if los:
                spans.append(max(his) - min(los))
        assert spans, f"no stats found under {path}"
        return sum(spans) / len(spans)

    for col in ("zx", "zy"):
        z_span = mean_file_span(out_z, col)
        plain_span = mean_file_span(out_plain, col)
        # round-robin files each cover ~the full 0..63 domain; z-ordered
        # files must be at least 2x tighter on BOTH dimensions
        assert z_span * 2 <= plain_span, (col, z_span, plain_span)


# ---------------------------------------------------------------- empty inputs
def test_new_ops_on_empty_inputs(spark):
    empty_ev = spark.createDataFrame(
        [], "user_id long, plan string, ts timestamp, event_id long"
    )
    assert scd2_history(empty_ev, "user_id", "plan", "ts", "event_id").count() == 0

    empty_kv = spark.createDataFrame([], "k long")
    cells = cm_sketch_cells(empty_kv, "k", depth=2, width=8)
    assert cells.count() == 0
    assert cm_estimate(cells, empty_kv, "k", depth=2, width=8).count() == 0

    nodes = spark.createDataFrame([], "id long")
    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(nodes, edges, iterations=2).count() == 0

    # nodes but no edges: every node ends at exactly rank 1 (teleport +
    # dangling redistribution fixpoint)
    nodes3 = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    ranks = pagerank(nodes3, edges, iterations=3).collect()
    assert len(ranks) == 3
    for r in ranks:
        assert abs(r["rank"] - 1.0) < 1e-9


# ------------------------------------------------------------ canonical dedup
def test_canonical_dedup_one_keeper_per_component(spark):
    from etl_pipeline_for_retail_sales_data_spark.operators.dedup import canonical_dedup

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    # components: {1,2,3}, {4,5}; singletons 6, 7
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long")
    ranks = spark.createDataFrame(
        [(1, 0.5), (2, 2.0), (3, 1.0), (4, 1.0), (5, 1.0), (6, 0.1), (7, 0.2)],
        "doc_id long, rank double",
    )
    out = canonical_dedup(docs, edges, ranks).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r.component, []).append(r)
    assert set(by_comp) == {1, 4, 6, 7}
    for comp, rows in by_comp.items():
        keepers = [r for r in rows if r.is_keeper]
        assert len(keepers) == 1
        # every member points at the component's keeper
        assert all(r.keeper_id == keepers[0].doc_id for r in rows)
    # highest rank wins in {1,2,3}; equal ranks in {4,5} -> min id wins
    assert [r for r in by_comp[1] if r.is_keeper][0].doc_id == 2
    assert [r for r in by_comp[4] if r.is_keeper][0].doc_id == 4
    # singletons keep themselves
    assert by_comp[6][0].is_keeper and by_comp[7][0].is_keeper


@pytest.mark.usefixtures("spark_loop")
class TestSparkLoop:
    """The PageRank and canonical-dedup tests of this module on the Spark
    loop; without the fixture their graphs are solved on the driver."""

    test_pagerank_conserves_mass_and_positive = staticmethod(test_pagerank_conserves_mass_and_positive)
    test_pagerank_ordering_reflects_structure = staticmethod(test_pagerank_ordering_reflects_structure)
    test_pagerank_deterministic = staticmethod(test_pagerank_deterministic)
    test_pagerank_fast_paths_bit_identical = staticmethod(test_pagerank_fast_paths_bit_identical)
    test_new_ops_on_empty_inputs = staticmethod(test_new_ops_on_empty_inputs)
    test_canonical_dedup_one_keeper_per_component = staticmethod(
        test_canonical_dedup_one_keeper_per_component
    )


def test_interleave_n_three_dims_matches_python(spark):
    from etl_pipeline_for_retail_sales_data_spark.operators.layout import interleave_bits_n

    def ref(vals, bits=6):
        z, n = 0, len(vals)
        for i in range(bits):
            for d, v in enumerate(vals):
                z |= ((v >> i) & 1) << (i * n + d)
        return z

    rows = [(a, b, c) for a in (0, 7, 63) for b in (1, 32) for c in (0, 63)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got = df.select(
        "a", "b", "c",
        interleave_bits_n([F.col("a"), F.col("b"), F.col("c")]).alias("z"),
    ).collect()
    for r in got:
        assert r.z == ref([r.a, r.b, r.c])
    # 2-dim n-ary form must equal the classic pairwise interleave
    df2 = spark.createDataFrame([(5, 9), (63, 0)], "x long, y long")
    both = df2.select(
        interleave_bits(F.col("x"), F.col("y")).alias("z2"),
        interleave_bits_n([F.col("x"), F.col("y")]).alias("zn"),
    ).collect()
    assert all(r.z2 == r.zn for r in both)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        interleave_bits_n([F.col("a")] * 11, bits=6)


# ------------------------------------------------------------ weighted sample
def test_weighted_sample_deterministic_and_biased(spark, sf_smoke):
    from etl_pipeline_for_retail_sales_data_spark.operators.text import weighted_sample

    docs = load_table(spark, sf_smoke, "documents")
    s1 = [r.doc_id for r in weighted_sample(docs, F.col("n_chars"), 50).select("doc_id").collect()]
    s2 = [r.doc_id for r in weighted_sample(docs, F.col("n_chars"), 50).select("doc_id").collect()]
    assert s1 == s2 and len(s1) == 50 and len(set(s1)) == 50

    # different seed -> different sample (overwhelmingly)
    s3 = [r.doc_id for r in weighted_sample(docs, F.col("n_chars"), 50, seed=7).select("doc_id").collect()]
    assert s1 != s3

    # extreme weights dominate: give 10 chosen docs weight 10_000x, rest 1
    heavy = set(range(1, 11))
    w = F.when(F.col("doc_id").isin(*heavy), 10_000.0).otherwise(1.0)
    got = {r.doc_id for r in weighted_sample(docs, w, 10).select("doc_id").collect()}
    assert len(got & heavy) >= 9

    # plan: global top-k must be TakeOrderedAndProject, not a full sort
    plan = weighted_sample(docs, F.col("n_chars"), 50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# q-digest mergeable quantile sketch
# ---------------------------------------------------------------------------

from etl_pipeline_for_retail_sales_data_spark.operators.sketches import (  # noqa: E402
    qdigest_build,
    qdigest_from_hist,
    qdigest_merge,
    qdigest_quantile,
    qdigest_total,
)


def _rank(vals, x):
    return sum(1 for v in vals if v <= x)


def test_qdigest_rank_error_within_paper_bound():
    import random

    rng = random.Random(11)
    # skewed + uniform mixture, repeated values included
    vals = [rng.randint(0, 4000) for _ in range(30000)] + [
        int(rng.expovariate(1 / 300.0)) % 16000 for _ in range(30000)
    ]
    hist: dict[int, int] = {}
    for v in vals:
        hist[v] = hist.get(v, 0) + 1
    k, bits = 256, 14
    d = qdigest_from_hist(list(hist.items()), k, bits)
    n = qdigest_total(d)
    assert n == len(vals)
    assert len(d) <= 4 * k
    bound = bits * (n // k)
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        est = qdigest_quantile(d, q, bits)
        assert abs(_rank(vals, est) - q * n) <= bound, q


def test_qdigest_vectorized_compress_equals_reference():
    # r12: _qd_compress was vectorized (numpy per-level merges) — must
    # produce EXACTLY the reference sequential result on every input,
    # including multi-level cell sets (merge inputs), singleton children,
    # zero-threshold and empty cases
    import random

    from etl_pipeline_for_retail_sales_data_spark.operators.sketches import (
        _qd_compress,
        _qd_compress_ref,
    )

    rng = random.Random(42)
    for trial in range(30):
        bits = rng.choice([4, 8, 14])
        dom = 1 << bits
        k = rng.choice([4, 16, 256])
        # random cell set spanning MANY levels (like a merge input), not
        # just leaves
        cells: dict[int, int] = {}
        for _ in range(rng.randint(0, 500)):
            node = rng.randint(1, (dom << 1) - 1)
            cells[node] = cells.get(node, 0) + rng.randint(1, 50)
        n = sum(cells.values())
        assert _qd_compress(cells, n, k, bits) == _qd_compress_ref(
            cells, n, k, bits
        ), (trial, bits, k)
    assert _qd_compress({}, 0, 256, 14) == {}
    # thr == 0 path: unchanged cells
    assert _qd_compress({17: 1}, 1, 256, 14) == {17: 1}


def test_qdigest_deterministic_and_merge_bound():
    import random

    rng = random.Random(7)
    vals = [rng.randint(0, 10000) for _ in range(40000)]
    hist: dict[int, int] = {}
    for v in vals:
        hist[v] = hist.get(v, 0) + 1
    k, bits = 256, 14
    d1 = qdigest_from_hist(list(hist.items()), k, bits)
    d2 = qdigest_from_hist(list(reversed(list(hist.items()))), k, bits)
    assert d1 == d2  # input order never matters
    # split/merge honors the same bound (mergeable-summary contract)
    items = list(hist.items())
    m = qdigest_merge(
        qdigest_from_hist(items[::2], k, bits),
        qdigest_from_hist(items[1::2], k, bits),
        k,
        bits,
    )
    n = qdigest_total(m)
    assert n == len(vals)
    assert len(m) <= 4 * k
    bound = bits * (n // k)
    for q in (0.1, 0.5, 0.9):
        est = qdigest_quantile(m, q, bits)
        assert abs(_rank(vals, est) - q * n) <= bound


def test_qdigest_small_n_is_exact_histogram():
    # n < k → threshold 0 → no compression: quantiles are exact
    vals = list(range(100))
    d = qdigest_from_hist([(v, 1) for v in vals], k=1024, bits=7)
    assert len(d) == 100
    assert qdigest_quantile(d, 0.5, 7) == 49
    assert qdigest_quantile(d, 1.0, 7) == 99


def test_qdigest_domain_and_empty_contracts(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="outside"):
        qdigest_from_hist([(200, 1)], k=16, bits=7)
    with _pytest.raises(ValueError, match="empty"):
        qdigest_quantile({}, 0.5, 7)
    empty = spark.createDataFrame([], "x long")
    assert qdigest_build(empty, F.col("x"), k=16, bits=7) == {}
    with _pytest.raises(ValueError, match="hist_cap"):
        df = spark.range(100).select(F.col("id").alias("x"))
        qdigest_build(df, F.col("x"), k=16, bits=10, hist_cap=10)


def test_qdigest_build_matches_local_hist(spark, sf_smoke):
    from etl_pipeline_for_retail_sales_data_spark.functions import cents

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    k, bits = 512, 25
    d = qdigest_build(li, cents(F.col("l_extendedprice")), k=k, bits=bits)
    local = {}
    for r in li.select(cents(F.col("l_extendedprice")).alias("c")).collect():
        local[int(r["c"])] = local.get(int(r["c"]), 0) + 1
    assert d == qdigest_from_hist(list(local.items()), k, bits)


def test_qdigest_build_split_matches_separate_builds(spark, sf_smoke):
    """The fused single-scan build (r11 optimization: one (split, value)
    histogram pass instead of three full-table scans) must produce
    digests BIT-IDENTICAL to the three separate qdigest_build calls it
    replaces — full table, split-true half, split-false half."""
    from etl_pipeline_for_retail_sales_data_spark.functions import cents
    from etl_pipeline_for_retail_sales_data_spark.operators.sketches import (
        qdigest_build_split,
    )

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    val = cents(F.col("l_extendedprice"))
    split = F.col("l_orderkey") % 2 == 0
    k, bits = 512, 25
    d, h1, h2 = qdigest_build_split(li, val, split, k=k, bits=bits)
    assert d == qdigest_build(li, val, k=k, bits=bits)
    assert h1 == qdigest_build(li.filter(split), val, k=k, bits=bits)
    assert h2 == qdigest_build(li.filter(~split), val, k=k, bits=bits)
    # and the halves still merge to the full count (mergeability intact)
    assert qdigest_total(qdigest_merge(h1, h2, k, bits)) == qdigest_total(d)


def test_bloom_no_false_negatives_and_merge(spark, sf_smoke):
    """Bloom invariants on real keys: every member probes positive (the
    zero-false-negative guarantee), the packed-word merge of two
    parity-split half-filters reproduces the full filter exactly, and
    the bit count never exceeds k * n_members or m."""
    from etl_pipeline_for_retail_sales_data_spark.operators.sketches import (
        bloom_merge_words,
        bloom_positions,
        bloom_probe,
        bloom_words,
    )

    part = load_table(spark, sf_smoke, "part")
    members = part.filter(F.col("p_size") <= 20).select("p_partkey").distinct()
    k, m = 5, 1024
    pos = bloom_positions(members, "p_partkey", k=k, m=m).persist()
    probed = bloom_probe(pos, members, "p_partkey", k=k, m=m)
    n_members = members.count()
    assert probed.filter(~F.col("bloom_positive")).count() == 0  # no false negatives
    n_bits = pos.count()
    assert 0 < n_bits <= min(k * n_members, m)
    even = bloom_positions(members.filter("p_partkey % 2 = 0"), "p_partkey", k=k, m=m)
    odd = bloom_positions(members.filter("p_partkey % 2 = 1"), "p_partkey", k=k, m=m)
    full_words = {r.word_idx: r.word for r in bloom_words(pos).collect()}
    merged = {
        r.word_idx: r.word
        for r in bloom_merge_words(bloom_words(even), bloom_words(odd)).collect()
    }
    assert merged == full_words


def test_bloom_fpr_in_theory_regime(spark, sf_smoke):
    """Measured FPR on guaranteed-non-member probe keys lands within 3x
    of (1 - e^{-kn/m})^k — sanity that the k md5 hash rows behave
    independently, not a tight bound."""
    import math

    from etl_pipeline_for_retail_sales_data_spark.operators.sketches import (
        bloom_positions,
        bloom_probe,
    )

    part = load_table(spark, sf_smoke, "part")
    members = part.select("p_partkey").distinct()
    k, m = 5, 2048
    pos = bloom_positions(members, "p_partkey", k=k, m=m).persist()
    n = members.count()
    # probe keys strictly outside the member key space
    non = spark.range(1_000_000, 1_002_000).select(F.col("id").alias("p_partkey"))
    probed = bloom_probe(pos, non, "p_partkey", k=k, m=m)
    fp = probed.filter("bloom_positive").count()
    fpr = fp / 2000
    theory = (1 - math.exp(-k * n / m)) ** k
    assert fpr <= 3 * theory + 0.01
    assert theory / 3 - 0.01 <= fpr


def test_kmv_overlap_estimates_and_mergeability(spark):
    """Theta-sketch overlap (operators/sketches.kmv_overlap_matrix):
    (1) on groups small enough that sketches hold the full sets the
    estimates are EXACT (the small-set escape); (2) in the estimation
    regime the intersection estimate lands within the KMV error
    envelope of truth; (3) mergeability — the union sketch built from
    two sketches equals the sketch of the concatenated element stream."""
    from pyspark.sql import functions as F

    from etl_pipeline_for_retail_sales_data_spark.operators import sketches as SK

    def hv(col):
        return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast(
            "long"
        )

    # (1) exact regime: 60 elements per group, k=128 -> k_union < k
    rows = [("a", i) for i in range(60)] + [("b", i + 30) for i in range(60)]
    df = spark.createDataFrame(rows, "g string, x long").select(
        "g", hv(F.col("x")).alias("hv")
    )
    sk = SK.kmv_group_sketches(df, "g", k=128)
    m = SK.kmv_overlap_matrix(sk, "g", k=128).collect()[0]
    assert m.k_union == 90 and m.k_union < 128
    assert m.est_inter == m.n_common == 30
    assert m.est_union == 90

    # (2) estimation regime: 4000-element groups with 2000 shared, k=128.
    # KMV relative error ~ 1/sqrt(k-1) ~ 9%; assert a generous 3x band.
    rows = [("a", i) for i in range(4000)] + [("b", i + 2000) for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, x long").select(
        "g", hv(F.col("x")).alias("hv")
    )
    sk = SK.kmv_group_sketches(df, "g", k=128)
    m = SK.kmv_overlap_matrix(sk, "g", k=128).collect()[0]
    assert m.k_union == 128
    assert abs(m.est_union - 6000) < 0.27 * 6000
    assert abs(m.est_inter - 2000) < 0.27 * 6000  # error scales with union

    # (3) mergeability: k-min of (sketch_a U sketch_b) == k-min of all
    merged_from_sketches = {
        r.hv
        for r in SK.kmv_group_sketches(
            sk.withColumn("g", F.lit("u")), "g", k=128
        ).collect()
    }
    merged_from_stream = {
        r.hv
        for r in SK.kmv_group_sketches(
            df.withColumn("g", F.lit("u")), "g", k=128
        ).collect()
    }
    assert merged_from_sketches == merged_from_stream

"""Property-based tests (hypothesis): engine semantics vs straight-Python
reference implementations on randomized inputs. Few examples, many rows per
example — each example costs a Spark job."""

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_pipeline_for_retail_sales_data_spark.operators.cleaning import (
    count_cast_failures,
    to_typed,
)
from etl_pipeline_for_retail_sales_data_spark.operators.windows import sessionize

SLOW = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=20000),  # seconds offset
        ),
        min_size=1,
        max_size=60,
    )
)
def test_sessionize_matches_python(spark, rows):
    gap = 1800
    df = spark.createDataFrame(
        [(u, s, i) for i, (u, s) in enumerate(rows)], "user_id long, sec long, event_id long"
    ).withColumn("ts", F.timestamp_seconds(F.col("sec")))
    out = sessionize(df, "user_id", "ts", gap, tiebreak_col="event_id")
    got = {
        (r.user_id, r.event_id): r.session_id
        for r in out.collect()
    }
    # python reference: sort by (ts, event_id) per user, new session if gap > 1800
    by_user = {}
    for i, (u, s) in enumerate(rows):
        by_user.setdefault(u, []).append((s, i))
    expect = {}
    for u, evs in by_user.items():
        evs.sort()
        sid, prev = 0, None
        for s, i in evs:
            if prev is None or s - prev > gap:
                sid += 1
            expect[(u, i)] = sid
            prev = s
    assert got == expect


@SLOW
@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-(2**40), max_value=2**40).map(str),
            st.just(""),
            st.just("nan"),
            st.text(alphabet="abcxyz!#", min_size=1, max_size=6),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_to_typed_cast_and_failure_accounting(spark, vals):
    raw = spark.createDataFrame([(v,) for v in vals], "quantity string")
    typed = to_typed(raw, {"quantity": "long"})
    got = [r.quantity for r in typed.collect()]
    expect = []
    for v in vals:
        try:
            expect.append(int(v))
        except ValueError:
            expect.append(None)
    assert sorted(x for x in got if x is not None) == sorted(
        x for x in expect if x is not None
    )
    # failure accounting: non-null, non-'nan'/'' inputs that cast to null
    n_bad = sum(
        1
        for v in vals
        if v.lower() not in ("nan", "") and not _is_int(v)
    )
    assert count_cast_failures(raw, typed, ["quantity"]) == n_bad


def _is_int(v: str) -> bool:
    try:
        int(v)
        return True
    except ValueError:
        return False


@SLOW
@given(
    st.lists(
        st.floats(min_value=0.01, max_value=1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=40,
    )
)
def test_cents_matches_python_ieee(spark, xs):
    """cents() must equal the same IEEE ops in Python: floor(x*100+0.5)/100."""
    from etl_pipeline_for_retail_sales_data_spark.functions import cents

    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r.c for r in df.select(cents(F.col("x")).alias("c")).collect()]
    expect = [math.floor(x * 100 + 0.5) / 100 for x in xs]
    assert sorted(got) == sorted(expect)


@SLOW
@given(
    st.lists(  # left events: (key 0/1, ts)
        st.tuples(st.integers(0, 1), st.integers(0, 1000)), min_size=1, max_size=30
    ),
    st.lists(  # right ticks: (key, ts, value)
        st.tuples(st.integers(0, 1), st.integers(0, 1000), st.integers(0, 100)),
        min_size=1,
        max_size=15,
    ),
)
def test_asof_join_matches_python(spark, lefts, rights):
    from etl_pipeline_for_retail_sales_data_spark.operators.temporal_joins import (
        asof_join_backward,
    )

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "id long, k long, t long"
    )
    # dedupe right on (k, t): multiple ticks at the same instant have no
    # defined winner — not part of the operator's contract
    seen = {}
    for k, t, v in rights:
        seen[(k, t)] = v
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in seen.items()], "k long, rt long, v long"
    )
    out = {
        r.id: r.v
        for r in asof_join_backward(left, right, ["k"], "t", "rt", ["v"]).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cands = [(rt, v) for (rk, rt), v in seen.items() if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert out[i] == expect, (i, k, t, cands)


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 1000)),
        min_size=1,
        max_size=50,
    )
)
def test_topk_per_group_matches_python(spark, rows):
    from etl_pipeline_for_retail_sales_data_spark.operators.windows import topk_per_group

    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v, _) in enumerate(rows)], "g long, v long, id long"
    )
    out = topk_per_group(df, ["g"], [F.col("v").desc(), F.col("id")], k=3)
    got = {(r.g, r.id) for r in out.collect()}
    by_g = {}
    for i, (g, v, _) in enumerate(rows):
        by_g.setdefault(g, []).append((-v, i))
    expect = set()
    for g, items in by_g.items():
        for _, i in sorted(items)[:3]:
            expect.add((g, i))
    assert got == expect


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.one_of(st.none(), st.integers(0, 99))),
        min_size=1,
        max_size=40,
    )
)
def test_locf_matches_python(spark, rows):
    from etl_pipeline_for_retail_sales_data_spark.operators.windows import locf

    # unique (key, t) per row: index-augmented time avoids undefined order
    data = [(g, t * 100 + i, v) for i, (g, t, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g long, t long, v long")
    out = {(r.g, r.t): r.f for r in locf(df, ["g"], ["t"], "v", "f").collect()}
    by_g = {}
    for g, t, v in data:
        by_g.setdefault(g, []).append((t, v))
    for g, items in by_g.items():
        last = None
        for t, v in sorted(items):
            if v is not None:
                last = v
            assert out[(g, t)] == last, (g, t)


def test_knn_screened_blas_survives_near_ties(spark):
    """Adversarial stress for the screened-BLAS pattern: corpus vectors
    engineered so many cosines against the query tie within ~1e-12 —
    squarely inside the screen margin, forcing the exact-fold recompute
    branch to arbitrate. The Arrow path must equal the pure-JVM
    expression twin exactly (same ranks, same rounded sims)."""
    import numpy as np

    from etl_pipeline_for_retail_sales_data_spark.operators import similarity as SIM

    rng = np.random.default_rng(7)
    dim = 16
    q = rng.normal(size=dim)
    rows = [(0, [float(x) for x in q])]  # the query itself
    base = rng.normal(size=dim)
    for i in range(1, 40):
        # same direction with ulp-scale perturbations: cosines vs q tie
        # to ~1e-13; ranking must fall back to the deterministic id order
        v = base + rng.normal(size=dim) * 1e-13
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expr = sorted(
        map(tuple, SIM.knn_bruteforce_expr(emb, F.col("vec_id") == 0, k=10).collect())
    )
    arrow = sorted(
        map(tuple, SIM.knn_bruteforce(emb, F.col("vec_id") == 0, k=10).collect())
    )
    assert expr == arrow
    assert len(arrow) == 10


def test_zscore_integer_formulation_is_exact(spark):
    """The integer-variance z-score must agree with an arbitrary-precision
    computation (Fraction-exact mean/variance, float only at the final
    sqrt/divide) to the round6 grid — the construction's whole claim."""
    import math
    from fractions import Fraction

    from etl_pipeline_for_retail_sales_data_spark.operators.pandas_ops import (
        zscore_per_user,
    )

    vals = [1.07, 2.53, 9.99, 4.20, 4.20, 0.01, 123.45, 67.89]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    got = {r.event_id: r.zscore for r in zscore_per_user(ev).collect()}

    cents = [round(v * 100) for v in vals]
    n = len(cents)
    s, q = sum(cents), sum(c * c for c in cents)
    for i, c in enumerate(cents):
        num = Fraction(n * c - s)
        var = Fraction(n * (n * q - s * s), n - 1)
        exact = float(num) / math.sqrt(float(var))
        assert abs(got[i] - exact) <= 1e-6 + 1e-12, i


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # id pool (dups dropped)
            st.integers(min_value=0, max_value=50),  # weight
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=7),  # bucket size
)
def test_bucketed_prefix_sum_matches_python_scan(spark, rows, bucket):
    """Two-phase distributed prefix sum == a straight-Python running sum
    over the same dense position order, for any weights and bucket size."""
    from etl_pipeline_for_retail_sales_data_spark.operators.windows import (
        bucketed_prefix_sum,
    )

    data = [(pos, w) for pos, (_, w) in enumerate(sorted(rows))]
    df = spark.createDataFrame(data, "pos long, w long")
    out = {
        r.pos: r.prefix
        for r in bucketed_prefix_sum(
            df, "pos", "w", out_col="prefix", bucket_size=bucket
        ).collect()
    }
    acc, expected = 0, {}
    for pos, w in data:
        expected[pos] = acc
        acc += w
    assert out == expected


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100_000),  # unique id
            st.integers(min_value=-50, max_value=50),  # sort value (ties likely)
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=9),
)
def test_distributed_rank_matches_python_sort(spark, rows, nparts):
    """Range-partitioned two-phase rank == enumerate(sorted(...)) for any
    values (including heavy ties broken by id) and partition count."""
    from etl_pipeline_for_retail_sales_data_spark.operators.windows import (
        distributed_rank,
    )

    df = spark.createDataFrame(rows, "id long, v long")
    out = {
        r.id: r.rank
        for r in distributed_rank(
            df, [F.col("v"), F.col("id")], rank_col="rank", num_partitions=nparts
        ).collect()
    }
    expected = {
        i: r for r, (v, i) in enumerate(sorted((v, i) for i, v in rows))
    }
    assert out == expected


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d"]),
            st.integers(min_value=1, max_value=500),  # ref count
            st.integers(min_value=0, max_value=500),  # cur count (0 = absent)
        ),
        min_size=1,
        max_size=4,
        unique_by=lambda t: t[0],
    )
)
@example([("a", 409, 264), ("b", 352, 271), ("c", 145, 132)])  # micro-unit sum ends in 50
def test_psi_from_counts_matches_python_formula(spark, rows):
    """Two-sample PSI == the straight-Python Σ(Δp)·ln(p-ratio) over the
    category intersection, with the same floor choreography, plus exact
    unmatched-mass accounting."""
    import math

    from etl_pipeline_for_retail_sales_data_spark.operators.drift import (
        psi_from_counts,
    )

    ref = spark.createDataFrame(
        [(c, r) for c, r, _ in rows], "category string, ref_cnt long"
    )
    cur = spark.createDataFrame(
        [(c, u) for c, _, u in rows if u > 0], "category string, cur_cnt long"
    )
    out = psi_from_counts(ref, cur).collect()[0]

    ref_total = sum(r for _, r, _ in rows)
    cur_total = sum(u for _, _, u in rows)
    f6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    # integer micro-units, summed exactly as the engine does: a float sum
    # can land just below a half (16150 micro-units summed to 161.4999...)
    terms = [
        math.floor(
            (u / cur_total - r / ref_total)
            * math.log((u * ref_total) / (r * cur_total))
            * 1e6
            + 0.5
        )
        for _, r, u in rows
        if u > 0
    ]
    expected_psi = math.floor(sum(terms) / 100 + 0.5) / 1e4 if terms else 0.0
    assert out.n_ref == ref_total and out.n_cur == cur_total
    assert abs(out.psi - expected_psi) < 1e-9
    assert out.ref_unmatched_frac == f6(
        sum(r for _, r, u in rows if u == 0) / ref_total
    )
    assert out.cur_unmatched_frac == 0.0  # cur categories are a subset of ref


@SLOW
@given(st.integers(min_value=4, max_value=12), st.integers(min_value=3, max_value=10))
def test_containment_of_prefix_doc_is_always_one(spark, n_extra, prefix_words):
    """Structural property: a document that is a verbatim prefix of a
    longer one has containment exactly 1.0 from the short side."""
    from etl_pipeline_for_retail_sales_data_spark.operators.dedup import (
        containment_pairs,
    )

    words = [f"tok{i}" for i in range(prefix_words + n_extra)]
    short = " ".join(words[:prefix_words])
    long = " ".join(words)
    out = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(
            spark.createDataFrame([(1, short), (2, long)], "doc_id long, text string"),
            threshold=0.99,
        ).collect()
    }
    assert out.get((1, 2)) == 1.0

"""Fast-lane pins for the incremental-ingest legs (plans/incremental_corpus.py
through streaming/ingest.make_ingestor).

For each leg, two tiny micro-batches run through the streaming factory
with a fixed epoch namespace, then the second batch is redelivered. The
test pins the Spark job count of every call and the funnel of each
committed batch, and checks that the redelivery is skipped (no
``on_stats`` call). Job counts are structural: they change only when a
leg gains or loses an action, so a refactor of the shared commit path
that adds a count, a probe or a state read fails here. The expected
counts were recorded through the per-leg factories that preceded
``make_ingestor``, identical at ``local[4]`` and ``local[8]``.

The module runs with AQE's empty-relation propagation switched off. A
first batch meets an empty state, and with the rule on AQE may cancel
the batch-side stage of a join once the empty state side has finished,
so whether that stage's job runs depends on which stage finishes first
(the semantic leg's first batch read 23, 25 or 26 jobs over five runs at
``local[4]`` on a 4-core host).
"""

import pytest

from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import make_ingestor

EMPTY_RULE = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
DOCS = "doc_id long, text string"
SOURCED = "doc_id long, source string, text string"
VECS = "vec_id long, embedding array<double>"


@pytest.fixture(scope="module", autouse=True)
def _no_empty_relation_race(spark):
    key = "spark.sql.adaptive.optimizer.excludedRules"
    old = spark.conf.get(key, None)
    spark.conf.set(key, EMPTY_RULE)
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def _vec(sign: float, shift: float = 0.0) -> list:
    return [sign * (float(j) + 1.0) + shift for j in range(64)]


def _batches(spark, leg: str):
    if leg in ("exact", "neardup", "bloom"):
        return (
            spark.createDataFrame(
                [
                    (1, "the quick brown fox jumps over the lazy dog"),
                    (2, "the quick brown fox jumps over the lazy dog"),
                    (3, "completely different words entirely here now"),
                ],
                DOCS,
            ),
            spark.createDataFrame(
                [
                    (10, "completely different words entirely here now"),
                    (11, "a third text with its own six tokens"),
                ],
                DOCS,
            ),
        )
    if leg == "sketch":
        return (
            spark.createDataFrame(
                [(1, "s1", "alpha beta gamma delta"), (2, "s2", "alpha beta gamma")],
                SOURCED,
            ),
            spark.createDataFrame([(3, "s1", "epsilon zeta eta theta")], SOURCED),
        )
    return (
        spark.createDataFrame(
            [(1, _vec(1.0)), (2, _vec(1.0, 0.001)), (3, _vec(-1.0))], VECS
        ),
        spark.createDataFrame([(10, _vec(-1.0, 0.001)), (11, None)], VECS),
    )


def _kwargs(leg: str) -> dict:
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import (
        _lsh_tables,
        _sem_centroids,
    )

    return {
        "bloom": {"m_bits": 4096, "k": 4},
        "embdup": {"tables": _lsh_tables()},
        "semantic": {"centroids": _sem_centroids()},
    }.get(leg, {})


# leg -> (jobs of batch 0, jobs of batch 1, jobs of the redelivered batch 1)
EXPECTED_JOBS = {
    "bloom": (22, 22, 0),
    "embdup": (28, 27, 0),
    "exact": (14, 14, 0),
    "neardup": (28, 28, 0),
    "semantic": (25, 25, 0),
    "sketch": (10, 10, 0),
}

EXPECTED_FUNNELS = {
    "exact": (
        {"n_batch": 3, "n_within_dup": 1, "n_hist_dup": 0, "n_accepted": 2},
        {"n_batch": 2, "n_within_dup": 0, "n_hist_dup": 1, "n_accepted": 1},
    ),
    "neardup": (
        {"n_batch": 3, "n_hist_neardup": 0, "n_within_neardup": 1, "n_accepted": 2},
        {"n_batch": 2, "n_hist_neardup": 1, "n_within_neardup": 0, "n_accepted": 1},
    ),
    "bloom": (
        {"n_batch": 3, "n_within_dup": 1, "n_rejected_maybe_dup": 0, "n_accepted": 2},
        {"n_batch": 2, "n_within_dup": 0, "n_rejected_maybe_dup": 1, "n_accepted": 1},
    ),
    "sketch": (
        {"n_batch": 2, "n_groups": 2, "n_sketch_rows": 3},
        {"n_batch": 1, "n_groups": 2, "n_sketch_rows": 5},
    ),
    "embdup": (
        {"n_batch": 3, "n_hist_embdup": 0, "n_within_embdup": 1, "n_accepted": 2},
        {"n_batch": 2, "n_hist_embdup": 1, "n_within_embdup": 0, "n_accepted": 1},
    ),
    # batch 1's null embedding is the first of the sentinel cell: accepted
    "semantic": (
        {"n_batch": 3, "n_hist_semdup": 0, "n_within_semdup": 1, "n_accepted": 2},
        {"n_batch": 2, "n_hist_semdup": 1, "n_within_semdup": 0, "n_accepted": 1},
    ),
}


@pytest.mark.parametrize("leg", sorted(EXPECTED_FUNNELS))
def test_ingest_leg_job_counts_and_redelivery(spark, tmp_path, leg):
    tracker = spark.sparkContext.statusTracker()
    calls = []
    ingest = make_ingestor(
        leg,
        str(tmp_path / "state"),
        on_stats=lambda b, s: calls.append((b, s)),
        epoch_ns="pin",
        **_kwargs(leg),
    )
    first, second = _batches(spark, leg)
    jobs = []
    for batch, batch_id in ((first, 0), (second, 1), (second, 1)):
        # job ids rise monotonically; the status store keeps only the
        # newest spark.ui.retainedJobs, so count ids above the last one
        # seen rather than differencing the list's length
        last = max(tracker.getJobIdsForGroup(None), default=-1)
        ingest(batch, batch_id)
        jobs.append(sum(1 for j in tracker.getJobIdsForGroup(None) if j > last))
    assert [b for b, _ in calls] == [0, 1]  # the redelivery calls no on_stats
    assert tuple(jobs) == EXPECTED_JOBS[leg]
    assert tuple(s for _, s in calls) == EXPECTED_FUNNELS[leg]

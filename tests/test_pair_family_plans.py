"""Executed-plan pins for the inverted-index pair families.

Every pair family (n-gram Jaccard capped / exact-salted, containment,
shingle cosine, winnowing overlap, audio landmarks) builds its pairs
through ``dedup.posting_pairs``: one repartition on the posting key, an
optional document-frequency window, and an A/B-aliased self-join whose
two sides prune to the same columns so AQE stage reuse serves the
second side from the first side's shuffle. These tests collect each
family on the sf0.001 corpus and pin the node counts of the FINAL
adaptive plan, walked node by node (query stages unwrapped, reused
exchanges not descended into), so a refactor that loses a
``ReusedExchange`` or adds an ``Exchange``/Python stage fails here.
"""

from collections import Counter

import pytest

from etl_pipeline_for_retail_sales_data_spark.operators import audio as AUD
from etl_pipeline_for_retail_sales_data_spark.operators import dedup as D
from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

COUNTED = (
    "Exchange",
    "BroadcastExchange",
    "ReusedExchange",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "Window",
)


def final_plan_counts(df) -> dict:
    """Counts of the COUNTED node names in ``df``'s final executed plan
    (call after an action, so AQE has settled on its final plan)."""
    counts = Counter()

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if name in COUNTED:
            counts[name] += 1
        if name.endswith("QueryStage"):
            walk(node.plan())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return dict(sorted(counts.items()))


# (operator call, construction-time Spark jobs, final-plan node counts) —
# counts recorded from the executed plans before the families shared
# one posting_pairs body, identical at local[4] and local[8]. The
# BroadcastExchange is AQE turning the small self-join into a broadcast
# join; each Window counts twice because it sits above the reused
# exchange, so the reused side re-runs it.
CASES = {
    "ngram_jaccard_capped": (
        lambda docs: D.ngram_jaccard_pairs(docs, threshold=0.1, max_df=64),
        0,
        {"BroadcastExchange": 1, "Exchange": 3, "MapInPandas": 1, "ReusedExchange": 1, "Window": 2},
    ),
    "ngram_jaccard_exact_int_hot_df": (
        lambda docs: D.ngram_jaccard_pairs(
            docs, threshold=0.1, max_df=None, hot_df=3, n_salts=4
        ),
        0,
        {"BroadcastExchange": 2, "Exchange": 3, "MapInPandas": 1, "ReusedExchange": 3, "Window": 4},
    ),
    # default hot_df="p99": the probe and the main plan both read one
    # finalize_iterative checkpoint, so the shingle pass runs at construction
    # and the main plan holds no MapInPandas and no Window at all
    "ngram_jaccard_exact_p99": (
        lambda docs: D.ngram_jaccard_pairs(docs, threshold=0.1, max_df=None, n_salts=8),
        6,
        {"BroadcastExchange": 2, "Exchange": 1},
    ),
    "containment": (
        lambda docs: D.containment_pairs(docs, threshold=0.5, max_df=64),
        0,
        {"BroadcastExchange": 1, "Exchange": 4, "MapInPandas": 2, "ReusedExchange": 1, "Window": 2},
    ),
    "shingle_cosine": (
        lambda docs: D.shingle_cosine_pairs(docs, threshold=0.1, max_df=64),
        0,
        {"BroadcastExchange": 1, "Exchange": 3, "MapInPandas": 1, "ReusedExchange": 1, "Window": 2},
    ),
    "winnowing_overlap": (
        lambda docs: D.winnowing_overlap_pairs(docs, threshold=0.1, max_df=64),
        0,
        {"BroadcastExchange": 1, "Exchange": 3, "ReusedExchange": 1, "Window": 2},
    ),
    "audio_fingerprint": (
        lambda docs: AUD.audio_fingerprint_candidates(docs),
        0,
        {"BroadcastExchange": 1, "Exchange": 3, "MapInPandas": 1, "ReusedExchange": 1, "Window": 2},
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_pair_family_final_plan_counts(spark, sf_smoke, case):
    build, construct_jobs, expected = CASES[case]
    docs = load_table(spark, sf_smoke, "documents")
    tracker = spark.sparkContext.statusTracker()
    # job ids rise monotonically; the status store keeps only the newest
    # spark.ui.retainedJobs, so count ids above the last one seen rather
    # than differencing the list's length
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    df = build(docs)
    assert sum(1 for j in tracker.getJobIdsForGroup(None) if j > last) == construct_jobs
    df.collect()
    assert final_plan_counts(df) == expected

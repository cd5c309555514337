"""The two paths of pagerank and connected_components (operators/graph.py):
a graph of at most ``graph.CAP`` rows is solved on the driver, a larger one
by the Spark loop.

- Both paths give the same components, keepers and labels (also when
  ``max_iter`` truncates), and ranks within float summation order.
- The driver path's ranks do not depend on the order rows arrive in.
- ``CAP`` is the boundary: CAP edges go to the driver, CAP + 1 to Spark.
- Construction job counts on sf_smoke are pinned on both paths.
- A repeated canonical-dedup pass in one session finds its generated
  classes in the codegen cache.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_retail_sales_data_spark import queries_registry as R
from etl_pipeline_for_retail_sales_data_spark.operators import dedup as D
from etl_pipeline_for_retail_sales_data_spark.operators import graph as G
from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def smoke_graph(spark, sf_smoke):
    """canonical_dedup_pipeline's inputs on sf_smoke, with the pairs cached
    as the query caches them."""
    docs = load_table(spark, sf_smoke, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5, max_df=None).select("doc_a", "doc_b").persist()
    assert pairs.count() > 0
    sym = pairs.union(pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
    incident = sym.select(F.col("doc_a").alias("doc_id")).distinct()
    yield docs, pairs, sym, incident
    pairs.unpersist()


def _on_both_paths(monkeypatch, run):
    """``run()`` on the driver path, then on the Spark loop."""
    driver = run()
    with monkeypatch.context() as m:
        m.setattr(G, "CAP", 0)
        return driver, run()


def _assert_ranks_agree(driver, loop):
    assert driver.keys() == loop.keys()
    for k, rank in driver.items():
        assert rank == pytest.approx(loop[k], rel=1e-12, abs=0), k


def test_paths_agree_on_canonical_dedup(spark, sf_smoke, smoke_graph, monkeypatch):
    docs, pairs, sym, incident = smoke_graph

    def run():
        pr = G.pagerank(incident, sym, id_col="doc_id", src="doc_a", dst="doc_b",
                        iterations=4, assume_edges_valid=True)
        # the validated form over every document: dangling mass in play
        pr_all = G.pagerank(docs.select("doc_id"), sym, id_col="doc_id", src="doc_a", dst="doc_b",
                            iterations=4)
        return (
            {r.doc_id: r.rank for r in pr.collect()},
            {r.doc_id: r.rank for r in pr_all.collect()},
            sorted(D.canonical_dedup(docs, pairs, pr).collect()),
            sorted(R.q_canonical_dedup_pipeline(spark, sf_smoke).collect()),
            (pr.schema, pr_all.schema),
        )

    driver, loop = _on_both_paths(monkeypatch, run)
    _assert_ranks_agree(driver[0], loop[0])
    _assert_ranks_agree(driver[1], loop[1])
    assert driver[2] == loop[2]  # components, keepers and keeper ids
    assert len({r.component for r in driver[2]}) < len(driver[2])  # some documents merged
    assert driver[3] == loop[3]
    assert driver[4] == loop[4]


def test_truncated_chain_labels_match(spark, monkeypatch):
    # chain 0-1-...-11 listed from the far end; 12..14 isolated; 3 listed
    # twice and a null id among the nodes; an edge to a node outside the
    # node set and one with a null endpoint, both of which move no label
    nodes = spark.createDataFrame([(i,) for i in range(15)] + [(3,), (None,)], "doc_id long")
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(11)] + [(5, 100), (None, 7)], "doc_a long, doc_b long"
    )
    for max_iter in (1, 3, 25):
        def run():
            out = D.connected_components(edges, nodes, max_iter=max_iter)
            return Counter(map(tuple, out.collect())), out.schema

        driver, loop = _on_both_paths(monkeypatch, run)
        assert driver == loop, max_iter
        labels = driver[0]
        assert labels[(3, max(0, 3 - max_iter))] == 2 and labels[(None, None)] == 1
        assert {i: c for i, c in labels if i is not None} == {
            **{i: max(0, i - max_iter) for i in range(12)}, 12: 12, 13: 13, 14: 14
        }


def test_cap_bounds_the_driver_path(spark, monkeypatch):
    calls = []
    pagerank_local, components_local = G._pagerank_local, D._components_local
    monkeypatch.setattr(G, "_pagerank_local", lambda *a: calls.append("pagerank") or pagerank_local(*a))
    monkeypatch.setattr(D, "_components_local", lambda *a: calls.append("components") or components_local(*a))
    monkeypatch.setattr(G, "CAP", 4)
    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    ring = [(0, 1), (1, 2), (2, 3), (3, 0)]
    ranks = {}
    for edge_rows in (ring, ring + [(0, 2)]):
        edges = spark.createDataFrame(edge_rows, "doc_a long, doc_b long")
        pr = G.pagerank(nodes, edges, id_col="doc_id", src="doc_a", dst="doc_b")
        ranks[len(edge_rows)] = {r.doc_id: r.rank for r in pr.collect()}
        comps = D.connected_components(edges, nodes)
        assert {r.doc_id: r.component_id for r in comps.collect()} == {0: 0, 1: 0, 2: 0, 3: 0}
        assert calls == ["pagerank", "components"]  # CAP edges: driver; CAP + 1: Spark
    assert ranks[4] == pytest.approx({i: 1.0 for i in range(4)}, rel=1e-12)
    assert ranks[5][2] > ranks[5][1]


# Construction jobs on sf_smoke, counted as job ids above the last id seen.
# The Spark loop's counts are those of the loop before the driver path
# existed; the driver path keeps pagerank <= 14, components <= 8 and the
# canonical pipeline <= 28.
EXPECTED_JOBS = {
    "driver": {"pagerank": 3, "components": 2, "canonical": 17},
    "spark": {"pagerank": 27, "components": 16, "canonical": 55},
}


@pytest.mark.parametrize("path", sorted(EXPECTED_JOBS))
def test_construction_job_counts(spark, sf_smoke, smoke_graph, monkeypatch, path):
    docs, pairs, sym, incident = smoke_graph
    if path == "spark":
        monkeypatch.setattr(G, "CAP", 0)
    tracker = spark.sparkContext.statusTracker()

    def jobs(build):
        last = max(tracker.getJobIdsForGroup(None), default=-1)
        build()
        return sum(1 for j in tracker.getJobIdsForGroup(None) if j > last)

    counts = {
        "pagerank": jobs(lambda: G.pagerank(incident, sym, id_col="doc_id", src="doc_a", dst="doc_b",
                                            iterations=4, assume_edges_valid=True)),
        "components": jobs(lambda: D.connected_components(pairs, docs.select("doc_id"), id_col="doc_id")),
        "canonical": jobs(lambda: R.q_canonical_dedup_pipeline(spark, sf_smoke)),
    }
    assert counts == EXPECTED_JOBS[path]


def test_codegen_cache_holds_a_canonical_pass(spark, sf_smoke):
    # a pass generates about 100 classes. At Spark's default of 100 cache
    # entries each repeated pass recompiles about half of them (150 over the
    # three runs below); get_spark's cache keeps them. A repeated pass still
    # compiles a few (0-6 seen per run): AQE numbers codegen stages in the
    # order it creates query stages, which follows the order in which
    # concurrent stages finish, and the stage id is part of the cached
    # source, so two stages that swap ids compile again
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run():
        before = compiled.getCount()
        R.q_canonical_dedup_pipeline(spark, sf_smoke).collect()
        return compiled.getCount() - before

    run()
    repeats = [run() for _ in range(3)]
    assert sum(repeats) <= 24, repeats


def test_driver_ranks_do_not_depend_on_row_order(spark):
    # node 0 sums 39 contributions of different sizes, and node 40 gets a
    # dangling share, so any change in summation order shows in the bits
    nodes = list(range(41)) + [None]
    edges = [(i, 0) for i in range(1, 40)] + [(i, i + 1) for i in range(1, 39)] + [(i, 40) for i in range(1, 40, 3)]

    def ranks(order):
        n = spark.createDataFrame([(v,) for v in order(nodes)], "doc_id long")
        e = spark.createDataFrame(order(edges), "doc_a long, doc_b long")
        pr = G.pagerank(n, e, id_col="doc_id", src="doc_a", dst="doc_b")
        return {r.doc_id: r.rank for r in pr.collect()}

    assert ranks(list) == ranks(lambda rows: rows[::-1])

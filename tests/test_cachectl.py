"""Unit coverage for the cache-lifetime primitives (cachectl.py) — the
machinery the registry-wide hygiene sweep (test_cache_hygiene.py) relies
on. These pin the non-obvious Spark facts directly:

- ``Dataset.unpersist()`` does NOT release localCheckpoint blocks (the
  reason the scope records checkpoint ids instead);
- ``scoped_cache``'s scope records a local checkpoint's persistent-RDD
  ids at creation (eager AND lazy — persist marks the RDD at once),
  ``release`` frees exactly those, and a second release is a no-op;
- finalize_iterative leaves zero persisted blocks and a re-readable
  frame;
- the scope releases its persisted frames and checkpoints on exception;
- an operator that owns its blocks through the scope leaves none behind
  on an early return or an exception (pagerank's empty-node path and a
  failing edge UDF).
"""

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_retail_sales_data_spark.cachectl import (
    finalize_iterative,
    scoped_cache,
)
from etl_pipeline_for_retail_sales_data_spark.operators.graph import pagerank


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet().toArray())
    yield
    # free what a test strands on purpose (the plain-unpersist test's
    # checkpoint block), so later modules — the registry hygiene sweep
    # asserts an empty pool — start clean
    for rid in persistent().keySet().toArray():
        if rid not in before:
            persistent().get(rid).unpersist(False)


def test_plain_unpersist_does_not_release_checkpoint_blocks(spark):
    base = _persisted(spark)
    df = spark.range(100).withColumn("x", F.col("id") * 2).localCheckpoint(eager=True)
    assert _persisted(spark) > base
    df.unpersist()  # the silent no-op this module exists to fix
    assert _persisted(spark) > base


def test_local_ckpt_release_eager_and_lazy(spark):
    base = _persisted(spark)
    with scoped_cache() as scope:
        eager = scope.local_ckpt(spark.range(100).withColumn("x", F.col("id") * 2), eager=True)
        assert _persisted(spark) > base
        scope.release(eager)
        assert _persisted(spark) == base
        # lazy: persist marks the RDD immediately, so the ids are captured
        # even before materialization — and a frame persisted afterwards
        # is not among them
        lazy = scope.local_ckpt(spark.range(50).withColumn("y", F.col("id") + 1), eager=False)
        n_lazy = _persisted(spark) - base
        assert n_lazy > 0
        other = spark.range(7).persist()
        assert other.count() == 7
        with_other = _persisted(spark)
        assert lazy.count() == 50  # materialize, THEN release
        scope.release(lazy)
        assert _persisted(spark) == with_other - n_lazy
        scope.release(lazy)  # a second release is a no-op
        assert _persisted(spark) == with_other - n_lazy
    other.unpersist()
    assert _persisted(spark) == base


def test_finalize_iterative_leaves_no_blocks_and_rereads(spark):
    base = _persisted(spark)
    out = finalize_iterative(
        spark.range(10).groupBy((F.col("id") % 3).alias("g")).agg(F.sum("id").alias("s"))
    )
    assert _persisted(spark) == base  # reliable checkpoint = disk, not storage pool
    assert out.count() == 3 and out.count() == 3  # re-readable on demand


def test_scoped_cache_releases_on_exception(spark):
    base = _persisted(spark)
    df = spark.range(100).withColumn("x", F.col("id") * 3)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_cache(df) as scope:
            assert df.count() == 100
            cached = _persisted(spark)
            assert cached > base
            scope.local_ckpt(df.withColumn("y", F.col("x") + 1), eager=True)
            assert _persisted(spark) > cached
            raise RuntimeError("boom")
    assert _persisted(spark) == base


def test_pagerank_empty_nodes_leaves_no_blocks(spark):
    base = _persisted(spark)
    out = pagerank(
        spark.createDataFrame([], "id long"), spark.createDataFrame([], "src long, dst long")
    )
    assert _persisted(spark) == base
    assert out.columns == ["id", "rank"] and out.count() == 0


def test_pagerank_failing_edge_udf_leaves_no_blocks(spark):
    @F.udf("long")
    def bad_dst(x):
        raise ValueError("bad edge")

    base = _persisted(spark)
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(Exception, match="bad edge"):
        pagerank(spark.range(4), edges.withColumn("dst", bad_dst("dst")))
    assert _persisted(spark) == base


@pytest.mark.usefixtures("spark_loop")
class TestSparkLoop:
    """The PageRank tests above on the Spark loop, which persists and
    checkpoints; the driver path they take by default persists nothing."""

    test_pagerank_empty_nodes_leaves_no_blocks = staticmethod(test_pagerank_empty_nodes_leaves_no_blocks)
    test_pagerank_failing_edge_udf_leaves_no_blocks = staticmethod(test_pagerank_failing_edge_udf_leaves_no_blocks)

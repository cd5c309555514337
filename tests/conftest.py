import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_for_retail_sales_data_spark.operators import graph  # noqa: E402
from etl_pipeline_for_retail_sales_data_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("engine-tests")
    yield s


@pytest.fixture(scope="module", autouse=True)
def _fresh_cache(spark):
    """Clear cached/persisted relations at every module boundary so
    plan-shape assertions (PushedFilters, scan nodes) never see another
    module's leftover InMemoryRelation — keeps test files independent of
    execution order and of which -m lane is running."""
    spark.catalog.clearCache()
    yield


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT


@pytest.fixture
def spark_loop(monkeypatch):
    """Force the Spark loop in pagerank and connected_components: with
    graph.CAP at 0 no graph is solved on the driver, and no probe job runs.
    Tests that take the driver path by default rerun under this fixture in
    a ``TestSparkLoop`` class."""
    monkeypatch.setattr(graph, "CAP", 0)

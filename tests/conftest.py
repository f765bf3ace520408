import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ontology_mapper_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("omspark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def cache_entries(spark):
    """Callable counting the relations held in Spark SQL's CacheManager
    (shared by every session of the context). Unlike
    ``getPersistentRDDs()`` it excludes ``localCheckpoint`` RDDs, which
    the ContextCleaner frees asynchronously."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return lambda: cm.cachedData().size()


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

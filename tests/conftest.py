import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlingathome_worker_spark.session import get_spark
from crawlingathome_worker_spark.sources.fixtures import ensure_fixtures

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def fx_dir() -> str:
    return ensure_fixtures(os.path.join(REPO, ".fixtures"))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="cah-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def small_arrow_batches(spark):
    """Arrow batches of 7 rows (a small prime) for one test, so Python stages
    see many batch boundaries; the session's setting is restored after."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield 7
    spark.conf.set(key, prev)

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from crawlspark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("crawlspark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def job_ids(spark):
    """A function returning the ids of every job the session has started.
    statusTracker reads the listener's store, which lags the scheduler, so
    the function first waits for the listener bus to deliver every event."""
    sc = spark.sparkContext

    def ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    return ids

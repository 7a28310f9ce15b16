import gc
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tosidewalk_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


def _persisted_rdds(at_most: int | None = None, wait_s: float = 30.0) -> int:
    """Persisted RDDs still reachable once both heaps are collected.  A
    local checkpoint nothing reads any more is unpersisted by Spark's
    cleaner thread after a JVM GC.  The JVM keeps the plan of the last
    DataFrame ``collect()`` reachable until the next one, so a one-row
    collect goes first, and the cleaner unpersists asynchronously, so
    with ``at_most`` the count is polled until it drops that far or
    ``wait_s`` passes.  The registry's shared grid segments are one
    session-long checkpoint by design and do not count.  The count reads
    SparkContext's weak-valued map directly:
    ``getPersistentRDDs()`` returns a copy that py4j's gateway keeps bound
    (and with it every RDD it names) until its finalizer thread detaches
    it, so the next ``System.gc()`` would still find them reachable."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return 0
    spark.range(1).collect()
    jsc = spark.sparkContext._jsc
    registry = sys.modules.get("tosidewalk_spark.plans.registry")
    deadline = time.monotonic() + wait_s
    while True:
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        n = jsc.sc().persistentRdds().size()
        n -= len(registry._SEGMENT_CACHE) if registry else 0
        if at_most is None or n <= at_most or time.monotonic() > deadline:
            return n
        time.sleep(0.5)


@pytest.fixture(scope="module", autouse=True)
def no_leaked_caches():
    """Fail a test module that leaves more persisted RDDs live than it
    found: a cache must be released when the queries that read it are
    done."""
    before = _persisted_rdds()
    yield
    after = _persisted_rdds(at_most=before)
    assert after <= before, (
        f"{after - before} persisted RDD(s) outlived this module")

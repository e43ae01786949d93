from __future__ import annotations

import pytest

import tamer_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = tamer_spark.get_spark("tamer-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the session has cached right now."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = rdds.keysIterator()
    return {it.next() for _ in range(rdds.size())}

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo_olap_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("neo-olap-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def lose_blocks(spark):
    """``lose_blocks(drop=True)`` unpersists every RDD persisted since
    its previous call (the first call: since the test began), as an
    executor loss would drop their blocks; ``drop=False`` only marks
    them as seen. Returns how many it found."""
    jsc = spark.sparkContext._jsc
    seen = set(jsc.getPersistentRDDs().keySet())

    def lose(drop: bool = True) -> int:
        rdds = jsc.getPersistentRDDs()
        new = [rid for rid in rdds.keySet() if rid not in seen]
        seen.update(new)
        if drop:
            for rid in new:
                rdds.get(rid).unpersist(True)
        return len(new)

    return lose

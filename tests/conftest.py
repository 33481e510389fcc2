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


@pytest.fixture()
def non_dense_sf_dir(sf_dir, tmp_path) -> str:
    """A copy of the suite's fixture whose customer keys run 1..n
    instead of 0..n-1 (every other table unchanged)."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from neo_olap_spark.tables import TABLES

    d = tmp_path / "non_dense"
    d.mkdir()
    for t in TABLES:
        shutil.copyfile(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    cust = pq.read_table(f"{sf_dir}/customer.parquet")
    i = cust.schema.get_field_index("c_custkey")
    field = cust.schema.field(i)
    pq.write_table(
        cust.set_column(i, field, pc.add(cust.column(i), 1).cast(field.type)),
        d / "customer.parquet",
    )
    return str(d)

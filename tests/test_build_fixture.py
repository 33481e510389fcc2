"""tools/build_fixture.py: the scale-up fixture keeps keys dense and
foreign keys resolving, and checks its inputs before writing."""

from __future__ import annotations

import filecmp
import importlib.util
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from neo_olap_spark.operators.graph_algos import _teleport_address_space
from neo_olap_spark.tables import TABLES, load

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COPIES = 3


@pytest.fixture(scope="module")
def bf():
    spec = importlib.util.spec_from_file_location(
        "build_fixture", os.path.join(ROOT, "tools", "build_fixture.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _col(d, table: str, col: str):
    return pq.read_table(f"{d}/{table}.parquet", columns=[col]).column(0)


def test_copies_keep_keys_dense_and_references_resolving(spark, sf_dir, bf, tmp_path):
    dst = str(tmp_path / "x3")
    bf.build(sf_dir, dst, COPIES)

    for t in TABLES:  # the footer check against the declared schema
        load(spark, dst, t)
    for t in bf.SHARED:
        assert filecmp.cmp(f"{sf_dir}/{t}.parquet", f"{dst}/{t}.parquet", shallow=False), t
    for t in bf.REPLICATED:
        src_rows = pq.read_metadata(f"{sf_dir}/{t}.parquet").num_rows
        assert pq.read_metadata(f"{dst}/{t}.parquet").num_rows == COPIES * src_rows, t
        if t in bf.KEYS:
            keys = _col(dst, t, bf.KEYS[t]).to_pylist()
            assert sorted(keys) == list(range(COPIES * src_rows)), t

    for table, col, owner in (
        ("orders", "o_custkey", "customer"),
        ("lineitem", "l_orderkey", "orders"),
        ("lineitem", "l_partkey", "part"),
    ):
        refs = _col(dst, table, col)
        assert pc.all(pc.is_in(refs, value_set=_col(dst, owner, bf.KEYS[owner]))).as_py(), col

    n_nodes, node_of_idx = _teleport_address_space(spark, dst)
    n = {t: pq.read_metadata(f"{dst}/{t}.parquet").num_rows for t in ("customer", "orders", "part")}
    assert node_of_idx is not None and n_nodes == sum(n.values())


@pytest.mark.parametrize("bad", ["non_dense_src", "existing_dst"])
def test_bad_inputs_raise_before_writing(sf_dir, non_dense_sf_dir, bf, tmp_path, bad):
    src, dst = sf_dir, tmp_path / "out"
    if bad == "non_dense_src":
        src = non_dense_sf_dir
    else:
        dst.mkdir()
    with pytest.raises(ValueError, match="customer" if bad == "non_dense_src" else "exists"):
        bf.build(src, str(dst), 2)
    assert not dst.exists() or not any(dst.iterdir())

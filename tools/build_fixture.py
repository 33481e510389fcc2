"""Build a scale-up fixture from a driver fixture directory, dense keys kept.

The graph loops, the walk's teleport address map and the reference
all address nodes by dense ids, so every table key must stay exactly
``0..n-1`` (OlapRunner.java:60-69). One shape, no option:

- ``customer``, ``part``, ``supplier``, ``nation`` and ``region`` are
  copied as they are;
- ``orders``, ``lineitem``, ``events``, ``documents`` and
  ``embeddings`` are replicated COPIES times. In copy ``k`` each own
  key column is shifted by ``k * n``, where ``n`` is the key count of
  the table that owns the key (``l_orderkey`` moves with
  ``o_orderkey``). Keys stay exactly ``0..COPIES*n-1``, and foreign
  keys into the shared tables (``o_custkey``, ``l_partkey``,
  ``l_suppkey``, ``events.user_id``) are unchanged and still resolve.

So the derived customer-order-part graph densifies: every copy's
orders hang off the same customers and parts, which is how real
growth deepens a graph, instead of splitting into disjoint copies.
Timestamps are unchanged (COPIES times the density in the same date
range). Replicated documents repeat their text COPIES times, so the
dedup keys see a duplicate-saturated corpus: at least ``1 - 1/COPIES``
of the documents duplicate another.

pyarrow does the round trip, so every column keeps its physical parquet
type (the ``events.ts`` timestamp unit included) and each table passes
``tables.load``'s footer check.

Before writing anything it checks that every key in SRC is dense and
that DST does not exist (ValueError). Write DST outside the repository.

Usage: python tools/build_fixture.py SRC DST COPIES
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# table -> its key column
KEYS = {
    "customer": "c_custkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "nation": "n_nationkey",
    "region": "r_regionkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
SHARED = ("customer", "part", "supplier", "nation", "region")
# replicated table -> (shifted column, the table that owns the key)
REPLICATED = {
    "orders": ("o_orderkey", "orders"),
    "lineitem": ("l_orderkey", "orders"),
    "events": ("event_id", "events"),
    "documents": ("doc_id", "documents"),
    "embeddings": ("vec_id", "embeddings"),
}


def dense_key_count(src: str, table: str) -> int:
    """n when ``table``'s key column holds exactly ``0..n-1``."""
    col = pq.read_table(f"{src}/{table}.parquet", columns=[KEYS[table]]).column(0)
    n = len(col)
    if n and (pc.min(col).as_py(), pc.max(col).as_py(), pc.count_distinct(col).as_py()) != (0, n - 1, n):
        raise ValueError(f"{src}: {table}.{KEYS[table]} keys are not 0..{n - 1}")
    return n


def build(src: str, dst: str, copies: int) -> None:
    if copies < 1:
        raise ValueError(f"COPIES must be at least 1, got {copies}")
    if os.path.exists(dst):
        raise ValueError(f"{dst} exists")
    n = {t: dense_key_count(src, t) for t in KEYS}
    os.makedirs(dst)
    for t in SHARED:
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    for t, (col, owner) in REPLICATED.items():
        base = pq.read_table(f"{src}/{t}.parquet")
        i = base.schema.get_field_index(col)
        field = base.schema.field(i)
        parts = [
            base.set_column(i, field, pc.add(base.column(i), pa.scalar(k * n[owner], field.type)))
            for k in range(copies)
        ]
        pq.write_table(pa.concat_tables(parts), f"{dst}/{t}.parquet")
        print(f"{t}: {base.num_rows} -> {base.num_rows * copies} rows")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__.rsplit("Usage: ", 1)[1])
    build(sys.argv[1], sys.argv[2], int(sys.argv[3]))

"""Independent-reference checks for the round-8 statistics keys.

The DuckDB parity suite proves Spark and DuckDB AGREE; these tests
prove the agreed-on value is the RIGHT statistic, by recomputing it
from the raw parquet with an implementation that shares no code with
either engine (python ints / numpy — the q_graph_hits
numpy-power-iteration precedent).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from neo_olap_spark.registry import REGISTRY, queries

queries()  # populate REGISTRY


def _events(sf_dir: str) -> pd.DataFrame:
    return pq.read_table(f"{sf_dir}/events.parquet").to_pandas()


def test_ks_matches_exact_python_reference(spark, sf_dir):
    """ks_ppm recomputed with arbitrary-precision python ints: split at
    the exact integer time midpoint, build both empirical CDFs over the
    union of observed cents levels, maximize the cross-multiplied gap.
    Exact equality required — the operator promises no float ever
    crosses the engine boundary."""
    ev = _events(sf_dir)
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    # epoch MICROS exactly like the operator's unix_micros: a ns-epoch
    # midpoint would differ by 500 ns when (min+max) is odd in µs,
    # flipping a row sitting exactly on the boundary
    us = ev["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    mid = (int(us.min()) + int(us.max())) // 2
    first = us < mid
    expected = {}
    for etype in sorted(ev["event_type"].unique()):
        m = (ev["event_type"] == etype).to_numpy()
        a = np.sort(cents[m & first])
        b = np.sort(cents[m & ~first])
        ta, tb = int(len(a)), int(len(b))
        levels = np.unique(cents[m])
        ca = np.searchsorted(a, levels, side="right")
        cb = np.searchsorted(b, levels, side="right")
        d_num = max(
            abs(int(x) * tb - int(y) * ta) for x, y in zip(ca, cb)
        )
        # one-sided series (ta or tb = 0): the operator emits NULL in
        # both engines — mirror it instead of ZeroDivisionError
        ks_ppm = (d_num * 1_000_000) // (ta * tb) if ta and tb else None
        expected[etype] = (ta, tb, ks_ppm)

    out = {
        r["event_type"]: (r["n_first_half"], r["n_second_half"], r["ks_ppm"])
        for r in REGISTRY["q_quality_ks"].fn(spark, sf_dir).collect()
    }
    assert out == expected


def test_corr_matrix_matches_numpy(spark, sf_dir):
    """Each micro-correlation within 2 micro of np.corrcoef on the same
    integerized measures (numpy accumulates in a different order, so
    exact equality is not expected — the operator's own exactness claim
    is cross-ENGINE, pinned by the parity suite)."""
    li = pq.read_table(f"{sf_dir}/lineitem.parquet").to_pandas()
    q = li["l_quantity"].to_numpy().astype(np.int64)
    p = np.floor(li["l_extendedprice"].to_numpy() * 100 + 0.5).astype(np.int64)
    d = np.floor(li["l_discount"].to_numpy() * 100 + 0.5).astype(np.int64)
    flags = li["l_returnflag"].to_numpy()

    rows = REGISTRY["q_agg_corr_matrix"].fn(spark, sf_dir).collect()
    assert rows, "empty corr matrix"
    for r in rows:
        m = flags == r["l_returnflag"]
        assert r["n"] == int(m.sum())
        ref = np.corrcoef(np.stack([q[m], p[m], d[m]]))
        for col, (i, j) in [
            ("corr_qty_price_micro", (0, 1)),
            ("corr_qty_disc_micro", (0, 2)),
            ("corr_price_disc_micro", (1, 2)),
        ]:
            got = r[col]
            if np.isnan(ref[i, j]):
                assert got is None
            else:
                assert got is not None
                assert abs(got - round(float(ref[i, j]) * 1_000_000)) <= 2, (
                    f"{r['l_returnflag']}/{col}: {got} vs numpy "
                    f"{ref[i, j] * 1e6:.1f}"
                )


def test_mutual_info_matches_numpy(spark, sf_dir):
    """Plug-in MI recomputed from a numpy contingency table (log via
    np.log, summed in a different order) — within 2e-6 of the
    operator's 1e-6-quantized value."""
    li = pq.read_table(f"{sf_dir}/orders.parquet").to_pandas()
    ct = pd.crosstab(li["o_orderpriority"], li["o_orderstatus"]).to_numpy()
    n = ct.sum()
    pa = ct.sum(axis=1, keepdims=True) / n
    pb = ct.sum(axis=0, keepdims=True) / n
    pab = ct / n
    mask = pab > 0
    ref = float((pab[mask] * np.log(pab[mask] / (pa @ pb)[mask])).sum())

    row = REGISTRY["q_agg_mutual_info"].fn(spark, sf_dir).collect()[0]
    assert row["n_orders"] == int(n)
    assert row["n_cells"] == int(mask.sum())
    assert abs(row["mi"] - ref) <= 2e-6, (row["mi"], ref)


def test_attribution_matches_pandas_reference(spark, sf_dir):
    """Last-touch attribution recomputed with a pandas groupby-sort
    walk (shares no code with either engine): per user, carry the
    latest click µs forward over (ts, event_id) order; purchases
    within the 7-day horizon credit the click's epoch day, others the
    -1 bucket. Exact equality — integer arithmetic end to end."""
    from neo_olap_spark.operators.warehouse import ATTRIBUTION_HORIZON_US

    ev = _events(sf_dir)
    ev = ev[ev["event_type"].isin(["click", "purchase"])].copy()
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    ev = ev.sort_values(["user_id", "us", "event_id"])
    expected: dict[int, list] = {}
    for _uid, g in ev.groupby("user_id"):
        click_us = None
        for r in g.itertuples():
            if r.event_type == "click":
                click_us = r.us
            else:  # purchase
                if (
                    click_us is not None
                    and r.us - click_us <= ATTRIBUTION_HORIZON_US
                ):
                    day = click_us // 86_400_000_000
                else:
                    day = -1
                cents = int(np.floor(r.value * 100 + 0.5))
                agg = expected.setdefault(day, [0, 0])
                agg[0] += 1
                agg[1] += cents
    got = {
        r["attr_day"]: [r["n_purchases"], r["credit_cents"]]
        for r in REGISTRY["q_events_attribution"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_spearman_tie_chain_is_unique_in_fixtures():
    """q_agg_spearman's row_number windows are deterministic only if
    the full sort tuple (measure, other measure, 4-part line key) is
    unique within each return flag. The 4-part line key ALONE is not
    (duplicate tuple at l_orderkey=1294 in sf0.001 — round-10 ADVICE),
    which is exactly why both measures lead the tie chain; this pins
    that the extended tuple never collides in any fixture the parity
    gate runs on."""
    import os

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/lineitem.parquet"
        if not os.path.exists(path):
            continue
        li = pq.read_table(
            path,
            columns=[
                "l_returnflag",
                "l_quantity",
                "l_extendedprice",
                "l_orderkey",
                "l_linenumber",
                "l_partkey",
                "l_suppkey",
            ],
        ).to_pandas()
        li["x"] = li["l_quantity"].astype("int64")
        li["y"] = np.floor(li["l_extendedprice"] * 100 + 0.5).astype("int64")
        key = li[
            [
                "l_returnflag",
                "x",
                "y",
                "l_orderkey",
                "l_linenumber",
                "l_partkey",
                "l_suppkey",
            ]
        ]
        dup = key.duplicated()
        assert not dup.any(), f"{sf}: duplicate spearman sort tuple\n{key[dup]}"
        # and the documented landmine stays true: the 4-part line key
        # alone DOES collide somewhere, so the measure-led chain is
        # load-bearing, not decorative
        four = li[["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]]
        if sf == "sf0.001":
            assert four.duplicated().any()


def test_spearman_distributed_rank_path_matches_window_path(
    spark, sf_dir, monkeypatch
):
    """Volume gate: above functions.WINDOW_MAX_ROWS the ranks come from
    two distributed prefix_sum passes instead of per-flag window sorts
    (whose single-task-per-flag sort is superlinear at scale). Both
    forms realize the SAME total order, so every output row must be
    bit-identical — forced here by dropping the gate to 0."""
    from neo_olap_spark import functions
    from neo_olap_spark.operators import analytics

    window_out = sorted(
        map(tuple, analytics.q_agg_spearman(spark, sf_dir).collect())
    )
    monkeypatch.setattr(functions, "WINDOW_MAX_ROWS", 0)
    dist_out = sorted(
        map(tuple, analytics.q_agg_spearman(spark, sf_dir).collect())
    )
    assert window_out == dist_out


@pytest.mark.parametrize(
    "key", ["q_agg_gini", "q_agg_weighted_median", "q_agg_pareto"]
)
def test_partitioned_window_family_distributed_path_matches(
    spark, sf_dir, key, monkeypatch
):
    """The spearman volume gate covers the per-group window family.
    Above functions.WINDOW_MAX_ROWS the rank (gini) / running sum
    (weighted_median, pareto) comes from the distributed two-pass
    form; integer/decimal arithmetic over the same total order makes
    every output row bit-identical — forced here by dropping the gate
    to 0."""
    from neo_olap_spark import functions
    from neo_olap_spark.operators import analytics

    fn = getattr(analytics, key)
    window_out = sorted(map(tuple, fn(spark, sf_dir).collect()))
    monkeypatch.setattr(functions, "WINDOW_MAX_ROWS", 0)
    dist_out = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert window_out == dist_out


def test_prefix_sum_forms_agree(spark, monkeypatch):
    """functions.prefix_sum: the window form, the forced-distributed
    form and a plain-Python running sum agree on the running sum and
    the group total, for long and decimal(38,0) values and for the
    rank (value 1), over a descending order key with duplicates
    broken by a tie column, with range partitions that span group
    boundaries; by=None is the global 0-based rank + 1."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from neo_olap_spark import functions

    sizes = {"a": 7, "b": 13, "c": 10}
    rows, t = [], 0
    for g, n in sizes.items():
        for i in range(n):
            t += 1
            rows.append((g, i % 4, t, t * 7 % 11 - 3, Decimal(t * 10**20)))
    df = spark.createDataFrame(
        rows, "g string, k long, t long, v long, dv decimal(38,0)"
    )
    order = [F.col("k").desc(), "t"]
    n_parts = 4
    pids = (
        df.repartitionByRange(n_parts, "g", *order)
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.countDistinct("g").alias("n_g"))
        .collect()
    )
    assert any(r.n_g > 1 for r in pids), "no partition spans a group boundary"

    for value, val in (
        ("v", lambda r: r[3]), ("dv", lambda r: r[4]), (1, lambda r: 1)
    ):
        cum, run = {}, {}
        for r in sorted(rows, key=lambda r: (r[0], -r[1], r[2])):
            run[r[0]] = run.get(r[0], 0) + val(r)
            cum[r[2]] = run[r[0]]
        # once every row is in, run holds each group's total
        want = {r[2]: (cum[r[2]], run[r[0]]) for r in rows}
        got = []
        for gate in (functions.WINDOW_MAX_ROWS, 0):
            monkeypatch.setattr(functions, "WINDOW_MAX_ROWS", gate)
            out = functions.prefix_sum(
                df, order, "cs", value=value, by="g",
                n_rows=len(rows), n_parts=n_parts,
            )
            got.append((
                out.schema["cs"].dataType, out.schema["_total"].dataType,
                {r.t: (r.cs, r["_total"]) for r in out.collect()},
            ))
        assert got[0] == got[1]
        assert got[0][2] == want

    ranked = functions.prefix_sum(df, ["k", "t"], "rk", n_parts=n_parts)
    by_rank = sorted(rows, key=lambda r: (r[1], r[2]))
    assert {r.t: (r.rk, r["_total"]) for r in ranked.collect()} == {
        r[2]: (i + 1, len(rows)) for i, r in enumerate(by_rank)
    }

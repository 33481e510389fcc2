"""The DuckDB xxhash64 pipelines must be BIT-EXACT with Spark's
xxhash64 — the random-walk oracle (and any future MinHash/SimHash
twin) replays seeded trajectories through them, where a single flipped
bit silently diverges the whole walk. Spark is the ground truth; the
Python reference in functions/xxhash_sql.py is the literal-precompute
anchor checked against both."""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from neo_olap_spark.functions.xxhash_sql import (
    spark_xxhash64,
    xxhash64_sql,
)

# negatives, zero, int/long extremes, the graph-offset range
INTS = [0, 1, -1, 7, 255, 2**31 - 1, -(2**31), 12345]
LONGS = [0, 1, -1, 2**40 + 17, 2**41 + 3, 2**63 - 1, -(2**63), 987654321012]


def test_python_reference_matches_spark(spark):
    rows = [(i, l) for i in INTS for l in LONGS]
    df = spark.createDataFrame(rows, "i int, l long").select(
        "i",
        "l",
        F.xxhash64("i").alias("hi"),
        F.xxhash64("l").alias("hl"),
        F.xxhash64("l", "i").alias("hli"),
        F.xxhash64("i", "l", F.lit(42)).alias("hil42"),
    )
    for r in df.collect():
        assert r.hi == spark_xxhash64([(r.i, "int")])
        assert r.hl == spark_xxhash64([(r.l, "long")])
        assert r.hli == spark_xxhash64([(r.l, "long"), (r.i, "int")])
        assert r.hil42 == spark_xxhash64(
            [(r.i, "int"), (r.l, "long"), (42, "int")]
        )


@pytest.mark.parametrize(
    "inputs",
    [
        [("i", "int")],
        [("l", "long")],
        [("l", "long"), ("42", "int")],
        [("i", "int"), ("l", "long"), ("i", "int")],
    ],
)
def test_duckdb_pipeline_matches_python(inputs):
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t AS SELECT i, l FROM "
        f"(SELECT CAST(unnest({INTS!r}) AS INT) AS i) ti, "
        f"(SELECT CAST(unnest({LONGS!r}) AS BIGINT) AS l) tl"
    )
    sql = xxhash64_sql("t", ["i", "l"], inputs, "h")
    for i, l, h in con.sql(sql).fetchall():  # noqa: E741
        vals = [
            (
                {"i": i, "l": l, "42": 42}[e],
                t,
            )
            for e, t in inputs
        ]
        assert h == spark_xxhash64(vals), (i, l, inputs)


def test_trunc_div_sql_negatives_agree_cross_engine(spark):
    """trunc_div_sql must compute the IDENTICAL value under DuckDB //
    (floor) and Spark ANSI div (truncate) — the negate-divide-negate
    form exists exactly for the negative-numerator case where the two
    operators diverge (floor(-7/2) = -4 vs trunc(-7/2) = -3)."""
    import duckdb

    from neo_olap_spark.functions import trunc_div_sql

    cases = [(-7, 2), (7, 2), (-7, 7), (-1, 3), (0, 5), (-100, 3), (99, 100)]
    spark_rows = spark.createDataFrame(cases, "num long, den long").selectExpr(
        "num", "den", f"{trunc_div_sql('num', 'den', 'div')} AS q"
    ).collect()
    con = duckdb.connect()
    for r in spark_rows:
        (dq,) = con.execute(
            f"SELECT {trunc_div_sql(str(r.num), str(r.den), '//')}"
        ).fetchone()
        want = int(r.num / r.den) if r.den else None  # python trunc division
        assert r.q == dq == want, (r.num, r.den, r.q, dq, want)


# ---------------------------------------------------------------------------
# floor-shift idioms: cents, money sum, floor_round (functions/)
# ---------------------------------------------------------------------------

# |x| * 10^k stays below 2^53 (the cents bound in operators/tpch.py's
# docstring: 9e13 money units at k=2), so every floor-shift is exact
_KS = (0, 2, 4, 6)


def _xs(k: int):
    bound = 9e15 / 10**k
    return st.one_of(
        st.none(),
        # multiples of 1/8: exact half-cents such as 417321.125, -0.125
        st.integers(-int(bound) * 8, int(bound) * 8).map(lambda n: n / 8),
        st.floats(-bound, bound, allow_nan=False, allow_infinity=False),
    )


def _duck_rows(sql: str, ddl: str, rows):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({ddl})")
    if rows:
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})", rows)
    return con.execute(sql).fetchall()


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(st.tuples(*(_xs(k) for k in _KS)), max_size=12))
@example(rows=[(0.5, 417321.125, -0.125, -2.5e-7), (None, -0.125, 0.00005, 0.5e-6)])
@example(rows=[(-9e15, 9e13, -9e11, 9e9), (9e15, -9e13, 9e11, -9e9)])
def test_cents_and_floor_round_agree_cross_engine(spark, rows):
    """``cents``/``cents_sql`` and ``floor_round``/``floor_round_sql``:
    the Column builder on Spark, the SQL text in Spark SQL and the SQL
    text in DuckDB give equal values, NULLs included, at every scale
    the engine uses (k = 0, 2, 4, 6). About 15 s on a 4-vCPU host."""
    from neo_olap_spark.functions import cents, cents_sql, floor_round, floor_round_sql

    rows = [(i, *r) for i, r in enumerate(rows)]
    cols = [f"x{k}" for k in _KS]
    exprs = [
        e for k in _KS for e in (cents_sql(f"x{k}", k), floor_round_sql(f"x{k}", k))
    ]
    df = spark.createDataFrame(rows, "i int, " + ", ".join(f"{c} double" for c in cols))
    got = df.select(
        "i",
        *[e for k in _KS for e in (cents(f"x{k}", k), floor_round(f"x{k}", k))],
        *[F.expr(e) for e in exprs],
    ).collect()
    duck = dict(
        (r[0], r[1:])
        for r in _duck_rows(
            f"SELECT i, {', '.join(exprs)} FROM t",
            "i INT, " + ", ".join(f"{c} DOUBLE" for c in cols),
            rows,
        )
    )
    assert len(got) == len(duck) == len(rows)
    n = len(exprs)
    for r in got:
        col, sql = tuple(r[1 : 1 + n]), tuple(r[1 + n :])
        assert col == sql == duck[r.i], (rows[r.i], col, sql, duck[r.i])


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(st.tuples(st.integers(0, 3), _xs(2)), max_size=12))
@example(rows=[(0, 417321.125), (0, 417321.125), (1, -0.125), (1, None)])
@example(rows=[(0, 9e13), (0, 9e13), (0, -9e13), (1, 8.9e13), (1, 0.005)])
def test_money_sum_agrees_cross_engine(spark, rows):
    """``money_sum``/``money_sum_sql`` per group on Spark (Column and
    SQL text) and in DuckDB: equal sums, an all-NULL group included
    (group 9 always is one; its sum is NULL in all three). About 15 s
    on a 4-vCPU host."""
    from neo_olap_spark.functions import money_sum, money_sum_sql

    rows = rows + [(9, None), (9, None)]
    df = spark.createDataFrame(rows, "g int, x double")
    got = {
        r.g: (r.a, r.b)
        for r in df.groupBy("g")
        .agg(money_sum("x").alias("a"), F.expr(money_sum_sql("x")).alias("b"))
        .collect()
    }
    duck = dict(
        _duck_rows(
            f"SELECT g, {money_sum_sql('x')} FROM t GROUP BY g", "g INT, x DOUBLE", rows
        )
    )
    assert got.keys() == duck.keys()
    assert got[9] == (None, None) and duck[9] is None
    for g, (a, b) in got.items():
        assert a == b == duck[g], (g, a, b, duck[g])


# a scale 10^k (k >= 0) written as a literal or a named constant,
# then the +0.5 of the floor-shift
_FLOOR_SHIFT = re.compile(
    r"\*\s*(?:F\.lit\()?"
    r"(?:1(?:_?0)+(?:\.0*)?|1(?:\.0*)?e\d|\{?[A-Z][A-Z0-9_]*\}?)"
    r"\)?\s*\+\s*(?:F\.lit\()?0?\.5(?:e0)?"
)
# the float form inside Python/pandas UDF bodies is a third engine
_EXEMPT_CALLS = ("np.floor", "math.floor")


def _code_text(src: str) -> str:
    """``src`` with comments and docstrings blanked out (newlines kept)."""
    docs = {
        (n.body[0].lineno, n.body[0].col_offset)
        for n in ast.walk(ast.parse(src))
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
        and isinstance(n.body[0].value.value, str)
    }
    offs = [0]
    for line in src.splitlines(keepends=True):
        offs.append(offs[-1] + len(line))
    chars = list(src)
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT or (tok.type == tokenize.STRING and tok.start in docs):
            a = offs[tok.start[0] - 1] + tok.start[1]
            b = offs[tok.end[0] - 1] + tok.end[1]
            chars[a:b] = [c if c == "\n" else " " for c in chars[a:b]]
    return "".join(chars)


def _floor_shift_copies(root: str) -> list[str]:
    """``file:line`` of every floor-shift at 10^k under ``root``
    outside ``functions/``, in code or SQL text."""
    hits = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "functions"]
        for name in sorted(filenames):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                text = _code_text(f.read())
            for m in _FLOOR_SHIFT.finditer(text):
                depth, i = 0, m.start()
                while i > 0 and depth >= 0:  # the call the match sits in
                    i -= 1
                    depth += {")": 1, "(": -1}.get(text[i], 0)
                if text[:i].endswith(_EXEMPT_CALLS):
                    continue
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{os.path.relpath(path, root)}:{line}")
    return hits


def test_floor_shift_idioms_have_one_definition(tmp_path):
    """The per-row cents, the money sum and the 10^k floor-shift
    rounding are defined once, in neo_olap_spark/functions/ (``cents``,
    ``money_sum``, ``floor_round`` and their ``*_sql`` twins); every
    other module composes them, so a re-typed copy cannot drift from
    the rule. A planted copy in either engine's form is caught."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert _floor_shift_copies(os.path.join(root, "neo_olap_spark")) == []

    (tmp_path / "functions").mkdir()
    (tmp_path / "functions" / "ok.py").write_text('X = "FLOOR(x * 100 + 0.5)"\n')
    (tmp_path / "planted.py").write_text(
        '"""FLOOR(x * 100 + 0.5) in a docstring is prose."""\n'
        "# F.floor(c * 100 + 0.5) in a comment too\n"
        "q = np.floor(v * 100 + 0.5)\n"
        'A = """SELECT CAST(FLOOR(value\n * 1.0e6 + 0.5e0) AS BIGINT)"""\n'
        'B = F.floor(F.col("v") * 10_000 + F.lit(0.5)) / 10_000\n'
        'C = f"FLOOR(x * {SCALE} + 0.5)"\n'
    )
    assert _floor_shift_copies(str(tmp_path)) == [
        "planted.py:5", "planted.py:6", "planted.py:7"
    ]

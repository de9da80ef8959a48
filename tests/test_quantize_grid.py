"""The quantization grid has one home: ``functions.aggregates``.

Every float result matches its DuckDB oracle because both engines put each
value on the same integer grid (``round(x * 1e6)`` or ``round(x * 1e9)``)
before summing, and every money value in the same integer cents or basis
points (``round(x * 100)``, ``round(x * 10000)``). ``qlong`` is that step
on Spark and ``sql_qlong`` on DuckDB; ``SQL_DSUM``/``SQL_DAVG``/``SQL_NSUM``
are the twins of ``dsum``/``davg``/``nsum``. These tests pin the twins to
each other and fail on any hand-written round-to-grid cast outside that
module.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from markt_database_analyzer_spark.functions.aggregates import (
    BASIS_POINTS,
    CENTS,
    MICRO,
    NANO,
    SQL_DAVG,
    SQL_DSUM,
    SQL_NSUM,
    qlong,
    sql_qlong,
)

PKG = Path(__file__).resolve().parent.parent / "markt_database_analyzer_spark"
HOME = PKG / "functions" / "aggregates.py"

# Grid scales: cents, basis points, micro, nano and the finer pico/femto
# grids a few entries use.
GRID_VALUES = {1e2, 1e4, 1e6, 1e9, 1e12, 1e15}
GRID_NAMES = {"CENTS", "BASIS_POINTS", "MICRO", "NANO"}
_GRID_SQL = (
    r"(?:1e2|1e4|1e6|1e9|1e12|1e15|100|10_?000|1_?000_?000(?:_?000)*)(?:\.0)?(?![\w.])"
)
_INT_CASTS = {"long", "bigint", "decimal(38,0)"}

# Sites that may keep a hand-written spelling, each with its reason
# ("relative path:line text fragment" -> reason). Empty: every site goes
# through qlong/sql_qlong.
ALLOWLIST: dict[str, str] = {}


def _is_grid(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant) and isinstance(node.value, (int, float)):
        return not isinstance(node.value, bool) and float(node.value) in GRID_VALUES
    if isinstance(node, ast.Name):
        return node.id in GRID_NAMES
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "lit":
        return len(node.args) == 1 and _is_grid(node.args[0])
    return False


def _arith_operands(node: ast.AST):
    """The operands of the * and / chain at the top of ``node``."""
    if isinstance(node, ast.BinOp) and isinstance(node.op, (ast.Mult, ast.Div)):
        yield from _arith_operands(node.left)
        yield from _arith_operands(node.right)
    else:
        yield node


def spark_spellings(src: str) -> list[tuple[int, str]]:
    """``F.round(x * scale).cast(long|bigint|decimal(38,0))`` in Python code."""
    hits = []
    for n in ast.walk(ast.parse(src)):
        if not (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "cast"
            and len(n.args) == 1
            and isinstance(n.args[0], ast.Constant)
            and str(n.args[0].value).replace(" ", "").lower() in _INT_CASTS
        ):
            continue
        r = n.func.value
        if not (isinstance(r, ast.Call) and isinstance(r.func, ast.Attribute) and r.func.attr == "round"):
            continue
        if r.args and any(_is_grid(op) for op in _arith_operands(r.args[0])):
            hits.append((n.lineno, ast.get_source_segment(src, n).split("\n")[0]))
    return hits


_SQL_OPEN = re.compile(r"(?i)cast\(\s*round\(")
_SQL_SCALE = re.compile(rf"(?:\*\s*{_GRID_SQL}|(?<![\w.]){_GRID_SQL}\s*[*/])")
_SQL_TAIL = re.compile(r"""(?is)^[\s"'f]*\)[\s"'f]*as\s+(bigint|hugeint|decimal)""")


def _depth0(text: str) -> str:
    """``text`` with every parenthesised group blanked out."""
    out, depth = [], 0
    for c in text:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        out.append(c if depth == 0 and c != ")" else " ")
    return "".join(out)


def sql_spellings(src: str) -> list[tuple[int, str]]:
    """``CAST(round(x * scale) AS BIGINT|HUGEINT|DECIMAL)`` in SQL text,
    DuckDB oracles and Spark SQL alike, even when the SQL is split across
    Python string pieces."""
    hits = []
    for m in _SQL_OPEN.finditer(src):
        depth, i = 1, m.end()
        while i < len(src) and depth:
            depth += {"(": 1, ")": -1}.get(src[i], 0)
            i += 1
        arg = src[m.end(): i - 1]
        if _SQL_SCALE.search(_depth0(arg)) and _SQL_TAIL.match(src[i - 1:]):
            line = src.count("\n", 0, m.start()) + 1
            hits.append((line, src[m.start(): i].split("\n")[0]))
    return hits


def _offenders() -> list[str]:
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path == HOME:
            continue
        src = path.read_text()
        rel = path.relative_to(PKG.parent).as_posix()
        for line, text in spark_spellings(src) + sql_spellings(src):
            key = f"{rel}:{text.strip()}"
            if not any(key.startswith(k) for k in ALLOWLIST):
                found.append(f"{rel}:{line}: {text.strip()}")
    return found


def test_no_hand_written_grid_cast_outside_aggregates():
    offenders = _offenders()
    assert not offenders, (
        "round-to-grid casts must go through functions.aggregates.qlong / "
        "sql_qlong:\n" + "\n".join(offenders)
    )


def test_guard_detects_each_spelling():
    spark = [
        'F.round(F.col("v") * 1e9).cast("bigint")',
        'F.round(F.col("v") * 1000000.0).cast("long")',
        'F.round(F.lit(1e9) / F.col("m")).cast("decimal(38,0)")',
        'F.round(\n    F.col("a")\n    * F.col("b")\n    * 1e6\n).cast(\n    "bigint"\n)',
        'F.round(F.col("p") * 100.0).cast("bigint")',
        'F.round(F.col("o_totalprice") * 100).cast("long")',
        'F.round(F.col("d") * 10000.0).cast("bigint")',
        'F.round(F.col("x") * (F.lit(1.0) - F.col("d")) * 100.0).cast("decimal(38,0)")',
        'F.round(F.col("p") * CENTS).cast("bigint")',
    ]
    for code in spark:
        assert spark_spellings(code), code
    sql = [
        '"CAST(round(value * 1000000.0) AS BIGINT)"',
        '"CAST(sum(CAST(round((x - m) * (x - m) * 1e9) AS HUGEINT)) AS DOUBLE)"',
        '"CAST(round(1e9 / count(*) OVER (PARTITION BY pid)) AS BIGINT)"',
        '"cast(round((x - y) * (x - y) * 1e9) as bigint)"',
        '"CAST(round(CAST(x AS DOUBLE) * w * 1000000000.0)"\n    " AS BIGINT)"',
        '"CAST(round(l_quantity * 1000000.0) AS DECIMAL(38,0))"',
        '"CAST(round(l_extendedprice * 100.0) AS BIGINT)"',
        '"CAST(round(o_totalprice * 100) AS HUGEINT)"',
        '"CAST(round(l_discount * 10000.0) AS BIGINT)"',
        '"CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)"',
        '"CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)"\n    " AS BIGINT)) AS BIGINT)"',
    ]
    for code in sql:
        assert sql_spellings(code), code
    # not a grid spelling: de-quantization, rounding to places, a scale
    # that only starts like a grid one, a qlong call
    for code in [
        'F.round(F.col("q") / 1e9, 9).alias("x")',
        'F.round(F.col("b2") * 100.0, 6).alias("beta2")',
        'F.round(F.col("p") * 1000.0).cast("bigint")',
        'qlong(F.col("v"), NANO, "decimal(38,0)")',
        'qlong(F.col("p"), CENTS)',
    ]:
        assert not spark_spellings(code), code
    for code in [
        '"round(CAST(s AS DOUBLE) / 1e9, 9)"',
        '"CAST(round(ln(CAST(s AS DOUBLE) / 1e9), 9) AS DOUBLE)"',
        '"CAST(round(p * 1000.0) AS BIGINT)"',
        '"CAST(round(p * 100.5) AS BIGINT)"',
        '"CAST(round(p * 0.100) AS BIGINT)"',
        '"CAST(round(100 * p, 2) AS DOUBLE)"',
    ]:
        assert not sql_spellings(code), code


def test_sql_templates_render_from_sql_qlong():
    assert sql_qlong("v") == "CAST(round((v) * 1000000.0) AS BIGINT)"
    assert sql_qlong("v", NANO, "HUGEINT") == "CAST(round((v) * 1000000000.0) AS HUGEINT)"
    assert SQL_DSUM == "(CAST(SUM(CAST(round(({x}) * 1000000.0) AS HUGEINT)) AS DOUBLE) / 1000000.0)"
    assert SQL_DAVG == (
        "(CAST(SUM(CAST(round(({x}) * 1000000.0) AS HUGEINT)) AS DOUBLE)"
        " / COUNT({x}) / 1000000.0)"
    )
    assert SQL_NSUM == (
        "(CAST(SUM(CAST(round(({x}) * 1000000000.0) AS HUGEINT)) AS DOUBLE) / 1000000000.0)"
    )


# Half-unit ties: x * scale is exactly k + 0.5 in double arithmetic
# (half-cent prices such as 19.995 and 2.675 are exact ties in double).
_TIES = {
    CENTS: [19.995, -19.995, 2.675, -2.675, 0.125, -0.125, 1234.625, -1234.625],
    BASIS_POINTS: [5e-05, -5e-05, 0.07245, -0.07245, 1.23455, -1.23455, 0.03125, -0.03125],
    MICRO: [5e-07, -5e-07, 1.5e-06, -1.5e-06, 2.5e-06, -2.5e-06, 1.25e-05, -1.25e-05],
    NANO: [5e-10, -5e-10, 1.5e-09, -1.5e-09, 2.5e-09, -2.5e-09, 4.5675e-06, -4.5675e-06],
}
# Plus negatives, a value below one grid unit, values just off a tie,
# ordinary values, and values near the long envelope (|x * scale| just
# under 2^63 ≈ 9.22e18).
_BELOW = {CENTS: 0.004, BASIS_POINTS: 4e-05, MICRO: 4e-07, NANO: 4e-10}
_ENVELOPE = {CENTS: 9.2e16, BASIS_POINTS: 9.2e14, MICRO: 9.2e12, NANO: 9.2e9}
_OTHERS = {
    CENTS: [1.005, -1.005, 0.1 + 0.2, -(0.1 + 0.2), 1234.56, -1234.56],
    BASIS_POINTS: [0.00015, -0.00015, 0.0725, -0.0725, 0.123456, -0.123456],
    MICRO: [1e-07, -1e-07, 0.123456789, -0.123456789, 1234.5678905],
    NANO: [1e-10, -1e-10, 0.1234567895, -0.1234567895, 2.0**-31],
}


@pytest.mark.parametrize(
    "scale", [CENTS, BASIS_POINTS, MICRO, NANO], ids=["cents", "basis_points", "micro", "nano"]
)
def test_qlong_matches_sql_qlong(spark, scale):
    ties = _TIES[scale]
    assert all(abs(v * scale) % 1 == 0.5 for v in ties)
    below, env = _BELOW[scale], _ENVELOPE[scale]
    values = ties + [0.0, below, -below, env, -env] + _OTHERS[scale]
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(values)], "i int, v double")
    got = {r["i"]: r["q"] for r in df.select("i", qlong("v", scale).alias("q")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    want = dict(con.execute(f"SELECT i, {sql_qlong('v', scale)} FROM t").fetchall())
    assert got == want
    # ties round half away from zero, below-unit values round to 0
    for i, v in enumerate(ties):
        assert got[i] == int(v * scale + (0.5 if v > 0 else -0.5))
    assert got[values.index(below)] == got[values.index(-below)] == 0
    assert got[values.index(-env)] == -9_200_000_000_000_000_000


def test_qlong_decimal_matches_sql_qlong_past_the_long_range(spark):
    # |x * scale| beyond 2^63: the decimal form keeps the integer, the
    # exact binary value of the rounded double on both engines, also where
    # its shortest decimal string is not exact (4.41...e20 on the nano grid
    # is 441005452586158456832, not 441005452586158460000)
    values = [5e11, -3.3e12, 2.5e-09, -2.5e-09, 1.5e-09, 4.4100545258615846e11,
              -4.4100545258615846e11, 1.2345678901234567e16, 3.0e19 / 7, 9.1e28 / 3,
              -(2.0**64) / 1e9, 2.0**63 / 1e9 + 4096.0, 123456.789, 9007199.254740993]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, v double")
    got = {
        r["i"]: int(r["q"])
        for r in df.select("i", qlong("v", NANO, "decimal(38,0)").alias("q")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    sql = f"SELECT i, {sql_qlong('v', NANO, 'DECIMAL(38,0)')} FROM t"
    want = {i: int(q) for i, q in con.execute(sql).fetchall()}
    assert got == want
    assert got[0] == 5 * 10**20 and got[2] == 3 and got[3] == -3
    assert got[5] == 441005452586158456832 == -got[6]


_CDF_Z = [0.0, 0.5, -0.5, 1.0, -1.0, 1.959963984540054, -1.959963984540054, 1.6448536269514722,
          2.5758293035489004, -3.0, 3.0, 0.001, -0.001, 4.5, -4.5, 6.0, -6.0, 8.25, -8.25]


def test_norm_cdf_matches_sql_norm_cdf(spark):
    from markt_database_analyzer_spark.functions.scalars import SQL_NORM_CDF, norm_cdf

    df = spark.createDataFrame([(i, z) for i, z in enumerate(_CDF_Z)], "i int, z double")
    got = {r["i"]: r["p"] for r in df.select("i", norm_cdf(F.col("z")).alias("p")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, z DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(_CDF_Z)))
    want = dict(con.execute(f"SELECT i, {SQL_NORM_CDF.format(z='z')} FROM t").fetchall())
    assert got == want
    assert got[0] == 0.5
    assert abs(got[_CDF_Z.index(1.959963984540054)] - 0.975) < 2e-4

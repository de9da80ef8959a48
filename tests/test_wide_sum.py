"""Exact 128-bit sums have one home: ``functions.aggregates``.

Raw moments of grid integers (Σa, Σa·b) pass 2^63 long before 10^38, so
the catalog sums them exactly: ``wide_sum`` is the ``decimal(38,0)`` total
on Spark and ``sql_wide_sum`` the ``HUGEINT`` total on DuckDB. These tests
pin the twins to each other near and past 2^63, and fail on a
hand-written ``sum(CAST(... AS HUGEINT) ...)`` in SQL text or an ``F.sum``
over a ``decimal(38,0)`` cast anywhere else in the package.
"""

from __future__ import annotations

import ast
import re
from decimal import Decimal
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from markt_database_analyzer_spark.functions.aggregates import sql_wide_sum, wide_sum

PKG = Path(__file__).resolve().parent.parent / "markt_database_analyzer_spark"
HOME = PKG / "functions" / "aggregates.py"
DEC = "decimal(38,0)"

# Sums that keep a hand-written spelling because they are not of the
# a·b shape ("relative path:spelling" -> reason).
ALLOWLIST: dict[str, str] = {
    "markt_database_analyzer_spark/catalog_stats.py:sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)": (
        "Kruskal-Wallis tie sum Σ(cnt³ - cnt): a difference, not a product a·b"
    ),
    "markt_database_analyzer_spark/catalog_stats.py:F.sum(c * c * c - c)": (
        "Spark twin of the Kruskal-Wallis tie sum Σ(cnt³ - cnt)"
    ),
}


def _close(text: str, i: int) -> int:
    """Index of the parenthesis closing the one at ``text[i]``."""
    depth = 0
    for j in range(i, len(text)):
        depth += {"(": 1, ")": -1}.get(text[j], 0)
        if depth == 0:
            return j
    return len(text) - 1


def sql_spellings(src: str) -> list[str]:
    """``sum(CAST(<a> AS HUGEINT) ...)`` written out in SQL text."""
    hits = []
    for m in re.finditer(r"(?i)\bsum\(\s*CAST\(", src):
        cast_open = m.end() - 1
        if re.search(r"(?i)\sAS\s+HUGEINT\s*$", src[cast_open + 1 : _close(src, cast_open)]):
            hits.append(re.sub(r"\s+", " ", src[m.start() : _close(src, m.start() + 3) + 1]))
    return hits


def _is_dec_cast(n: ast.AST) -> bool:
    return (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "cast"
        and len(n.args) == 1
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == DEC
    )


def _returns_dec_cast(fn: ast.AST) -> bool:
    if isinstance(fn, ast.Lambda):
        return _is_dec_cast(fn.body)
    return any(isinstance(r, ast.Return) and _is_dec_cast(r.value) for r in ast.walk(fn))


def _dec_aliases(fn: ast.FunctionDef) -> set[str]:
    """Names in ``fn`` bound to a ``decimal(38,0)`` cast, or to a local
    helper or lambda that returns one."""
    aliases = set()
    for n in ast.walk(fn):
        if isinstance(n, ast.Assign) and len(n.targets) == 1 and isinstance(n.targets[0], ast.Name):
            if _is_dec_cast(n.value) or (isinstance(n.value, ast.Lambda) and _returns_dec_cast(n.value)):
                aliases.add(n.targets[0].id)
        elif isinstance(n, ast.FunctionDef) and n is not fn and _returns_dec_cast(n):
            aliases.add(n.name)
    return aliases


def _is_fsum(n: ast.AST) -> bool:
    return (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "sum"
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "F"
    )


def spark_spellings(src: str) -> list[str]:
    """``F.sum(...)`` whose argument holds a ``decimal(38,0)`` cast,
    directly, through a local name bound to such a cast, or through a
    local helper that returns one."""
    tree = ast.parse(src)
    hits = set()
    for scope in [tree, *(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef))]:
        aliases = set() if scope is tree else _dec_aliases(scope)
        for n in ast.walk(scope):
            if _is_fsum(n) and any(
                _is_dec_cast(x) or (isinstance(x, ast.Name) and x.id in aliases)
                for a in n.args
                for x in ast.walk(a)
            ):
                hits.add(ast.get_source_segment(src, n))
    return sorted(hits)


def test_no_hand_written_wide_sum_outside_aggregates():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path == HOME:
            continue
        src = path.read_text()
        rel = path.relative_to(PKG.parent).as_posix()
        for spelling in sql_spellings(src) + spark_spellings(src):
            if f"{rel}:{spelling}" not in ALLOWLIST:
                found.append(f"{rel}: {spelling}")
    assert not found, (
        "sum grid integers exactly with functions.aggregates.wide_sum / "
        "sql_wide_sum instead of a hand-written 128-bit sum:\n" + "\n".join(found)
    )


def test_allowlist_entries_still_exist():
    for key in ALLOWLIST:
        rel, spelling = key.split(":", 1)
        src = (PKG.parent / rel).read_text()
        assert spelling in sql_spellings(src) + spark_spellings(src), key


def test_guards_detect_each_spelling():
    for code in [
        'x = "CAST(sum(CAST(v AS HUGEINT) * cnt) AS DOUBLE)"',
        'x = f"SUM(CAST({q} AS HUGEINT))"',
        'x = """sum(CAST(a\n  AS HUGEINT) * b) FILTER (WHERE arm = 0)"""',
        'x = "sum(CAST((ra - rb) * (ra - rb) AS HUGEINT) * o)"',
    ]:
        assert sql_spellings(code), code
    for code in [
        'x = "sum(CAST(v AS BIGINT))"',
        'x = "CAST(sum(v) AS HUGEINT)"',
        "x = \"sum({sql_qlong('x', cast='HUGEINT')})\"",
        "x = \"{sql_wide_sum('v', 'cnt')}\"",
    ]:
        assert not sql_spellings(code), code
    for code in [
        'def f():\n    return F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))',
        'def f():\n    yd = F.col("yq").cast("decimal(38,0)")\n    return F.sum(F.when(a0, yd))',
        'def f():\n    def d(c):\n        return F.col(c).cast("decimal(38,0)")\n'
        '    return F.sum(d("a") * d("b"))',
        'def f():\n    dec = lambda c: F.col(c).cast("decimal(38,0)")\n    return F.sum(dec("y"))',
        'def f():\n    return F.sum(F.when(cc, F.col("r2").cast("decimal(38,0)")))',
        'def f():\n    vq = F.col("v_cents").cast("decimal(38,0)")\n    return F.sum(vq * vq).over(win)',
    ]:
        assert spark_spellings(code), code
    for code in [
        'def f():\n    return wide_sum("y", "y")',
        'def f():\n    return F.sum(qlong("x", NANO))',
        'def f():\n    n = F.col("n").cast("decimal(38,0)")\n    return F.sum("x") * n',
        'def f():\n    return F.sum(F.col("y").cast("double"))',
        'def f():\n    c = F.col("cnt").cast("decimal(38,0)")\n\n\ndef g():\n    return F.sum(F.when(c, 1))',
    ]:
        assert not spark_spellings(code), code


def test_sql_wide_sum_renders_b_verbatim():
    assert sql_wide_sum("v") == "sum(CAST(v AS HUGEINT))"
    assert sql_wide_sum("v", "cnt * (2 * cum - cnt + 1)") == (
        "sum(CAST(v AS HUGEINT) * cnt * (2 * cum - cnt + 1))"
    )
    # left to right in HUGEINT: b * c alone would overflow BIGINT
    con = duckdb.connect()
    rows = f"(VALUES (1::BIGINT, {2**40}::BIGINT, {2**40}::BIGINT)) t(a, b, c)"
    got = con.execute(f"SELECT {sql_wide_sum('a', 'b * c')} FROM {rows}").fetchone()[0]
    assert got == 2**80


_BIG = 2**63 - 1
_ROWS = [
    (_BIG, 1),
    (_BIG, 2),
    (-(2**63), 3),
    (2**62, 2**62),
    (3_037_000_500, 3_037_000_500),  # square just past 2^63
    (-(2**40) - 7, 2**40 + 5),
    (0, _BIG),
    (12345, None),
]


@pytest.mark.parametrize("shape", ["a", "a*b", "a*(b-1)", "filtered"])
def test_wide_sum_matches_sql_wide_sum_past_2_63(spark, shape):
    df = spark.createDataFrame(_ROWS, "a long, b long")
    spark_expr, sql_expr = {
        "a": (wide_sum("a"), sql_wide_sum("a")),
        "a*b": (wide_sum("a", "b"), sql_wide_sum("a", "b")),
        "a*(b-1)": (wide_sum("a", F.col("b") - 1), sql_wide_sum("a", "(b - 1)")),
        "filtered": (
            wide_sum(F.when(F.col("a") > 0, F.col("a")), "b"),
            f"{sql_wide_sum('a', 'b')} FILTER (WHERE a > 0)",
        ),
    }[shape]
    got = df.agg(spark_expr.alias("s")).first()["s"]
    assert isinstance(got, Decimal)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", _ROWS)
    want = con.execute(f"SELECT {sql_expr} FROM t").fetchone()[0]
    assert int(got) == want
    exact = {
        "a": sum(a for a, _ in _ROWS),
        "a*b": sum(a * b for a, b in _ROWS if b is not None),
        "a*(b-1)": sum(a * (b - 1) for a, b in _ROWS if b is not None),
        "filtered": sum(a * b for a, b in _ROWS if a > 0 and b is not None),
    }[shape]
    assert want == exact and abs(exact) > 2**63

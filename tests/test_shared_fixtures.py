"""Shared catalog fixtures have one home per engine.

Several catalog entries score or split the same data on purpose, and each
entry matches its DuckDB oracle only because both engines spell the shared
decision identically. So each decision is written once, as a Spark
expression and its SQL twin:

- the English stopword-ratio classifier: ``datapipe.text.EN_STOPWORDS``,
  ``stop_ratio`` and ``sql_stop_ratio``;
- the seed-7 A/B split of users: ``catalog_stats.AB_SEED``, ``ab_arm``
  and ``SQL_AB_ARM``;
- the pooled SD of the two arms: ``catalog_stats._ab_pooled_sd`` and
  ``_SQL_AB_POOLED_SD``;
- the lineitem revenue in cents per ship day: ``catalog._daily_revenue``
  and ``_SQL_DAILY_REVENUE``.

These tests pin each twin to the other and fail on a second spelling.
Shared pieces live in ``catalog`` or ``datapipe``, below the catalog
modules, so every catalog module imports on its own.
"""

from __future__ import annotations

import ast
import re
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from markt_database_analyzer_spark.catalog import _SQL_DAILY_REVENUE, _daily_revenue
from markt_database_analyzer_spark.catalog_stats import (
    _SQL_AB_POOLED_SD,
    AB_SEED,
    SQL_AB_ARM,
    _ab_pooled_sd,
    ab_arm,
)
from markt_database_analyzer_spark.datapipe.text import (
    EN_STOPWORDS,
    sql_stop_ratio,
    sql_tokens,
    stop_ratio,
    tokens,
)

PKG = Path(__file__).resolve().parent.parent / "markt_database_analyzer_spark"
STOP_HOME = PKG / "datapipe" / "text.py"
ARM_HOME = PKG / "catalog_stats.py"
REVENUE_HOME = PKG / "catalog.py"

_WORD = "['\"](?:" + "|".join(EN_STOPWORDS) + ")['\"]"
_STOP_LIST = re.compile(rf"{_WORD}(?:\s*,\s*{_WORD}){{{len(EN_STOPWORDS) - 1}}}")


def stopword_spellings(src: str) -> list[int]:
    """Lines that list the stopwords, as a Python tuple or in SQL text."""
    return [src.count("\n", 0, m.start()) + 1 for m in _STOP_LIST.finditer(src)]


def arm_spellings(src: str) -> list[int]:
    """Lines with a seeded hash of ``user_id``: ``hash60(<user_id>,
    seed=...)`` on Spark or ``sql_hash60('<user_id>', seed=...)`` in SQL."""
    hits = []
    for n in ast.walk(ast.parse(src)):
        if not (isinstance(n, ast.Call) and n.args and any(k.arg == "seed" for k in n.keywords)):
            continue
        name = n.func.attr if isinstance(n.func, ast.Attribute) else getattr(n.func, "id", "")
        if name in ("hash60", "sql_hash60") and "user_id" in ast.get_source_segment(src, n.args[0]):
            hits.append(n.lineno)
    return hits


# The day's revenue: a cents grid over l_extendedprice * (1 - l_discount)
# in the same statement as a day of l_shipdate, on either engine.
_REV_SQL = re.compile(r"l_extendedprice\s*\*\s*\(1(?:\.0)?\s*-\s*l_discount\)")
_DAY_SQL = re.compile(r"date_trunc\('day',\s*l_shipdate\)|CAST\(l_shipdate AS DATE\)", re.I)
_REV_SPARK = re.compile(
    r'F\.col\("l_extendedprice"\)\s*\*\s*\((?:F\.lit\()?1(?:\.0)?\)?\s*-\s*F\.col\("l_discount"\)\)'
)
_DAY_SPARK = re.compile(r'F\.date_trunc\("day",\s*"l_shipdate"\)|F\.col\("l_shipdate"\)\.cast\("date"\)')


def daily_revenue_spellings(src: str) -> list[int]:
    """Top-level statements that compute revenue per ship day, once per
    engine spelled in them (an entry's oracle and body count as two)."""
    hits = []
    for node in ast.parse(src).body:
        parts = [*getattr(node, "decorator_list", []), node]
        seg = "\n".join(ast.get_source_segment(src, n) for n in parts)
        for rev, day in ((_REV_SQL, _DAY_SQL), (_REV_SPARK, _DAY_SPARK)):
            if rev.search(seg) and day.search(seg):
                hits.append(node.lineno)
    return hits


# The pooled variance of the two arms, (ss0 - s0²/n0) + (ss1 - s1²/n1),
# over bare names (SQL, or the Spark twin's locals) or F.col() columns.
_POOLED = [
    re.compile(r"\(ss0-s0\*s0/n0\)\+\(ss1-s1\*s1/n1\)"),
    re.compile(r'\(F\.col\("ss0"\)-F\.col\("s0"\)\*F\.col\("s0"\)/F\.col\("n0"\)\)\+\(F\.col\("ss1"\)'),
]


def pooled_sd_spellings(src: str) -> list[int]:
    """Offsets, in the source stripped of whitespace, of each spelling of
    the pooled arm variance."""
    flat = re.sub(r"\s+", "", src)
    return sorted(m.start() for p in _POOLED for m in p.finditer(flat))


def _spellings(find) -> dict[str, list[int]]:
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        lines = find(path.read_text())
        if lines:
            found[path.relative_to(PKG.parent).as_posix()] = lines
    return found


def test_stopwords_are_spelled_once():
    found = _spellings(stopword_spellings)
    home = STOP_HOME.relative_to(PKG.parent).as_posix()
    assert found == {home: found.get(home)} and len(found[home]) == 1, (
        "use datapipe.text.stop_ratio / sql_stop_ratio instead of listing "
        f"the stopwords again: {found}"
    )


def test_ab_arm_is_spelled_once_per_engine():
    found = _spellings(arm_spellings)
    home = ARM_HOME.relative_to(PKG.parent).as_posix()
    assert found == {home: found.get(home)} and len(found[home]) == 2, (
        "use catalog_stats.ab_arm / SQL_AB_ARM instead of hashing user_id "
        f"again: {found}"
    )


def test_daily_revenue_is_spelled_once_per_engine():
    found = _spellings(daily_revenue_spellings)
    home = REVENUE_HOME.relative_to(PKG.parent).as_posix()
    assert found == {home: found.get(home)} and len(found[home]) == 2, (
        "read catalog._daily_revenue / _SQL_DAILY_REVENUE instead of summing "
        f"the day's revenue again: {found}"
    )


def test_pooled_sd_is_spelled_once_per_engine():
    found = _spellings(pooled_sd_spellings)
    home = ARM_HOME.relative_to(PKG.parent).as_posix()
    assert found == {home: found.get(home)} and len(found[home]) == 2, (
        "use catalog_stats._ab_pooled_sd / _SQL_AB_POOLED_SD instead of "
        f"pooling the arm variances again: {found}"
    )


def test_guards_detect_each_spelling():
    for code in [
        '_STOP = ("the", "a", "of", "and", "is")',
        "x = \"len(list_filter(t, w -> w IN ('the','a','of','and','is')))\"",
        'F.filter(ts, lambda t: t.isin("the", "a", "of", "and", "is"))',
    ]:
        assert stopword_spellings(code), code
    assert not stopword_spellings('LANG = ("the", "and", "of", "to", "is", "a", "in", "that")')
    for code in [
        'F.pmod(hash60(F.col("user_id").cast("string"), seed=7), F.lit(2))',
        "arm = f\"({sql_hash60('user_id::VARCHAR', seed=_SEED)} % 2)\"",
        'dp.hash60(F.col("user_id").cast("string"), seed=AB_SEED)',
    ]:
        assert arm_spellings(code), code
    for code in [
        'hash60(F.col("user_id").cast("string"))',  # the unseeded HLL hash
        "sql_hash60('doc_id::VARCHAR', seed=7)",
    ]:
        assert not arm_spellings(code), code
    sql_day = "sum({sql_qlong('l_extendedprice * (1.0 - l_discount)', CENTS)}) FROM lineitem"
    for code in [
        'def f():\n    return li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(\n'
        '        F.sum(qlong(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), CENTS)))',
        'def f():\n    return li.groupBy(F.col("l_shipdate").cast("date")).agg(\n'
        '        F.sum(qlong(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS)))',
        f'X = f"""SELECT date_trunc(\'day\', l_shipdate) AS d, {sql_day} GROUP BY 1"""',
        f'X = f"""SELECT CAST(l_shipdate AS DATE) AS x, {sql_day} GROUP BY 1"""',
    ]:
        assert daily_revenue_spellings(code), code
    for code in [
        f'X = f"""SELECT date_trunc(\'month\', l_shipdate) AS m, {sql_day} GROUP BY 1"""',
        'def f():\n    return _daily_revenue(spark, sf_dir).select("d", F.col("rev").alias("x"))',
    ]:
        assert not daily_revenue_spellings(code), code
    for code in [
        'sp = "sqrt(((ss0 - s0 * s0 / n0) + (ss1 - s1 * s1 / n1)) / (n0 + n1 - 2.0))"',
        'sp = F.sqrt(((F.col("ss0") - F.col("s0") * F.col("s0") / F.col("n0"))\n'
        '    + (F.col("ss1") - F.col("s1") * F.col("s1") / F.col("n1"))) / 2)',
    ]:
        assert pooled_sd_spellings(code), code
    assert not pooled_sd_spellings('se = "sqrt((ss0 - s0 * s0 / n0) / (n0 - 1) / n0"')


_TEXTS = [
    "The cat and the dog",
    "a tale of two cities is a book",
    "  Der Hund ist  müde  ",
    "THE A OF AND IS",
    "theory anode offer",
    "one",
]


def test_stop_ratio_matches_sql_stop_ratio(spark):
    df = spark.createDataFrame(list(enumerate(_TEXTS)), "i int, text string")
    got = {
        r["i"]: r["r"]
        for r in df.select("i", stop_ratio(tokens("text")).alias("r")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(_TEXTS)))
    sql = f"SELECT i, {sql_stop_ratio(sql_tokens('text'))} FROM d"
    want = dict(con.execute(sql).fetchall())
    assert got == want
    assert got[0] == 3 / 5 and got[3] == 1.0 and got[4] == 0.0


def test_ab_arm_matches_sql_ab_arm(spark):
    users = list(range(-3, 200)) + [2**40 + 7]
    df = spark.createDataFrame([(u,) for u in users], "user_id long")
    got = {r["user_id"]: r["arm"] for r in df.select("user_id", ab_arm().alias("arm")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE e (user_id BIGINT)")
    con.executemany("INSERT INTO e VALUES (?)", [(u,) for u in users])
    want = dict(con.execute(f"SELECT user_id, {SQL_AB_ARM} FROM e").fetchall())
    assert got == want
    assert set(got.values()) == {0, 1} and AB_SEED == 7
    assert 80 < sum(got.values()) < 124  # both arms hold users


@pytest.mark.parametrize("module", sorted(p.stem for p in PKG.glob("catalog*.py")))
def test_catalog_module_imports_first(module):
    # No catalog module imports a sibling, so each one can be the first
    # import of a fresh interpreter.
    r = subprocess.run(
        [sys.executable, "-c", f"import markt_database_analyzer_spark.{module}"],
        cwd=PKG.parent,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]


def test_daily_revenue_matches_sql_daily_revenue(spark, tmp_path):
    rows = [
        ("2024-03-01 00:00:00", 19.995, 0.0),  # half-cent ties
        ("2024-03-01 23:59:59", 2.675, 0.0),
        ("2024-03-01 12:00:00", 100.0, 0.05),
        ("2024-03-02 00:00:00", 1.005, 0.5),
        ("2024-03-02 08:30:00", 10.0, 0.07),
        ("2024-03-03 00:00:01", 45_000.0, 0.1),
    ]
    df = spark.createDataFrame(rows, "s string, l_extendedprice double, l_discount double")
    li = df.select(F.to_timestamp("s").alias("l_shipdate"), "l_extendedprice", "l_discount")
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {str(r["d"].date()): r["rev"] for r in _daily_revenue(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet/*.parquet'")
    want = {str(d): rev for d, rev in con.execute(_SQL_DAILY_REVENUE).fetchall()}
    assert got == want
    assert got["2024-03-03"] == 4_050_000 and len(got) == 3


def test_ab_pooled_sd_matches_sql_ab_pooled_sd(spark):
    cols = ["n0", "n1", "s0", "s1", "ss0", "ss1"]
    moments = [(40.0, 55.0, 1.2e9, 1.9e9, 4.1e16, 7.7e16), (2.0, 3.0, 10.0, 25.0, 60.0, 225.0)]
    df = spark.createDataFrame(moments, ", ".join(f"{c} double" for c in cols))
    got = [r["sp"] for r in df.select(_ab_pooled_sd().alias("sp")).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE g ({', '.join(f'{c} DOUBLE' for c in cols)})")
    con.executemany("INSERT INTO g VALUES (?, ?, ?, ?, ?, ?)", moments)
    want = [r[0] for r in con.execute(f"SELECT {_SQL_AB_POOLED_SD} FROM g").fetchall()]
    assert got == want
    assert abs(got[1] - ((60.0 - 50.0 + 225.0 - 625.0 / 3.0) / 3.0) ** 0.5) < 1e-12

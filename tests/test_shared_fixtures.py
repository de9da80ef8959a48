"""Shared catalog fixtures have one home per engine.

Several catalog entries score or split the same data on purpose, and each
entry matches its DuckDB oracle only because both engines spell the shared
decision identically. So each decision is written once, as a Spark
expression and its SQL twin:

- the English stopword-ratio classifier: ``datapipe.text.EN_STOPWORDS``,
  ``stop_ratio`` and ``sql_stop_ratio``;
- the seed-7 A/B split of users: ``catalog_stats.AB_SEED``, ``ab_arm``
  and ``SQL_AB_ARM``.

These tests pin each twin to the other and fail on a second spelling.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duckdb

import markt_database_analyzer_spark.catalog  # noqa: F401  (catalog_stats imports only after it)
from markt_database_analyzer_spark.catalog_stats import AB_SEED, SQL_AB_ARM, ab_arm
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

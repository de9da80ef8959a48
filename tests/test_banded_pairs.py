"""The banded-LSH candidate stage has one home per engine.

MinHash, SimHash and SRP each turn band rows into candidate pairs: the
distinct ``(id_a, id_b)``, ``id_a < id_b``, that share a
``(band_id, band_key)``. That self-join is written once per engine, as
``datapipe.util.banded_pairs`` and its SQL twin ``sql_banded_pairs``
(the ``cand`` CTE of every LSH oracle), and the MinHash signature and
band CTEs once, in ``datapipe.dedup.sql_minhash_ctes``.

These tests pin the twin to itself and fail on a second spelling: a
Spark join on band (or chunk) equality plus ``a.<id> < b.<id>``, a SQL
``ON a.band_id = b.band_id``, a document self-join ``a.doc_id <
b.doc_id`` that is not allowlisted below, or a second MinHash
``list_min(list_transform(sh, ...))`` signature.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duckdb

from markt_database_analyzer_spark.datapipe.util import banded_pairs, sql_banded_pairs

PKG = Path(__file__).resolve().parent.parent / "markt_database_analyzer_spark"
TWIN_HOME = "markt_database_analyzer_spark/datapipe/util.py"
SIG_HOME = "markt_database_analyzer_spark/datapipe/dedup.py"

# Document self-joins that are not banded: each pairs documents on
# purpose, so the guard lets exactly these through.
ALLOWED = {
    (
        "markt_database_analyzer_spark/catalog_datapipe.py",
        "ON a.tok = b.tok AND a.doc_id < b.doc_id",
    ): "token inverted index: pairs share a token, not an LSH band",
    (
        "markt_database_analyzer_spark/catalog_ext.py",
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id",
    ): "SimHash brute-force oracle: the all-pairs sweep the banded Spark side must equal",
    (
        "markt_database_analyzer_spark/catalog_ext.py",
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id",
    ): "all-pairs n-gram Jaccard oracle on a 60-doc sample, no banding by definition",
    (
        "markt_database_analyzer_spark/catalog_ext.py",
        'a.join(b, F.col("a.doc") < F.col("b.doc"))',
    ): "all-pairs n-gram Jaccard on a 60-doc sample, no banding by definition",
}

_SQL_BAND = re.compile(r"\ba\.band_id\s*=\s*b\.band_id\b")
_SQL_DOC_LT = re.compile(r"\ba\.doc_id\s*<\s*b\.doc_id\b")
_SPARK_LT = re.compile(r'F\.col\("a\.(\w+)"\)\s*<\s*F\.col\("b\.\1"\)')
_SPARK_BAND_EQ = re.compile(r'F\.col\("a\.(\w*(?:band|chunk)\w*)"\)\s*==\s*F\.col\("b\.\1"\)')
_MINHASH_SIG = re.compile(r"list_min\(\s*list_transform\(")


def banded_join_spellings(src: str) -> list[tuple[int, str]]:
    """``(line, text)`` of each hand-written candidate self-join: a SQL
    line with ``a.band_id = b.band_id`` or ``a.doc_id < b.doc_id``, or a
    Spark ``.join`` on ``a.<id> < b.<id>`` that also equates a band or
    chunk column, or whose id is a document id."""
    hits = []
    for i, line in enumerate(src.splitlines(), 1):
        if _SQL_BAND.search(line) or _SQL_DOC_LT.search(line):
            hits.append((i, line.strip()))
    for n in ast.walk(ast.parse(src)):
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "join"):
            continue
        seg = " ".join(ast.get_source_segment(src, n).split())
        lt = _SPARK_LT.search(seg)
        if lt and (_SPARK_BAND_EQ.search(seg) or lt.group(1) in ("doc", "doc_id")):
            hits.append((n.lineno, seg))
    return hits


def minhash_sig_spellings(src: str) -> list[int]:
    """Lines that spell a MinHash signature component in SQL."""
    return [src.count("\n", 0, m.start()) + 1 for m in _MINHASH_SIG.finditer(src)]


def _scan(find) -> dict[str, list]:
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        hits = find(path.read_text())
        if hits:
            found[path.relative_to(PKG.parent).as_posix()] = hits
    return found


def test_banded_join_is_spelled_once_per_engine():
    found = _scan(banded_join_spellings)
    allowed = {key: [] for key in ALLOWED}
    stray = {}
    for path, hits in found.items():
        for line, text in hits:
            if (path, text) in allowed:
                allowed[path, text].append(line)
            else:
                stray.setdefault(path, []).append((line, text))
    home = stray.pop(TWIN_HOME, [])
    assert not stray, (
        "build candidate pairs with datapipe.util.banded_pairs / sql_banded_pairs "
        f"instead of a hand-written self-join: {stray}"
    )
    assert len(home) == 2, f"one Spark and one SQL spelling in {TWIN_HOME}: {home}"
    stale = [key for key, lines in allowed.items() if len(lines) != 1]
    assert not stale, f"allowlisted joins missing or repeated: {stale}"


def test_minhash_signature_is_spelled_once():
    found = _scan(minhash_sig_spellings)
    assert list(found) == [SIG_HOME] and len(found[SIG_HOME]) == 1, (
        "render MinHash signatures with datapipe.dedup.sql_minhash_ctes "
        f"instead of spelling them again: {found}"
    )
    src = (PKG.parent / SIG_HOME).read_text()
    (fn,) = [
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "sql_minhash_ctes"
    ]
    assert fn.lineno <= found[SIG_HOME][0] <= fn.end_lineno


def test_guards_detect_each_spelling():
    for code in [
        # the MinHash, SimHash and SRP joins the twin replaced
        'p = a.join(\n    b,\n    (F.col("a.band_id") == F.col("b.band_id"))\n'
        '    & (F.col("a.band_hash") == F.col("b.band_hash"))\n'
        '    & (F.col("a.doc") < F.col("b.doc")),\n)',
        'p = a.join(b, (F.col("a.chunk_id") == F.col("b.chunk_id"))\n'
        '    & (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.doc") < F.col("b.doc")))',
        'p = codes.alias("a").join(codes.alias("b"), (F.col("a.band_id") == F.col("b.band_id"))\n'
        '    & (F.col("a.band_code") == F.col("b.band_code")) & (F.col("a.vid") < F.col("b.vid")))',
        'p = a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))',
        'X = """\n  FROM bands a JOIN bands b\n'
        '    ON a.band_id = b.band_id AND a.band_code = b.band_code AND a.vid < b.vid\n"""',
        'X = """FROM sh a JOIN sh b ON a.doc_id < b.doc_id"""',
    ]:
        assert banded_join_spellings(code), code
    for code in [
        # cell-blocked and basket self-joins are not LSH bands
        'p = a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")))',
        'X = """FROM items a JOIN items b ON a.o = b.o AND a.p < b.p"""',
        'X = """FROM idx a JOIN idx b ON a.fph = b.fph AND a.wid < b.wid"""',
        'p = a.join(b, F.col("id_a") < F.col("id_b"))',
        "p = banded_pairs(sig)",
    ]:
        assert not banded_join_spellings(code), code
    assert minhash_sig_spellings(
        "mins = f\"list_min(list_transform(sh, s -> {dd.sql_km_hash('s', i)})) AS m{i}\""
    )
    assert not minhash_sig_spellings('x = "list_min(vec)"')


# (id, band_id, band_key): ids 1 and 2 collide in bands 0 and 1; id 3
# joins them in band 0; id 4 repeats within band 2 (once with key 31,
# which it shares with id 5); key 10 in band 3 pairs with nothing in
# band 0; id 6 is alone.
_BANDS = [
    (1, 0, 10), (2, 0, 10), (3, 0, 10),
    (1, 1, 20), (2, 1, 20),
    (4, 2, 30), (4, 2, 30), (4, 2, 31), (5, 2, 31),
    (7, 3, 10), (6, 3, 40),
]
_PAIRS = [(1, 2), (1, 3), (2, 3), (4, 5)]


def test_banded_pairs_matches_sql_banded_pairs(spark):
    df = spark.createDataFrame(_BANDS, "id long, band_id int, band_key long")
    got = sorted((r["id_a"], r["id_b"]) for r in banded_pairs(df).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE b (id BIGINT, band_id INTEGER, band_key BIGINT)")
    con.executemany("INSERT INTO b VALUES (?, ?, ?)", _BANDS)
    want = sorted(con.execute(sql_banded_pairs("b")).fetchall())
    assert got == want == _PAIRS


def test_banded_pairs_carries_extra_columns(spark):
    rows = [(i, b, k, i * 100) for i, b, k in _BANDS]
    df = spark.createDataFrame(rows, "id long, band_id int, band_key long, sig long")
    out = banded_pairs(df)
    assert out.columns == ["id_a", "id_b", "sig_a", "sig_b"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(a, b, a * 100, b * 100) for a, b in _PAIRS]

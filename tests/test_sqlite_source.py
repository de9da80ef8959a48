"""S3: real SQLite ingest (the reference's native source, analyse.py:8,12-15).

Builds a genuine ``monitoring.db`` from the fixture generator, reads it
back through ``read_sqlite`` (a driver-side stdlib ``sqlite3`` read turned
into Arrow column batches), and round-trips Analysis C — the result
must be row-identical to the same analysis over directly-constructed
fixture frames. Crafted files pin the type rule: STRING columns take
``str()`` of any SQLite value, other columns refuse a value their
declared type does not hold instead of truncating it.
"""

from __future__ import annotations

import sqlite3

import pandas as pd
import pytest
from pyspark.sql import types as T

from markt_database_analyzer_spark.plans import views_gained_by_city
from markt_database_analyzer_spark.sources.fixtures import write_sqlite_fixture
from markt_database_analyzer_spark.sources.readers import (
    MONITOR_RECORDS_SCHEMA,
    PROFILES_SCHEMA,
    read_sqlite,
)


def test_sqlite_roundtrip_analysis_c(spark, fixtures, tmp_path):
    db = str(tmp_path / "monitoring.db")
    write_sqlite_fixture(db)

    mon = read_sqlite(spark, db, "monitor_records", schema=MONITOR_RECORDS_SCHEMA)
    prof = read_sqlite(spark, db, "profiles", schema=PROFILES_SCHEMA)

    assert [f.name for f in mon.schema.fields] == [
        f.name for f in MONITOR_RECORDS_SCHEMA.fields
    ]

    got = views_gained_by_city(mon, prof).toPandas()
    fmon, fprof = fixtures
    want = views_gained_by_city(fmon, fprof).toPandas()
    pd.testing.assert_frame_equal(got, want)


def test_sqlite_projection_pushdown(spark, tmp_path):
    db = str(tmp_path / "mini.db")
    write_sqlite_fixture(db, n_ads=10)
    df = read_sqlite(
        spark, db, "profiles", schema=PROFILES_SCHEMA, columns=["ad_unique_id", "city"]
    )
    assert df.columns == ["ad_unique_id", "city"]
    assert df.count() > 0


def test_sqlite_fallback_requires_schema(spark, tmp_path):
    db = str(tmp_path / "mini2.db")
    write_sqlite_fixture(db, n_ads=2)
    with pytest.raises(RuntimeError, match="explicit schema"):
        read_sqlite(spark, db, "profiles")


PUSHES = T.StructType(
    [T.StructField("push_counter", T.IntegerType()), T.StructField("raw", T.StringType())]
)


def _crafted_db(tmp_path, rows) -> str:
    """A one-table file whose ``raw`` column has no declared SQLite type, so
    every value keeps its storage class (INTEGER, REAL, BLOB, NULL, TEXT)."""
    db = str(tmp_path / "crafted.db")
    con = sqlite3.connect(db)
    try:
        con.execute("CREATE TABLE pushes (push_counter INTEGER, raw)")
        con.executemany("INSERT INTO pushes VALUES (?, ?)", rows)
        con.commit()
    finally:
        con.close()
    return db


def test_real_in_an_integer_column_raises(spark, tmp_path):
    db = _crafted_db(tmp_path, [(1, "a"), (3.5, "b")])
    with pytest.raises(TypeError, match="push_counter.*3.5"):
        read_sqlite(spark, db, "pushes", schema=PUSHES)


def test_int_outside_the_declared_range_raises(spark, tmp_path):
    db = _crafted_db(tmp_path, [(1, "a"), (2**40, "b")])
    with pytest.raises(ValueError, match="push_counter"):
        read_sqlite(spark, db, "pushes", schema=PUSHES)


def test_string_column_takes_str_of_every_sqlite_value(spark, tmp_path):
    db = _crafted_db(tmp_path, [(1, 5), (2, 2.5), (3, b"hi"), (4, None), (5, 1e20)])
    got = read_sqlite(spark, db, "pushes", schema=PUSHES).collect()
    assert [tuple(r) for r in got] == [
        (1, "5"), (2, "2.5"), (3, "b'hi'"), (4, None), (5, "1e+20")
    ]


def test_empty_table_keeps_the_declared_schema(spark, tmp_path):
    df = read_sqlite(spark, _crafted_db(tmp_path, []), "pushes", schema=PUSHES)
    assert df.schema == PUSHES
    assert df.count() == 0


def test_read_does_not_depend_on_the_arrow_conf(spark, tmp_path):
    db = _crafted_db(tmp_path, [(1, 5), (2, None)])
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = read_sqlite(spark, db, "pushes", schema=PUSHES).collect()
    finally:
        spark.conf.set(key, before)
    assert [tuple(r) for r in got] == [(1, "5"), (2, None)]


def test_read_starts_no_python_worker(spark, tmp_path):
    db = _crafted_db(tmp_path, [(1, "a")])
    df = read_sqlite(spark, db, "pushes", schema=PUSHES)
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


@pytest.mark.parametrize(
    "table, schema",
    [("monitor_records", MONITOR_RECORDS_SCHEMA), ("profiles", PROFILES_SCHEMA)],
)
def test_fixture_reads_back_cell_for_cell(spark, tmp_path, table, schema):
    db = str(tmp_path / "monitoring.db")
    write_sqlite_fixture(db, n_ads=600)
    con = sqlite3.connect(db)
    try:
        want = con.execute(f"SELECT * FROM {table}").fetchall()
    finally:
        con.close()
    strings = [isinstance(f.dataType, T.StringType) for f in schema.fields]
    want = [
        tuple(str(v) if s and v is not None else v for v, s in zip(r, strings)) for r in want
    ]
    got = [tuple(r) for r in read_sqlite(spark, db, table, schema=schema).collect()]
    assert len(got) == len(want) > 0
    assert got == want


def test_null_in_a_non_nullable_column_raises(spark, tmp_path):
    db = _crafted_db(tmp_path, [(1, "a"), (None, "b")])
    strict = T.StructType([T.StructField("push_counter", T.IntegerType(), False), PUSHES["raw"]])
    with pytest.raises(ValueError, match="push_counter"):
        read_sqlite(spark, db, "pushes", schema=strict)

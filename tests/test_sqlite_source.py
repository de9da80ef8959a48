"""S3: real SQLite ingest (the reference's native source, analyse.py:8,12-15).

Builds a genuine ``monitoring.db`` from the fixture generator, reads it
back through ``read_sqlite`` (a driver-side stdlib ``sqlite3`` read), and
round-trips Analysis C — the result
must be row-identical to the same analysis over directly-constructed
fixture frames.
"""

from __future__ import annotations

import pandas as pd

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
    import pytest

    with pytest.raises(RuntimeError, match="explicit schema"):
        read_sqlite(spark, db, "profiles")

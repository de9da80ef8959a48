"""Differential pin-tests: Spark plans vs pandas semantics on shared fixture
rows (SURVEY.md §5.2 item 2 — the pandas-parity gotchas)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from markt_database_analyzer_spark.functions import coerce_numeric
from markt_database_analyzer_spark.plans import (
    initial_rate_by_posting_hour,
    lifetime_view_rate_curve,
    pushes_per_time_bin,
    views_gained_by_city,
)
from markt_database_analyzer_spark.sources import MONITOR_RECORDS_SCHEMA, PROFILES_SCHEMA
from markt_database_analyzer_spark.sources.fixtures import generate_rows

from . import pandas_semantics as ref


@pytest.fixture(scope="module")
def rows():
    return generate_rows(n_ads=120, seed=7)


def assert_frames_close(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], float_cols: list[str]):
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    for k in keys:
        assert got[k].astype(str).tolist() == want[k].astype(str).tolist(), f"key col {k} differs"
    for c in float_cols:
        g = got[c].astype(float).to_numpy()
        w = want[c].astype(float).to_numpy()
        both_nan = np.isnan(g) & np.isnan(w)
        close = np.isclose(g, w, rtol=1e-9, atol=1e-9) | both_nan
        assert close.all(), f"col {c} mismatch at rows {np.where(~close)[0][:10]}: {g[~close][:5]} vs {w[~close][:5]}"


def test_analysis_a_parity(fixtures, rows):
    mon, prof = fixtures
    got = lifetime_view_rate_curve(mon, prof).toPandas()
    want = ref.analysis_a(*rows)
    # Spark spine covers every (segment, bin); pandas observed=False does the
    # same per segment — identical shape expected.
    assert_frames_close(
        got, want, keys=["category", "age_group", "bin"], float_cols=["rate", "smoothed_rate", "time_hours"]
    )


def test_analysis_b1_parity(fixtures, rows):
    mon, prof = fixtures
    got = pushes_per_time_bin(prof).toPandas()
    want = ref.analysis_b1(rows[1])
    assert_frames_close(got, want, keys=["time_bin"], float_cols=["n_pushes"])


def test_analysis_b2_parity(fixtures, rows):
    mon, prof = fixtures
    got = initial_rate_by_posting_hour(mon, prof).toPandas()
    want = ref.analysis_b2(*rows)
    assert_frames_close(
        got, want, keys=["posting_hour"], float_cols=["avg_rate", "smoothed_rate"]
    )


def test_analysis_c_parity(fixtures, rows):
    mon, prof = fixtures
    got = views_gained_by_city(mon, prof).toPandas()
    want = ref.analysis_c(*rows)
    assert_frames_close(got, want, keys=["city"], float_cols=["avg_views_gained", "n_pushes"])


def _curve_parity(spark, monitor, profiles):
    """Run analysis A on hand-written rows; assert pandas parity and
    return the Spark result."""
    mon = spark.createDataFrame(monitor, MONITOR_RECORDS_SCHEMA)
    prof = spark.createDataFrame(profiles, PROFILES_SCHEMA)
    got = lifetime_view_rate_curve(mon, prof).toPandas()
    assert_frames_close(
        got,
        ref.analysis_a(monitor, profiles),
        keys=["category", "age_group", "bin"],
        float_cols=["rate", "smoothed_rate", "time_hours"],
    )
    return got


def _snapshots(*pushes):
    """Monitor rows from (ad, [(age_minutes, views), ...]) pairs."""
    rows = [(ad, age, views) for ad, snaps in pushes for age, views in snaps]
    return [(i, ad, 1, "t", f"{age:.1f}", str(views)) for i, (ad, age, views) in enumerate(rows)]


def _profile(ad, age, category):
    return (ad, 1, age, f"https://x.test/{category}/{ad}", "t", "Kiel")


def test_analysis_a_drops_nan_age(spark):
    # pandas' notnull() drops an age of 'nan' (it coerces to NaN); Spark's
    # try_cast also gives NaN, which isNotNull keeps and which sorts above
    # 26, so without the NaN drop the ad lands in a phantom 26+ segment.
    monitor = _snapshots(("ad_a", [(0, 0), (10, 20)]), ("ad_b", [(0, 5), (12, 30)]))
    profiles = [_profile("ad_a", "30", "sexbilder-sexvideos"), _profile("ad_b", "nan", "sexchat")]
    got = _curve_parity(spark, monitor, profiles)
    assert set(zip(got["category"], got["age_group"])) == {("sexbilder-sexvideos", "26+")}


def test_coerce_numeric_matches_pandas_on_java_suffixes(spark):
    # try_cast reads numbers with Java's grammar, which takes a float-type
    # suffix; pandas' to_numeric rejects '1d', so both must give null/NaN.
    # 'inf', '-inf' and 'nan' end in the same letters and keep their values.
    values = ["1d", "1f", "1.5D", "2F", "1e5d", ".5f", "1d ", "inf", "-inf", "nan", "INF",
              "Infinity", "1e1", " 7 ", "3.5", "-2"]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, s string")
    got = [r["v"] for r in df.select("i", coerce_numeric("s").alias("v")).orderBy("i").collect()]
    want = pd.to_numeric(pd.Series(values, dtype=object), errors="coerce").tolist()
    for v, g, w in zip(values, got, want):
        assert (g is None or np.isnan(g)) if np.isnan(w) else g == w, (v, g, w)
    assert got[:7] == [None] * 7 and np.isnan(got[values.index("nan")])


def test_coerce_numeric_matches_pandas_on_overflow(spark):
    # A number past the double range reads as ±inf in Java's grammar but
    # as NaN in pandas, as does a padded ' inf '; only the bare spellings
    # of infinity keep their value.
    values = ["1e400", "-1e400", "1.8e308", "-1.8e308", " inf ", "infinity ", "inf", "-inf",
              "+inf", "INF", "Infinity", "-Infinity", "1e308", "-1.7e308", " 7 "]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, s string")
    got = [r["v"] for r in df.select("i", coerce_numeric("s").alias("v")).orderBy("i").collect()]
    want = pd.to_numeric(pd.Series(values, dtype=object), errors="coerce").tolist()
    for v, g, w in zip(values, got, want):
        assert g is None if np.isnan(w) else g == w, (v, g, w)
    assert got[:6] == [None] * 6 and got[6:12] == [np.inf, -np.inf, np.inf, np.inf, np.inf, -np.inf]


def test_analysis_a_rescrapes_in_two_segments_take_deltas_apart(spark):
    # Two scrapes of one push disagree on age and URL, so its snapshots
    # join into two segments. Each segment takes its own deltas; lag()
    # over the push alone paired snapshots across the segments.
    monitor = _snapshots(("ad_a", [(0, 10), (30, 40), (90, 100)]))
    profiles = [_profile("ad_a", "19", "sexchat"), _profile("ad_a", "22", "sexbilder-sexvideos")]
    got = _curve_parity(spark, monitor, profiles)
    assert got["rate"].notna().sum() == 4  # two deltas in each segment


def test_analysis_a_keeps_a_segment_without_rates(spark):
    # A segment whose pushes have one snapshot each has no rate, but
    # pandas still draws its all-empty curve.
    monitor = _snapshots(("ad_a", [(0, 10), (30, 40)]), ("ad_b", [(5, 3)]))
    profiles = [_profile("ad_a", "30", "sexchat"), _profile("ad_b", "19", "sexchat")]
    got = _curve_parity(spark, monitor, profiles)
    assert set(got["age_group"]) == {"18-19", "26+"}

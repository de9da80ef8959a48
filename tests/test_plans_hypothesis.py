"""Property-based parity: the four Spark plans against the pandas
re-execution of the reference (``tests/pandas_semantics.py``) on
generated dirty ``monitor_records`` / ``profiles`` rows.

The fixed-seed fixture in ``test_plans_parity.py`` covers each kind of dirt
once; here hypothesis mixes them freely: blank and missing strings,
``'nan'`` / ``'inf'`` / garbage numbers, re-scraped profiles that disagree,
same-age snapshots, decreasing view counters and unparseable timestamps.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import ArithmeticException

from markt_database_analyzer_spark.plans import (
    initial_rate_by_posting_hour,
    lifetime_view_rate_curve,
    pushes_per_time_bin,
    views_gained_by_city,
)
from markt_database_analyzer_spark.sources import MONITOR_RECORDS_SCHEMA, PROFILES_SCHEMA

from . import pandas_semantics as ref
from .test_plans_parity import assert_frames_close

# Left out on purpose, as an open divergence between Spark's coercions and
# pandas': timestamps outside the fixture's 'YYYY-MM-DD HH:MM:SS' form
# (ISO 'T', date-only, UTC offsets), which pandas' inferred format rejects.
GARBAGE_NUMBERS = [
    "", None, "nan", "inf", "-inf", "??", "n/a", "1,5", " 7 ", "1d", "1f", "1.5D", "2F",
    "1e400", "-1e400", "1.8e308", " inf ",
]

ages = st.one_of(
    st.integers(16, 60).map(str),
    st.sampled_from(["18", "19", "20", "25", "26", "17", "3.5", "1e1"] + GARBAGE_NUMBERS),
)
urls = st.sampled_from(
    [f"https://x.test/{c}/a" for c in ("SexBilder-SexVideos", "sexchat", "SEXCHAT", "misc")] + [None]
)
timestamps = st.one_of(
    st.builds(
        "2024-03-{:02d} {:02d}:{:02d}:{:02d}".format,
        st.integers(1, 28),
        st.integers(0, 23),
        st.integers(0, 59),
        st.integers(0, 59),
    ),
    st.sampled_from(["not-a-time", "", None, "2024-02-30 10:00:00", "2024-03-01 25:00:00"]),
)
cities = st.sampled_from(["Berlin", " Kiel ", "Kiel", "Bremen", "", "  ", None])
# A small pool of ages makes same-age snapshots and exact threshold hits
# (40, 119, 400 minutes) common.
snapshot_ages = st.one_of(
    st.sampled_from([0, 5, 10, 40, 41, 60, 119, 120, 400, 401, 1439, 1440, 1500]).map(str),
    st.floats(0, 1500, allow_nan=False).map("{:.1f}".format),
    st.sampled_from(GARBAGE_NUMBERS),
)
views = st.one_of(st.integers(0, 300).map(str), st.sampled_from(GARBAGE_NUMBERS))

pushes = st.tuples(
    st.sampled_from(["ad_0", "ad_1", "ad_2", "ad_3", "ad_4"]),
    st.sampled_from([1, 2]),
    st.lists(st.tuples(ages, urls, timestamps, cities), min_size=0, max_size=2),  # scrapes
    st.lists(st.tuples(timestamps, snapshot_ages, views), min_size=0, max_size=6),  # snapshots
)


def _rows(draw_pushes):
    monitor, profiles = [], []
    for ad, push, scrapes, snapshots in draw_pushes:
        for age, url, posting_time, city in scrapes:
            profiles.append((ad, push, age, url, posting_time, city))
        for track_time, age_min, n_views in snapshots:
            monitor.append((len(monitor), ad, push, track_time, age_min, n_views))
    return monitor, profiles


def _oracle(fn, *args, empty, **kwargs):
    """The pandas re-execution raises instead of returning an empty frame
    when no push survives cleaning; the Spark plan must then be empty."""
    try:
        return fn(*args, **kwargs)
    except (KeyError, ValueError) as e:
        if "posting_hour" in str(e) or "city" in str(e) or "No objects to concatenate" in str(e):
            return empty
        raise


def _has_infinite_counter(monitor_rows) -> bool:
    raw = pd.Series([v for row in monitor_rows for v in row[4:6]], dtype=object)
    return bool(np.isinf(pd.to_numeric(raw, errors="coerce")).any())


def _check(plan, oracle, keys, float_cols, may_refuse=False):
    """Spark must give pandas' answer. The one allowed difference: an
    ``'inf'`` age or view count makes a rate or gain infinite (or NaN as
    inf - inf), which pandas carries into its means while the engine's
    exact ``davg`` refuses it with an ANSI ArithmeticException. A loud
    refusal is fine; a different number is not."""
    try:
        got = plan().toPandas()
    except ArithmeticException:
        assert may_refuse
        return
    assert_frames_close(got, oracle(), keys=keys, float_cols=float_cols)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(draw_pushes=st.lists(pushes, min_size=1, max_size=12), min_ads=st.integers(1, 3))
def test_plans_match_pandas_on_dirty_rows(spark, draw_pushes, min_ads):
    m, p = _rows(draw_pushes)
    mon = spark.createDataFrame(m, MONITOR_RECORDS_SCHEMA)
    prof = spark.createDataFrame(p, PROFILES_SCHEMA)
    inf = _has_infinite_counter(m)

    curve = ["category", "age_group", "bin", "rate", "smoothed_rate", "time_hours"]
    _check(
        lambda: lifetime_view_rate_curve(mon, prof),
        lambda: _oracle(ref.analysis_a, m, p, empty=pd.DataFrame(columns=curve)),
        curve[:3],
        curve[3:],
        may_refuse=inf,
    )
    _check(lambda: pushes_per_time_bin(prof), lambda: ref.analysis_b1(p), ["time_bin"], ["n_pushes"])
    hours = pd.DataFrame({"posting_hour": range(24), "avg_rate": 0.0, "smoothed_rate": 0.0})
    _check(
        lambda: initial_rate_by_posting_hour(mon, prof),
        lambda: _oracle(ref.analysis_b2, m, p, empty=hours),
        ["posting_hour"],
        ["avg_rate", "smoothed_rate"],
        may_refuse=inf,
    )
    city = ["city", "avg_views_gained", "n_pushes"]
    _check(
        lambda: views_gained_by_city(mon, prof, min_ads_per_city=min_ads),
        lambda: _oracle(ref.analysis_c, m, p, min_ads=min_ads, empty=pd.DataFrame(columns=city)),
        city[:1],
        city[1:],
        may_refuse=inf,
    )

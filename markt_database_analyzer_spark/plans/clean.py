"""The cleaning step the paper's analyses share (analyse.py:29,175-194,
235-240,386-388).

Every analysis keys a push by ``(ad_unique_id, push_counter)`` and coerces
the dirty ``monitor_records`` TEXT columns the same way; B1 and B2 also
share the unique-push table built from ``profiles``. Keeping both here
means the three plans cannot drift apart in how they treat bad rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import coerce_numeric, coerce_timestamp

KEY = ["ad_unique_id", "push_counter"]


def clean_monitor(monitor: DataFrame) -> DataFrame:
    """``pd.to_numeric(errors='coerce')`` on age and views, then ``dropna``
    (analyse.py:183-185,386-388): adds ``ad_age_num`` and ``views_num``.

    ``na.drop`` drops NaN as well as null, so a ``'nan'`` string (which
    ``try_cast`` turns into NaN) goes, as it does in pandas."""
    return monitor.select(
        "*",
        coerce_numeric("ad_age_in_minutes").alias("ad_age_num"),
        coerce_numeric("views").alias("views_num"),
    ).na.drop(subset=["ad_age_num", "views_num"])


def unique_pushes(profiles: DataFrame) -> DataFrame:
    """One ``(ad_unique_id, push_counter, posting_ts)`` row per push: the
    earliest parseable ``posting_time`` of its scrapes (analyse.py:176,
    180,191-194,237). Rows with a missing key or timestamp are dropped."""
    parsed = profiles.select(
        *KEY, coerce_timestamp("posting_time").alias("posting_ts")
    ).na.drop(subset=["posting_ts", *KEY])
    return parsed.groupBy(*KEY).agg(F.min("posting_ts").alias("posting_ts"))

"""Analysis A — lifetime view-rate decay curve (analyse.py:1-135).

For each (content category × poster age group) segment: per-snapshot view
deltas per ad push, converted to views/hour, clipped at 0, binned into
5-minute lifetime bins (right-closed, center labels), averaged per bin, and
smoothed with a centered 5-bin rolling mean.

Architecture vs the reference: the reference runs the whole pipeline once
per (category, age_group) cell in a Python double-loop (analyse.py:99-107).
Here the segment keys are simply part of every groupBy/window partition
(SURVEY.md §2.5 A8) — six eager pandas passes collapse into ONE lazy plan:

    join → filters/case → window lag per push → bin → hash-agg per
    (cat, age_grp, bin) → per-segment bin grid → windowed smoothing

Shuffles: join (broadcast if profiles is small), one agg, one window per
segment — independent of the number of segments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import (
    age_group,
    bin_right_closed_center,
    categorize_by_contains,
    clip_at_zero,
    coerce_numeric,
    davg,
    not_null_or_empty,
    rate_per_hour,
)
from ..operators import centered_rolling_mean, lag_deltas
from .clean import KEY, clean_monitor

CATEGORY_RULES = [
    ("sexbilder-sexvideos", "sexbilder-sexvideos"),
    ("sexchat", "sexchat"),
]
KEPT_CATEGORIES = ["sexbilder-sexvideos", "sexchat"]


def lifetime_view_rate_curve(
    monitor: DataFrame,
    profiles: DataFrame,
    bin_size: float = 5.0,
    smoothing_window: int = 5,
    horizon_minutes: float = 1440.0,
) -> DataFrame:
    """Return one row per (category, age_group, bin) with columns
    ``rate`` (mean views/hour in the bin, null if empty), ``smoothed_rate``,
    ``time_hours`` — the exact curve the reference plots."""
    prof = profiles.select(*KEY, "age", "profile_url")
    df = (
        # J1: profiles is the dim side but profile count scales with the
        # data (one row per ad) — no broadcast hint; AQE broadcasts when
        # the runtime size allows and sort-merges otherwise (r11 audit)
        clean_monitor(monitor)
        .join(prof, on=KEY, how="inner")
        .filter(not_null_or_empty("age"))  # P3 analyse.py:28
        .withColumn("age_numeric", coerce_numeric("age"))  # F8 analyse.py:29
        # P4 analyse.py:30: pandas notnull() drops NaN ('nan' coerces to
        # NaN), and Spark orders NaN above 26 — so drop NaN, not just null
        .na.drop(subset=["age_numeric"])
        .withColumn("age_group", age_group("age_numeric"))  # F3 analyse.py:44
        .filter(F.col("age_group").isNotNull())  # analyse.py:45
        .withColumn(
            "category", categorize_by_contains("profile_url", CATEGORY_RULES)
        )  # F1/F2 analyse.py:49-57
        .filter(F.col("category").isin(KEPT_CATEGORIES))  # P6 analyse.py:58
    )

    # W1: per-push snapshot deltas (analyse.py:67-75). The composite key
    # concat (F4) is unnecessary in Spark — partition by both columns.
    # The segment is part of the partition too: a push whose re-scraped
    # profiles disagree on age or URL joins into two segments, and the
    # reference takes each segment's deltas separately (analyse.py:99-107);
    # without it, lag() would pair snapshots across segments.
    deltas = lag_deltas(
        df,
        partition_keys=["category", "age_group", *KEY],
        order=[F.col("ad_age_num"), F.col("id")],
        cols={"views": "views_num", "time": "ad_age_num"},
        drop_first_row=False,
    )
    # A delta counts when both differences exist (pandas dropna: not null,
    # not NaN) and time moved forward (P7 analyse.py:71-72).
    counts = ~F.isnan("delta_views") & ~F.isnan("delta_time") & (F.col("delta_time") > 0)
    mid_age = F.col("ad_age_num") - F.col("delta_time") / 2  # B4
    # pd.cut out-of-range → NaN → excluded by groupby: a null bin here too
    bin_ = F.when(counts, bin_right_closed_center(mid_age, width=bin_size, hi=horizon_minutes))
    rate = clip_at_zero(rate_per_hour(F.col("delta_views"), F.col("delta_time")))
    binned = (
        deltas.select(
            "category", "age_group", bin_.alias("bin"), F.when(bin_.isNotNull(), rate).alias("rate")
        )
        .groupBy("category", "age_group", "bin")
        .agg(davg("rate").alias("rate"))
    )

    # B3/J4 spine: every (segment, bin) exists; empty bins stay null so the
    # rolling mean skips them (pandas skipna parity, SURVEY §7 hard-#4).
    # Rows whose delta does not count reach the aggregate under a null bin,
    # so a segment with no counted delta still gets its all-null curve, as
    # pandas' per-segment groupby(observed=False) draws it. Laying the grid
    # out from each segment's bin -> rate map keeps the segments in the
    # same plan branch as the rates (a separate spine re-scans the input).
    centers = F.transform(
        F.sequence(F.lit(0), F.lit(int(horizon_minutes / bin_size) - 1)),
        lambda i: (i.cast("double") + 0.5) * bin_size,
    )
    full = (
        binned.groupBy("category", "age_group")
        .agg(
            F.map_from_entries(
                F.collect_list(F.when(F.col("bin").isNotNull(), F.struct("bin", "rate")))
            ).alias("rates")
        )
        .select("category", "age_group", F.explode(centers).alias("bin"), "rates")
        .select("category", "age_group", "bin", F.element_at("rates", F.col("bin")).alias("rate"))
    )

    smoothed = centered_rolling_mean(
        full,
        order_col="bin",
        value_col="rate",
        window=smoothing_window,
        out_col="smoothed_rate",
        partition_keys=["category", "age_group"],
    )
    # a few segments x 288 bins: sorted in one partition, which needs no
    # range-partitioning exchange (nor the sampling job that sizes it)
    return (
        smoothed.withColumn("time_hours", F.col("bin") / 60.0)
        .coalesce(1)
        .orderBy("category", "age_group", "bin")
    )

"""Unit tests for the relational building blocks (SURVEY.md §2.3-§2.6, §2.9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from markt_database_analyzer_spark.functions import (
    blank_to_null,
    categorize_by_contains,
    clip_at_zero,
    coerce_numeric,
    coerce_timestamp,
    contains_ci,
    age_group,
)
from markt_database_analyzer_spark.operators import (
    dedup_keep_first,
    first_last_by_order,
    lag_deltas,
    restrict_to_groups_with_min_count,
    top_k_per_group,
)


def test_coercion_matches_pandas_errors_coerce(spark):
    df = spark.createDataFrame(
        [("1.5",), ("x",), ("",), (None,), ("  7 ",)], "s string"
    )
    got = [r[0] for r in df.select(coerce_numeric("s").alias("v")).collect()]
    assert got == [1.5, None, None, None, 7.0]


def test_timestamp_coercion(spark):
    df = spark.createDataFrame([("2024-03-01 10:00:00",), ("nope",), (None,)], "s string")
    got = [r[0] for r in df.select(coerce_timestamp("s").alias("v")).collect()]
    assert got[0] is not None and got[1] is None and got[2] is None


def test_blank_to_null_trims(spark):
    df = spark.createDataFrame([(" Berlin ",), ("",), ("   ",), (None,)], "c string")
    got = [r[0] for r in df.select(blank_to_null("c").alias("v")).collect()]
    assert got == ["Berlin", None, None, None]


def test_contains_ci_null_safe(spark):
    df = spark.createDataFrame([("A SexChat z",), ("other",), (None,)], "u string")
    got = [r[0] for r in df.select(contains_ci("u", "sexchat").alias("v")).collect()]
    assert got == [True, False, False]


def test_categorize_first_match_wins(spark):
    df = spark.createDataFrame([("has sexbilder-sexvideos and sexchat",)], "u string")
    rules = [("sexbilder-sexvideos", "A"), ("sexchat", "B")]
    assert df.select(categorize_by_contains("u", rules).alias("v")).first()[0] == "A"


def test_age_group_bounds(spark):
    df = spark.createDataFrame([(17.0,), (18.0,), (19.9,), (20.0,), (25.0,), (26.0,), (None,)], "a double")
    got = [r[0] for r in df.select(age_group("a").alias("g")).collect()]
    # 19.9 falls in the gap of the reference's rule (not <=19, not >=20
    # integer-band logic applied to floats) → None, same as analyse.py:34-42.
    assert got == [None, "18-19", None, "20-25", "20-25", "26+", None]


def test_clip_at_zero(spark):
    df = spark.createDataFrame([(-5.0,), (0.0,), (3.5,)], "x double")
    assert [r[0] for r in df.select(clip_at_zero("x").alias("v")).collect()] == [0.0, 0.0, 3.5]


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 5), (2, "c", 1)], "k int, v string, o int"
    )
    got = dedup_keep_first(df, ["k"], [F.col("o")]).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, "b"), (2, "c")]


def test_lag_deltas_first_row_dropped(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 13.0), ("a", 4, 12.0), ("b", 1, 5.0)],
        "k string, t int, v double",
    )
    got = (
        lag_deltas(df, ["k"], [F.col("t")], {"v": "v", "t": F.col("t").cast("double")})
        .orderBy("k", "t")
        .collect()
    )
    assert [(r["k"], r["delta_v"], r["delta_t"]) for r in got] == [
        ("a", 3.0, 1.0),
        ("a", -1.0, 2.0),
    ]


def test_first_last_conditional_windows(spark):
    # C semantics: earliest within <=40, latest within <=400, none beyond.
    df = spark.createDataFrame(
        [
            (1, "p", 10.0, 100.0),
            (1, "p", 35.0, 150.0),
            (1, "p", 300.0, 400.0),
            (1, "p", 500.0, 900.0),  # outside both windows
        ],
        "id long, k string, age double, views double",
    )
    got = first_last_by_order(
        df,
        ["k"],
        order=F.col("age"),
        value=F.col("views"),
        first_cond=F.col("age") <= 40,
        last_cond=F.col("age") <= 400,
        tiebreak=F.col("id"),
    ).first()
    assert got["first_value"] == 100.0 and got["first_order"] == 10.0
    assert got["last_value"] == 400.0 and got["last_order"] == 300.0
    assert got["n_rows"] == 4


def test_first_last_no_qualifying_row_gives_null(spark):
    df = spark.createDataFrame([(1, "p", 90.0, 5.0)], "id long, k string, age double, views double")
    got = first_last_by_order(
        df, ["k"], F.col("age"), F.col("views"), first_cond=F.col("age") <= 40
    ).first()
    assert got["first_value"] is None and got["first_order"] is None


def test_having_semi_join_counts_on_other_frame(spark):
    fact = spark.createDataFrame([("x", 1), ("y", 2)], "city string, v int")
    dim = spark.createDataFrame(
        [("x",)] * 3 + [("y",)] * 1, "city string"
    )
    got = restrict_to_groups_with_min_count(fact, dim, "city", min_count=2).collect()
    assert [r["city"] for r in got] == ["x"]


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g", 1), ("g", 5), ("g", 3), ("h", 9)], "k string, v int"
    )
    got = top_k_per_group(df, ["k"], [F.desc("v")], k=2).orderBy("k", "rank").collect()
    assert [(r["k"], r["v"], r["rank"]) for r in got] == [("g", 5, 1), ("g", 3, 2), ("h", 9, 1)]


def test_asof_join_last_picks_latest_at_or_before(spark):
    from markt_database_analyzer_spark.operators import asof_join_last

    left = spark.createDataFrame(
        [("k1", 10, "o1"), ("k1", 5, "o2"), ("k2", 7, "o3"), ("k3", 1, "o4")],
        "key string, t long, oid string",
    )
    right = spark.createDataFrame(
        [("k1", 5, 100.0, 1), ("k1", 5, 200.0, 2), ("k1", 8, 300.0, 3), ("k2", 9, 400.0, 4)],
        "key string, t long, v double, seq long",
    )
    got = {
        r["oid"]: r["v_asof"]
        for r in asof_join_last(left, right, "key", "t", "t", "v", right_seq="seq").collect()
    }
    # o1@10: latest right <=10 is t=8 -> 300; o2@5: tie at t=5 resolved by
    # seq (latest wins) -> 200; o3@7: right events only at t=9 -> null;
    # o4: no right rows for k3 -> null.
    assert got == {"o1": 300.0, "o2": 200.0, "o3": None, "o4": None}


def test_asof_join_carries_null_values_like_merge_asof(spark):
    """A right row that MATCHES on time but carries a NULL
    value must surface that NULL (pandas merge_asof / DuckDB ASOF
    semantics), not be skipped in favor of an earlier/later non-null
    row. Pinned for both directions."""
    from markt_database_analyzer_spark.operators import (
        asof_join_last,
        asof_join_next,
    )

    left = spark.createDataFrame(
        [("k1", 10, "o1"), ("k1", 3, "o2")], "key string, t long, oid string"
    )
    right = spark.createDataFrame(
        [("k1", 2, 100.0, 1), ("k1", 8, None, 2), ("k1", 20, 300.0, 3)],
        "key string, t long, v double, seq long",
    )
    back = {
        r["oid"]: r["v_asof"]
        for r in asof_join_last(left, right, "key", "t", "t", "v", right_seq="seq").collect()
    }
    # o1@10: latest right <=10 is t=8 whose value IS NULL -> None (NOT 100.0)
    assert back == {"o1": None, "o2": 100.0}
    fwd = {
        r["oid"]: r["v_asof_next"]
        for r in asof_join_next(left, right, "key", "t", "t", "v", right_seq="seq").collect()
    }
    # o2@3: earliest right >=3 is t=8 whose value IS NULL -> None (NOT 300.0)
    assert fwd == {"o1": 300.0, "o2": None}


def test_bucketed_range_join_boundaries(spark):
    from pyspark.sql import functions as F
    from markt_database_analyzer_spark.operators import bucketed_range_join

    left = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00")], "key string, start string"
    ).withColumn("start", F.to_timestamp("start"))
    right = spark.createDataFrame(
        [
            ("u1", "2023-12-31 23:59:59", "before"),
            ("u1", "2024-01-01 00:00:00", "at-start"),      # inclusive
            ("u1", "2024-01-01 12:00:00", "inside"),
            ("u1", "2024-01-02 00:00:00", "at-end"),        # exclusive
            ("u2", "2024-01-01 12:00:00", "other-key"),
        ],
        "key string, t string, tag string",
    ).withColumn("t", F.to_timestamp("t"))
    got = sorted(
        r["tag"]
        for r in bucketed_range_join(
            left, right, "key", "start", "t", F.lit(86400 * 1_000_000)
        ).collect()
    )
    assert got == ["at-start", "inside"]


def test_approx_count_distinct_error_bounded(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 20_000).select((F.col("id") % 5_000).alias("k"))
    row = df.agg(
        F.approx_count_distinct("k").alias("approx"), F.countDistinct("k").alias("exact")
    ).first()
    # default rsd is 5%; assert a loose 10% envelope so the test is stable
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.10


def test_write_partitioned_roundtrip_and_layout(spark, tmp_path):
    import os
    from pyspark.sql import functions as F
    from markt_database_analyzer_spark.sources import write_partitioned

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 3).alias("part"), (F.col("id") * 2.0).alias("v")
    )
    out = str(tmp_path / "parts")
    write_partitioned(df, out, partition_by=["part"], sort_within=["id"])
    # hive-style partition directories exist
    assert sorted(d for d in os.listdir(out) if d.startswith("part=")) == [
        "part=0", "part=1", "part=2",
    ]
    # one shuffle-owned file per partition value, not task-count x values
    for d in ("part=0", "part=1", "part=2"):
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, files
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == sum(i * 2.0 for i in range(1000))
    # and a partition-key filter prunes at PLANNING time: the scan's
    # PartitionFilters carry the predicate and only 1 of 3 directories
    # is read (partitionBy exists FOR this property)
    filtered = back.filter(F.col("part") == 1)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "part" in plan.split("PartitionFilters:")[1][:80]
    assert filtered.count() == sum(1 for i in range(1000) if i % 3 == 1)


def test_read_jsonl_explicit_schema_and_corrupt_lines(spark, tmp_path):
    from pyspark.sql import types as T
    from markt_database_analyzer_spark.sources import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        'not json at all\n'
        '{"doc_id": 2, "text": "zweites dokument"}\n'
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    df = read_jsonl(spark, str(p), schema)
    rows = df.orderBy("doc_id").collect()
    good = [(r["doc_id"], r["text"]) for r in rows if r["_corrupt_record"] is None]
    bad = [r["_corrupt_record"] for r in rows if r["_corrupt_record"] is not None]
    assert good == [(1, "hello world"), (2, "zweites dokument")]
    assert bad == ["not json at all"]


def test_plot_sink_collect_discipline(spark):
    """S5 plot sinks: a frame that is not a small aggregate must be refused
    before it reaches the driver; missing columns fail fast; and without
    matplotlib installed the error is actionable."""
    import pytest
    from pyspark.sql import functions as F
    from markt_database_analyzer_spark.sources import plots

    big = spark.range(0, plots.MAX_PLOT_ROWS + 10).select(
        F.col("id").alias("bin"), F.lit(1.0).alias("smoothed_rate")
    )
    with pytest.raises(ValueError, match="refused"):
        plots.plot_rate_curve(big, "/tmp/never.png")

    small = spark.range(0, 5).select(F.col("id").alias("bin"), F.lit(1.0).alias("rate"))
    with pytest.raises(ValueError, match="missing columns"):
        plots.plot_rate_curve(small, "/tmp/never.png")  # no smoothed_rate col

    ok = small.withColumnRenamed("rate", "smoothed_rate")
    try:
        import matplotlib  # noqa: F401

        has_mpl = True
    except ImportError:
        has_mpl = False
    if not has_mpl:
        with pytest.raises(RuntimeError, match="matplotlib is not installed"):
            plots.plot_rate_curve(ok, "/tmp/never.png", backend="matplotlib")


def test_plot_sinks_render_three_figures(spark, fixtures, tmp_path):
    """S5 end-to-end: the three reference figure shapes
    (analyse.py:109-135, 303-351, 501-513) render to real files from the
    small result frames of the three analyses — via matplotlib when
    installed, the dependency-free SVG backend otherwise."""
    from markt_database_analyzer_spark.plans import (
        initial_rate_by_posting_hour,
        lifetime_view_rate_curve,
        views_gained_by_city,
    )
    from markt_database_analyzer_spark.sources import plots

    mon, prof = fixtures
    p1 = plots.plot_rate_curve(
        lifetime_view_rate_curve(mon, prof), str(tmp_path / "rate_curve.svg"),
        x="time_hours", y="smoothed_rate",
    )
    p2 = plots.plot_dual_axis(
        initial_rate_by_posting_hour(mon, prof), str(tmp_path / "hourly.svg"),
        x="posting_hour", bars="avg_rate", line="smoothed_rate",
    )
    p3 = plots.plot_ranking_barh(
        views_gained_by_city(mon, prof), str(tmp_path / "cities.svg"),
        label="city", value="avg_views_gained",
    )
    for p in (p1, p2, p3):
        with open(p) as f:
            head = f.read(200)
        assert "<svg" in head or head.startswith("\x89PNG") is False
        assert (tmp_path / p.split("/")[-1]).stat().st_size > 500


def test_time_range_frame_includes_peers_and_bounds(spark):
    """RANGE frame semantics pin: rows at the same µs are peers (both in
    frame), rows exactly at the trailing bound are in, one µs past is
    out."""
    from pyspark.sql import Window

    rows = [
        (1, 0, 1.0),
        (1, 0, 2.0),            # peer of row 1 — same ordering value
        (1, 3_599_999_999, 4.0),  # exactly at the trailing bound of t=0? no:
                                  # frame of this row reaches back to 0 → all in
        (1, 7_200_000_000, 8.0),  # 2h later — alone in its frame
    ]
    df = spark.createDataFrame(rows, "user_id long, us long, value double")
    w = Window.partitionBy("user_id").orderBy("us").rangeBetween(-3_599_999_999, 0)
    got = {
        (r["us"], r["value"]): (r["n"], r["s"])
        for r in df.select(
            "us",
            "value",
            F.count(F.lit(1)).over(w).alias("n"),
            F.sum("value").over(w).alias("s"),
        ).collect()
    }
    assert got[(0, 1.0)] == (2, 3.0)           # peers share the frame
    assert got[(0, 2.0)] == (2, 3.0)
    assert got[(3_599_999_999, 4.0)] == (3, 7.0)  # reaches back to the peers
    assert got[(7_200_000_000, 8.0)] == (1, 8.0)  # window expired


def test_approx_percentile_rank_error_bounded(spark):
    """percentile_approx must honor the GK guarantee: the returned element
    sits within accuracy-bounded RANK distance of the target percentile
    (value distance is meaningless in sparse tails, so the check is on
    ranks in the actual per-group value multiset)."""
    import bisect

    from markt_database_analyzer_spark.catalog import REGISTRY
    from markt_database_analyzer_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["approx_percentile_values"].fn(spark, sf).collect()
    assert rows
    # the catalog entry exposes the guarantee as deterministic flags
    # (r2: driver canonicalizer can't sort array columns, so the entry
    # is all-scalar now) — every flag must hold
    for r in rows:
        assert r["p50_in_bound"] and r["p95_in_bound"] and r["p99_in_bound"], r
    # and the raw sketch still honors the GK RANK guarantee, checked
    # directly against the per-group value multiset
    pcts = F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
    approx = {
        r["event_type"]: r["a"]
        for r in read_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.percentile_approx("value", pcts, 10_000).alias("a"))
        .collect()
    }
    groups = {
        r["event_type"]: sorted(v["value"] for v in r["vals"])
        for r in read_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.collect_list(F.struct("value")).alias("vals"))
        .collect()
    }
    for et, approx_vals in approx.items():
        vals = groups[et]
        n = len(vals)
        for p, a in zip((0.5, 0.95, 0.99), approx_vals):
            lo = bisect.bisect_left(vals, a)
            hi = bisect.bisect_right(vals, a)
            target = p * (n - 1)
            # rank window of the returned element vs target rank; 2% slack
            # (accuracy=10000 guarantees 1e-4; small-n discreteness adds
            # one element of wiggle)
            assert lo - 1 <= target + 0.02 * n and hi >= target - 0.02 * n, (
                et, p, a, lo, hi, target, n,
            )


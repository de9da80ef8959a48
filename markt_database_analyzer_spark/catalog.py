"""Named query catalog: every operator from SURVEY.md §2 as a
(PySpark program, DuckDB oracle SQL) pair over the shared testdata tables.

This backs the driver contract in ``__spark_entry__.py``: the driver runs
each Spark query and its oracle side-by-side at sf=0.01 and compares
row-count + schema + order-insensitive value hash. Design rules that make
the hashes land:

- every computed column is aliased identically on both sides;
- float aggregates go through ``dsum``/``davg`` (integer micro-unit
  quantization → bit-stable under partitioning AND across engines; see
  functions.aggregates), or ``nsum`` for per-row masses of order 1/N
  (nano-unit grid), and the oracle uses the matching
  SQL_DSUM/SQL_DAVG/SQL_NSUM templates below;
- orderings that feed ``min_by``/``row_number`` are made total with
  tiebreak columns down to the selected value, so both engines pick the
  same row even where the synthetic keys collide ((l_orderkey,
  l_linenumber) is NOT unique in the testdata);
- timestamp arithmetic is done in integer epoch-microseconds
  (``unix_micros`` / ``epoch_us``) — identical doubles after division;
  nanosecond parquet timestamps are floor-truncated to µs at the source
  (sources.read_table), matching µs-precision engines.

The reference-shaped mapping for each entry is noted in its docstring
(FIXTURES.md §2 table). Extension operators (dedup/similarity/text) live in
``datapipe`` and register here too.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import (
    bin_left_closed_label,
    bin_right_closed_center,
    categorize_by_contains,
    clip_at_zero,
    davg,
    dsum,
    hhmm_label,
)
from .operators import (
    centered_rolling_mean,
    dedup_keep_first,
    first_last_by_order,
    join_spine,
    lag_deltas,
    restrict_to_groups_with_min_count,
    top_k_per_group,
)
from .sources import read_table

# DuckDB rendering of dsum()/davg()/nsum() — keep in lockstep with
# functions.aggregates (integer micro-/nano-unit quantization; see that
# module's docstring for why).
SQL_DSUM = "(CAST(SUM(CAST(round(({x}) * 1000000.0) AS HUGEINT)) AS DOUBLE) / 1000000.0)"
SQL_DAVG = (
    "(CAST(SUM(CAST(round(({x}) * 1000000.0) AS HUGEINT)) AS DOUBLE)"
    " / COUNT({x}) / 1000000.0)"
)
SQL_NSUM = "(CAST(SUM(CAST(round(({x}) * 1000000000.0) AS HUGEINT)) AS DOUBLE) / 1000000000.0)"
# DuckDB rendering of datapipe.similarity.cosine (rounded to 9 dp).
SQL_COS = "round(list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[]), 9)"


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, tags: tuple[str, ...] = ()):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# Row cap for the oracle-parity DEMO forms — entries whose plan contains
# a global total-order (un-partitioned ntile / fixed-band LSH self-join)
# kept because the standard-SQL shape replays bit-identically on DuckDB.
# Each has a 100 TB-safe `_cuts`/`_sized` twin in the registry; the guard
# makes calling the demo form on a big frame an ERROR with a pointer to
# the twin instead of a silent single-partition sort. 2M rows is ~13×
# the largest guarded input at bench scale (sf0.1 orders = 150k), so the
# guard is a no-op for every test/bench/driver run — oracle hashes and
# timings unchanged — while a 1000-executor misuse fails fast.
DEMO_FORM_MAX_ROWS = 2_000_000


def demo_guard(df: DataFrame, entry: str, twin: str, cap: int = DEMO_FORM_MAX_ROWS) -> DataFrame:
    """Refuse to build a global-total-order demo plan over a frame larger
    than ``cap`` rows (the ``sources/plots.py`` MAX_PLOT_ROWS pattern,
    applied at the input instead of the sink). The probe counts
    ``limit(cap + 1)`` — it stops the scan as soon as cap+1 rows have
    surfaced, so the guard's cost is bounded by the CAP, not the input
    size (a plain count() would be a full-scan job). ``df`` is returned
    unchanged so call sites stay single-expression."""
    if df.limit(cap + 1).count() > cap:
        raise ValueError(
            f"{entry} is an oracle-parity demo form (global total-order plan) "
            f"and refuses inputs over {cap:,} rows; "
            f"use its scale twin {twin} instead"
        )
    return df


# ---------------------------------------------------------------------------
# Shared building blocks over `events`: the monitor_records analog.
# A user's event stream plays the role of an ad push's snapshot log; the
# "ad age" is minutes since the user's first event (exact integer-µs math).
# ---------------------------------------------------------------------------

def _events_with_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    return ev.withColumn(
        "age_min",
        (F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(w)) / F.lit(60000000.0),
    )


_SQL_EVENTS_AGE = """
  SELECT user_id, event_id, event_type, value,
         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
            / 60000000.0 AS age_min
  FROM events
"""


# ---------------------------------------------------------------------------
# Flagship analyses (SURVEY.md §3) on testdata
# ---------------------------------------------------------------------------

@register(
    "a_lifetime_rate_curve",
    oracle=f"""
WITH base AS ({_SQL_EVENTS_AGE}),
d AS (
  SELECT user_id, age_min,
         value - lag(value) OVER w AS dv,
         age_min - lag(age_min) OVER w AS dt
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY age_min, event_id)
),
r AS (
  SELECT greatest(0.0, dv * 60.0 / dt) AS rate,
         age_min - dt / 2 AS mid_age
  FROM d WHERE dv IS NOT NULL AND dt IS NOT NULL AND dt > 0
),
binned AS (
  SELECT CASE WHEN mid_age >= 0 AND mid_age <= 1440
              THEN (greatest(ceil(mid_age / 5.0), 1) - 0.5) * 5.0 END AS bin,
         rate
  FROM r
),
agg AS (
  SELECT bin, {SQL_DAVG.format(x='rate')} AS rate
  FROM binned WHERE bin IS NOT NULL GROUP BY bin
),
spine AS (SELECT (x + 0.5) * 5.0 AS bin FROM (SELECT unnest(generate_series(0, 287)) AS x))
SELECT s.bin AS bin, a.rate AS rate,
       avg(a.rate) OVER (ORDER BY s.bin ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
         AS smoothed_rate
FROM spine s LEFT JOIN agg a ON s.bin = a.bin
ORDER BY bin
""",
    tags=("analysis-a", "W1", "B1-bin", "W2", "J4"),
)
def a_lifetime_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analysis A analog (analyse.py:1-135): value-rate decay over a user's
    first 24h, 5-min right-closed bins, centered 5-bin smoothing."""
    base = _events_with_age(spark, sf_dir)
    deltas = lag_deltas(
        base,
        partition_keys=["user_id"],
        order=[F.col("age_min"), F.col("event_id")],
        cols={"v": "value", "t": "age_min"},
    )
    rates = (
        deltas.filter(F.col("delta_t") > 0)
        .withColumn("rate", clip_at_zero(F.col("delta_v") * 60.0 / F.col("delta_t")))
        .withColumn("mid_age", F.col("age_min") - F.col("delta_t") / 2)
        .withColumn("bin", bin_right_closed_center("mid_age", width=5.0, hi=1440.0))
        .filter(F.col("bin").isNotNull())
    )
    agg = rates.groupBy("bin").agg(davg("rate").alias("rate"))
    spine = spark.range(288).select(((F.col("id").cast("double") + 0.5) * 5.0).alias("bin"))
    full = join_spine(spine, agg, on="bin")
    return centered_rolling_mean(full, "bin", "rate", 5, out_col="smoothed_rate").orderBy("bin")


@register(
    "b1_events_per_slot",
    oracle="""
WITH slots AS (
  SELECT format('{:02d}:{:02d}', CAST(s.x * 10 // 60 AS INT), CAST(s.x * 10 % 60 AS INT)) AS time_bin
  FROM (SELECT unnest(generate_series(0, 143)) AS x) s
),
counted AS (
  SELECT format('{:02d}:{:02d}',
                CAST((hour(ts) * 60 + minute(ts)) // 10 * 10 // 60 AS INT),
                CAST((hour(ts) * 60 + minute(ts)) // 10 * 10 % 60 AS INT)) AS time_bin,
         count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT s.time_bin AS time_bin, COALESCE(c.n_events, 0) AS n_events
FROM slots s LEFT JOIN counted c ON s.time_bin = c.time_bin
ORDER BY time_bin
""",
    tags=("analysis-b1", "B2-bin", "J4", "A2"),
)
def b1_events_per_slot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analysis B1 analog (analyse.py:191-227): events per 10-minute slot of
    the day, left-closed bins, "HH:MM" labels, 144-slot spine zero-filled."""
    ev = _t(spark, sf_dir, "events")
    counted = (
        ev.withColumn("mod", (F.hour("ts") * 60 + F.minute("ts")).cast("double"))
        .withColumn("time_bin", bin_left_closed_label("mod", width=10.0))
        .groupBy("time_bin")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    spine = spark.range(144).select(hhmm_label((F.col("id") * 10).cast("double")).alias("time_bin"))
    return join_spine(spine, counted, on="time_bin", zero_fill=["n_events"]).orderBy("time_bin")


@register(
    "b2_initial_rate_by_month",
    oracle=f"""
WITH merged AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS age_days,
         month(o.o_orderdate) AS posting_month
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
initial AS (SELECT * FROM merged WHERE age_days <= 119),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY age_days, l_linenumber, l_extendedprice) AS rn_a,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY age_days DESC, l_linenumber DESC, l_extendedprice DESC) AS rn_d
  FROM initial
),
per_order AS (
  SELECT l_orderkey,
         min(CASE WHEN rn_a = 1 THEN l_extendedprice END) AS first_value,
         min(CASE WHEN rn_d = 1 THEN l_extendedprice END) AS last_value,
         min(age_days) AS first_order,
         max(age_days) AS last_order,
         count(*) AS n_rows,
         min(age_days) <> max(age_days) AS order_varies,
         min(posting_month) AS posting_month
  FROM ranked GROUP BY l_orderkey
),
rates AS (
  SELECT posting_month,
         greatest(0.0, (last_value - first_value) / (last_order - first_order)) AS rate
  FROM per_order
  WHERE n_rows >= 2 AND order_varies AND last_order - first_order > 0
),
monthly AS (
  SELECT posting_month, {SQL_DAVG.format(x='rate')} AS avg_rate
  FROM rates GROUP BY posting_month
),
spine AS (SELECT unnest(generate_series(1, 12)) AS posting_month)
SELECT s.posting_month AS posting_month,
       COALESCE(m.avg_rate, 0.0) AS avg_rate,
       avg(COALESCE(m.avg_rate, 0.0)) OVER
         (ORDER BY s.posting_month ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
         AS smoothed_rate
FROM spine s LEFT JOIN monthly m ON s.posting_month = m.posting_month
ORDER BY posting_month
""",
    tags=("analysis-b2", "A4", "A5", "A7", "W3", "J4"),
)
def b2_initial_rate_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analysis B2 analog (analyse.py:230-300): per-order price "rate" from
    first/last lineitem within the first 119 days, averaged by posting month
    (o_orderdate has no time-of-day, so month replaces hour), 12-spine,
    centered 3-wide smoothing. The reference's per-group Python loop is one
    min_by/max_by hash aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    merged = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn("age_days", F.datediff("l_shipdate", "o_orderdate").cast("double"))
        .withColumn("posting_month", F.month("o_orderdate"))
    )
    initial = merged.filter(F.col("age_days") <= 119)
    per_order = first_last_by_order(
        initial,
        group_keys=["l_orderkey"],
        order=F.col("age_days"),
        value=F.col("l_extendedprice"),
        tiebreak=F.struct(F.col("l_linenumber"), F.col("l_extendedprice")),
        carry={"posting_month": F.col("posting_month")},
    )
    rates = (
        per_order.filter((F.col("n_rows") >= 2) & F.col("order_varies"))
        .withColumn("dt", F.col("last_order") - F.col("first_order"))
        .filter(F.col("dt") > 0)
        .withColumn("rate", clip_at_zero((F.col("last_value") - F.col("first_value")) / F.col("dt")))
    )
    monthly = rates.groupBy("posting_month").agg(davg("rate").alias("avg_rate"))
    spine = spark.range(1, 13).select(F.col("id").cast("int").alias("posting_month"))
    full = join_spine(spine, monthly, on="posting_month", zero_fill=["avg_rate"])
    return centered_rolling_mean(
        full, "posting_month", "avg_rate", 3, out_col="smoothed_rate"
    ).orderBy("posting_month")


@register(
    "c_gain_by_nation",
    oracle=f"""
WITH merged AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS age_days,
         c.c_nationkey, n.n_name
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
qualifying AS (
  SELECT c_nationkey FROM customer GROUP BY c_nationkey HAVING count(*) >= 50
),
restricted AS (
  SELECT m.* FROM merged m WHERE m.c_nationkey IN (SELECT c_nationkey FROM qualifying)
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY l_orderkey
             ORDER BY (age_days > 40), age_days, l_linenumber, l_extendedprice) AS rn_first,
         row_number() OVER (PARTITION BY l_orderkey
             ORDER BY (age_days > 400), age_days DESC, l_linenumber DESC, l_extendedprice DESC) AS rn_last
  FROM restricted
),
per_order AS (
  SELECT l_orderkey,
         min(CASE WHEN rn_first = 1 AND age_days <= 40 THEN l_extendedprice END) AS first_value,
         min(CASE WHEN rn_last = 1 AND age_days <= 400 THEN l_extendedprice END) AS last_value,
         min(CASE WHEN age_days <= 40 THEN age_days END) AS first_order,
         max(CASE WHEN age_days <= 400 THEN age_days END) AS last_order,
         min(n_name) AS n_name
  FROM ranked GROUP BY l_orderkey
),
gained AS (
  SELECT n_name, greatest(0.0, last_value - first_value) AS views_gained
  FROM per_order
  WHERE first_order IS NOT NULL AND last_order > first_order
)
SELECT n_name AS nation, {SQL_DAVG.format(x='views_gained')} AS avg_gain,
       count(*) AS n_orders
FROM gained GROUP BY n_name
ORDER BY avg_gain DESC, nation
""",
    tags=("analysis-c", "A4", "A6", "J3", "F10"),
)
def c_gain_by_nation(spark: SparkSession, sf_dir: str, min_customers: int = 50) -> DataFrame:
    """Analysis C analog (analyse.py:356-513): average price gained between
    an order's earliest lineitem within 40 days and latest within 400 days,
    per customer nation, nations with >= min_customers customers only
    (50 at the t2 scale factor; entry() passes a sf0.001-appropriate
    threshold). Flagship."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    merged = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("age_days", F.datediff("l_shipdate", "o_orderdate").cast("double"))
    )
    # HAVING measured on the pre-join dimension (analyse.py:417-419 semantics)
    restricted = restrict_to_groups_with_min_count(
        merged, count_on=cust, key="c_nationkey", min_count=min_customers
    )
    per_order = first_last_by_order(
        restricted,
        group_keys=["l_orderkey"],
        order=F.col("age_days"),
        value=F.col("l_extendedprice"),
        first_cond=F.col("age_days") <= 40,
        last_cond=F.col("age_days") <= 400,
        tiebreak=F.struct(F.col("l_linenumber"), F.col("l_extendedprice")),
        carry={"n_name": F.col("n_name")},
    )
    gained = (
        per_order.filter(F.col("first_order").isNotNull() & (F.col("last_order") > F.col("first_order")))
        .withColumn("views_gained", clip_at_zero(F.col("last_value") - F.col("first_value")))
    )
    return (
        gained.groupBy(F.col("n_name").alias("nation"))
        .agg(davg("views_gained").alias("avg_gain"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("avg_gain"), "nation")
    )


# ---------------------------------------------------------------------------
# Fine-grained operator queries (SURVEY.md §2 inventory)
# ---------------------------------------------------------------------------

@register(
    "j1_revenue_by_priority",
    oracle=f"""
SELECT o.o_orderpriority AS priority,
       {SQL_DSUM.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority ORDER BY priority
""",
    tags=("J1", "A1"),
)
def j1_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 inner equi-join (analyse.py:19-24) + A1 group mean/sum."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("priority")
    )


@register(
    "a4_first_last_per_order",
    oracle="""
WITH ranked AS (
  SELECT l_orderkey, l_extendedprice,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber, l_extendedprice) AS rn_a,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate DESC, l_linenumber DESC, l_extendedprice DESC) AS rn_d
  FROM lineitem
)
SELECT l_orderkey,
       min(CASE WHEN rn_a = 1 THEN l_extendedprice END) AS first_price,
       min(CASE WHEN rn_d = 1 THEN l_extendedprice END) AS last_price,
       count(*) AS n_items
FROM ranked GROUP BY l_orderkey ORDER BY l_orderkey
""",
    tags=("A4",),
)
def a4_first_last_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 per-group first/last by order — the min_by/max_by rewrite of the
    reference's Python loops (analyse.py:254-264)."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.struct(F.col("l_shipdate"), F.col("l_linenumber"), F.col("l_extendedprice"))
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.min_by("l_extendedprice", key).alias("first_price"),
            F.max_by("l_extendedprice", key).alias("last_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .sortWithinPartitions("l_orderkey")
    )


@register(
    "w1_lag_deltas",
    oracle="""
WITH d AS (
  SELECT event_id, user_id,
         value - lag(value) OVER w AS delta_value,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 60000000.0 AS delta_minutes
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, delta_value, delta_minutes
FROM d WHERE delta_value IS NOT NULL AND delta_minutes IS NOT NULL
ORDER BY event_id
""",
    tags=("W1",),
)
def w1_lag_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 partitioned lag-difference (analyse.py:69-71), first row dropped."""
    ev = _t(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    out = lag_deltas(
        ev,
        partition_keys=["user_id"],
        order=[F.col("ts"), F.col("event_id")],
        cols={"value": "value", "us": F.col("us").cast("double")},
    )
    return (
        out.withColumn("delta_minutes", F.col("delta_us") / 60000000.0)
        .select("event_id", "user_id", F.col("delta_value"), "delta_minutes")
        .sortWithinPartitions("event_id")
    )


@register(
    "w2_smoothed_hourly_value",
    oracle=f"""
WITH hourly AS (
  SELECT hour(ts) AS hour_of_day, {SQL_DAVG.format(x='value')} AS avg_value
  FROM events GROUP BY hour(ts)
),
spine AS (SELECT unnest(generate_series(0, 23)) AS hour_of_day)
SELECT s.hour_of_day AS hour_of_day, h.avg_value AS avg_value,
       avg(h.avg_value) OVER (ORDER BY s.hour_of_day ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
         AS smoothed_value
FROM spine s LEFT JOIN hourly h ON s.hour_of_day = h.hour_of_day
ORDER BY hour_of_day
""",
    tags=("W2", "W3", "J4", "A1"),
)
def w2_smoothed_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3 centered rolling mean over a zero-gap spine (analyse.py:90,297)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.hour("ts").alias("hour_of_day")).agg(davg("value").alias("avg_value"))
    spine = spark.range(24).select(F.col("id").cast("int").alias("hour_of_day"))
    full = join_spine(spine, hourly, on="hour_of_day")
    return centered_rolling_mean(full, "hour_of_day", "avg_value", 3, out_col="smoothed_value").orderBy(
        "hour_of_day"
    )


@register(
    "j3_having_segment_orders",
    oracle="""
WITH qualifying AS (
  SELECT c_mktsegment FROM customer GROUP BY c_mktsegment HAVING count(*) >= 300
)
SELECT c.c_mktsegment AS segment, count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment IN (SELECT c_mktsegment FROM qualifying)
GROUP BY c.c_mktsegment ORDER BY segment
""",
    tags=("J3", "A6"),
)
def j3_having_segment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 HAVING + J3 left-semi restriction (analyse.py:419-431)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    fact = orders.join(cust, orders.o_custkey == cust.c_custkey)
    restricted = restrict_to_groups_with_min_count(fact, cust, "c_mktsegment", min_count=300)
    return (
        restricted.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("segment")
    )


@register(
    "d1_dedup_first_event",
    oracle="""
SELECT user_id, event_type, event_id AS first_event_id, value AS first_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id, event_type
""",
    tags=("D1",),
)
def d1_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 deterministic keep-first dedup (analyse.py:194 with the row_number
    tie-break SURVEY.md §2.4 prescribes)."""
    ev = _t(spark, sf_dir, "events")
    out = dedup_keep_first(ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")])
    return out.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("first_event_id"),
        F.col("value").alias("first_value"),
    ).sortWithinPartitions("user_id", "event_type")


@register(
    "b2bin_value_histogram",
    oracle=f"""
SELECT (greatest(ceil(value / 25.0), 1) - 0.5) * 25.0 AS bin,
       count(*) AS n, {SQL_DAVG.format(x='value')} AS avg_value
FROM events WHERE value >= 0 AND value <= 500
GROUP BY 1 ORDER BY bin
""",
    tags=("B1-bin", "A1", "A2"),
)
def b2bin_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 right-closed fixed-width binning as a histogram (analyse.py:83-87)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bin", bin_right_closed_center("value", width=25.0, lo=0.0, hi=500.0))
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), davg("value").alias("avg_value"))
        .orderBy("bin")
    )


@register(
    "f_scalars_part_category",
    oracle=f"""
SELECT CASE WHEN lower(p_type) LIKE '%promo%' THEN 'promo'
            WHEN lower(p_type) LIKE '%economy%' THEN 'economy'
            ELSE 'other' END AS category,
       count(*) AS n_parts,
       {SQL_DAVG.format(x='p_retailprice')} AS avg_price
FROM part GROUP BY 1 ORDER BY category
""",
    tags=("F1", "F2", "A1"),
)
def f_scalars_part_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 case-insensitive contains + nested CASE (analyse.py:49-58)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.withColumn(
            "category",
            categorize_by_contains("p_type", [("PROMO", "promo"), ("ECONOMY", "economy")]),
        )
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_parts"), davg("p_retailprice").alias("avg_price"))
        .orderBy("category")
    )


@register(
    "f_json_props",
    oracle=f"""
SELECT event_type,
       {SQL_DAVG.format(x="TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)")} AS avg_k,
       count(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS n_valid
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("F7", "F8", "extensions-json"),
)
def f_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 coercion over semi-structured props (try_cast parity with
    pd.to_numeric(errors='coerce'), analyse.py:183-184) + JSON extraction."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("double")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(davg("k").alias("avg_k"), F.count("k").alias("n_valid"))
        .orderBy("event_type")
    )


@register(
    "p_filters_inlist",
    oracle=f"""
SELECT event_type, count(*) AS n, {SQL_DSUM.format(x='value')} AS total_value
FROM events
WHERE event_type IN ('purchase', 'signup') AND value > 100.0
GROUP BY event_type ORDER BY event_type
""",
    tags=("P6", "P7"),
)
def p_filters_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 IN-list + P7 threshold filters (analyse.py:58,72,245)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("purchase", "signup") & (F.col("value") > 100.0))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
        .orderBy("event_type")
    )


@register(
    "topk_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
ORDER BY o_custkey, rank
""",
    tags=("O3", "top-k"),
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (SURVEY.md §2.9 O3 generalization)."""
    orders = _t(spark, sf_dir, "orders")
    out = top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.col("o_orderkey")],
        k=3,
    )
    return out.sortWithinPartitions("o_custkey", "rank")


@register(
    "rollup_lineitem_status",
    oracle=f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       {SQL_DSUM.format(x='l_quantity')} AS sum_qty,
       count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
    tags=("rollup", "A1"),
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup over the A8 segment grid idea (SURVEY.md §2.5 'absent in
    reference' row — engine provides the richer grid natively)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "set_intersect_customers",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
ORDER BY o_custkey
""",
    tags=("set-ops",),
)
def set_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (SURVEY.md §2.9 'absent in reference' row)."""
    orders = _t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o).sortWithinPartitions("o_custkey")


# Extension operators (dedup / similarity / text / multimodal / streaming)
# and the general-analytics completion register on import; kept in separate
# modules for readability.
from . import catalog_ext  # noqa: E402,F401  (intentional tail import)
from . import catalog_more  # noqa: E402,F401
from . import catalog_curate  # noqa: E402,F401
from . import catalog_tpch  # noqa: E402,F401
from . import catalog_datapipe  # noqa: E402,F401
from . import catalog_engine  # noqa: E402,F401
from . import catalog_eval  # noqa: E402,F401
from . import catalog_events  # noqa: E402,F401
from . import catalog_finance  # noqa: E402,F401
from . import catalog_graph  # noqa: E402,F401
from . import catalog_privacy  # noqa: E402,F401
from . import catalog_sampling  # noqa: E402,F401
from . import catalog_stats  # noqa: E402,F401
from . import catalog_text  # noqa: E402,F401
from . import catalog_timeseries  # noqa: E402,F401

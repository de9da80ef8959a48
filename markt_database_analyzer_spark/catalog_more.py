"""General-analytics surface completion (SURVEY.md §2's "absent in
reference, built into Spark" rows + §7 Phase 3): pivot, cube,
sessionization, running windows, ranking suite, exact percentiles,
set difference, approximate distinct.

These make the engine a general analytics layer rather than three
hard-coded reports. Portability notes verified empirically:
- Spark exact ``percentile`` == DuckDB ``quantile_cont`` (same linear
  interpolation), bit-equal;
- running window sums accumulate in frame order in both engines,
  bit-equal on identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import _t, register
from .functions.aggregates import SQL_DAVG, SQL_DSUM, davg, dsum, qlong, sql_qlong


@register(
    "pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
FROM orders GROUP BY o_orderpriority ORDER BY priority
""",
    tags=("pivot",),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): order counts per priority × status."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("priority")
    )


@register(
    "cube_segment_nation",
    oracle=f"""
SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
       COALESCE(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
       count(*) AS n_customers,
       {SQL_DSUM.format(x='c_acctbal')} AS total_acctbal
FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
ORDER BY segment, nation
""",
    tags=("cube", "A8"),
)
def cube_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube over the A8-style segment grid — all 2^2 grouping sets in one
    pass (the reference's nested loop generalized)."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.cube("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal").alias("total_acctbal"))
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("c_nationkey").cast("string"), F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
        .orderBy("segment", "nation")
    )


@register(
    "sessionize_events",
    oracle="""
WITH gaps AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, us,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS session_id
  FROM gaps
)
SELECT user_id, session_id, count(*) AS n_events,
       (max(us) - min(us)) / 60000000.0 AS duration_minutes
FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
""",
    tags=("sessionization", "W1"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap → lag + running sum of
    session starts → per-session aggregates. The batch twin of streaming
    ``session_window``."""
    ev = _t(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "new_session",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 30 * 60 * 1_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    wsum = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = gaps.withColumn("session_id", F.sum("new_session").over(wsum))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ((F.max("us") - F.min("us")) / 60000000.0).alias("duration_minutes"),
        )
        .sortWithinPartitions("user_id", "session_id")
    )


@register(
    "running_total_per_customer",
    oracle=f"""
SELECT o_custkey, o_orderkey,
       CAST(sum({sql_qlong('o_totalprice', cast='HUGEINT')})
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / 1000000.0 AS running_total
FROM orders ORDER BY o_custkey, o_orderkey
""",
    tags=("window", "running"),
)
def running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) spend per customer — unbounded-preceding row
    frame; accumulation order made total with the orderkey tiebreak, and
    the accumulation itself quantized to micro-units (windowed dsum) so
    the prefix sums are bit-stable across engines."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    q = qlong(F.col("o_totalprice").cast("double"), cast="decimal(38,0)")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            (F.sum(q).over(w).cast("double") / 1_000_000.0).alias("running_total"),
        )
        .sortWithinPartitions("o_custkey", "o_orderkey")
    )


@register(
    "rank_lead_ntile",
    oracle="""
SELECT o_custkey, o_orderkey,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       lead(o_orderkey) OVER w AS next_orderkey,
       lag(o_orderkey) OVER w AS prev_orderkey,
       ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_custkey, rnk, o_orderkey
""",
    tags=("window", "ranking"),
)
def rank_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function suite over a total per-group ordering."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
            F.lag("o_orderkey").over(w).alias("prev_orderkey"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .sortWithinPartitions("o_custkey", "rnk", "o_orderkey")
    )


@register(
    "percentiles_by_event_type",
    oracle="""
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("percentile", "A1"),
)
def percentiles_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (bit-equal to quantile_cont). The
    approximate scale path is approx_distinct_parts' sibling:
    percentile_approx, used when exact sort-based percentiles are too
    expensive."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.9).alias("p90"),
            F.percentile("value", 0.99).alias("p99"),
        )
        .orderBy("event_type")
    )


@register(
    "except_customers",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
ORDER BY o_custkey
""",
    tags=("set-ops",),
)
def except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT DISTINCT)."""
    orders = _t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(o).orderBy("o_custkey")  # subtract == EXCEPT DISTINCT


@register(
    "approx_distinct_parts",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       TRUE AS approx_in_bound
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("approx", "sketch"),
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (HyperLogLog++) — the 100 TB path for
    cardinality, where exact countDistinct's shuffle is the bottleneck.

    The raw sketch value is engine-specific, so the differential contract
    exposes it only through its published guarantee: HLL++ merge is
    commutative (register-wise max), so the estimate is deterministic for
    a given dataset, and ``approx_in_bound`` asserts relative error within
    3x the requested rsd (0.05). The oracle states the same invariant as a
    constant TRUE next to the exact counts — a value-level check on the
    exact path and a property-level check on the sketch path."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return (
        agg.select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") / F.col("exact_parts") - 1.0)
                <= F.lit(0.15)
            ).alias("approx_in_bound"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Joins beyond the reference (SURVEY.md §2.3 "absent" rows): as-of and
# range joins, the two time-series shapes a training pipeline hits first.
# --------------------------------------------------------------------------

@register(
    "asof_join_last_event",
    oracle="""
WITH e AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value
  FROM events GROUP BY user_id, ts
)
SELECT o.o_orderkey AS o_orderkey, o.o_custkey AS user_id,
       e.value AS value_asof
FROM orders o ASOF LEFT JOIN e ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
ORDER BY o_orderkey
""",
    tags=("asof-join", "point-in-time"),
)
def asof_join_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order, the value of that user's latest event
    at or before the order date. Spark side runs the union-sentinel merge
    (one shuffle, no row explosion — operators.asof); the oracle runs
    DuckDB's NATIVE ASOF JOIN, so the two implementations are genuinely
    independent. Equal-time right rows are pre-reduced with arg_max on
    event_id in the oracle / right_seq tiebreak in the operator, making
    the pick total."""
    from .operators.asof import asof_join_last

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    events = _t(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    return (
        asof_join_last(orders, events, "user_id", "o_orderdate", "ts", "value", right_seq="event_id")
        .select("o_orderkey", "user_id", F.col("value_asof"))
        .sortWithinPartitions("o_orderkey")
    )


@register(
    "range_join_first_day_events",
    oracle="""
WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
SELECT f.user_id AS user_id, count(*) AS n_events
FROM f JOIN events e
  ON e.user_id = f.user_id
 AND e.ts >= f.first_ts AND e.ts < f.first_ts + INTERVAL 1 DAY
GROUP BY 1 ORDER BY 1
""",
    tags=("range-join", "interval"),
)
def range_join_first_day_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: each user's event count within 24h of their first
    event. OSS Spark would plan the raw inequality as a nested-loop join;
    operators.rangejoin buckets time at the interval width and equi-joins
    on (key, bucket) with a residual filter — a plain shuffled hash join
    that scales like any other."""
    from .operators.rangejoin import bucketed_range_join

    events = _t(spark, sf_dir, "events").select("user_id", "ts")
    first = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    j = bucketed_range_join(first, events, "user_id", "first_ts", "ts", F.lit(86400 * 1_000_000))
    return j.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events")).orderBy("user_id")


@register(
    "union_all_key_counts",
    oracle="""
SELECT key, count(*) AS n FROM (
  SELECT o_custkey AS key FROM orders
  UNION ALL
  SELECT c_custkey AS key FROM customer
) GROUP BY key ORDER BY key
""",
    tags=("set-ops", "union"),
)
def union_all_key_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (unionByName) + re-aggregation."""
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    return (
        orders.unionByName(cust).groupBy("key").agg(F.count(F.lit(1)).alias("n")).sortWithinPartitions("key")
    )


@register(
    "a3_value_counts_nation",
    oracle="""
SELECT n.n_name AS nation, count(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1 ORDER BY n_customers DESC, nation
""",
    tags=("A3", "value-counts", "J1"),
)
def a3_value_counts_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 value_counts (analyse.py:419): count-per-dimension with
    descending ranking, dimension resolved through a broadcast dim join."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), "nation")
    )


# --------------------------------------------------------------------------
# The sanctioned Python-UDF surface (SURVEY.md §2.10), differential-checked
# against pure-SQL oracles: the Arrow path must agree with codegen exactly.
# --------------------------------------------------------------------------

@register(
    "udf_scalar_age_group",
    oracle="""
SELECT p_partkey, p_size,
       CASE WHEN p_size BETWEEN 18 AND 19 THEN '18-19'
            WHEN p_size BETWEEN 20 AND 25 THEN '20-25'
            WHEN p_size >= 26 THEN '26+' END AS age_group
FROM part ORDER BY p_partkey
""",
    tags=("udf", "pandas_udf", "F3"),
)
def udf_scalar_age_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf (Series→Series, Arrow-vectorized) — the F3
    age-group bucketing run through the Python surface and checked
    against the native CASE expression."""
    from .datapipe.udfs import age_group_pandas_udf

    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey", "p_size", age_group_pandas_udf(F.col("p_size")).alias("age_group")
    ).sortWithinPartitions("p_partkey")


@register(
    "udf_grouped_first_last",
    oracle="""
SELECT event_type,
       arg_min(value, event_id) AS first_value,
       arg_max(value, event_id) AS last_value,
       min(event_id)::DOUBLE AS first_order,
       max(event_id)::DOUBLE AS last_order,
       count(*) AS n_rows
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("udf", "applyInPandas", "A4"),
)
def udf_grouped_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the per-group escape hatch) — A4
    first/last extraction through the Python surface, checked against the
    arg_min/arg_max SQL the native operator compiles to."""
    from .datapipe.udfs import first_last_apply_in_pandas

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("event_id").cast("double").alias("event_id"), "value"
    )
    return first_last_apply_in_pandas(ev, ["event_type"], "event_id", "value").orderBy("event_type")


# --------------------------------------------------------------------------
# Streaming jobs 2 and 3 (job 1, tumbling counts, registers in catalog_ext):
# the full §2.11 set each driven end-to-end and checked against the
# equivalent batch SQL — streaming and batch must agree on static input.
# --------------------------------------------------------------------------

@register(
    "streaming_sliding_avg",
    oracle=f"""
WITH w AS (
  SELECT value, make_timestamp(g.s) AS window_start
  FROM events,
       UNNEST(generate_series(((epoch_us(ts) - 10800000000) // 3600000000 + 1) * 3600000000,
                              (epoch_us(ts) // 3600000000) * 3600000000,
                              3600000000)) AS g(s)
)
SELECT window_start, count(*) AS n_events,
       {SQL_DAVG.format(x='value')} AS avg_value
FROM w GROUP BY 1 ORDER BY 1
""",
    tags=("streaming", "window", "sliding", "W3"),
)
def streaming_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3's streaming analog: 3-hour windows sliding hourly, value mean
    per window (quantized micro-unit mean so the result is bit-stable
    cross-engine). The oracle expands each event to its 3 covering
    windows and re-aggregates."""
    from .functions import davg
    from .streaming import read_events_stream, run_stream_to_memory

    ev = read_events_stream(spark, sf_dir)
    stream = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "3 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), davg("value").alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
    )
    return run_stream_to_memory(stream).sortWithinPartitions("window_start")


@register(
    "streaming_keyed_deltas",
    oracle="""
SELECT user_id, event_id,
       value - lag(value) OVER w AS delta_value,
       (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 60000000.0 AS delta_minutes
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY lag(value) OVER w IS NOT NULL
ORDER BY user_id, event_id
""",
    tags=("streaming", "stateful", "W1"),
)
def streaming_keyed_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1's streaming analog: per-user value deltas via
    applyInPandasWithState (O(1) keyed state carried across
    micro-batches), checked against the batch lag() window — the first
    event of each key yields nothing in both."""
    from .streaming import read_events_stream, run_stream_to_memory, stateful_per_key_deltas

    ev = read_events_stream(spark, sf_dir)
    return (
        run_stream_to_memory(stateful_per_key_deltas(ev), output_mode="append")
        .sortWithinPartitions("user_id", "event_id")
    )


@register(
    "salted_join_revenue",
    oracle=f"""
SELECT o.o_orderpriority AS priority,
       {SQL_DSUM.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority ORDER BY priority
""",
    tags=("skew", "salting", "J1"),
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 revenue query through operators.skew.salted_join_hot (16
    buckets, deterministic hash salt, hot = keys with >5 fact rows so
    both the salted and unsalted paths execute at every sf) — same
    oracle as j1_revenue_by_priority, so the gate proves hot-key salting
    is row-identical to the plain join. The tool for hot keys a single
    shuffle partition can't hold (beyond what AQE skew-splitting fixes
    at runtime); only hot dim rows are replicated."""
    from .operators.skew import salted_join_hot

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "k")
    orders = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"), "o_orderpriority")
    )
    j = salted_join_hot(li, orders, on=["k"], salt_from="l_linenumber", buckets=16, hot_threshold=5)
    return (
        j.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("priority")
    )


@register(
    "session_window_native",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, us,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id, make_timestamp(min(us)) AS session_start, count(*) AS n_events
FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start
""",
    tags=("sessionization", "session_window"),
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` (30-min gap) — the built-in merging
    session operator, checked against the independent lag+running-sum
    formulation the manual ``sessionize_events`` entry uses. Works
    identically over ``readStream`` (append mode + watermark) — this
    batch form shares the plan."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        .sortWithinPartitions("user_id", "session_start")
    )


@register(
    "sql_api_revenue",
    oracle=f"""
SELECT o.o_orderpriority AS priority,
       {SQL_DSUM.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority ORDER BY priority
""",
    tags=("sql-api", "J1"),
)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: the J1 revenue query written as ANSI SQL
    over temp views of the tables instead of the
    DataFrame API — same logical plan, same oracle, proving the two
    APIs are interchangeable front-ends to one Catalyst pipeline."""
    for t in ("lineitem", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        f"""
        SELECT o.o_orderpriority AS priority,
               CAST(SUM({sql_qlong(
                   'l.l_extendedprice * (1 - l.l_discount)', cast='DECIMAL(38,0)',
               )}) AS DOUBLE) / 1000000.0 AS revenue,
               count(*) AS n_items
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority ORDER BY priority
        """
    )


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id, unnest(generate_series(0, octet_length(encode(text)) // 100, 10)) AS frame_idx
FROM documents ORDER BY doc_id, frame_idx
""",
    tags=("multimodal", "frame-sample"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame-sampling plumbing without a codec: one row per sampled
    frame index, derived from payload size — the partition-preserving
    explode pattern a real frame sampler drops into."""
    docs = _t(spark, sf_dir, "documents")
    from .datapipe import multimodal as mm

    with_payload = docs.select("doc_id", mm.to_payload("text").alias("payload"))
    return mm.frame_sample_plan(with_payload, every_n=10).sortWithinPartitions("doc_id", "frame_idx")


@register(
    "grouping_sets_status_priority",
    oracle=f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       count(*) AS n,
       {SQL_DSUM.format(x='o_totalprice')} AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY status, priority
""",
    tags=("grouping-sets", "A8"),
)
def grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form cube/rollup specialize):
    per-status, per-priority, and grand-total rows in one pass."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               count(*) AS n,
               CAST(SUM({sql_qlong('o_totalprice', cast='DECIMAL(38,0)')}) AS DOUBLE)
                 / 1000000.0 AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
        """
    )


@register(
    "streaming_enrich_static_join",
    oracle="""
SELECT c.c_mktsegment AS segment, count(*) AS n_events
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY segment
""",
    tags=("streaming", "stream-static-join"),
)
def streaming_enrich_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    dimension (broadcast per micro-batch — the canonical streaming enrich
    pattern), then aggregates per segment. Batch oracle on the same
    static input."""
    from .streaming import read_events_stream, run_stream_to_memory

    ev = read_events_stream(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        ev.join(cust, "user_id")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return run_stream_to_memory(enriched).orderBy("segment")


@register(
    "udf_udtf_tokenize",
    oracle="""
WITH tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS token
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t != '') AS toks
        FROM documents WHERE doc_id < 20)
)
SELECT doc_id, pos, token FROM tok ORDER BY doc_id, pos
""",
    tags=("udf", "udtf"),
)
def udf_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) — one row per token with its
    position, checked against the equivalent unnest-with-subscripts SQL.
    Completes the §2.10 surface: scalar pandas_udf, grouped-map
    applyInPandas, mapInPandas, stateful, and UDTF."""
    from .datapipe.udfs import tokenize_udtf_class

    Tokenize = tokenize_udtf_class()
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return (
        docs.lateralJoin(Tokenize(F.col("text").outer()))
        .select("doc_id", "pos", "token")
        .sortWithinPartitions("doc_id", "pos")
    )


@register(
    "w_time_range_rolling",
    oracle=f"""
SELECT user_id, event_id,
       count(*) OVER w AS n_1h,
       CAST(sum({sql_qlong('value', cast='HUGEINT')}) OVER w AS DOUBLE)
         / 1000000.0 AS sum_1h
FROM (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
""",
    tags=("window", "range-frame"),
)
def w_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user event sum — a RANGE frame over the
    microsecond timeline (vs the catalog's row frames): the frame is
    defined by value distance, so bursts contribute all their peers and
    quiet hours contribute only the current row. Same quantized windowed
    sum as running_total_per_customer for bit-stable accumulation; the
    window shuffles once on user_id and the integer-µs ordering key makes
    the range arithmetic exact (no interval/DST semantics in the frame)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_599_999_999, Window.currentRow)
    )
    q = qlong(F.col("value").cast("double"), cast="decimal(38,0)")
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        (F.sum(q).over(w).cast("double") / 1_000_000.0).alias("sum_1h"),
    ).sortWithinPartitions("user_id", "event_id")


@register(
    "fullouter_balance_by_nation",
    oracle=f"""
SELECT coalesce(c.nk, s.nk) AS nationkey,
       coalesce(c.n_customers, 0) AS n_customers,
       coalesce(s.n_suppliers, 0) AS n_suppliers,
       c.c_bal AS customer_acctbal,
       s.s_bal AS supplier_acctbal
FROM (
  SELECT c_nationkey AS nk, count(*) AS n_customers,
         {SQL_DSUM.format(x='c_acctbal')} AS c_bal
  FROM customer WHERE c_acctbal > 9000.0 GROUP BY c_nationkey
) c
FULL OUTER JOIN (
  SELECT s_nationkey AS nk, count(*) AS n_suppliers,
         {SQL_DSUM.format(x='s_acctbal')} AS s_bal
  FROM supplier WHERE s_acctbal > 9000.0 GROUP BY s_nationkey
) s USING (nk)
ORDER BY nationkey
""",
    tags=("join", "outer", "setop"),
)
def fullouter_balance_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the one outer-join kind the catalog didn't pin
    (Q13 covers left outer): high-balance customer vs supplier rollups
    per nation, where either side may be absent. Aggregate-then-join
    keeps both inputs tiny (≤ nations rows) before the outer merge;
    null-vs-zero is explicit — counts zero-fill (absence means none),
    balances stay NULL (absence is not a 0.0 balance)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("customer_acctbal"),
        )
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000.0)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum(F.col("s_acctbal")).alias("supplier_acctbal"),
        )
    )
    return (
        cust.join(supp, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            "customer_acctbal",
            "supplier_acctbal",
        )
        .orderBy("nationkey")
    )


@register(
    "unpivot_part_metrics",
    oracle="""
SELECT p_partkey, metric, value
FROM (
  SELECT p_partkey,
         CAST(p_size AS DOUBLE) AS size,
         p_retailprice AS retailprice
  FROM part WHERE p_partkey <= 200
)
UNPIVOT (value FOR metric IN (size, retailprice))
ORDER BY p_partkey, metric
""",
    tags=("reshape", "unpivot"),
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — wide-to-long reshaping (the inverse of the pivot
    entry): per-part metrics stacked into (metric, value) rows.
    DataFrame.unpivot compiles to an Expand node — row-local, no shuffle,
    output is exactly n_rows x n_metrics — so the reshape cost is pure
    scan width at any scale."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        )
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["size", "retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    ).sortWithinPartitions("p_partkey", "metric")


@register(
    "approx_percentile_values",
    oracle="""
SELECT event_type,
       quantile_cont(value, 0.5)  AS p50,
       quantile_cont(value, 0.95) AS p95,
       quantile_cont(value, 0.99) AS p99,
       TRUE AS p50_in_bound, TRUE AS p95_in_bound, TRUE AS p99_in_bound
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("approx", "sketch", "percentile"),
)
def approx_percentile_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch) next to their
    exact twins — the 100 TB path for quantiles: the exact percentile
    needs the full sorted value multiset per group, the sketch merges
    O(1/accuracy) summaries map-side.

    The sketch value itself is partition-merge-order sensitive, so it is
    exposed through its guarantee instead of its raw value: GK with
    accuracy=10000 bounds rank error by n/10000, so the approx p must lie
    between the exact interpolated percentiles at p +/- eps (eps=0.005,
    50x the guarantee — the flag is deterministically TRUE). The exact
    percentiles are value-oracled (bit-equal to quantile_cont); the
    flags are constant-TRUE in the oracle. NB r2: the driver's
    canonicalizer cannot sort array columns, so everything here is
    scalar."""
    ev = _t(spark, sf_dir, "events")
    eps = 0.005

    def bound(p: float, name: str):
        return [
            F.percentile("value", p).alias(name),
            F.percentile_approx("value", p, 10_000).alias(f"_a_{name}"),
            F.percentile("value", max(p - eps, 0.0)).alias(f"_lo_{name}"),
            F.percentile("value", min(p + eps, 1.0)).alias(f"_hi_{name}"),
        ]

    agg = ev.groupBy("event_type").agg(
        *bound(0.5, "p50"), *bound(0.95, "p95"), *bound(0.99, "p99")
    )
    cols = ["event_type", "p50", "p95", "p99"] + [
        (
            (F.col(f"_a_{n}") >= F.col(f"_lo_{n}"))
            & (F.col(f"_a_{n}") <= F.col(f"_hi_{n}"))
        ).alias(f"{n}_in_bound")
        for n in ("p50", "p95", "p99")
    ]
    return agg.select(*cols).orderBy("event_type")


@register(
    "text_token_stats_by_lang",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                t -> t != ''))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))
            AS BIGINT) AS bpe_pieces,
       round(CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))
                  AS DOUBLE)
             / sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   t -> t != ''))), 9) AS fertility
FROM documents
GROUP BY lang ORDER BY lang
""",
    tags=("text", "tokenizer", "stats"),
)
def text_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: whitespace tokens vs BPE-ish
    pieces and their ratio (pieces per word) — the number a tokenizer
    owner watches per language before training (high fertility = the
    vocab underserves that language). Two row-local token counts,
    map-side-combined integer sums, one tiny group-by shuffle."""
    from .datapipe.text import token_count_bpe, token_count_whitespace

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        token_count_whitespace("text").cast("long").alias("ws"),
        token_count_bpe("text").cast("long").alias("bpe"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_pieces"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_pieces",
            F.round(
                F.col("bpe_pieces").cast("double") / F.col("ws_tokens").cast("double"), 9
            ).alias("fertility"),
        )
        .orderBy("lang")
    )

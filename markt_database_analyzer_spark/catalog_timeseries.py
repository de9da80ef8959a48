"""Time-series operators: trends, seasonality, smoothing, symbolic forms.

Consolidated in round 9 from the round-named catalog shards (the
original per-round files are in git history; entry source text is
unchanged). Every entry registers in REGISTRY with a DuckDB oracle
unless documented otherwise; reference parity citations live in the
entry docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import _SQL_DAILY_REVENUE, _daily_revenue, _t, register
from .functions.aggregates import (
    CENTS,
    MICRO,
    NANO,
    SQL_DAVG,
    SQL_DSUM,
    SQL_NSUM,
    davg,
    dsum,
    nano_comoment,
    nsum,
    qlong,
    sql_qlong,
    sql_wide_sum,
    wide_sum,
)
from .functions.scalars import SQL_NORM_CDF, norm_cdf
from .operators.rolling import centered_rolling_mean


@register(
    "gapfill_interpolate_hourly",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         {SQL_DAVG.format(x='value')} AS avg_value
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
bounds AS (
  SELECT event_type, min(hour_ts) AS lo, max(hour_ts) AS hi
  FROM hourly GROUP BY event_type
),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
  FROM bounds
),
joined AS (
  SELECT s.event_type, s.hour_ts, h.avg_value,
         CAST(epoch(s.hour_ts) / 3600 AS BIGINT) AS hl
  FROM spine s LEFT JOIN hourly h USING (event_type, hour_ts)
),
ctx AS (
  SELECT event_type, hour_ts, avg_value,
         last_value(avg_value IGNORE NULLS) OVER w_prev AS pv,
         last_value(CASE WHEN avg_value IS NOT NULL THEN hl END IGNORE NULLS) OVER w_prev AS pt,
         first_value(avg_value IGNORE NULLS) OVER w_next AS nv,
         first_value(CASE WHEN avg_value IS NOT NULL THEN hl END IGNORE NULLS) OVER w_next AS nt,
         hl
  FROM joined
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY hour_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY event_type ORDER BY hour_ts
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour_ts, avg_value,
       CASE
         WHEN avg_value IS NOT NULL THEN avg_value
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           round(pv + (nv - pv) * (hl - pt) / (nt - pt), 9)
       END AS interp_value
FROM ctx
ORDER BY event_type, hour_ts
""",
    tags=("timeseries", "gapfill", "window", "spine"),
)
def gapfill_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill: per event type, an hourly spine from
    that key's own [min, max] hour (generated, never cross-joined — no
    nested-loop shape), left-joined hourly deterministic means, and
    LINEAR INTERPOLATION across missing hours from the nearest known
    neighbors on each side (ignoreNulls window walk; boundary gaps stay
    null, matching the published time_bucket_gapfill + interpolate
    semantics). Per-key state is two window passes over the key's own
    spine — at 100 TB each key's spine is bounded by its time span, and
    the only shuffle is the (event_type, hour) aggregation."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(davg(F.col("value")).alias("avg_value"))
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_ts").alias("lo"), F.max("hour_ts").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour_ts"),
        )
    )
    joined = spine.join(hourly, ["event_type", "hour_ts"], "left").withColumn(
        "hl", (F.col("hour_ts").cast("long") / 3600).cast("bigint")
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_h = F.when(F.col("avg_value").isNotNull(), F.col("hl"))
    ctx = (
        joined.withColumn("pv", F.last("avg_value", ignorenulls=True).over(w_prev))
        .withColumn("pt", F.last(known_h, ignorenulls=True).over(w_prev))
        .withColumn("nv", F.first("avg_value", ignorenulls=True).over(w_next))
        .withColumn("nt", F.first(known_h, ignorenulls=True).over(w_next))
    )
    interp = (
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.round(
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (F.col("hl") - F.col("pt"))
                / (F.col("nt") - F.col("pt")),
                9,
            ),
        )
    )
    return ctx.select(
        "event_type", "hour_ts", "avg_value", interp.alias("interp_value")
    ).sortWithinPartitions("event_type", "hour_ts")


_LOCF_MAX_USER = 50
_SQL_LOCF = f"""
WITH bounds AS (
  SELECT min(date_trunc('hour', ts)) AS h0, max(date_trunc('hour', ts)) AS h1
  FROM events
),
spine AS (
  SELECT u.user_id, h.h
  FROM (SELECT DISTINCT user_id FROM events WHERE user_id <= {_LOCF_MAX_USER}) u
  CROSS JOIN (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
  ) h
),
obs AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         round((CAST(SUM({sql_qlong('value', cast='HUGEINT')}) AS DOUBLE)
                / count(*)) / 1000000.0, 9) AS y
  FROM events WHERE user_id <= {_LOCF_MAX_USER}
  GROUP BY 1, 2
),
joined AS (
  SELECT s.user_id, s.h, o.y
  FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.h = s.h
)
SELECT user_id, h AS hour_ts, y AS observed,
       last_value(y IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       (y IS NULL) AS was_gap
FROM joined
ORDER BY user_id, hour_ts
"""
@register(
    "gapfill_locf_hourly",
    oracle=_SQL_LOCF,
    tags=("timeseries", "gapfill", "window"),
)
def gapfill_locf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap fill over a per-user hourly
    spine: missing hours inherit the most recent observed hourly mean
    (step-function semantics — correct for state-like metrics, where
    the linear interpolation of gapfill_interpolate_hourly would invent
    intermediate states). One spine join + one ignore-nulls window per
    user; leading gaps stay NULL (nothing to carry). The spine is
    users × hours — bounded; observations aggregate before the join so
    the window never sees raw events."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    users = (
        ev.filter(F.col("user_id") <= _LOCF_MAX_USER).select("user_id").distinct()
    )
    spine = users.crossJoin(F.broadcast(hours))
    micro = F.sum(qlong("value"))
    obs = (
        ev.filter(F.col("user_id") <= _LOCF_MAX_USER)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.round((micro.cast("double") / F.count(F.lit(1))) / 1000000.0, 9).alias("y")
        )
    )
    joined = spine.join(obs, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        F.col("h").alias("hour_ts"),
        F.col("y").alias("observed"),
        F.last("y", ignorenulls=True).over(w).alias("filled"),
        F.col("y").isNull().alias("was_gap"),
    ).sortWithinPartitions("user_id", "hour_ts")


_EWMA_W = 16  # frame rows; alpha = 0.5 so weights are exact powers of two
@register(
    "w_ewma_smoothed",
    oracle=f"""
WITH arrs AS (
  SELECT event_type, ts, event_id, value,
         list(value) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN {_EWMA_W - 1} PRECEDING AND CURRENT ROW
         ) AS arr
  FROM events
),
num AS (
  SELECT event_type, ts, event_id, value, len(arr) AS n,
         list_aggregate(
           list_transform(range(1, len(arr) + 1),
             i -> {sql_qlong('arr[i] * pow(0.5, len(arr) - i)', NANO)}),
           'sum') AS s
  FROM arrs
)
SELECT event_type, ts, event_id, value,
       round((CAST(s AS DOUBLE) / 1000000000.0)
             / (2.0 - pow(0.5, n - 1)), 6) AS ewma
FROM num
ORDER BY event_type, ts, event_id
""",
    tags=("window", "ewma", "timeseries"),
)
def w_ewma_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.5, truncated at
    16 rows) per event type. alpha = 1/2 makes every weight an exact
    power of two (lossless double scaling), each weighted term is
    quantized to a nano-grid integer, and the integer sum is
    associative — so the smoothed series is bit-identical under any
    partitioning AND in the SQL replay, which no naive float EWMA
    (sequential recurrence) can claim. The frame is O(W) rows per
    output row; at 100 TB the window is a per-key sort the same shape
    as the reference's centered rolling means (analyse.py:301), with
    the truncation bounding both state and the quantization envelope."""
    # Loop-unrolled lag formulation: the value at lag k carries weight
    # 0.5^k, so the frame is 16 lag() columns over ONE window spec (a
    # single WindowExec, pure codegen) instead of a materialized
    # collect_list array per row — measured 5.3 s -> ~1 s at sf0.1 for
    # the identical quantized terms (same (value, weight) multiset per
    # row, so the integer sum — and the oracle — are unchanged).
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    num = None
    for k in range(_EWMA_W):
        term = F.coalesce(
            qlong(F.lag("value", k).over(w) * F.lit(0.5**k), NANO),
            F.lit(0).cast("bigint"),
        )
        num = term if num is None else num + term
    n = F.least(F.row_number().over(w), F.lit(_EWMA_W))
    return (
        _t(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .withColumn(
            "ewma",
            F.round(
                (num.cast("double") / F.lit(1e9))
                / (F.lit(2.0) - F.pow(F.lit(0.5), n - 1)),
                6,
            ),
        )
        # No global order on a corpus-sized output: repartition(1) would
        # funnel every event row through one task — serial at 100 TB — and
        # an orderBy range-samples (re-executing the window stage) and
        # reshuffles everything for cosmetic order. The driver compare is
        # order-insensitive, so a partition-local sort with NO exchange is
        # the scale-safe form.
        .sortWithinPartitions("event_type", "ts", "event_id")
    )


@register(
    "ts_seasonal_index_how",
    oracle=f"""
WITH cells AS (
  SELECT isodow(ts) AS dow_iso, hour(ts) AS hr,
         CAST(count(*) AS BIGINT) AS n,
         {SQL_DAVG.format(x="value")} AS avg_value
  FROM events GROUP BY 1, 2
),
gl AS (SELECT {SQL_DAVG.format(x="value")} AS g FROM events)
SELECT dow_iso, hr, n, avg_value,
       round(avg_value / gl.g, 6) AS seasonal_index
FROM cells CROSS JOIN gl
ORDER BY dow_iso, hr
""",
    tags=("timeseries", "seasonal", "forecast"),
)
def ts_seasonal_index_how(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonal indices (the seasonal-naive forecast
    baseline): per (ISO weekday, hour) cell mean over the corpus,
    normalized by the global mean — index > 1 marks hot hours. The
    168-cell frame is the model; at 100 TB it is one map-side-combined
    aggregate and the 'forecast' is a broadcast join of the index onto
    any horizon. ISO weekday (Mon=1) is used because engines disagree
    on Sunday-origin day numbering; both sides quantize means on the
    micro grid so the ratio is bit-identical."""
    ev = _t(spark, sf_dir, "events").select(
        (F.weekday("ts") + 1).alias("dow_iso"),
        F.hour("ts").alias("hr"),
        "value",
    )
    cells = ev.groupBy("dow_iso", "hr").agg(
        F.count(F.lit(1)).alias("n"), davg(F.col("value")).alias("avg_value")
    )
    gl = ev.agg(davg(F.col("value")).alias("g"))
    return (
        cells.crossJoin(F.broadcast(gl))
        .select(
            "dow_iso",
            "hr",
            "n",
            "avg_value",
            F.round(F.col("avg_value") / F.col("g"), 6).alias("seasonal_index"),
        )
        .orderBy("dow_iso", "hr")
    )


@register(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
cnt AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
),
rowt AS (SELECT src, CAST(sum(n) AS BIGINT) AS row_n FROM cnt GROUP BY 1)
SELECT c.src, c.dst, c.n,
       round(CAST(c.n AS DOUBLE) / r.row_n, 6) AS p
FROM cnt c JOIN rowt r USING (src)
ORDER BY src, dst
""",
    tags=("markov", "sequence", "window"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain over per-user event sequences: lead()
    pairs each event with its successor (total order via (ts,
    event_id)), transition counts hash-aggregate, and row-normalized
    probabilities come from a broadcast of the states-cardinality row
    totals. The transition matrix is states² rows — model-sized — while
    the only event-cardinality work is one window pass; this is the
    user-journey / next-event-prediction building block the funnel and
    path entries compose with."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    cnt = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    rowt = cnt.groupBy("src").agg(F.sum("n").alias("row_n"))
    return (
        cnt.join(F.broadcast(rowt), "src")
        .select(
            "src",
            "dst",
            "n",
            F.round(F.col("n").cast("double") / F.col("row_n"), 6).alias("p"),
        )
        .orderBy("src", "dst")
    )


@register(
    "rank_distribution_window",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(percent_rank() OVER w, 9) AS pct_rank,
       round(cume_dist() OVER w, 9) AS cume,
       CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS group_n
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
ORDER BY o_custkey, pct_rank, o_orderkey
""",
    tags=("window", "ranking", "distribution"),
)
def rank_distribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist — the distribution-position pair that
    completes the ranking-function suite (rank_lead_ntile covers
    rank/dense_rank/lead/lag/ntile): relative standing of each order
    inside its customer's spend distribution, plus the unordered
    count(*) OVER partition frame. The ordering carries the orderkey
    tiebreak so both rational positions ((rank-1)/(n-1), peers/n) are
    computed over an identical total order and round-9 identically."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wp = Window.partitionBy("o_custkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 9).alias("cume"),
            F.count(F.lit(1)).over(wp).cast("bigint").alias("group_n"),
        )
        .sortWithinPartitions("o_custkey", "pct_rank", "o_orderkey")
    )


_ACF_MAX_LAG = 6
def _sql_acf() -> str:
    leads = ", ".join(
        f"lead(x, {k}) OVER (ORDER BY h) AS x{k}" for k in range(1, _ACF_MAX_LAG + 1)
    )
    nums = ",\n    ".join(
        f"CAST(sum({sql_qlong(f'(x - xbar) * (x{k} - xbar)', NANO)}) AS BIGINT)"
        f" AS num{k}"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT {k} AS lag, round(CAST(num{k} AS DOUBLE) / denom, 9) AS acf FROM s"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    davg_x = SQL_DAVG.format(x="value")
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, {davg_x} AS x
  FROM events GROUP BY 1
),
m AS (SELECT {SQL_DAVG.format(x='x')} AS xbar FROM hourly),
led AS (
  SELECT x, xbar, {leads}
  FROM hourly, m
),
s AS (
  SELECT
    CAST(sum({sql_qlong('(x - xbar) * (x - xbar)', NANO)}) AS BIGINT) AS denom,
    {nums}
  FROM led
)
{rows}
ORDER BY lag
"""
@register(
    "ts_autocorrelation",
    oracle=_sql_acf(),
    tags=("timeseries", "acf", "window"),
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..6) of the hourly mean-value
    series. The series is an aggregate first (720 points at sf0.01 —
    the ordered window runs over series cardinality, never raw events);
    one window sort produces all six leads. Each product term
    (x_t - x̄)(x_{t+k} - x̄) is quantized to nano-units before summing,
    so numerator and denominator are exact integers and the ACF is a
    ratio both engines compute identically. The global series mean is
    the 1-row scalar broadcast idiom. At 100 TB the hourly pre-agg is
    the shuffle; the series itself stays tiny in any realistic horizon
    (10 years ≈ 90k points)."""
    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(davg("value").alias("x"))
    )
    m = hourly.agg(davg("x").alias("xbar"))
    w = Window.orderBy("h")
    led = hourly.crossJoin(F.broadcast(m)).select(
        "x",
        "xbar",
        *[F.lead("x", k).over(w).alias(f"x{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    )

    xbar = F.col("xbar")
    s = led.agg(
        nano_comoment(F.col("x"), F.col("x"), xbar).alias("denom"),
        *[
            nano_comoment(F.col("x"), F.col(f"x{k}"), xbar).alias(f"num{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                F.round(
                    F.col(f"num{k}").cast("double") / F.col("denom"), 9
                ).alias("acf"),
            )
            for k in range(1, _ACF_MAX_LAG + 1)
        ]
    )
    return (
        s.select(F.explode(rows).alias("r"))
        .select("r.lag", "r.acf")
        .orderBy("lag")
    )


_STL_W = 25
def _sql_stl() -> str:
    davg_val = SQL_DAVG.format(x="value")
    half = _STL_W // 2
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, {davg_val} AS x
  FROM events GROUP BY 1
),
tr AS (
  SELECT h, x,
         avg(x) OVER (ORDER BY h ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)
           AS trend
  FROM hourly
),
de AS (SELECT h, x, trend, x - trend AS detr FROM tr),
seas AS (
  SELECT hour(h) AS hod, {SQL_DAVG.format(x='detr')} AS seasonal
  FROM de GROUP BY 1
),
res AS (
  SELECT de.h, de.x, de.trend, seas.seasonal,
         de.detr - seas.seasonal AS resid
  FROM de JOIN seas ON hour(de.h) = seas.hod
),
sig AS (
  SELECT sqrt(CAST(sum({sql_qlong('resid * resid', NANO)}) AS DOUBLE)
              / count(*) / 1e9) AS sigma
  FROM res
)
SELECT h, round(x, 6) AS x, round(trend, 6) AS trend,
       round(seasonal, 6) AS seasonal, round(resid, 6) AS residual,
       abs(resid) > 3 * sigma AS is_outlier
FROM res, sig
ORDER BY h
"""
@register(
    "ts_stl_residual_outliers",
    oracle=_sql_stl(),
    tags=("timeseries", "decomposition", "anomaly"),
)
def ts_stl_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal decomposition with residual outlier flags:
    trend = centered 25-hour rolling mean of the hourly series,
    seasonal = hour-of-day mean of the detrended values (24-cell index,
    broadcast back), residual = detrended - seasonal, outlier =
    |residual| > 3σ. The composition story: W2's rolling mean +
    ts_seasonal_index's cell index + the z-score gate, fused into one
    lazy plan. Ordered window runs over the hourly series (720 points
    at sf0.01 — series cardinality, never rows); σ is an exact
    nano-quantized moment and arrives as the 1-row scalar broadcast."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        davg("value").alias("x")
    )
    tr = centered_rolling_mean(hourly, "h", "x", _STL_W, out_col="trend")
    de = tr.withColumn("detr", F.col("x") - F.col("trend"))
    seas = de.groupBy(F.hour("h").alias("hod")).agg(davg("detr").alias("seasonal"))
    res = (
        de.join(F.broadcast(seas), F.hour(de["h"]) == seas["hod"])
        .withColumn("resid", F.col("detr") - F.col("seasonal"))
    )
    sig = res.agg(
        F.sqrt(
            F.sum(qlong(F.col("resid") * F.col("resid"), NANO)).cast(
                "double"
            )
            / F.count(F.lit(1))
            / F.lit(1e9)
        ).alias("sigma")
    )
    return (
        res.crossJoin(F.broadcast(sig))
        .select(
            "h",
            F.round("x", 6).alias("x"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round("resid", 6).alias("residual"),
            (F.abs(F.col("resid")) > 3 * F.col("sigma")).alias("is_outlier"),
        )
        .sortWithinPartitions("h")
    )


_HOLT_H = 7
def _sql_holt() -> str:
    # DuckDB 1.0's list_reduce mis-evaluates struct accumulators whose
    # fields cross-reference (the 't' field sees a half-updated acc), so
    # the oracle replays the identical recursion as a recursive CTE over
    # the day index instead — same math, same 9 dp grid.
    return f"""
WITH RECURSIVE daily AS (
  SELECT row_number() OVER (ORDER BY d) AS i, y FROM (
    SELECT CAST(ts AS DATE) AS d,
           round({SQL_DAVG.format(x='value')}, 9) AS y
    FROM events GROUP BY 1
  )
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
holt AS (
  SELECT i, y AS l, CAST(0.0 AS DOUBLE) AS t FROM daily WHERE i = 1
  UNION ALL
  SELECT d.i,
         round(0.5 * d.y + 0.5 * round(h.l + h.t, 9), 9) AS l,
         round(0.15 * (d.y - h.l) + 0.85 * h.t, 9) AS t
  FROM holt h JOIN daily d ON d.i = h.i + 1
),
fin AS (
  SELECT l, t FROM holt ORDER BY i DESC LIMIT 1
)
SELECT CAST(h AS BIGINT) AS h, n_days,
       l AS level, t AS trend,
       round(l + h * t, 9) AS forecast
FROM fin CROSS JOIN nd CROSS JOIN generate_series(1, {_HOLT_H}) g(h)
ORDER BY h
"""
@register(
    "ts_holt_forecast",
    oracle=_sql_holt(),
    tags=("timeseries", "forecast", "hof"),
)
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α=0.5, β=0.3,
    classic init l₁=y₁, t₁=0) over the daily mean event value, with a
    7-step linear forecast. The recursion runs as a SEQUENTIAL fold over
    the date-ordered daily array (F.aggregate / list_reduce) — state is
    one (level, trend) struct, the fold order is identical on both
    engines, and each step re-rounds at 9 dp, so the whole trajectory is
    bit-stable. The corpus-sized work is one daily groupBy; the fold
    touches #days elements, and at 100 TB the same shape runs per key
    inside a grouped aggregation (one series per group, bounded days)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.round(davg("value"), 9).alias("y")
    )
    arr = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "y"))),
            lambda s: F.struct(
                s["y"].alias("y"), s["y"].alias("l"), F.lit(0.0).alias("t")
            ),
        ).alias("a"),
        F.count(F.lit(1)).alias("n_days"),
    )
    # trend update in the substitution form (t' = αβ(y−l) + (β(1−α)+1−β)t,
    # = 0.15/0.85 for α=0.5, β=0.3): the Holt recursion with each state
    # variable referenced once per expression and ONE rounding per field —
    # the exact spec the oracle's recursive CTE replays
    def step(acc, x):
        return F.struct(
            x["y"].alias("y"),
            F.round(
                0.5 * x["y"] + 0.5 * F.round(acc["l"] + acc["t"], 9), 9
            ).alias("l"),
            F.round(
                F.lit(0.15) * (x["y"] - acc["l"]) + F.lit(0.85) * acc["t"], 9
            ).alias("t"),
        )

    fitted = arr.select(
        "n_days",
        F.aggregate(
            F.slice("a", 2, F.size("a") - 1), F.element_at("a", 1), step
        ).alias("s"),
    )
    return (
        fitted.select(
            "n_days", F.col("s.l").alias("level"), F.col("s.t").alias("trend")
        )
        .crossJoin(F.broadcast(
            spark.range(1, _HOLT_H + 1).select(F.col("id").alias("h"))
        ))
        .select(
            "h",
            "n_days",
            "level",
            "trend",
            F.round(F.col("level") + F.col("h") * F.col("trend"), 9).alias("forecast"),
        )
        .orderBy("h")
    )


_TWA_MAX_USER = 200
_SQL_TWA = f"""
WITH s AS (
  SELECT user_id, epoch_us(ts) AS t, value,
         {sql_qlong('value')} AS vm
  FROM events WHERE user_id <= {_TWA_MAX_USER}
),
seg AS (
  SELECT user_id, value, vm, t,
         lead(t) OVER (PARTITION BY user_id ORDER BY t, vm) AS t_next
  FROM s
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CASE WHEN t_next IS NULL THEN 0
                           ELSE CAST(vm AS HUGEINT) * (t_next - t) END) AS DOUBLE)
               / CAST(sum(CASE WHEN t_next IS NULL THEN 0 ELSE t_next - t END) AS DOUBLE)
               / 1000000.0, 9) AS twa,
       round({SQL_DAVG.format(x='value')}, 9) AS arith_avg
FROM seg
GROUP BY user_id
HAVING count(*) >= 2
ORDER BY user_id
"""
@register(
    "ts_time_weighted_avg",
    oracle=_SQL_TWA,
    tags=("timeseries", "window", "agg"),
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user over IRREGULAR samples: each value
    holds until the next observation (left-step integration), so
    twa = Σ v_i·(t_{i+1}−t_i) / (t_n−t_1) — the correct mean for metrics
    sampled on events, where the arithmetic mean over-weights busy
    periods (returned alongside for contrast). The integral is an exact
    wide-integer sum (micro-value × µs-duration products in
    Decimal128/HUGEINT — the product overflows int64 by design), one
    window + one aggregate; total-ordered by (t, value) so duplicate
    timestamps are deterministic."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") <= _TWA_MAX_USER)
    s = ev.select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        "value",
        qlong("value").alias("vm"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "vm")
    seg = s.withColumn("t_next", F.lead("t").over(w))
    dur = F.when(F.col("t_next").isNull(), F.lit(0)).otherwise(
        F.col("t_next") - F.col("t")
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                wide_sum("vm", dur).cast("double") / F.sum(dur).cast("double") / 1000000.0, 9
            ).alias("twa"),
            F.round(davg("value"), 9).alias("arith_avg"),
        )
        .filter(F.col("n_events") >= 2)
        .orderBy("user_id")
    )


_SQL_PEAKS = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         round((CAST(SUM({sql_qlong('value', cast='HUGEINT')}) AS DOUBLE)
                / count(*)) / 1000000.0, 9) AS y
  FROM events GROUP BY 1
),
ctx AS (
  SELECT h, y,
         lag(y) OVER (ORDER BY h) AS y_prev,
         lead(y) OVER (ORDER BY h) AS y_next
  FROM hourly
),
thr AS (SELECT round(quantile_cont(y, 0.75), 9) AS p75 FROM hourly)
SELECT h AS hour_ts, y, round(y - p75, 9) AS above_p75
FROM ctx CROSS JOIN thr
WHERE y_prev IS NOT NULL AND y_next IS NOT NULL
  AND y > y_prev AND y > y_next AND y >= p75
ORDER BY hour_ts
"""
@register(
    "ts_peak_detection",
    oracle=_SQL_PEAKS,
    tags=("timeseries", "window", "peaks"),
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection on the hourly mean series: a peak is
    strictly above both neighbors AND at or above the exact global p75
    (the prominence floor that silences micro-wiggles) — the alerting
    primitive behind 'traffic spiked at 14:00'. Series state is
    hours-sized; the threshold is a 1-row broadcast; endpoints are
    excluded (no one-sided peaks)."""
    ev = _t(spark, sf_dir, "events")
    micro = F.sum(qlong("value"))
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.round((micro.cast("double") / F.count(F.lit(1))) / 1000000.0, 9).alias("y")
    )
    w = Window.orderBy("h")
    ctx = hourly.select(
        "h",
        "y",
        F.lag("y").over(w).alias("y_prev"),
        F.lead("y").over(w).alias("y_next"),
    )
    thr = hourly.agg(F.round(F.percentile("y", 0.75), 9).alias("p75"))
    return (
        ctx.crossJoin(F.broadcast(thr))
        .filter(
            F.col("y_prev").isNotNull()
            & F.col("y_next").isNotNull()
            & (F.col("y") > F.col("y_prev"))
            & (F.col("y") > F.col("y_next"))
            & (F.col("y") >= F.col("p75"))
        )
        .select(
            F.col("h").alias("hour_ts"),
            "y",
            F.round(F.col("y") - F.col("p75"), 9).alias("above_p75"),
        )
        .orderBy("hour_ts")
    )


_BOLL_SQL = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({sql_qlong('value', CENTS)}) AS BIGINT) AS v_cents
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, day, v_cents,
         CAST(count(*) OVER win AS BIGINT) AS n_obs,
         CAST(sum(v_cents) OVER win AS BIGINT) AS ms,
         CAST({sql_wide_sum('v_cents', 'v_cents')} OVER win AS HUGEINT) AS mss
  FROM daily
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, n_obs,
       round(v_cents / 100.0, 2) AS price,
       round(CAST(ms AS DOUBLE) / n_obs / 100.0, 6) AS ma20,
       round((CAST(ms AS DOUBLE) / n_obs
              + 2 * sqrt(greatest(CAST(mss AS DOUBLE) / n_obs
                                  - (CAST(ms AS DOUBLE) / n_obs) * (CAST(ms AS DOUBLE) / n_obs), 0)))
             / 100.0, 6) AS upper_band,
       round((CAST(ms AS DOUBLE) / n_obs
              - 2 * sqrt(greatest(CAST(mss AS DOUBLE) / n_obs
                                  - (CAST(ms AS DOUBLE) / n_obs) * (CAST(ms AS DOUBLE) / n_obs), 0)))
             / 100.0, 6) AS lower_band
FROM w ORDER BY event_type, day
"""
@register(
    "ts_bollinger_bands",
    oracle=_BOLL_SQL,
    tags=("timeseries", "finance", "window", "volatility"),
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands — 20-period rolling mean +/- 2 rolling standard
    deviations over each event type's daily value series (Bollinger
    1992), the classic volatility envelope; complements
    ``finance_max_drawdown`` (extremum) and ``w_ewma_smoothed``
    (exponential) with the bounded-frame moving-moment shape.

    Daily totals are exact cents (BIGINT); the rolling window carries
    only the three sufficient statistics (n, Sigma x, Sigma x^2 — the
    x^2 sum through HUGEINT/DECIMAL(38,0)), so both engines derive mean
    and variance from identical exact integers and evaluate the same
    IEEE expression; variance is clamped at 0 before sqrt (startup
    frames with n < 20 use the same shrinking-window semantics on both
    engines). Plan shape: one map-side-combinable daily aggregate, then
    ONE window PARTITIONED BY instrument with a 20-row frame — per-key
    sequential state, the shape that scales with instrument count."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(qlong("value", CENTS))
        .cast("bigint")
        .alias("v_cents")
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-19, Window.currentRow)
    )
    w = daily.select(
        "event_type",
        "day",
        "v_cents",
        F.count(F.lit(1)).over(win).cast("bigint").alias("n_obs"),
        F.sum("v_cents").over(win).cast("bigint").alias("ms"),
        wide_sum("v_cents", "v_cents").over(win).cast("decimal(38,0)").alias("mss"),
    )
    m = F.col("ms").cast("double") / F.col("n_obs")
    sd = F.sqrt(
        F.greatest(F.col("mss").cast("double") / F.col("n_obs") - m * m, F.lit(0.0))
    )
    return w.select(
        "event_type",
        "day",
        "n_obs",
        F.round(F.col("v_cents") / 100.0, 2).alias("price"),
        F.round(m / 100.0, 6).alias("ma20"),
        F.round((m + 2 * sd) / 100.0, 6).alias("upper_band"),
        F.round((m - 2 * sd) / 100.0, 6).alias("lower_band"),
    ).orderBy("event_type", "day")


_MK_SQL = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({sql_qlong('value', CENTS)}) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST({sql_wide_sum('c', '(c - 1) * (2 * c + 5)')} AS BIGINT) AS tv,
         CAST({sql_wide_sum('c', '(c - 1)')} / 2 AS BIGINT) AS t1
  FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        FROM daily GROUP BY 1, 2)
  GROUP BY 1
),
stat AS (
  SELECT p.event_type, t.n, p.s_stat,
         (CAST(t.n AS DOUBLE) * (t.n - 1) * (2 * t.n + 5) - t.tv) / 18.0 AS var_s,
         CAST(t.n AS DOUBLE) * (t.n - 1) / 2 AS np,
         CAST(t.t1 AS DOUBLE) AS t1
  FROM pairs p JOIN ties t USING (event_type)
)
SELECT event_type, n, s_stat,
       round(var_s, 6) AS var_s,
       round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                  ELSE 0.0 END, 6) AS z,
       round(s_stat / sqrt((np - t1) * np), 9) AS tau_b
FROM stat ORDER BY event_type
"""
@register(
    "ts_mann_kendall_trend",
    oracle=_MK_SQL,
    tags=("timeseries", "stats", "trend", "rank"),
)
def ts_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type — Kendall's
    S = Sigma_{i<j} sign(x_j - x_i) against time over the daily-total
    series, with the tie-corrected variance (Sigma t(t-1)(2t+5) term)
    and continuity-corrected z; tau-b normalizes S by the tie-adjusted
    pair count (the time axis has no ties, so only the value-tie factor
    applies). The distribution-free trend detector that pairs with
    ``stats_theilsen_slope``'s robust magnitude estimate.

    Everything is exact integers until the final formula: daily totals
    are cents (BIGINT), sign comparisons and S are integer, tie terms
    go through HUGEINT/DECIMAL(38,0). Pair enumeration is O(days^2) per
    series ON THE DAILY PRE-AGGREGATE (the ``stats_theilsen_slope``
    discipline — days, never raw rows, bound the join), grouped by the
    series key so partitioning follows series count."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(qlong("value", CENTS))
        .cast("bigint")
        .alias("v")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.v") > F.col("a.v"), 1)
                .when(F.col("b.v") < F.col("a.v"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            wide_sum(F.col("c") * (F.col("c") - 1), 2 * F.col("c") + 5)
            .cast("bigint")
            .alias("tv"),
            (wide_sum("c", F.col("c") - 1) / 2).cast("bigint").alias("t1"),
        )
    )
    st = pairs.join(ties, "event_type")
    nd = F.col("n").cast("double")
    var_s = (nd * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tv")) / 18.0
    np_ = nd * (F.col("n") - 1) / 2
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return st.select(
        "event_type",
        "n",
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.round(
            F.col("s_stat") / F.sqrt((np_ - F.col("t1").cast("double")) * np_), 9
        ).alias("tau_b"),
    ).orderBy("event_type")


_CCF_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) / 3600 AS hour_id,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2
),
x AS (SELECT hour_id, c FROM hourly WHERE event_type = 'click'),
y AS (SELECT hour_id, c FROM hourly WHERE event_type = 'view'),
lags AS (SELECT unnest(range(0, 7)) AS lag),
joined AS (
  SELECT l.lag, x.c AS xc, y.c AS yc
  FROM x CROSS JOIN lags l
  JOIN y ON y.hour_id = x.hour_id + l.lag
),
stats AS (
  SELECT CAST(lag AS BIGINT) AS lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
         CAST({sql_wide_sum('xc', 'xc')} AS BIGINT) AS sxx,
         CAST({sql_wide_sum('yc', 'yc')} AS BIGINT) AS syy,
         CAST({sql_wide_sum('xc', 'yc')} AS BIGINT) AS sxy
  FROM joined GROUP BY 1
)
SELECT lag, n AS n_pairs,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 9)
         AS ccf
FROM stats ORDER BY lag
"""
@register(
    "ts_cross_correlation",
    oracle=_CCF_SQL,
    tags=("timeseries", "stats", "correlation", "lag"),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function — Pearson correlation between the
    hourly click-count series and the view-count series shifted by lag
    0..6 hours (does clicking now predict viewing later?); the
    two-series generalization of ``ts_autocorrelation``, the lead-lag
    diagnostic behind marketing-mix and anomaly-propagation analyses.

    Hourly counts are exact BIGINTs keyed by integer epoch-hour, so the
    lag join is a pure integer equi-join (no timestamp arithmetic in
    the join key) and each lag's Pearson moments (n, Sigma x, Sigma y,
    Sigma x^2, Sigma y^2, Sigma xy) accumulate exactly through
    HUGEINT/DECIMAL(38,0) in one map-side-combinable pass; both engines
    then evaluate the identical IEEE correlation formula. Plan shape:
    one fact scan, a 7-row lag explode on the smaller series, an
    integer equi-join, and a 7-group combine — hours bound every
    post-scan frame at any event volume."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy(
            "event_type",
            (
                F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("bigint")
                / 3600
            )
            .cast("bigint")
            .alias("hour_id"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    x = hourly.filter(F.col("event_type") == "click").select(
        "hour_id", F.col("c").alias("xc")
    )
    y = hourly.filter(F.col("event_type") == "view").select(
        F.col("hour_id").alias("y_hour"), F.col("c").alias("yc")
    )
    lags = F.explode(F.array(*[F.lit(i) for i in range(7)])).alias("lag")
    joined = (
        x.select("hour_id", "xc", lags)
        .join(y, F.col("y_hour") == F.col("hour_id") + F.col("lag"))
    )
    stats = joined.groupBy(F.col("lag").cast("bigint").alias("lag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("sx"),
        F.sum("yc").cast("bigint").alias("sy"),
        wide_sum("xc", "xc").cast("bigint").alias("sxx"),
        wide_sum("yc", "yc").cast("bigint").alias("syy"),
        wide_sum("xc", "yc").cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return stats.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.round(num / den, 9).alias("ccf"),
    ).orderBy("lag")


def _sql_pacf() -> str:
    leads = ", ".join(f"lead(x, {k}) OVER (ORDER BY d) AS x{k}" for k in (1, 2, 3))
    nums = ",\n    ".join(
        f"CAST(sum({sql_qlong(f'(x - xbar) * (x{k} - xbar)', NANO)}) AS BIGINT)"
        f" AS num{k}"
        for k in (1, 2, 3)
    )
    return f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS DOUBLE) / count(*) AS xbar
  FROM daily
),
led AS (SELECT x, xbar, n_days, {leads} FROM daily, m),
s AS (
  SELECT any_value(n_days) AS n_days,
    CAST(sum({sql_qlong('(x - xbar) * (x - xbar)', NANO)}) AS BIGINT) AS denom,
    {nums}
  FROM led
),
r AS (
  SELECT n_days,
         CAST(num1 AS DOUBLE) / denom AS r1,
         CAST(num2 AS DOUBLE) / denom AS r2,
         CAST(num3 AS DOUBLE) / denom AS r3
  FROM s
),
l2 AS (
  SELECT n_days, r1, r2, r3,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS ph22
  FROM r
),
l3 AS (
  SELECT n_days, r1, r2, r3, ph22,
         r1 - ph22 * r1 AS ph21
  FROM l2
)
SELECT n_days,
       round(r1, 6) AS acf1, round(r2, 6) AS acf2, round(r3, 6) AS acf3,
       round(r1, 6) AS pacf1,
       round(ph22, 6) AS pacf2,
       round((r3 - ph21 * r2 - ph22 * r1)
             / (1.0 - ph21 * r1 - ph22 * r2), 6) AS pacf3
FROM l3
"""
@register(
    "ts_pacf_yule_walker",
    oracle=_sql_pacf(),
    tags=("timeseries", "pacf", "yule-walker", "stats"),
)
def ts_pacf_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at lags
    1..3 via the Yule-Walker equations solved by the Durbin-Levinson
    recursion (unrolled: phi_11 = r1; phi_22 = (r2 - r1^2)/(1 - r1^2);
    phi_33 from the level-2 prediction coefficients) — the AR-order
    diagnostic that complements ``ts_autocorrelation``'s ACF: PACF
    cutting off after lag p is the signature of an AR(p) process.

    Exactness: the daily series is integer counts; every lag product
    (x_t - xbar)(x_{t+k} - xbar) is nano-quantized before summing (the
    ACF-entry discipline) so r1..r3 are ratios of exact integers; the
    recursion algebra is written with identical association order on
    both engines.

    Scale shape: the corpus-sized work is one map-side-combined daily
    count; the ordered lead window and the recursion run over the
    series frame (cardinality = days). At 100 TB a 10-year horizon is
    ~3.7k points — the window never touches raw events."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("xbar"),
    )
    w = Window.orderBy("d")
    led = daily.crossJoin(F.broadcast(m)).select(
        "x",
        "xbar",
        "n_days",
        *[F.lead("x", k).over(w).alias(f"x{k}") for k in (1, 2, 3)],
    )

    xbar = F.col("xbar")
    s = led.agg(
        F.any_value("n_days").alias("n_days"),
        nano_comoment(F.col("x"), F.col("x"), xbar).alias("denom"),
        *[
            nano_comoment(F.col("x"), F.col(f"x{k}"), xbar).alias(f"num{k}")
            for k in (1, 2, 3)
        ],
    )
    r = s.select(
        "n_days",
        *[
            (F.col(f"num{k}").cast("double") / F.col("denom")).alias(f"r{k}")
            for k in (1, 2, 3)
        ],
    )
    l2 = r.select(
        "*",
        (
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (F.lit(1.0) - F.col("r1") * F.col("r1"))
        ).alias("ph22"),
    )
    l3 = l2.select(
        "*", (F.col("r1") - F.col("ph22") * F.col("r1")).alias("ph21")
    )
    pacf3 = (
        F.col("r3") - F.col("ph21") * F.col("r2") - F.col("ph22") * F.col("r1")
    ) / (
        F.lit(1.0) - F.col("ph21") * F.col("r1") - F.col("ph22") * F.col("r2")
    )
    return l3.select(
        "n_days",
        F.round("r1", 6).alias("acf1"),
        F.round("r2", 6).alias("acf2"),
        F.round("r3", 6).alias("acf3"),
        F.round("r1", 6).alias("pacf1"),
        F.round("ph22", 6).alias("pacf2"),
        F.round(pacf3, 6).alias("pacf3"),
    )


_LTOB_BUCKET_DAYS = 40  # ~2400 fixture days -> ~60 plotted points
def _sql_ltob() -> str:
    return f"""
WITH daily AS (
  SELECT CAST(CAST(d AS DATE) - DATE '1970-01-01' AS BIGINT) AS x, rev AS y
  FROM ({_SQL_DAILY_REVENUE})
),
b AS (SELECT CAST(min(x) AS BIGINT) AS x0 FROM daily),
bucketed AS (
  SELECT CAST((d.x - b.x0) // {_LTOB_BUCKET_DAYS} AS BIGINT) AS bkt, d.x, d.y
  FROM daily d, b
),
anchors AS (
  SELECT bkt,
         {sql_qlong('CAST(sum(x) AS DOUBLE) / count(*)')}
           AS axq,
         CAST(round(CAST({sql_wide_sum('y')} AS DOUBLE) / count(*)) AS BIGINT)
           AS ayq,
         CAST(min(x) AS BIGINT) AS first_x, CAST(max(x) AS BIGINT) AS last_x,
         CAST(count(*) AS BIGINT) AS n
  FROM bucketed GROUP BY bkt
),
ctx AS (
  SELECT bkt, axq, ayq, n,
         lag(axq) OVER (ORDER BY bkt) AS pxq,
         lag(ayq) OVER (ORDER BY bkt) AS pyq,
         lead(axq) OVER (ORDER BY bkt) AS nxq,
         lead(ayq) OVER (ORDER BY bkt) AS nyq
  FROM anchors
),
scored AS (
  SELECT p.bkt, p.x, p.y,
         abs(CAST(c.pxq - c.nxq AS HUGEINT) * (p.y - c.pyq)
             - CAST(c.pxq - p.x * 1000000 AS HUGEINT) * (c.nyq - c.pyq))
           AS area2,
         c.n
  FROM bucketed p JOIN ctx c USING (bkt)
  WHERE c.pxq IS NOT NULL AND c.nxq IS NOT NULL
),
picked AS (
  SELECT bkt, x, y FROM (
    SELECT bkt, x, y,
           row_number() OVER (PARTITION BY bkt ORDER BY area2 DESC, x) AS rn
    FROM scored
  ) WHERE rn = 1
),
endpoints AS (
  SELECT CAST(-1 AS BIGINT) AS bkt, x, y FROM daily
  WHERE x = (SELECT min(x) FROM daily)
  UNION ALL
  SELECT CAST(1 << 40 AS BIGINT) AS bkt, x, y FROM daily
  WHERE x = (SELECT max(x) FROM daily)
)
SELECT x AS epoch_day, round(y / 100.0, 2) AS revenue
FROM (SELECT * FROM picked UNION ALL SELECT * FROM endpoints)
ORDER BY x
"""
@register(
    "ts_downsample_ltob",
    oracle=_sql_ltob(),
    tags=("timeseries", "plot", "downsample"),
)
def ts_downsample_ltob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-triangle-one-bucket downsampling (the parallelizable
    variant of Steinarsson's LTTB) of the daily revenue series to ~60
    plot points: per 40-day bucket, keep the point forming the largest
    triangle with the NEIGHBOR-bucket mean anchors — the downsampler
    that preserves visual extrema where naive bucket means flatten
    them. The global first/last days are kept verbatim (plot endpoint
    contract). This is the series the plot sink (SURVEY §2 S5) would
    actually draw at 100 TB — rendering every day is neither possible
    nor useful.

    Exactness: days are exact epoch-day integers, revenue exact cents;
    bucket anchors are micro-quantized means; the doubled triangle
    area |_(px-nx)(y-py) - (px-x)(ny-py)_| is then EXACT integer
    arithmetic (HUGEINT/decimal), so the per-bucket argmax — a
    row_number over (area desc, x) — is deterministic on both engines.

    Scale shape: one map-side-combined daily aggregate is the only
    data-sized stage (the theilsen/Sharpe discipline); anchors, lag/
    lead context, scoring, and the per-bucket rank all run on the
    day-grain (~2.4k rows) and bucket-grain (~60 rows) frames. The
    rank window partitions by bucket."""
    daily = (
        _daily_revenue(spark, sf_dir)
        .select(
            F.datediff(F.col("d").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("x"),
            F.col("rev").alias("y"),
        )
        .localCheckpoint(eager=True)  # feeds buckets, both endpoints
    )
    b = daily.agg(F.min("x").cast("bigint").alias("x0"))
    bucketed = daily.crossJoin(F.broadcast(b)).select(
        F.floor((F.col("x") - F.col("x0")) / _LTOB_BUCKET_DAYS)
        .cast("bigint")
        .alias("bkt"),
        "x",
        "y",
    )
    anchors = bucketed.groupBy("bkt").agg(
        qlong(F.sum("x").cast("double") / F.count(F.lit(1)))
        .alias("axq"),
        F.round(
            wide_sum("y").cast("double")
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("ayq"),
        F.min("x").cast("bigint").alias("first_x"),
        F.max("x").cast("bigint").alias("last_x"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy("bkt")
    ctx = anchors.select(
        "bkt",
        "axq",
        "ayq",
        "n",
        F.lag("axq").over(w).alias("pxq"),
        F.lag("ayq").over(w).alias("pyq"),
        F.lead("axq").over(w).alias("nxq"),
        F.lead("ayq").over(w).alias("nyq"),
    )
    scored = (
        bucketed.join(F.broadcast(ctx), "bkt")
        .filter(F.col("pxq").isNotNull() & F.col("nxq").isNotNull())
        .select(
            "bkt",
            "x",
            "y",
            F.abs(
                (F.col("pxq") - F.col("nxq")).cast("decimal(38,0)")
                * (F.col("y") - F.col("pyq"))
                - (F.col("pxq") - F.col("x") * 1000000).cast("decimal(38,0)")
                * (F.col("nyq") - F.col("pyq"))
            ).alias("area2"),
        )
    )
    wr = Window.partitionBy("bkt").orderBy(F.desc("area2"), "x")
    picked = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("bkt", "x", "y")
    )
    lo = daily.orderBy("x").limit(1).select(F.lit(-1).cast("bigint").alias("bkt"), "x", "y")
    hi = daily.orderBy(F.desc("x")).limit(1).select(
        F.lit(1 << 40).cast("bigint").alias("bkt"), "x", "y"
    )
    return (
        picked.unionAll(lo)
        .unionAll(hi)
        .select(
            F.col("x").alias("epoch_day"),
            F.round(F.col("y") / 100.0, 2).alias("revenue"),
        )
        .orderBy("epoch_day")
    )


_STR_W = 25  # the ts_stl_residual_outliers trend window
def _sql_seasonal_strength() -> str:
    davg_val = SQL_DAVG.format(x="value")
    half = _STR_W // 2

    def var(z: str, mean_alias: str) -> str:
        # E[z^2] - E[z]^2 on the nano/micro grid — identical text Spark-side
        return (
            f"(CAST(sum({sql_qlong(f'({z}) * ({z})', NANO, 'HUGEINT')}) AS DOUBLE)"
            f" / count(*) / 1e9"
            f" - {mean_alias} * {mean_alias})"
        )

    mean = (
        f"(CAST(sum({sql_qlong('{z}', cast='HUGEINT')}) AS DOUBLE)"
        " / count(*) / 1e6)"
    )
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, {davg_val} AS x
  FROM events GROUP BY 1
),
tr AS (
  SELECT h, x,
         avg(x) OVER (ORDER BY h ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)
           AS trend
  FROM hourly
),
de AS (SELECT h, x, trend, x - trend AS detr FROM tr),
seas AS (
  SELECT hour(h) AS hod, {SQL_DAVG.format(x='detr')} AS seasonal
  FROM de GROUP BY 1
),
comp AS (
  SELECT de.h, de.trend, seas.seasonal,
         de.detr - seas.seasonal AS resid
  FROM de JOIN seas ON hour(de.h) = seas.hod
),
v AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hours,
         {mean.format(z='resid')} AS m_r,
         {mean.format(z='seasonal + resid')} AS m_sr,
         {mean.format(z='trend + resid')} AS m_tr,
         {var('resid', mean.format(z='resid'))} AS v_r,
         {var('seasonal + resid', mean.format(z='seasonal + resid'))} AS v_sr,
         {var('trend + resid', mean.format(z='trend + resid'))} AS v_tr
  FROM comp
)
SELECT n_hours,
       round(greatest(0.0, 1.0 - v_r / v_sr), 9) AS seasonal_strength,
       round(greatest(0.0, 1.0 - v_r / v_tr), 9) AS trend_strength,
       round(sqrt(greatest(v_r, 0.0)), 6) AS resid_sd
FROM v
"""
@register(
    "ts_seasonal_strength",
    oracle=_sql_seasonal_strength(),
    tags=("timeseries", "decomposition", "features"),
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal and trend STRENGTH of the hourly event-value series
    (Hyndman's tsfeatures definitions): F_s = max(0, 1 −
    var(R)/var(S+R)) and F_t = max(0, 1 − var(R)/var(T+R)) over the
    SAME decomposition as ``ts_stl_residual_outliers`` (centered
    25-hour rolling trend, hour-of-day seasonal index) — the two
    numbers a forecasting pipeline uses to ROUTE series (seasonal model
    vs trend model vs naive) before fitting anything.

    Exactness: component values go through the micro-unit grid for
    means and the nano grid for squares BEFORE the cross-row sums
    (HUGEINT/decimal accumulators), so each variance is the E[z²]−E[z]²
    identity over identical integers; the strengths are single double
    expressions with identical text.

    Scale shape: the hour-grain frame (~2.4k rows at any corpus size)
    carries every window — the only data-sized stage is the hourly
    aggregate (the theilsen discipline)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        davg("value").alias("x")
    )
    tr = centered_rolling_mean(hourly, "h", "x", _STR_W, out_col="trend")
    de = tr.select(
        "h", "x", "trend", (F.col("x") - F.col("trend")).alias("detr")
    )
    seas = de.groupBy(F.hour("h").alias("hod")).agg(davg("detr").alias("seasonal"))
    comp = de.join(F.broadcast(seas), F.hour(de["h"]) == seas["hod"]).select(
        "h",
        "trend",
        "seasonal",
        (F.col("detr") - F.col("seasonal")).alias("resid"),
    )

    def mean_of(z):
        return (
            F.sum(qlong(z, cast="decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / MICRO
        )

    def sq_of(z):
        return (
            F.sum(qlong(z * z, NANO, "decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / 1e9
        )

    r = F.col("resid")
    sr = F.col("seasonal") + F.col("resid")
    trr = F.col("trend") + F.col("resid")
    v = comp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        (sq_of(r) - mean_of(r) * mean_of(r)).alias("v_r"),
        (sq_of(sr) - mean_of(sr) * mean_of(sr)).alias("v_sr"),
        (sq_of(trr) - mean_of(trr) * mean_of(trr)).alias("v_tr"),
    )
    return v.select(
        "n_hours",
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("v_r") / F.col("v_sr")), 9
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("v_r") / F.col("v_tr")), 9
        ).alias("trend_strength"),
        F.round(F.sqrt(F.greatest(F.col("v_r"), F.lit(0.0))), 6).alias(
            "resid_sd"
        ),
    )


_HAMPEL_HALF = 3  # centered window of 7 days
_HAMPEL_K = 3.0  # flag beyond 3 scaled MADs
_MAD_C = 1.4826  # normal-consistency constant
def _sql_hampel() -> str:
    # lower median of a sorted integer list: element (n+1)//2, 1-indexed
    return f"""
WITH daily AS (SELECT d, rev AS x FROM ({_SQL_DAILY_REVENUE})),
win AS (
  SELECT d, x,
         list(x) OVER (ORDER BY d
                       ROWS BETWEEN {_HAMPEL_HALF} PRECEDING
                                AND {_HAMPEL_HALF} FOLLOWING) AS arr
  FROM daily
),
med AS (
  SELECT d, x, len(arr) AS w,
         list_sort(arr)[(len(arr) + 1) // 2] AS med,
         arr
  FROM win
),
mad AS (
  SELECT d, x, w, med,
         list_sort(list_transform(arr, v -> abs(v - med)))[(w + 1) // 2] AS mad
  FROM med
)
SELECT d, x, med, mad,
       round(abs(x - med) / ({_MAD_C} * mad), 9) AS score
FROM mad
WHERE mad > 0 AND abs(x - med) > {_HAMPEL_K} * {_MAD_C} * mad
ORDER BY d
"""
@register(
    "ts_hampel_outliers",
    oracle=_sql_hampel(),
    tags=("timeseries", "outlier", "hampel", "robust"),
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the daily revenue series: a centered 7-day
    rolling window, the window's LOWER median and median absolute
    deviation (both exact order statistics of integer cents — the lower
    median is element (w+1)//2 of the sorted window, so even-sized edge
    windows never average two values and both engines pick the same
    element), and a flag where |x − med| > 3·1.4826·MAD — the robust
    spike detector that, unlike ``stats_grubbs_test``'s global z-score,
    survives level shifts and trend because the reference is local.
    Zero-MAD windows (≥4 equal values) cannot vote and are excluded —
    the standard Hampel degenerate-window contract.

    Exactness: everything up to the final score is integer arithmetic
    on exact cents; the score is one rounded double ratio; the flag
    compares integers (|x−med| vs a double bound on both engines from
    identical text).

    Scale shape: one map-side-combined day groupBy; the rolling window
    runs over the DAY-GRAIN frame (bounded by the horizon — the
    ts_autocorrelation precedent), with O(w log w) per row for the two
    in-window sorts."""
    from pyspark.sql import Window

    daily = _daily_revenue(spark, sf_dir).select("d", F.col("rev").alias("x"))
    w = Window.orderBy("d").rowsBetween(-_HAMPEL_HALF, _HAMPEL_HALF)
    arr = F.collect_list("x").over(w)
    win = daily.select("d", "x", arr.alias("arr"))
    lower_med = lambda a: F.element_at(  # noqa: E731
        F.array_sort(a), ((F.size(a) + 1) / 2).cast("int")
    )
    med = win.select("d", "x", F.size("arr").alias("w"), lower_med(F.col("arr")).alias("med"), "arr")
    dev = F.transform(F.col("arr"), lambda v: F.abs(v - F.col("med")))
    mad = med.select("d", "x", "med", lower_med(dev).alias("mad"))
    return (
        mad.where(
            (F.col("mad") > 0)
            & (F.abs(F.col("x") - F.col("med")) > _HAMPEL_K * _MAD_C * F.col("mad"))
        )
        .select(
            "d",
            "x",
            "med",
            "mad",
            F.round(
                F.abs(F.col("x") - F.col("med")) / (F.lit(_MAD_C) * F.col("mad")), 9
            ).alias("score"),
        )
        .orderBy("d")
    )


# N(0,1) quartile breakpoints for a 4-letter alphabet (the SAX table)
_SAX_B = "0.6744897501960817"
def _sql_sax() -> str:
    davg_x = SQL_DAVG.format(x="value")
    davg_p = SQL_DAVG.format(x="p")
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, {davg_x} AS x
  FROM events GROUP BY 1
),
paa AS (
  SELECT date_trunc('day', h) AS seg, {SQL_DAVG.format(x='x')} AS p
  FROM hourly GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         {davg_p} AS mu,
         (CAST(SUM({sql_qlong('p * p', cast='HUGEINT')}) AS DOUBLE)
            / count(*)) / 1000000.0 AS m2
  FROM paa
),
z AS (
  SELECT seg, p, mu, sqrt(m2 - mu * mu) AS sd
  FROM paa, m
)
SELECT seg, round(p, 9) AS paa,
       round((p - mu) / sd, 9) AS z,
       CASE WHEN (p - mu) / sd < -{_SAX_B} THEN 'a'
            WHEN (p - mu) / sd < 0.0 THEN 'b'
            WHEN (p - mu) / sd < {_SAX_B} THEN 'c'
            ELSE 'd' END AS symbol
FROM z ORDER BY seg
"""
@register(
    "ts_sax_symbols",
    oracle=_sql_sax(),
    tags=("timeseries", "sax", "symbolic", "datamining"),
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin/Keogh) of the engagement series: hourly
    mean values → day-grain PAA (piecewise aggregate approximation —
    the segment boundary is the calendar day, so no global index is
    needed) → z-normalize against the PAA moments → map to a 4-letter
    alphabet at the N(0,1) quartile breakpoints (±0.6745, 0). The
    symbolic form is what motif discovery, series indexing, and
    anomaly grammars consume — 30 points of 2-bit resolution standing
    in for 43k raw events at sf0.01.

    Exactness: PAA values are the catalog's micro-quantized davg; the
    moment pair (mu, E[p²]) comes from micro-quantized integer sums, so
    sd and every z are identical double expressions; symbols compare
    the same doubles against the same shared breakpoint literal.

    Scale shape: two map-side-combined groupBys (hour, then day), a
    1-row moment broadcast (scalar idiom), pure map assignment. The
    series frames are horizon-bounded."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        davg("value").alias("x")
    )
    paa = hourly.groupBy(F.date_trunc("day", "h").alias("seg")).agg(
        davg("x").alias("p")
    )
    m = paa.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        davg("p").alias("mu"),
        (
            F.sum(qlong(F.col("p") * F.col("p"), cast="decimal(38,0)")).cast(
                "double"
            )
            / F.count(F.lit(1))
            / 1e6
        ).alias("m2"),
    )
    b = float(_SAX_B)
    z = paa.crossJoin(F.broadcast(m)).select(
        "seg",
        "p",
        "mu",
        F.sqrt(F.col("m2") - F.col("mu") * F.col("mu")).alias("sd"),
    )
    zz = (F.col("p") - F.col("mu")) / F.col("sd")
    return z.select(
        "seg",
        F.round("p", 9).alias("paa"),
        F.round(zz, 9).alias("z"),
        F.when(zz < -b, "a")
        .when(zz < 0.0, "b")
        .when(zz < b, "c")
        .otherwise("d")
        .alias("symbol"),
    ).orderBy("seg")


@register(
    "events_markov2_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type AS s1,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS s2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS dst
  FROM events
),
cnt AS (
  SELECT s1, s2, dst, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2, 3
),
ctx AS (SELECT s1, s2, CAST(sum(n) AS BIGINT) AS ctx_n FROM cnt GROUP BY 1, 2)
SELECT c.s1, c.s2, c.dst, c.n,
       round(CAST(c.n AS DOUBLE) / x.ctx_n, 6) AS p
FROM cnt c JOIN ctx x USING (s1, s2)
ORDER BY s1, s2, dst
""",
    tags=("markov", "sequence", "window"),
)
def events_markov2_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order Markov transition tensor over per-user event
    sequences: P(next | the two preceding events) — the memory-2
    refinement of ``events_markov_transitions`` that captures patterns
    the first-order chain aliases (view→click→purchase vs
    click→view→purchase have the same first-order edges but different
    conversion odds). Two leads over ONE window spec pair each event
    with its two successors; context-normalized probabilities come from
    the states²-row context totals joined back broadcast. The tensor is
    states³ rows — model-sized — while the only event-cardinality work
    is the single per-user window pass (same shuffle as first order:
    the lag/lead family reuses one sort)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("s1"),
            F.lead("event_type", 1).over(w).alias("s2"),
            F.lead("event_type", 2).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    cnt = seq.groupBy("s1", "s2", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ctx = cnt.groupBy("s1", "s2").agg(F.sum("n").cast("bigint").alias("ctx_n"))
    return (
        cnt.join(F.broadcast(ctx), ["s1", "s2"])
        .select(
            "s1",
            "s2",
            "dst",
            "n",
            F.round(F.col("n").cast("double") / F.col("ctx_n"), 6).alias("p"),
        )
        .orderBy("s1", "s2", "dst")
    )


def _sql_pettitt() -> str:
    return f"""
WITH daily AS (SELECT d, rev AS x FROM ({_SQL_DAILY_REVENUE})),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
mr AS (
  SELECT d,
         CAST(2 * rank() OVER (ORDER BY x)
              + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS mr2
  FROM daily
),
u AS (
  SELECT d,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
         CAST(sum(mr2) OVER (ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS s2
  FROM mr
),
ut AS (
  SELECT d, t * (n + 1) - s2 AS u_t
  FROM u CROSS JOIN nn WHERE t < n
),
best AS (
  SELECT d, u_t FROM ut ORDER BY abs(u_t) DESC, d LIMIT 1
)
SELECT best.d AS changepoint_day, best.u_t AS u_stat, nn.n AS n_days,
       round(2.0 * exp(-6.0 * u_t * u_t
                       / (CAST(n AS DOUBLE) * n * n + n * n)), 6)
         AS p_value
FROM best, nn
"""
@register(
    "ts_pettitt_changepoint",
    oracle=_sql_pettitt(),
    tags=("timeseries", "changepoint", "nonparametric"),
)
def ts_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based changepoint test on the daily revenue series:
    U_t = Σ_{i≤t} Σ_{j>t} sign(x_j − x_i), the split day maximizing
    |U_t|, and the standard approximate p-value 2·exp(−6U²/(n³+n²)) —
    the NONPARAMETRIC complement to ``events_changepoint_cusum`` (rank
    signs, so a single spike can't drag the break the way a mean-shift
    CUSUM can). The pairwise definition is NOT enumerated: by the
    antisymmetry of sign over the prefix, U_t = t(n+1) − 2·S_t where
    S_t is the running sum of MIDRANKS (property-verified against the
    O(n³) definition under heavy ties) — doubled midranks keep every
    quantity an exact BIGINT, and the whole statistic reduces to two
    rank windows plus one running sum over the day-grain frame
    (O(n log n); the first cut of this entry enumerated the triple
    join and took 256 s at sf0.01 — the identity makes it ~2 s).

    Exactness: mr2 = 2·rank + tie_count − 1 and U_t are exact BIGINTs;
    the argmax orders on (|U| desc, day); p is one closed-form double.

    Scale shape: day-grain only after one map-side-combined groupBy;
    the rank/running-sum windows run over the horizon-bounded day
    frame (the ts_autocorrelation precedent)."""
    daily = (
        _daily_revenue(spark, sf_dir)
        .select("d", F.col("rev").alias("x"))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    mr = daily.select(
        "d",
        (
            2 * F.rank().over(Window.orderBy("x"))
            + F.count(F.lit(1)).over(Window.partitionBy("x"))
            - 1
        )
        .cast("bigint")
        .alias("mr2"),
    )
    wd = Window.orderBy("d")
    u = mr.select(
        "d",
        F.row_number().over(wd).cast("bigint").alias("t"),
        F.sum("mr2")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("s2"),
    )
    ut = (
        u.crossJoin(F.broadcast(nn))
        .where(F.col("t") < F.col("n"))
        .select("d", "n", (F.col("t") * (F.col("n") + 1) - F.col("s2")).alias("u_t"))
    )
    best = ut.orderBy(F.desc(F.abs(F.col("u_t"))), "d").limit(1)
    nd = F.col("n").cast("double")
    return best.select(
        F.col("d").alias("changepoint_day"),
        F.col("u_t").alias("u_stat"),
        F.col("n").alias("n_days"),
        F.round(
            2.0
            * F.exp(
                F.lit(-6.0) * F.col("u_t") * F.col("u_t") / (nd * nd * nd + nd * nd)
            ),
            6,
        ).alias("p_value"),
    )


def _sql_entropy_rate() -> str:
    return f"""
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
cnt AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
),
rowt AS (SELECT src, CAST(sum(n) AS BIGINT) AS row_n FROM cnt GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt),
h AS (
  SELECT CAST(sum({sql_qlong(
      '-(CAST(c.n AS DOUBLE) / t.t) * ln(CAST(c.n AS DOUBLE) / r.row_n)', NANO,
  )}) AS BIGINT) AS h9,
         max(t.t) AS t
  FROM cnt c JOIN rowt r USING (src) CROSS JOIN tot t
)
SELECT t AS n_transitions,
       round(CAST(h9 AS DOUBLE) / 1e9, 9) AS entropy_rate_nats,
       round(CAST(h9 AS DOUBLE) / 1e9 / ln(2.0), 9) AS entropy_rate_bits
FROM h
"""
@register(
    "events_entropy_rate",
    oracle=_sql_entropy_rate(),
    tags=("markov", "entropy", "information"),
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type process under the first-order
    Markov model: H = −Σ_ij π_i·p_ij·ln p_ij with the stationary weight
    taken as the EMPIRICAL transition mass (π_i·p_ij = n_ij/N — exact,
    and the MLE), in nats and bits — 'how many bits does the next
    action carry given the last one?', the one-number summary of
    ``events_markov_transitions``' matrix that monitors journey
    predictability drift (a UX change that makes behavior more
    deterministic drops it).

    Exactness: counts are exact BIGINTs from the same single window
    pass as the transition entries; each −(n_ij/N)·ln(n_ij/n_i·) term
    quantizes to a nano-grid integer before the order-free sum.

    Scale shape: one per-user window pass (shared shape with the
    Markov family), a states²-row frame, a 1-row total broadcast, one
    reduce."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    cnt = seq.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).localCheckpoint(eager=True)  # states²; feeds row totals AND terms
    rowt = cnt.groupBy("src").agg(F.sum("n").cast("bigint").alias("row_n"))
    tot = cnt.agg(F.sum("n").cast("bigint").alias("t"))
    term = (
        -(F.col("n").cast("double") / F.col("t"))
        * F.ln(F.col("n").cast("double") / F.col("row_n"))
    )
    h = (
        cnt.join(F.broadcast(rowt), "src")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(qlong(term, NANO)).cast("bigint").alias("h9"),
            F.max("t").alias("t"),
        )
    )
    return h.select(
        F.col("t").alias("n_transitions"),
        F.round(F.col("h9").cast("double") / 1e9, 9).alias("entropy_rate_nats"),
        # divide by the ENGINE's ln(2.0), mirroring the oracle text — a
        # Python literal could sit 1 ulp off the engine's computation
        F.round(F.col("h9").cast("double") / 1e9 / F.ln(F.lit(2.0)), 9).alias(
            "entropy_rate_bits"
        ),
    )


def _sql_seasonal_mk() -> str:
    return f"""
WITH daily AS (
  SELECT d AS day, isodow(d) AS g, rev AS v FROM ({_SQL_DAILY_REVENUE})
),
pairs AS (
  SELECT a.g,
         CAST(sum(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END)
              AS BIGINT) AS s_g
  FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day
  GROUP BY 1
),
ties AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_g,
         CAST({sql_wide_sum('c', '(c - 1) * (2 * c + 5)')} AS BIGINT) AS tv
  FROM (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY 1, 2)
  GROUP BY 1
),
per AS (
  SELECT p.g, t.n_g, p.s_g,
         (CAST(t.n_g AS DOUBLE) * (t.n_g - 1) * (2 * t.n_g + 5) - t.tv) / 18.0
           AS var_g
  FROM pairs p JOIN ties t USING (g)
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n_days,
         CAST(count(*) AS BIGINT) AS n_seasons,
         CAST(sum(s_g) AS BIGINT) AS s_stat,
         sum(var_g) AS var_s
  FROM per
)
SELECT n_days, n_seasons, s_stat, round(var_s, 6) AS var_s,
       round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                  ELSE 0.0 END, 6) AS z
FROM tot
"""
@register(
    "ts_seasonal_mann_kendall",
    oracle=_sql_seasonal_mk(),
    tags=("timeseries", "stats", "trend", "seasonal"),
)
def ts_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch-Slack) on daily revenue with
    day-of-week seasons: Kendall's S computed WITHIN each weekday
    stream (Monday vs other Mondays, never Monday vs Saturday), summed
    with summed tie-corrected variances and the continuity-corrected z
    — the trend test that a weekly cycle cannot fool, where the plain
    ``ts_mann_kendall_trend`` counts every weekend-vs-weekday pair as
    (anti-)trend evidence. The standard hydrology/KPI long-run monotone
    trend readout.

    Exactness: daily totals are exact BIGINT cents; every S_g and tie
    term is integer (HUGEINT/DECIMAL-safe); z is one closed-form
    double.

    Scale shape: pair enumeration joins WITHIN seasons on the
    day-grain pre-aggregate — (days/7)² per season, bounded by the
    horizon, never raw rows; the season frames then reduce to 7 rows
    and one total."""
    daily = (
        _daily_revenue(spark, sf_dir)
        .select(
            F.col("d").alias("day"),
            # a grouping key only: any fixed weekday numbering
            # partitions the days identically
            F.dayofweek("d").alias("g"),
            F.col("rev").alias("v"),
        )
        .localCheckpoint(eager=True)  # feeds pairs AND ties
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.day") < F.col("b.day")))
        .groupBy(F.col("a.g").alias("g"))
        .agg(
            F.sum(
                F.when(F.col("b.v") > F.col("a.v"), 1)
                .when(F.col("b.v") < F.col("a.v"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_g")
        )
    )
    ties = (
        daily.groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            wide_sum(F.col("c") * (F.col("c") - 1), 2 * F.col("c") + 5)
            .cast("bigint")
            .alias("tv"),
        )
    )
    per = pairs.join(ties, "g").select(
        "g",
        "n_g",
        "s_g",
        (
            (
                F.col("n_g").cast("double")
                * (F.col("n_g") - 1)
                * (2 * F.col("n_g") + 5)
                - F.col("tv")
            )
            / 18.0
        ).alias("var_g"),
    )
    tot = per.agg(
        F.sum("n_g").cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
        F.sum("s_g").cast("bigint").alias("s_stat"),
        F.sum("var_g").alias("var_s"),
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return tot.select(
        "n_days",
        "n_seasons",
        "s_stat",
        F.round("var_s", 6).alias("var_s"),
        F.round(z, 6).alias("z"),
    )


# --------------------------------------------------------------------------
# Granger causality screen (1 lag, partial-correlation form) — round 9
# --------------------------------------------------------------------------


def _sql_granger() -> str:

    phi = SQL_NORM_CDF.format(z="abs(tt)")
    # zero-variance guard (the r8 latent class): the moment products are
    # exact integers, so the degenerate-series test is pure integer
    # comparison — NULL on both engines instead of NaN-vs-error
    r = (
        "(CASE WHEN (n * {saa} - {sa} * {sa}) > 0"
        "       AND (n * {sbb} - {sb} * {sb}) > 0 THEN"
        " ((CAST(n AS DOUBLE) * {sab} - CAST({sa} AS DOUBLE) * {sb})"
        " / sqrt((CAST(n AS DOUBLE) * {saa} - CAST({sa} AS DOUBLE) * {sa})"
        "        * (CAST(n AS DOUBLE) * {sbb} - CAST({sb} AS DOUBLE) * {sb})))"
        " END)"
    )
    return f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS v,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS p
  FROM events GROUP BY 1
),
lagged AS (
  SELECT p AS y, lag(v) OVER (ORDER BY d) AS x, lag(p) OVER (ORDER BY d) AS z
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST({sql_wide_sum('y')} AS HUGEINT) AS sy,
         CAST({sql_wide_sum('x')} AS HUGEINT) AS sx,
         CAST({sql_wide_sum('z')} AS HUGEINT) AS sz,
         CAST({sql_wide_sum('y', 'y')} AS HUGEINT) AS syy,
         CAST({sql_wide_sum('x', 'x')} AS HUGEINT) AS sxx,
         CAST({sql_wide_sum('z', 'z')} AS HUGEINT) AS szz,
         CAST({sql_wide_sum('y', 'x')} AS HUGEINT) AS syx,
         CAST({sql_wide_sum('y', 'z')} AS HUGEINT) AS syz,
         CAST({sql_wide_sum('x', 'z')} AS HUGEINT) AS sxz
  FROM lagged WHERE x IS NOT NULL
),
rr AS (
  SELECT n,
         {r.format(sab="syx", sa="sy", sb="sx", saa="syy", sbb="sxx")} AS ryx,
         {r.format(sab="syz", sa="sy", sb="sz", saa="syy", sbb="szz")} AS ryz,
         {r.format(sab="sxz", sa="sx", sb="sz", saa="sxx", sbb="szz")} AS rxz
  FROM m
),
pc AS (
  SELECT n,
         CASE WHEN (1.0 - ryz * ryz) * (1.0 - rxz * rxz) > 0.0 THEN
           (ryx - ryz * rxz) / sqrt((1.0 - ryz * ryz) * (1.0 - rxz * rxz))
         END AS rp
  FROM rr
),
ft AS (
  SELECT n, rp,
         CASE WHEN 1.0 - rp * rp > 0.0
              THEN rp * rp * (n - 3) / (1.0 - rp * rp) END AS f,
         CASE WHEN 1.0 - rp * rp <= 0.0 THEN NULL
              WHEN rp >= 0 THEN sqrt(rp * rp * (n - 3) / (1.0 - rp * rp))
              ELSE -sqrt(rp * rp * (n - 3) / (1.0 - rp * rp)) END AS tt
  FROM pc
)
SELECT n, round(rp, 9) AS r_partial, round(f, 9) AS f_stat,
       round(2.0 * (1.0 - ({phi})), 6) AS p_approx
FROM ft
"""


@register(
    "ts_granger_causality",
    oracle=_sql_granger(),
    tags=("timeseries", "granger", "causality", "regression"),
)
def ts_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality screen at lag 1: do yesterday's VIEWS predict
    today's PURCHASES beyond what yesterday's purchases already
    explain? Computed in the partial-correlation form — F(1, n-3) =
    r_p^2 (n-3)/(1-r_p^2) where r_p = partial corr(y_t, x_{t-1} |
    y_{t-1}) — so the whole test needs only the three pairwise
    correlations of the lagged day frame and NO matrix solve, unlike
    the textbook two-regression RSS formulation (algebraically
    identical for one restriction). The cross-series complement of
    ``ts_autocorrelation`` (own memory) and ``ts_cross_correlation``
    (raw lead/lag affinity): it asks whether the cross-series signal
    survives controlling for the target's own lag.

    Exactness: daily counts are exact integers; all ten sufficient
    moments accumulate as Decimal128/HUGEINT in one map-side-combined
    pass; every correlation / partial / F expression is identical text
    over the same exact integers cast to double. p_approx uses the
    catalog's shared Bowling logistic CDF on t = sign(r_p)sqrt(F) —
    documented as the large-m normal approximation of t(n-3).

    Scale shape: one daily aggregate over the fact table, one lag
    window + 1-row moment reduce on the bounded day-grain frame (the
    runs-test discipline)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).cast("bigint").alias("v"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("p"),
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        F.col("p").alias("y"),
        F.lag("v").over(w).alias("x"),
        F.lag("p").over(w).alias("z"),
    ).filter(F.col("x").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        wide_sum("y").alias("sy"),
        wide_sum("x").alias("sx"),
        wide_sum("z").alias("sz"),
        wide_sum("y", "y").alias("syy"),
        wide_sum("x", "x").alias("sxx"),
        wide_sum("z", "z").alias("szz"),
        wide_sum("y", "x").alias("syx"),
        wide_sum("y", "z").alias("syz"),
        wide_sum("x", "z").alias("sxz"),
    )

    def corr(sab, sa, sb, saa, sbb):
        nd = F.col("n").cast("double")
        # exact-integer zero-variance guard (see the oracle's CASE)
        va = F.col("n").cast("decimal(38,0)") * F.col(saa) - F.col(sa) * F.col(sa)
        vb = F.col("n").cast("decimal(38,0)") * F.col(sbb) - F.col(sb) * F.col(sb)
        expr = (nd * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(sb).cast("double")) / F.sqrt(
            (nd * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa).cast("double"))
            * (nd * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb).cast("double"))
        )
        return F.when((va > 0) & (vb > 0), expr)

    rr = m.select(
        "n",
        corr("syx", "sy", "sx", "syy", "sxx").alias("ryx"),
        corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
    )
    rp_dom = (1.0 - F.col("ryz") * F.col("ryz")) * (1.0 - F.col("rxz") * F.col("rxz"))
    rp = F.when(
        rp_dom > 0.0,
        (F.col("ryx") - F.col("ryz") * F.col("rxz")) / F.sqrt(rp_dom),
    )
    pc = rr.select("n", rp.alias("rp"))
    f_dom = 1.0 - F.col("rp") * F.col("rp")
    fcol = F.when(
        f_dom > 0.0,
        F.col("rp") * F.col("rp") * (F.col("n") - 3) / f_dom,
    )
    tt = F.when(f_dom <= 0.0, F.lit(None)).when(
        F.col("rp") >= 0, F.sqrt(fcol)
    ).otherwise(-F.sqrt(fcol))
    ft = pc.select("n", "rp", fcol.alias("f"), tt.alias("tt"))
    z = F.abs(F.col("tt"))
    phi = norm_cdf(z)
    return ft.select(
        "n",
        F.round("rp", 9).alias("r_partial"),
        F.round("f", 9).alias("f_stat"),
        F.round(2.0 * (1.0 - phi), 6).alias("p_approx"),
    )


# --------------------------------------------------------------------------
# Durbin-Watson residual autocorrelation — round 10
# --------------------------------------------------------------------------

_SQL_DURBIN_WATSON = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         {SQL_DSUM.format(x='o_totalprice')} AS y
  FROM orders GROUP BY 1
),
idx AS (
  SELECT d, y,
         CAST(date_diff('day', (SELECT min(d) FROM daily), d) AS DOUBLE) AS t
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         {SQL_DAVG.format(x='t')} AS tbar,
         {SQL_DAVG.format(x='y')} AS ybar
  FROM idx
),
fit AS (
  SELECT min(m.n) AS n, min(m.tbar) AS tbar, min(m.ybar) AS ybar,
         {SQL_NSUM.format(x='round((t - m.tbar) * (y - m.ybar) / 1000.0, 9)')} AS sxy,
         {SQL_NSUM.format(x='round((t - m.tbar) * (t - m.tbar) / 1000.0, 9)')} AS sxx
  FROM idx CROSS JOIN m
),
res AS (
  SELECT idx.t,
         idx.y - (fit.ybar + (fit.sxy / fit.sxx) * (idx.t - fit.tbar)) AS e,
         fit.n, fit.sxy, fit.sxx
  FROM idx CROSS JOIN fit
),
led AS (
  SELECT n, sxy, sxx, e,
         lag(e) OVER (ORDER BY t) AS e_prev
  FROM res
)
SELECT min(n) AS n_days,
       round(min(sxy) / min(sxx), 9) AS slope_per_day,
       round({SQL_NSUM.format(x='CASE WHEN e_prev IS NOT NULL THEN round((e - e_prev) * (e - e_prev) / 1000000.0, 9) ELSE 0.0 END')}
             / {SQL_NSUM.format(x='round(e * e / 1000000.0, 9)')}, 6) AS durbin_watson
FROM led
"""


@register(
    "ts_durbin_watson",
    oracle=_SQL_DURBIN_WATSON,
    tags=("timeseries", "regression", "autocorrelation"),
)
def ts_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the residuals from an OLS linear trend
    on daily order revenue: DW = Sigma (e_t - e_{t-1})^2 / Sigma e_t^2
    in (0, 4), ~2 under no serial correlation — the classic
    residual-autocorrelation audit after a trend fit, complementing
    ts_autocorrelation (raw-series ACF) and stats_runs_test
    (sign-based randomness).

    Exactness: daily revenue is the quantized dsum; slope/intercept come
    from nano-grid centered cross-moments (terms pre-scaled by constants
    so day-index x revenue products stay in integer range); residuals
    are then identical doubles on both engines, and both DW sums
    quantize per-term (scaled by 1e-6 — residuals are revenue-sized)
    before the nano-grid sum. The first row's undefined lag contributes
    exactly 0 to the numerator on both engines.

    Scale shape: one fact-table hash agg to day grain; everything after
    (fit, residuals, one lag window) runs on the calendar-bounded daily
    frame — ~2.2k rows here, ~36k rows for a century."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").cast("date").alias("d"))
        .agg(dsum(F.col("o_totalprice")).alias("y"))
    )
    mind = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mind)).select(
        F.datediff("d", "d0").cast("double").alias("t"), "y"
    )
    m = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        davg(F.col("t")).alias("tbar"),
        davg(F.col("y")).alias("ybar"),
    )

    cen = idx.crossJoin(F.broadcast(m))
    fit = cen.agg(
        F.min("n").alias("n"),
        F.min("tbar").alias("tbar"),
        F.min("ybar").alias("ybar"),
        nsum(
            F.round((F.col("t") - F.col("tbar")) * (F.col("y") - F.col("ybar")) / 1000.0, 9)
        ).alias("sxy"),
        nsum(
            F.round((F.col("t") - F.col("tbar")) * (F.col("t") - F.col("tbar")) / 1000.0, 9)
        ).alias("sxx"),
    )
    res = idx.crossJoin(F.broadcast(fit)).select(
        "t",
        "n",
        "sxy",
        "sxx",
        (
            F.col("y")
            - (F.col("ybar") + (F.col("sxy") / F.col("sxx")) * (F.col("t") - F.col("tbar")))
        ).alias("e"),
    )
    led = res.withColumn("e_prev", F.lag("e").over(Window.orderBy("t")))
    num_term = F.when(
        F.col("e_prev").isNotNull(),
        F.round((F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev")) / 1e6, 9),
    ).otherwise(F.lit(0.0))
    den_term = F.round(F.col("e") * F.col("e") / 1e6, 9)
    return led.agg(
        F.min("n").alias("n_days"),
        F.round(F.min("sxy") / F.min("sxx"), 9).alias("slope_per_day"),
        F.round(nsum(num_term) / nsum(den_term), 6).alias("durbin_watson"),
    )

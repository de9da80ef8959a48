"""Behavioral event analytics: funnels, cohorts, growth accounting.

Consolidated in round 9 from the round-named catalog shards (the
original per-round files are in git history; entry source text is
unchanged). Every entry registers in REGISTRY with a DuckDB oracle
unless documented otherwise; reference parity citations live in the
entry docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import _t, register
from .functions.aggregates import (
    CENTS,
    NANO,
    SQL_DSUM,
    dsum,
    qlong,
    sql_qlong,
    sql_wide_sum,
    wide_sum,
)


@register(
    "events_funnel_stages",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
)
SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
       (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_view_click,
       (SELECT count(*) FROM p) AS n_view_click_purchase,
       round((SELECT count(*) FROM p) * 1.0
             / (SELECT count(*) FROM v), 9) AS full_funnel_rate
""",
    tags=("funnel", "analytics", "join"),
)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase, strictly increasing
    event time): each stage is a conditional-min aggregate over users who
    completed the previous stage, joined back — three key-partitioned
    aggs over progressively SHRINKING user sets, never a per-user sort
    or session reconstruction. The stage frames are user_id keyed
    (broadcastable until the final counts); at 100 TB each stage's
    filter pushes its event_type to the scan, so stage k reads only its
    own event partition if the table is type-partitioned."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n_users = ev.agg(F.countDistinct("user_id").alias("n_users"))
    counts = (
        n_users.crossJoin(F.broadcast(v.agg(F.count(F.lit(1)).alias("n_view"))))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_view_click"))))
        .crossJoin(
            F.broadcast(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
        )
    )
    return counts.select(
        "n_users",
        "n_view",
        "n_view_click",
        "n_view_click_purchase",
        F.round(
            F.col("n_view_click_purchase") * F.lit(1.0) / F.col("n_view"), 9
        ).alias("full_funnel_rate"),
    )


@register(
    "events_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) // 7 AS BIGINT)
           AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_day, week_offset, count(*) AS n_users
FROM activity
GROUP BY cohort_day, week_offset
ORDER BY cohort_day, week_offset
""",
    tags=("cohort", "analytics", "window"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    once per (cohort, weeks-since-cohort) cell. The first-seen frame is
    one min-aggregate on user_id (broadcast back into the fact); the
    distinct-per-cell dedup shuffles (user, cohort, week) triples only.
    The classic product-analytics query, expressed so the heavy table is
    touched exactly twice with no window over the raw events."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(
                F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day")) / 7
            ).alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "week_offset")
    )


@register(
    "growth_cumulative_users",
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(date_trunc('day', ts)) AS day FROM events GROUP BY 1
),
new_by_day AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM first_seen GROUP BY 1
),
active AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM events GROUP BY 1
)
SELECT a.day, coalesce(n.n_new, CAST(0 AS BIGINT)) AS n_new,
       CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY a.day) AS BIGINT) AS cum_users,
       a.n_active
FROM active a LEFT JOIN new_by_day n USING (day)
ORDER BY a.day
""",
    tags=("growth", "window", "analytics"),
)
def growth_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, the number of first-seen users, the
    running total of users acquired to date, and the day's active
    distinct users — the standard new-vs-active decomposition (the
    cohort entry's marginal). First-seen is one (user → min day) agg;
    the running total is a window over the DAYS-cardinality frame, so
    the only per-event work is two scans' worth of hash aggregation.
    At 100 TB: both aggs partial-combine map-side; the cumulative
    window runs on a frame of ~10^3 rows regardless of corpus size."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    new_by_day = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    active = ev.groupBy("day").agg(F.countDistinct("user_id").alias("n_active"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(new_by_day, "day", "left")
        .select(
            "day",
            F.coalesce("n_new", F.lit(0).cast("bigint")).alias("n_new"),
            "n_active",
        )
        .withColumn("cum_users", F.sum("n_new").over(w).cast("bigint"))
        .select("day", "n_new", "cum_users", "n_active")
        .orderBy("day")
    )


_NANO_SQL = sql_qlong("{x}", NANO)
@register(
    "growth_rolling_engagement",
    oracle="""
WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
wau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days d JOIN du u
    ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
  GROUP BY 1
),
mau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
  FROM days d JOIN du u
    ON u.day <= d.day AND u.day >= d.day - INTERVAL 29 DAY
  GROUP BY 1
)
SELECT d.day, a.dau, w.wau, m.mau,
       round(CAST(a.dau AS DOUBLE) / m.mau, 6) AS stickiness
FROM days d JOIN dau a USING (day) JOIN wau w USING (day) JOIN mau m USING (day)
ORDER BY d.day
""",
    tags=("growth", "engagement", "rolling-distinct"),
)
def growth_rolling_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-distinct engagement: per observed day, the distinct
    actives that day (DAU), over the trailing 7 days (WAU) and 30 days
    (MAU), plus DAU/MAU stickiness. Rolling DISTINCT cannot use a sum
    window — the scalable exact plan dedups to (day, user) first, then
    EXPLODES each pair onto the ≤7 / ≤30 target days it can serve and
    counts distinct per target day: shuffle volume is 37× the deduped
    pair count (bounded, linear), never events × window. The oracle
    computes the same windows as range joins. At larger windows the
    exact explode trades against merged HLL sketches (approx_distinct
    machinery) — the contract stays per-day rows."""
    du = (
        _t(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
    )
    days = du.select("day").distinct()
    max_day = days.agg(F.max("day").alias("max_day"))
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def rolling(window_days: int, out: str) -> DataFrame:
        # each (day, user) serves target days [day, day + w - 1]
        targets = (
            du.crossJoin(F.broadcast(max_day))
            .select(
                F.explode(
                    F.sequence(
                        F.col("day"),
                        F.least(
                            F.col("day")
                            + F.expr(f"INTERVAL {window_days - 1} DAY"),
                            F.col("max_day"),
                        ),
                        F.expr("INTERVAL 1 DAY"),
                    )
                ).alias("tday"),
                "user_id",
            )
        )
        return (
            targets.join(days.select(F.col("day").alias("tday")), "tday")
            .groupBy("tday")
            .agg(F.countDistinct("user_id").alias(out))
        )

    wau = rolling(7, "wau")
    mau = rolling(30, "mau")
    return (
        days.join(dau, "day")
        .join(wau.withColumnRenamed("tday", "day"), "day")
        .join(mau.withColumnRenamed("tday", "day"), "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )

_PCA_ITERS = 3
_PCA_DIMS = 64
def _pca_oracle() -> str:
    dot_terms = (
        f"list_aggregate(list_transform(range(1, {_PCA_DIMS + 1}), "
        f"j -> {_NANO_SQL.format(x='CAST(e.embedding[j] AS DOUBLE) * v.vec[j]')}), 'sum')"
    )
    head = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
v0 AS (SELECT list_transform(range(1, {_PCA_DIMS + 1}),
                             j -> CASE WHEN j = 1 THEN 1.0 ELSE 0.0 END) AS vec)"""
    parts = []
    for i in range(_PCA_ITERS):
        parts.append(
            f""",
s{i} AS (
  SELECT e.vec_id, e.embedding,
         CAST({dot_terms} AS DOUBLE) / 1000000000.0 AS s
  FROM emb e CROSS JOIN v{i} v
),
p{i} AS (
  SELECT u.j AS dim,
         CAST({sql_wide_sum(_NANO_SQL.format(x='CAST(s.embedding[u.j] AS DOUBLE) * s.s'))}
              AS DOUBLE) / 1000000000.0 AS p
  FROM s{i} s CROSS JOIN (SELECT unnest(range(1, {_PCA_DIMS + 1})) AS j) u
  GROUP BY u.j
),
n{i} AS (
  SELECT sqrt(CAST({sql_wide_sum(_NANO_SQL.format(x='p * p'))} AS DOUBLE)
              / 1000000000.0) AS nrm
  FROM p{i}
),
v{i + 1} AS (
  SELECT list(round(p.p / n.nrm, 9) ORDER BY p.dim) AS vec
  FROM p{i} p CROSS JOIN n{i} n
)"""
        )
    tail = f""",
final AS (
  SELECT unnest(vec) AS loading,
         generate_subscripts(vec, 1) AS dim
  FROM v{_PCA_ITERS}
)
SELECT CAST(dim AS BIGINT) AS dim, loading FROM final ORDER BY dim"""
    return head + "".join(parts) + tail
@register(
    "embeddings_pca_power_component",
    oracle=_pca_oracle(),
    tags=("pca", "linear-algebra", "iterative"),
)
def embeddings_pca_power_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding
    second-moment matrix by distributed power iteration — v ← Σᵢ xᵢ(xᵢ·v)
    normalized, 3 synchronous steps from e₁. Each step is ONE pass over
    the corpus: a zip_with dot product per row (terms quantized to nano
    integers, so the row score is order-free), then a posexplode +
    per-dimension integer aggregation for the matrix-vector product —
    never a materialized covariance matrix (64² entries is trivial, but
    at LLM-embedding widths d², and the pass structure shown here, is
    what survives). The unit vector rides along as a broadcast 1-row
    array frame, exactly like the k-means centroid literals; the DuckDB
    oracle replays all 3 iterations as unrolled CTEs and the final
    64 loadings hash-match — an engine-independent fixed-point
    trajectory, the same discipline as graph_pagerank_bipartite."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = spark.range(1).select(
        F.expr(
            f"transform(sequence(1, {_PCA_DIMS}),"
            " j -> CASE WHEN j = 1 THEN 1.0D ELSE 0.0D END)"
        ).alias("vec")
    )
    for _ in range(_PCA_ITERS):
        scored = emb.crossJoin(F.broadcast(v)).select(
            "embedding",
            (
                F.expr(
                    "aggregate(zip_with(embedding, vec,"
                    f" (x, w) -> {sql_qlong('CAST(x AS DOUBLE) * w', NANO)}), 0L, (a, t) -> a + t)"
                ).cast("double")
                / F.lit(1e9)
            ).alias("s"),
        )
        p = (
            scored.select(
                F.posexplode("embedding").alias("pos", "x"),
                "s",
            )
            .groupBy((F.col("pos") + 1).alias("dim"))
            .agg(
                (
                    F.sum(
                        qlong(F.col("x").cast("double") * F.col("s"), NANO, "decimal(38,0)")
                    ).cast("double")
                    / F.lit(1e9)
                ).alias("p")
            )
        )
        # norm accumulates quantized squares in Decimal128 — a float sum
        # over the 64 p's would be order-dependent and 1-ulp divergent
        nrm = p.agg(
            F.sqrt(
                F.sum(
                    qlong(F.col("p") * F.col("p"), NANO, "decimal(38,0)")
                ).cast("double")
                / F.lit(1e9)
            ).alias("nrm")
        )
        v = (
            p.crossJoin(F.broadcast(nrm))
            .select("dim", F.round(F.col("p") / F.col("nrm"), 9).alias("loading"))
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, loading))),"
                    " s -> s.loading)"
                ).alias("vec")
            )
        )
    return (
        v.select(F.posexplode("vec").alias("pos", "loading"))
        .select((F.col("pos") + 1).cast("bigint").alias("dim"), "loading")
        .orderBy("dim")
    )


_SQL_FUNNEL_LATENCY = """
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
  GROUP BY e.user_id
),
lat AS (
  SELECT v.user_id,
         round((c.t2 - v.t1) / 60000000.0, 9) AS view_to_click_min,
         round((p.t3 - c.t2) / 60000000.0, 9) AS click_to_purchase_min
  FROM v LEFT JOIN c ON c.user_id = v.user_id
         LEFT JOIN p ON p.user_id = c.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_viewers,
       CAST(count(view_to_click_min) AS BIGINT) AS n_clicked,
       CAST(count(click_to_purchase_min) AS BIGINT) AS n_purchased,
       round(quantile_cont(view_to_click_min, 0.5), 6) AS p50_view_to_click_min,
       round(quantile_cont(view_to_click_min, 0.9), 6) AS p90_view_to_click_min,
       round(quantile_cont(click_to_purchase_min, 0.5), 6) AS p50_click_to_purchase_min,
       round(quantile_cont(click_to_purchase_min, 0.9), 6) AS p90_click_to_purchase_min
FROM lat
"""
@register(
    "events_funnel_latency",
    oracle=_SQL_FUNNEL_LATENCY,
    tags=("events", "funnel", "latency"),
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert through the ordered view→click→purchase funnel:
    per user, the first click strictly AFTER the first view and the
    first purchase strictly after that click (the ordered-stage
    discipline of events_funnel_stages, now with latencies). Latencies
    are exact integer-µs differences; the summary reports conversion
    counts and exact p50/p90 minutes. Three per-user min-aggregates and
    two broadcast-sized joins — at scale each stage frame is
    users-sized, never events-sized."""
    ev = _t(spark, sf_dir, "events")

    def first_after(etype: str, prev, prev_t: str, alias: str):
        e = ev.filter(F.col("event_type") == etype).select(
            "user_id", F.unix_micros("ts").alias("t")
        )
        return (
            e.join(prev, "user_id")
            .filter(F.col("t") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("t").alias(alias))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t1"))
    )
    c = first_after("click", v, "t1", "t2")
    p = first_after("purchase", c, "t2", "t3")
    lat = (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            F.round((F.col("t2") - F.col("t1")) / 60000000.0, 9).alias(
                "view_to_click_min"
            ),
            F.round((F.col("t3") - F.col("t2")) / 60000000.0, 9).alias(
                "click_to_purchase_min"
            ),
        )
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.count("view_to_click_min").alias("n_clicked"),
        F.count("click_to_purchase_min").alias("n_purchased"),
        F.round(F.percentile("view_to_click_min", 0.5), 6).alias(
            "p50_view_to_click_min"
        ),
        F.round(F.percentile("view_to_click_min", 0.9), 6).alias(
            "p90_view_to_click_min"
        ),
        F.round(F.percentile("click_to_purchase_min", 0.5), 6).alias(
            "p50_click_to_purchase_min"
        ),
        F.round(F.percentile("click_to_purchase_min", 0.9), 6).alias(
            "p90_click_to_purchase_min"
        ),
    )


_SQL_MOM_YOY = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM({sql_qlong('o_totalprice', CENTS, 'HUGEINT')}) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1
),
g AS (
  SELECT month, rev_cents,
         lag(rev_cents, 1) OVER (ORDER BY month) AS prev_m,
         lag(rev_cents, 12) OVER (ORDER BY month) AS prev_y
  FROM monthly
)
SELECT month, rev_cents,
       round(CASE WHEN prev_m IS NULL THEN NULL
                  ELSE (rev_cents - prev_m) * 100.0 / prev_m END, 6) AS mom_pct,
       round(CASE WHEN prev_y IS NULL THEN NULL
                  ELSE (rev_cents - prev_y) * 100.0 / prev_y END, 6) AS yoy_pct
FROM g ORDER BY month
"""
@register(
    "growth_mom_yoy",
    oracle=_SQL_MOM_YOY,
    tags=("growth", "window", "timeseries"),
)
def growth_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth: monthly exact
    integer-cent sums, then lag(1)/lag(12) over the month spine — the KPI
    pair every revenue dashboard leads with. The window state is
    months-sized (constant at any data scale); percents are ratios of
    exact integers rounded at 6 dp. Calendar months come from
    date_trunc, so month boundaries agree across engines (UTC-pinned)."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(F.trunc("o_orderdate", "month").alias("month")).agg(
        F.sum(qlong("o_totalprice", CENTS)).alias("rev_cents")
    )
    w = Window.orderBy("month")
    g = monthly.select(
        "month",
        "rev_cents",
        F.lag("rev_cents", 1).over(w).alias("prev_m"),
        F.lag("rev_cents", 12).over(w).alias("prev_y"),
    )
    pct = lambda cur, prev: F.round(  # noqa: E731
        (cur - prev) * 100.0 / prev, 6
    )
    return g.select(
        "month",
        "rev_cents",
        pct(F.col("rev_cents"), F.col("prev_m")).alias("mom_pct"),
        pct(F.col("rev_cents"), F.col("prev_y")).alias("yoy_pct"),
    ).orderBy("month")


_SQL_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
ranked AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
  FROM ranked GROUP BY user_id, grp
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM streaks GROUP BY user_id ORDER BY user_id
"""
@register(
    "events_dau_streaks",
    oracle=_SQL_STREAKS,
    tags=("events", "window", "streaks"),
)
def events_dau_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user via the
    gaps-and-islands idiom: distinct activity dates, then date minus
    row_number is CONSTANT within each consecutive run — one window + two
    aggregates, no self-join, no explode-onto-days. The engagement
    metric behind retention/streak features; at 100 TB the window
    partitions by user (users-sized state) and the distinct is the only
    events-sized shuffle."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    ranked = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = ranked.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.max("len").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .orderBy("user_id")
    )


def _sql_burstiness() -> str:
    return f"""
WITH ordered AS (
  SELECT event_type, user_id, epoch_us(ts) AS tu, event_id
  FROM events
),
gaps AS (
  SELECT event_type,
         tu - lag(tu) OVER (PARTITION BY user_id, event_type
                            ORDER BY tu, event_id) AS gap
  FROM ordered
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST({sql_wide_sum('gap')} AS DOUBLE) AS s,
         CAST({sql_wide_sum('gap', 'gap')} AS DOUBLE) AS ss
  FROM gaps WHERE gap IS NOT NULL GROUP BY event_type
),
m AS (
  SELECT event_type, n_gaps,
         s / n_gaps AS mean_gap,
         sqrt(greatest(ss / n_gaps - (s / n_gaps) * (s / n_gaps), 0.0)) AS sd_gap
  FROM g
)
SELECT event_type, n_gaps,
       round(mean_gap / 1e6, 6) AS mean_gap_sec,
       round(sd_gap / mean_gap, 9) AS cv,
       round((sd_gap / mean_gap - 1.0) / (sd_gap / mean_gap + 1.0), 9)
         AS burstiness
FROM m ORDER BY event_type
"""
@register(
    "events_interarrival_burstiness",
    oracle=_sql_burstiness(),
    tags=("events", "timeseries", "burstiness"),
)
def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event type: per-(user, type) gap
    sequence via a partitioned lag, then the Goh-Barabasi burstiness
    B = (cv - 1)/(cv + 1) of the gap distribution — B ~ -1 for a
    metronome, 0 for a Poisson process, -> 1 for heavy-tailed bursts.
    The traffic-shape readout capacity planning and bot detection run
    (``text_burstiness`` is the token-frequency analog; this is the
    temporal one).

    Exactness: gaps are exact integer microseconds from a lag window
    with a (ts, event_id) total order; per-type moments accumulate in
    HUGEINT/decimal(38,0); population variance via the E[x²]-E[x]²
    identity with a greatest(_, 0) clamp — single double expressions
    with identical association order.

    Scale shape: ONE window partitioned by (user, type) — the W1
    lag-delta machinery, no global sort — then a map-side-combined
    per-type aggregate to a handful of rows."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", F.unix_micros("ts").alias("tu"), "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("tu", "event_id")
    gaps = ev.select(
        "event_type", (F.col("tu") - F.lag("tu").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    g = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        wide_sum("gap").cast("double").alias("s"),
        wide_sum("gap", "gap").cast("double").alias("ss"),
    )
    mean_gap = F.col("s") / F.col("n_gaps")
    sd_gap = F.sqrt(
        F.greatest(
            F.col("ss") / F.col("n_gaps") - mean_gap * mean_gap, F.lit(0.0)
        )
    )
    m = g.select(
        "event_type",
        "n_gaps",
        mean_gap.alias("mean_gap"),
        sd_gap.alias("sd_gap"),
    )
    cv = F.col("sd_gap") / F.col("mean_gap")
    return m.select(
        "event_type",
        "n_gaps",
        F.round(F.col("mean_gap") / 1e6, 6).alias("mean_gap_sec"),
        F.round(cv, 9).alias("cv"),
        F.round((cv - 1.0) / (cv + 1.0), 9).alias("burstiness"),
    ).orderBy("event_type")


def _sql_heatmap() -> str:
    return f"""
WITH cells AS (
  SELECT CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hod,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS grid,
         CAST({sql_wide_sum('n')} AS DOUBLE) AS s,
         CAST({sql_wide_sum('n', 'n')} AS DOUBLE) AS ss
  FROM cells
),
m AS (
  SELECT grid, s / grid AS mean,
         sqrt(greatest(ss / grid - (s / grid) * (s / grid), 0.0)) AS sd
  FROM tot
)
SELECT dow, hod, n,
       round((n - mean) / sd, 9) AS z_score
FROM cells, m ORDER BY dow, hod
"""
@register(
    "events_dow_hour_heatmap",
    oracle=_sql_heatmap(),
    tags=("events", "heatmap", "plot", "rhythm"),
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap (ISO weekday 1-7 x
    hour 0-23) with per-cell z-scores against the grid mean — the
    weekly-rhythm figure every analytics dashboard draws (and the
    plot-sink S5 shape the reference's hour-grid figures foreshadow);
    the z-score normalization is what makes hot/cold cells comparable
    across corpora of different sizes.

    Exactness: cell counts are exact BIGINTs from ONE map-side-combined
    groupBy; the grid moments accumulate those integers in
    HUGEINT/decimal (population variance, greatest-0 clamp) and each
    z-score is a single double expression over them.

    Scale shape: one aggregate to the ≤168-cell frame; the 1-row grid
    moments broadcast back onto it — nothing downstream of the scan is
    data-sized."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.expr("CAST(extract(DAYOFWEEK_ISO FROM ts) AS BIGINT)").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cells.agg(
        F.count(F.lit(1)).cast("double").alias("grid"),
        wide_sum("n").cast("double").alias("s"),
        wide_sum("n", "n").cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("grid")
    sd = F.sqrt(F.greatest(F.col("ss") / F.col("grid") - mean * mean, F.lit(0.0)))
    m = tot.select("grid", mean.alias("mean"), sd.alias("sd"))
    return (
        cells.crossJoin(F.broadcast(m))
        .select(
            "dow",
            "hod",
            "n",
            F.round((F.col("n") - F.col("mean")) / F.col("sd"), 9).alias(
                "z_score"
            ),
        )
        .orderBy("dow", "hod")
    )


# --------------------------------------------------------------------------
# Linear multi-touch attribution (round 9)
# --------------------------------------------------------------------------

_ATTR_WINDOW_US = 24 * 3600 * 1_000_000  # 24h lookback


def _sql_attr_linear() -> str:
    return f"""
WITH purch AS (
  SELECT event_id AS pid, user_id, ts AS pts FROM events
  WHERE event_type = 'purchase'
),
touch AS (
  SELECT event_id AS tid, user_id, ts AS tts, event_type FROM events
  WHERE event_type IN ('view', 'click')
),
j AS (
  SELECT p.pid, t.tid, t.event_type
  FROM purch p JOIN touch t USING (user_id)
  WHERE t.tts >= p.pts - INTERVAL 24 HOUR AND t.tts < p.pts
),
w AS (
  SELECT pid, tid, event_type,
         {sql_qlong('1.0 / count(*) OVER (PARTITION BY pid)', NANO)} AS credit9
  FROM j
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases_touched,
       round(CAST(sum(credit9) AS DOUBLE) / 1e9, 9) AS credit
FROM w GROUP BY event_type ORDER BY event_type
"""


@register(
    "events_attribution_linear",
    oracle=_sql_attr_linear(),
    tags=("events", "attribution", "marketing"),
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click in the 24 h
    STRICTLY before a purchase shares the conversion credit equally
    (1/m per touch) — the equal-split complement of
    ``events_attribution_last_touch`` (winner-takes-all). Touches at
    the exact purchase timestamp are excluded on both engines (the
    strictly-before convention).

    Exactness: per-touch credit quantizes 1/m to the nano grid BEFORE
    summing (round(1e9/m) of the same exact integer m), so per-type
    totals are exact integer sums; touch membership is integer-µs
    window arithmetic.

    Scale shape: the Spark side runs the catalog's bucketed range join
    (interval predicate → 24 h-bucket equi-join + residual filter — no
    BroadcastNestedLoopJoin at any fact size), while the oracle uses
    DuckDB's native range join: independent implementations of the
    same window semantics. Per-purchase touch counts come from a
    pid-partitioned window — per-key state only."""
    from .operators.rangejoin import bucketed_range_join

    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        (
            F.col("ts").cast("timestamp")
            - F.expr("INTERVAL 24 HOURS")
        ).alias("pstart"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        "user_id",
        F.col("ts").alias("tts"),
        "event_type",
    )
    j = bucketed_range_join(
        purch, touch, "user_id", "pstart", "tts", F.lit(_ATTR_WINDOW_US)
    ).select("pid", "tid", "event_type")
    wcnt = Window.partitionBy("pid")
    w = j.select(
        "pid",
        "tid",
        "event_type",
        qlong(F.lit(1.0) / F.count(F.lit(1)).over(wcnt), NANO).alias("credit9"),
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.countDistinct("pid").cast("bigint").alias("n_purchases_touched"),
            F.round(F.sum("credit9").cast("double") / 1e9, 9).alias("credit"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Log-rank test (two-group survival comparison) — round 9
# --------------------------------------------------------------------------


def _sql_logrank() -> str:
    return f"""
WITH u AS (
  SELECT user_id,
         min(date_trunc('day', ts)) AS first_day,
         max(date_trunc('day', ts)) AS last_day,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS g1
  FROM events GROUP BY 1
),
mx AS (SELECT max(last_day) AS max_day FROM u),
d AS (
  SELECT datediff('day', first_day, last_day) AS t,
         CASE WHEN last_day < mx.max_day THEN 1 ELSE 0 END AS ev,
         g1
  FROM u CROSS JOIN mx
),
pt AS (
  SELECT t,
         CAST(count(*) AS BIGINT) AS tot,
         CAST(count(*) FILTER (WHERE g1 = 1) AS BIGINT) AS tot1,
         CAST(sum(ev) AS BIGINT) AS dd,
         CAST(coalesce(sum(ev) FILTER (WHERE g1 = 1), 0) AS BIGINT) AS d1
  FROM d GROUP BY 1
),
rk AS (
  SELECT t, dd, d1,
         sum(tot) OVER (ORDER BY t DESC) AS n,
         sum(tot1) OVER (ORDER BY t DESC) AS n1
  FROM pt
),
et AS (SELECT * FROM rk WHERE dd > 0),
agg AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         {SQL_DSUM.format(x='CAST(dd AS DOUBLE) * n1 / n')} AS e1,
         {SQL_DSUM.format(x='d1 - CAST(dd AS DOUBLE) * n1 / n')} AS omd,
         {SQL_DSUM.format(
             x='CASE WHEN n >= 2 THEN'
               ' CAST(dd AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)'
               ' * (1.0 - CAST(n1 AS DOUBLE) / n)'
               ' * (n - dd) / (n - 1.0) ELSE 0.0 END')} AS v
  FROM et
),
gsz AS (
  SELECT CAST(count(*) FILTER (WHERE g1 = 1) AS BIGINT) AS n_users_1,
         CAST(count(*) FILTER (WHERE g1 = 0) AS BIGINT) AS n_users_0
  FROM u
)
SELECT n_users_1, n_users_0, o1 AS observed_1,
       round(e1, 6) AS expected_1,
       CASE WHEN v > 0.0 THEN round(omd * omd / v, 9) END AS logrank_chi2
FROM agg CROSS JOIN gsz
"""


@register(
    "events_logrank_test",
    oracle=_sql_logrank(),
    tags=("events", "survival", "logrank", "stats"),
)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing the retention curves of
    purchasers vs non-purchasers: at every churn time the observed
    group-1 churn count is compared against its hypergeometric
    expectation given the shared risk set, pooled into chi2 =
    (Sigma(O-E))^2 / Sigma V on 1 dof — the significance test on top of
    the ``events_kaplan_meier`` / ``events_nelson_aalen`` estimators
    (same duration framing: first-to-last event days, right-censored at
    the corpus max day), and structurally the survival-time sibling of
    ``stats_cmh_test`` (a CMH pooling over time strata).

    Exactness: per-time d, d1 and both risk sets are exact integers
    (risk sets = suffix sums over the duration-grain frame); each O-E
    and V term quantizes on the micro grid (SQL_DSUM) before pooling;
    the n = 1 tail stratum pins V to 0 on both engines (its O-E is 0);
    a zero pooled variance nulls chi2 identically.

    Scale shape: one per-user aggregate, one duration-grain groupBy,
    two suffix-sum windows on the ~days-cardinality frame, a 1-row
    combine. The raw event table never meets a window (the KM
    discipline)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.to_date(F.min(F.date_trunc("day", "ts"))).alias("first_day"),
        F.to_date(F.max(F.date_trunc("day", "ts"))).alias("last_day"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("g1"),
    )
    mx = u.agg(F.max("last_day").alias("max_day"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.datediff("last_day", "first_day").alias("t"),
        F.when(F.col("last_day") < F.col("max_day"), 1).otherwise(0).alias("ev"),
        "g1",
    )
    pt = d.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("tot"),
        F.count(F.when(F.col("g1") == 1, 1)).cast("bigint").alias("tot1"),
        F.sum("ev").cast("bigint").alias("dd"),
        F.sum(F.coalesce(F.when(F.col("g1") == 1, F.col("ev")), F.lit(0)))
        .cast("bigint")
        .alias("d1"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    rk = pt.select(
        "t",
        "dd",
        "d1",
        F.sum("tot").over(wdesc).alias("n"),
        F.sum("tot1").over(wdesc).alias("n1"),
    )
    et = rk.filter(F.col("dd") > 0)
    nd = F.col("n").cast("double")
    p1 = F.col("n1").cast("double") / F.col("n")
    vterm = F.when(
        F.col("n") >= 2,
        F.col("dd").cast("double") * p1 * (1.0 - p1) * (F.col("n") - F.col("dd")) / (nd - 1.0),
    ).otherwise(F.lit(0.0))
    agg = et.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        dsum(F.col("dd").cast("double") * F.col("n1") / F.col("n")).alias("e1"),
        dsum(F.col("d1") - F.col("dd").cast("double") * F.col("n1") / F.col("n")).alias(
            "omd"
        ),
        dsum(vterm).alias("v"),
    )
    gsz = u.agg(
        F.count(F.when(F.col("g1") == 1, 1)).cast("bigint").alias("n_users_1"),
        F.count(F.when(F.col("g1") == 0, 1)).cast("bigint").alias("n_users_0"),
    )
    return agg.crossJoin(F.broadcast(gsz)).select(
        "n_users_1",
        "n_users_0",
        F.col("o1").alias("observed_1"),
        F.round("e1", 6).alias("expected_1"),
        F.when(
            F.col("v") > 0.0, F.round(F.col("omd") * F.col("omd") / F.col("v"), 9)
        ).alias("logrank_chi2"),
    )


# --------------------------------------------------------------------------
# Page-Hinkley drift detection — round 10
# --------------------------------------------------------------------------

_PH_DELTA_FRAC = 0.05   # tolerance as a fraction of the series mean
_PH_LAMBDA_FRAC = 2.0   # alarm threshold as a multiple of the series mean

_SQL_PAGE_HINKLEY = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(sum(x) AS DOUBLE) / count(*) AS xbar FROM daily
),
t AS (
  SELECT d, x,
         {sql_qlong(f'(x - m.xbar - {_PH_DELTA_FRAC} * m.xbar)', NANO, 'HUGEINT')} AS term_u,
         m.xbar
  FROM daily CROSS JOIN m
),
c AS (
  SELECT d, x, xbar,
         CAST(sum(term_u) OVER (ORDER BY d) AS DOUBLE) / 1000000000.0 AS m_t
  FROM t
),
p AS (
  SELECT d, x, xbar, m_t,
         min(m_t) OVER (ORDER BY d) AS m_min
  FROM c
)
SELECT d, x,
       round(m_t - m_min, 6) AS ph,
       (m_t - m_min) > {_PH_LAMBDA_FRAC} * xbar AS alarm
FROM p ORDER BY d
"""


@register(
    "events_page_hinkley",
    oracle=_SQL_PAGE_HINKLEY,
    tags=("events", "drift", "changepoint", "sequential"),
)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector over the daily event-count
    series: the cumulative deviation m_t = Sigma (x_i - xbar - delta)
    minus its running minimum, alarming when the gap exceeds lambda —
    the sequential-analysis sibling of events_changepoint_cusum (PH
    tracks drift from a running minimum; CUSUM resets at zero).
    delta / lambda are fixed fractions of the series mean so the test
    is scale-free across SFs.

    Exactness: daily counts are exact integers; xbar is one exact
    integer ratio; each deviation term quantizes to the nano grid and
    the cumulative sums run over EXACT integers (HUGEINT / long), so
    m_t, the running minimum, and the alarm predicate are identical on
    both engines in every row.

    Scale shape: one fact-scan hash agg to day grain; both windows
    (running sum, running min) live on the calendar-bounded daily frame
    — series cardinality, never event cardinality."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    m = daily.agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("xbar")
    )
    t = daily.crossJoin(F.broadcast(m)).select(
        "d",
        "x",
        "xbar",
        qlong(F.col("x") - F.col("xbar") - F.lit(_PH_DELTA_FRAC) * F.col("xbar"), NANO, "decimal(38,0)")
        .alias("term_u"),
    )
    wday = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = t.select(
        "d",
        "x",
        "xbar",
        (F.sum("term_u").over(wday).cast("double") / F.lit(1e9)).alias("m_t"),
    )
    p = c.withColumn("m_min", F.min("m_t").over(wday))
    return p.select(
        "d",
        "x",
        F.round(F.col("m_t") - F.col("m_min"), 6).alias("ph"),
        ((F.col("m_t") - F.col("m_min")) > F.lit(_PH_LAMBDA_FRAC) * F.col("xbar")).alias(
            "alarm"
        ),
    ).orderBy("d")

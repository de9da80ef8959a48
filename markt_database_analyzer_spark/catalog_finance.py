"""Financial analytics: returns, risk, indicators, RFM value segmentation.

Consolidated in round 9 from the round-named catalog shards (the
original per-round files are in git history; entry source text is
unchanged). Every entry registers in REGISTRY with a DuckDB oracle
unless documented otherwise; reference parity citations live in the
entry docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from .catalog import SQL_DSUM, demo_guard, register, _t
from .functions import dsum
from .catalog import register, _t
from .catalog import SQL_DAVG, SQL_DSUM, register, _t
from .functions import davg, dsum
from .operators.equidepth import (
    bucket_by_cuts,
    equi_depth_cut_points,
    grouped_value_counts_cum,
    grouped_values_at_ranks,
    sql_cuts_ctes,
    value_counts_cum,
    values_at_ranks,
)
from .catalog import SQL_DAVG, register, _t
from .functions import davg
from pyspark.sql import DataFrame, SparkSession
from .catalog import SQL_DAVG, _t, register
from .operators.equidepth import (
    bucket_by_cuts,
    equi_depth_cut_points,
    sql_cuts_ctes,
)


@register(
    "segment_rfm_customers",
    oracle=f"""
WITH ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
rfm AS (
  SELECT o_custkey AS custkey,
         CAST(date_diff('day', max(o_orderdate), (SELECT ref_date FROM ref))
              AS BIGINT) AS r_days,
         CAST(count(*) AS BIGINT) AS f_orders,
         {SQL_DSUM.format(x='o_totalprice')} AS m_value
  FROM orders GROUP BY 1
),
scored AS (
  SELECT custkey, r_days, f_orders, m_value,
         CAST(ntile(5) OVER (ORDER BY r_days DESC, custkey) AS BIGINT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY f_orders, custkey) AS BIGINT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY m_value, custkey) AS BIGINT) AS m_score
  FROM rfm
)
SELECT custkey, r_days, f_orders, m_value, r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS segment
FROM scored ORDER BY custkey
""",
    tags=("rfm", "segmentation", "analytics"),
)
def segment_rfm_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order vs the
    corpus reference date), frequency (order count) and monetary
    (quantized revenue), each quintile-scored with ntile over an order
    made TOTAL by the customer key — so bucket boundaries are
    deterministic even through ties, and the composite segment code
    (r*100+f*10+m) hash-matches the SQL replay. The per-customer
    aggregate is one hash agg; the three ntiles are global sorts over
    the customer-cardinality frame; the scale path is the round-4 twin
    ``segment_rfm_customers_cuts`` (exact percentile cut points
    broadcast, map-only scoring); the demo_guard refuses inputs past the
    cap with a pointer to the twin."""
    orders = demo_guard(
        _t(spark, sf_dir, "orders"),
        "segment_rfm_customers",
        "segment_rfm_customers_cuts",
    ).select("o_custkey", "o_orderdate", "o_totalprice")
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    rfm = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("f_orders"),
            dsum(F.col("o_totalprice")).alias("m_value"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "custkey",
            F.datediff("ref_date", "last_order").cast("bigint").alias("r_days"),
            "f_orders",
            "m_value",
        )
    )
    scored = rfm.select(
        "*",
        F.ntile(5)
        .over(Window.orderBy(F.desc("r_days"), "custkey"))
        .cast("bigint")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy("f_orders", "custkey"))
        .cast("bigint")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy("m_value", "custkey"))
        .cast("bigint")
        .alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
    ).sortWithinPartitions("custkey")


_VWAP_MAX_PART = 100
_SQL_VWAP = f"""
WITH li AS (
  SELECT l_partkey, CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         l_extendedprice AS price, l_quantity AS qty,
         CAST(l_shipdate AS VARCHAR) || lpad(CAST(l_orderkey AS VARCHAR), 12, '0')
           || lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS seq
  FROM lineitem WHERE l_partkey <= {_VWAP_MAX_PART}
)
SELECT l_partkey, month,
       CAST(count(*) AS BIGINT) AS n_trades,
       round(CAST(SUM(CAST(round(price * qty * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / CAST(SUM(CAST(round(qty * 1000000.0) AS HUGEINT)) AS DOUBLE), 9) AS vwap,
       round(CAST(SUM(CAST(round(price * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / count(*) / 1000000.0, 9) AS twap,
       arg_min(price, seq) AS open,
       arg_max(price, seq) AS close,
       min(price) AS low, max(price) AS high
FROM li GROUP BY l_partkey, month
ORDER BY l_partkey, month
"""
@register(
    "finance_vwap_monthly",
    oracle=_SQL_VWAP,
    tags=("finance", "agg", "window"),
)
def finance_vwap_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly VWAP/TWAP + OHLC per part over lineitem "trades": the
    finance-standard bar aggregation. VWAP is a ratio of two exact
    micro-quantized integer sums (Σ price·qty / Σ qty); open/close pick
    the first/last trade by a portable composite sequence key (shipdate
    string + zero-padded order/line ids — a total order, so min_by/
    arg_min agree across engines). One partial-aggregable groupBy; the
    part filter pushes to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= _VWAP_MAX_PART)
    seq = F.concat(
        F.col("l_shipdate").cast("string"),
        F.lpad(F.col("l_orderkey").cast("string"), 12, "0"),
        F.lpad(F.col("l_linenumber").cast("string"), 2, "0"),
    )
    base = li.select(
        "l_partkey",
        F.trunc("l_shipdate", "month").alias("month"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("qty"),
        seq.alias("seq"),
    )
    pq = F.sum(F.round(F.col("price") * F.col("qty") * 1000000.0).cast("long"))
    qs = F.sum(F.round(F.col("qty") * 1000000.0).cast("long"))
    ps = F.sum(F.round(F.col("price") * 1000000.0).cast("long"))
    return (
        base.groupBy("l_partkey", "month")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.round(pq.cast("double") / qs.cast("double"), 9).alias("vwap"),
            F.round(ps.cast("double") / F.count(F.lit(1)) / 1000000.0, 9).alias("twap"),
            F.min_by("price", "seq").alias("open"),
            F.max_by("price", "seq").alias("close"),
            F.min("price").alias("low"),
            F.max("price").alias("high"),
        )
        .sortWithinPartitions("l_partkey", "month")
    )


_RFM_BASE_SQL = f"""ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
rfm AS (
  SELECT o_custkey AS custkey,
         CAST(date_diff('day', max(o_orderdate), (SELECT ref_date FROM ref))
              AS BIGINT) AS r_days,
         CAST(count(*) AS BIGINT) AS f_orders,
         {SQL_DSUM.format(x='o_totalprice')} AS m_value
  FROM orders GROUP BY 1
)"""
_RFM_CUT_SQL = f"""
WITH {_RFM_BASE_SQL},
{sql_cuts_ctes("rfm", "r_days", 5, prefix="r")},
{sql_cuts_ctes("rfm", "f_orders", 5, prefix="f")},
{sql_cuts_ctes("rfm", "m_value", 5, prefix="m")},
rl AS (SELECT coalesce(list(c ORDER BY b), []) AS cs FROM rcuts),
fl AS (SELECT coalesce(list(c ORDER BY b), []) AS cs FROM fcuts),
ml AS (SELECT coalesce(list(c ORDER BY b), []) AS cs FROM mcuts),
scored AS (
  SELECT custkey, r_days, f_orders, m_value,
         CAST(5 - len(list_filter(rl.cs, x -> r_days > x)) AS BIGINT) AS r_score,
         CAST(1 + len(list_filter(fl.cs, x -> f_orders > x)) AS BIGINT) AS f_score,
         CAST(1 + len(list_filter(ml.cs, x -> m_value > x)) AS BIGINT) AS m_score
  FROM rfm, rl, fl, ml
)
SELECT custkey, r_days, f_orders, m_value, r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS segment
FROM scored ORDER BY custkey
"""
@register(
    "segment_rfm_customers_cuts",
    oracle=_RFM_CUT_SQL,
    tags=("rfm", "segmentation", "equidepth", "scale"),
)
def segment_rfm_customers_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with quintile boundaries from exact percentile
    cuts — the scale replacement for the three global ntile sorts in
    ``segment_rfm_customers``, which each funnel the whole customer
    table through one task; the cuts cost one prefix-sum pass per
    metric instead. Each metric's 4 cut
    values come from the distributed prefix sum over its value domain,
    and scores are map-only comparisons against the broadcast literals.
    Ascending quintile = 1 + #cuts below; recency scores DESCENDING
    (most recent = highest r_days bucket inverted): r_score =
    5 - #cuts(r_days) exceeded. Ties share a bucket (boundaries are
    data values), so scores are reproducible under any partitioning —
    unlike ntile's forced tie splits, which needed a custkey tiebreak.
    The per-customer aggregate is unchanged; what the variant removes
    is the three single-task total orders over the customer frame."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    rfm = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("f_orders"),
            dsum(F.col("o_totalprice")).alias("m_value"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "custkey",
            F.datediff("ref_date", "last_order").cast("bigint").alias("r_days"),
            "f_orders",
            "m_value",
        )
        # consumed by three cut derivations plus the scoring pass
        .localCheckpoint(eager=True)
    )
    rcuts = equi_depth_cut_points(rfm, F.col("r_days"), 5)
    fcuts = equi_depth_cut_points(rfm, F.col("f_orders"), 5)
    mcuts = equi_depth_cut_points(rfm, F.col("m_value"), 5)
    r_asc = bucket_by_cuts(F.col("r_days"), rcuts)  # 1 + #cuts exceeded
    scored = rfm.select(
        "custkey",
        "r_days",
        "f_orders",
        "m_value",
        (F.lit(6) - r_asc).cast("bigint").alias("r_score"),
        bucket_by_cuts(F.col("f_orders"), fcuts).alias("f_score"),
        bucket_by_cuts(F.col("m_value"), mcuts).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
    ).sortWithinPartitions("custkey")


_DRAWDOWN_SQL = """
WITH pts AS (
  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
         CAST(round(100.0 * l_extendedprice / l_quantity) AS BIGINT) AS p_cents
  FROM lineitem
),
runs AS (
  SELECT l_partkey, p_cents,
         max(p_cents) OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM pts
)
SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_points,
       round(max(peak) / 100.0, 2) AS peak_price,
       round(max(peak - p_cents) / 100.0, 2) AS max_drawdown
FROM runs GROUP BY 1 HAVING count(*) >= 25 ORDER BY l_partkey
"""
@register(
    "finance_max_drawdown",
    oracle=_DRAWDOWN_SQL,
    tags=("finance", "window", "drawdown", "timeseries"),
)
def finance_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per instrument — the classic peak-to-trough
    decline metric (running maximum of the price stream, then the
    largest drop below it), computed over each part's unit-price series
    ordered by ship date. Complements ``ts_peak_detection`` /
    ``finance_vwap_monthly`` with the sequential-extremum shape that
    cannot be expressed as a plain aggregate.

    Prices are quantized to the exact cents grid (BIGINT) before the
    running max, so every comparison and difference is integer — no
    float-ordering hazards between engines. Plan shape: ONE window
    PARTITIONED BY the instrument key (per-key sequences — partition
    count grows with instruments, each partition stays small at any
    scale) followed by a map-side-combinable per-key aggregate; parts
    with < 25 observations are dropped on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.round(F.lit(100.0) * F.col("l_extendedprice") / F.col("l_quantity"))
        .cast("bigint")
        .alias("p_cents"),
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = pts.withColumn("peak", F.max("p_cents").over(w))
    return (
        runs.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(F.max("peak") / 100.0, 2).alias("peak_price"),
            F.round(F.max(F.col("peak") - F.col("p_cents")) / 100.0, 2).alias(
                "max_drawdown"
            ),
        )
        .filter(F.col("n_points") >= 25)
        .sortWithinPartitions("l_partkey")
    )


_RSI_SQL = """
WITH daily AS (
  SELECT o_orderpriority AS priority, o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1, 2
),
d AS (
  SELECT priority, day, v,
         v - lag(v) OVER (PARTITION BY priority ORDER BY day) AS delta
  FROM daily
),
g AS (
  SELECT priority, day,
         CAST(count(delta) OVER win AS BIGINT) AS n_deltas,
         CAST(sum(greatest(delta, 0)) OVER win AS BIGINT) AS sg,
         CAST(sum(greatest(-delta, 0)) OVER win AS BIGINT) AS sl
  FROM d
  WINDOW win AS (PARTITION BY priority ORDER BY day
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT priority, day, n_deltas,
       round(coalesce(sg, 0) / 100.0, 2) AS gain_sum,
       round(coalesce(sl, 0) / 100.0, 2) AS loss_sum,
       CASE WHEN n_deltas = 0 THEN NULL
            WHEN sg + sl = 0 THEN 50.0
            ELSE round(100.0 * CAST(sg AS DOUBLE) / (sg + sl), 6) END AS rsi
FROM g ORDER BY priority, day
"""
@register(
    "finance_rsi_sma",
    oracle=_RSI_SQL,
    tags=("finance", "timeseries", "window", "momentum"),
)
def finance_rsi_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (Wilder 1978), 14-period simple-moving-
    average form, over each order priority's daily-revenue series:
    up-moves and down-moves of the exact-cents day-over-day delta are
    summed over a 14-row frame and RSI = 100 * gains / (gains +
    losses) — the bounded [0, 100] momentum oscillator; complements
    ``ts_bollinger_bands`` (volatility) and ``finance_max_drawdown``
    (extremum) in the technical-indicator family.

    All state is integer: daily cents, BIGINT deltas, frame sums of
    clamped gains/losses; the only float is the final ratio, an
    identical expression on both engines. Degenerate frames are pinned
    cross-engine: the first row of each series (no delta yet) yields
    NULL, an all-flat frame yields exactly 50. Plan shape: one
    map-side-combinable daily aggregate, then ONE window PARTITIONED BY
    series (lag and the 14-row frame share it) — per-key sequential
    state, scaling with series count."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    ws = Window.partitionBy("priority").orderBy("day")
    d = daily.withColumn("delta", F.col("v") - F.lag("v").over(ws))
    win = ws.rowsBetween(-13, Window.currentRow)
    g = d.select(
        "priority",
        "day",
        F.count("delta").over(win).cast("bigint").alias("n_deltas"),
        F.sum(F.greatest(F.col("delta"), F.lit(0))).over(win)
        .cast("bigint")
        .alias("sg"),
        F.sum(F.greatest(-F.col("delta"), F.lit(0))).over(win)
        .cast("bigint")
        .alias("sl"),
    )
    return g.select(
        "priority",
        "day",
        "n_deltas",
        F.round(F.coalesce(F.col("sg"), F.lit(0)) / 100.0, 2).alias("gain_sum"),
        F.round(F.coalesce(F.col("sl"), F.lit(0)) / 100.0, 2).alias("loss_sum"),
        F.when(F.col("n_deltas") == 0, F.lit(None).cast("double"))
        .when(F.col("sg") + F.col("sl") == 0, F.lit(50.0))
        .otherwise(
            F.round(
                F.lit(100.0) * F.col("sg").cast("double") / (F.col("sg") + F.col("sl")),
                6,
            )
        )
        .alias("rsi"),
    ).sortWithinPartitions("priority", "day")


_ANN = 252.0  # trading-day annualization
def _sql_sharpe() -> str:
    return f"""
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS d,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
                       AS BIGINT)) AS BIGINT) AS x
  FROM lineitem GROUP BY 1
),
led AS (
  SELECT d, x, lag(x) OVER (ORDER BY d) AS xp FROM daily
),
r AS (
  SELECT CAST(round(ln(CAST(x AS DOUBLE) / xp) * 1e9) AS BIGINT) AS rq
  FROM led WHERE xp IS NOT NULL
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS nr,
         CAST(sum(CAST(rq AS HUGEINT)) AS DOUBLE) AS sr,
         CAST(sum(CAST(rq AS HUGEINT) * rq) AS DOUBLE) AS srr,
         CAST(sum(CASE WHEN rq < 0 THEN CAST(rq AS HUGEINT) * rq
                       ELSE 0 END) AS DOUBLE) AS sdd
  FROM r
),
m AS (
  SELECT nr, sr / nr / 1e9 AS mr,
         sqrt((srr / 1e18 - nr * (sr / nr / 1e9) * (sr / nr / 1e9)) / (nr - 1))
           AS sd,
         sqrt(sdd / 1e18 / nr) AS dsd
  FROM s
)
SELECT CAST(nr AS BIGINT) AS n_returns,
       round(mr, 9) AS mean_daily_ret,
       round(mr / sd * sqrt({_ANN}), 6) AS sharpe,
       round(mr / dsd * sqrt({_ANN}), 6) AS sortino
FROM m
"""
@register(
    "finance_sharpe_sortino",
    oracle=_sql_sharpe(),
    tags=("finance", "timeseries", "risk", "stats"),
)
def finance_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe and Sortino ratios of the daily discounted-
    revenue log-return series (zero risk-free rate, sqrt(252)
    annualization; Sortino uses the downside deviation about a zero
    target — the risk measure that does not punish upside variance).
    Completes the finance family next to ``finance_max_drawdown`` /
    ``finance_rsi_sma`` / ``ts_bollinger_bands``.

    Exactness: daily revenue totals are exact integer cents; each
    log-return is nano-quantized, so all four moments (n, sum, sum of
    squares, downside sum of squares) are exact HUGEINT/decimal
    integers and the two ratios are single double expressions with
    identical association order.

    Scale shape: one map-side-combined daily aggregate is the only
    data-sized stage; the lag window and moments run over the
    day-grain frame (~years x 365 rows at any corpus size)."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("d")
    led = daily.select("d", "x", F.lag("x").over(w).alias("xp"))
    r = led.filter(F.col("xp").isNotNull()).select(
        F.round(F.log(F.col("x").cast("double") / F.col("xp")) * 1e9)
        .cast("bigint")
        .alias("rq")
    )
    rd = F.col("rq").cast("decimal(38,0)")
    s = r.agg(
        F.count(F.lit(1)).cast("double").alias("nr"),
        F.sum(rd).cast("double").alias("sr"),
        F.sum(rd * F.col("rq")).cast("double").alias("srr"),
        F.sum(F.when(F.col("rq") < 0, rd * F.col("rq")).otherwise(F.lit(0)))
        .cast("double")
        .alias("sdd"),
    )
    mr = F.col("sr") / F.col("nr") / 1e9
    m = s.select(
        "nr",
        mr.alias("mr"),
        F.sqrt(
            (F.col("srr") / 1e18 - F.col("nr") * mr * mr) / (F.col("nr") - 1)
        ).alias("sd"),
        F.sqrt(F.col("sdd") / 1e18 / F.col("nr")).alias("dsd"),
    )
    return m.select(
        F.col("nr").cast("bigint").alias("n_returns"),
        F.round("mr", 9).alias("mean_daily_ret"),
        F.round(F.col("mr") / F.col("sd") * F.sqrt(F.lit(_ANN)), 6).alias("sharpe"),
        F.round(F.col("mr") / F.col("dsd") * F.sqrt(F.lit(_ANN)), 6).alias(
            "sortino"
        ),
    )


_VAR_ALPHA = 0.05  # 95% VaR
def _sql_var_cvar() -> str:
    return f"""
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS d,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
                       AS BIGINT)) AS BIGINT) AS x
  FROM lineitem GROUP BY 1
),
led AS (
  SELECT d, x, lag(x) OVER (ORDER BY d) AS xp FROM daily
),
r AS (
  SELECT d, CAST(round(ln(CAST(x AS DOUBLE) / xp) * 1e9) AS BIGINT) AS rq
  FROM led WHERE xp IS NOT NULL
),
ranked AS (
  SELECT rq, row_number() OVER (ORDER BY rq, d) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM r
),
k AS (SELECT CAST(ceil({_VAR_ALPHA} * max(n)) AS BIGINT) AS k, max(n) AS n
      FROM ranked)
SELECT k.n AS n_returns, k.k AS tail_days,
       round(-max(CASE WHEN rn = k.k THEN rq END) / 1e9, 9) AS var_95,
       round(-CAST(sum(CASE WHEN rn <= k.k THEN CAST(rq AS HUGEINT) END)
                   AS DOUBLE) / k.k / 1e9, 9) AS cvar_95,
       round(-min(rq) / 1e9, 9) AS worst_day_loss
FROM ranked, k GROUP BY k.n, k.k
"""
@register(
    "finance_var_cvar",
    oracle=_sql_var_cvar(),
    tags=("finance", "risk", "timeseries", "tail"),
)
def finance_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 95% Value-at-Risk and Conditional VaR (expected
    shortfall) of the daily revenue log-return series: VaR = the
    ceil(αn)-th smallest return negated (loss convention), CVaR = the
    mean of that entire tail — the coherent tail-risk measure Basel
    moved to. Completes the finance family: Sharpe/Sortino normalize by
    dispersion, drawdown measures path risk, VaR/CVaR measure the
    return distribution's tail itself.

    Exactness: the same nano-quantized log-return integers as
    ``finance_sharpe_sortino``; the order statistic comes from a
    row_number over the (return, day) total order; the tail mean
    accumulates exact integers in HUGEINT/decimal.

    Scale shape: one map-side-combined daily aggregate is the only
    data-sized stage; ranking and tail algebra run on the day-grain
    frame (~2.4k rows at any corpus size — the Sharpe/theilsen
    discipline)."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("d")
    led = daily.select("d", "x", F.lag("x").over(w).alias("xp"))
    r = led.filter(F.col("xp").isNotNull()).select(
        "d",
        F.round(F.log(F.col("x").cast("double") / F.col("xp")) * 1e9)
        .cast("bigint")
        .alias("rq"),
    )
    wr = Window.orderBy("rq", "d")
    ranked = r.select(
        "rq",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))).cast("bigint").alias("n"),
    )
    k = ranked.agg(
        F.ceil(F.lit(_VAR_ALPHA) * F.max("n")).cast("bigint").alias("k"),
        F.max("n").alias("n_total"),
    )
    tail = ranked.select("rq", "rn").crossJoin(F.broadcast(k))
    agg = tail.groupBy(
        F.col("n_total").alias("n_returns"), F.col("k").alias("tail_days")
    ).agg(
        F.max(F.when(F.col("rn") == F.col("k"), F.col("rq"))).alias("var_q"),
        F.sum(
            F.when(F.col("rn") <= F.col("k"), F.col("rq").cast("decimal(38,0)"))
        )
        .cast("double")
        .alias("tail_sum"),
        F.min("rq").alias("min_rq"),
    )
    return agg.select(
        "n_returns",
        "tail_days",
        F.round(-F.col("var_q") / 1e9, 9).alias("var_95"),
        F.round(-F.col("tail_sum") / F.col("tail_days") / 1e9, 9).alias("cvar_95"),
        F.round(-F.col("min_rq") / 1e9, 9).alias("worst_day_loss"),
    )


# micro-quantized mean of a ~1e-2-magnitude log return: nano grid
_SQL_DAVG9 = (
    "(CAST(SUM(CAST(round(({x}) * 1000000000.0) AS HUGEINT)) AS DOUBLE)"
    " / COUNT({x}) / 1000000000.0)"
)
def _sql_beta_capm() -> str:
    davg_x = SQL_DAVG.format(x="value")
    return f"""
WITH ht AS (
  SELECT event_type, date_trunc('hour', ts) AS h, {davg_x} AS xt
  FROM events GROUP BY 1, 2
),
hm AS (
  SELECT date_trunc('hour', ts) AS h, {davg_x} AS xm
  FROM events GROUP BY 1
),
rt AS (
  SELECT event_type, h,
         ln(xt) - ln(lag(xt) OVER (PARTITION BY event_type ORDER BY h)) AS ri
  FROM ht
),
rm AS (
  SELECT h, ln(xm) - ln(lag(xm) OVER (ORDER BY h)) AS rmkt
  FROM hm
),
j AS (
  SELECT rt.event_type, rt.ri, rm.rmkt
  FROM rt JOIN rm ON rt.h = rm.h
  WHERE rt.ri IS NOT NULL AND rm.rmkt IS NOT NULL
),
mu AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         {_SQL_DAVG9.format(x='ri')} AS mi,
         {_SQL_DAVG9.format(x='rmkt')} AS mm
  FROM j GROUP BY 1
),
s AS (
  SELECT j.event_type, max(mu.n) AS n, max(mu.mi) AS mi, max(mu.mm) AS mm,
         CAST(sum(CAST(round((j.ri - mu.mi) * (j.rmkt - mu.mm) * 1e9)
                       AS BIGINT)) AS BIGINT) AS s_im,
         CAST(sum(CAST(round((j.rmkt - mu.mm) * (j.rmkt - mu.mm) * 1e9)
                       AS BIGINT)) AS BIGINT) AS s_mm
  FROM j JOIN mu ON j.event_type = mu.event_type
  GROUP BY 1
)
SELECT event_type, n AS n_hours,
       round(CAST(s_im AS DOUBLE) / s_mm, 6) AS beta,
       round(mi - (CAST(s_im AS DOUBLE) / s_mm) * mm, 9) AS alpha
FROM s ORDER BY event_type
"""
@register(
    "finance_beta_capm",
    oracle=_sql_beta_capm(),
    tags=("finance", "beta", "regression", "timeseries"),
)
def finance_beta_capm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM-style beta and alpha of each event-type's hourly engagement
    series against the all-types 'market' series: hourly mean value per
    type, log returns hour-over-hour, then beta_i = cov(r_i, r_m) /
    var(r_m) and alpha_i = r̄_i − beta_i·r̄_m over the type's matched
    hours — the systematic-vs-idiosyncratic decomposition a portfolio
    (or a product-analytics 'which segment just amplifies the site-wide
    trend?') readout runs. Log returns sidestep level scale; means are
    nano-quantized and every centered product quantizes to a nano-grid
    integer before summing (the ACF discipline), so covariances are
    exact integer ratios on both engines.

    Scale shape: two map-side-combined hour groupBys (the frames are
    series-sized forever after); the market series joins by hour (both
    sides bounded by the horizon); per-type means broadcast back onto
    the matched frame (5 rows). The per-type lag window partitions by
    type; the market lag runs over the bounded hourly series — the
    ts_autocorrelation precedent."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    ht = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(davg("value").alias("xt"))
    hm = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        davg("value").alias("xm")
    )
    wt = Window.partitionBy("event_type").orderBy("h")
    wm = Window.orderBy("h")
    rt = ht.select(
        "event_type",
        "h",
        (F.ln("xt") - F.ln(F.lag("xt").over(wt))).alias("ri"),
    )
    rm = hm.select("h", (F.ln("xm") - F.ln(F.lag("xm").over(wm))).alias("rmkt"))
    j = (
        rt.join(rm, "h")
        .where(F.col("ri").isNotNull() & F.col("rmkt").isNotNull())
        .select("event_type", "ri", "rmkt")
    )

    def davg9(c):
        return (
            F.sum(F.round(c * 1e9).cast("decimal(38,0)")).cast("double")
            / F.count(c)
            / 1e9
        )

    mu = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        davg9(F.col("ri")).alias("mi"),
        davg9(F.col("rmkt")).alias("mm"),
    )
    s = (
        j.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("mi").alias("mi"),
            F.max("mm").alias("mm"),
            F.sum(
                F.round((F.col("ri") - F.col("mi")) * (F.col("rmkt") - F.col("mm")) * 1e9)
                .cast("bigint")
            )
            .cast("bigint")
            .alias("s_im"),
            F.sum(
                F.round((F.col("rmkt") - F.col("mm")) * (F.col("rmkt") - F.col("mm")) * 1e9)
                .cast("bigint")
            )
            .cast("bigint")
            .alias("s_mm"),
        )
    )
    beta = F.col("s_im").cast("double") / F.col("s_mm")
    return s.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.round(beta, 6).alias("beta"),
        F.round(F.col("mi") - beta * F.col("mm"), 9).alias("alpha"),
    ).orderBy("event_type")


_MACD_L_EMA = 104  # EMA truncation depth (≈ 4x the slow span)
_MACD_L9 = 27  # signal EMA truncation depth (3x its span)
_MACD_LX = _MACD_L_EMA + _MACD_L9 - 1  # = 130, the x-lag depth
def _macd_weights() -> tuple[list[int], list[int]]:
    """Index-mapped INTEGER weight vectors (nano-grid: round(w·1e9)) for
    the window array (oldest-first, 1-indexed, current row last):
    W_MACD[i] pairs with arr[i] so that macd_t = Σ W_MACD[i]·arr[i]/1e9;
    likewise W_SIG for the signal line (the 9-EMA of macd, pre-convolved
    into x-space so ONE window frame serves both). Truncated EMAs are
    re-normalized over their depth, so full-window rows need no adaptive
    divisor.

    Why integers: float weight literals are NOT engine-portable — DuckDB
    parses a 17-digit decimal literal through DECIMAL and lands 1 ulp
    off Python/Spark's strtod on some values, which flipped term
    roundings here. Quantizing the coefficients themselves to the nano
    grid makes every term an exact BIGINT·BIGINT product and the whole
    filter integer arithmetic — bit-identical by construction (the
    operator's spec is then 'MACD with nano-quantized coefficients',
    error ≤1e-9 per unit weight)."""

    def ema_w(span: int, depth: int) -> list[float]:
        a = 2.0 / (span + 1.0)
        w = [a * (1.0 - a) ** j for j in range(depth)]
        s = sum(w)
        return [v / s for v in w]

    w12 = ema_w(12, _MACD_L_EMA)
    w26 = ema_w(26, _MACD_L_EMA)
    wm = [w12[j] - w26[j] for j in range(_MACD_L_EMA)]  # macd lag weights
    w9 = ema_w(9, _MACD_L9)
    conv = [
        sum(
            w9[m] * wm[lag - m]
            for m in range(_MACD_L9)
            if 0 <= lag - m < _MACD_L_EMA
        )
        for lag in range(_MACD_LX)
    ]
    # arr[i] (1-indexed, oldest first, size LX) holds x_{t-(LX-i)}
    w_macd = [
        int(round((wm[_MACD_LX - i] if _MACD_LX - i < _MACD_L_EMA else 0.0) * 1e9))
        for i in range(1, _MACD_LX + 1)
    ]
    w_sig = [int(round(conv[_MACD_LX - i] * 1e9)) for i in range(1, _MACD_LX + 1)]
    return w_macd, w_sig
def _sql_macd() -> str:
    w_macd, w_sig = _macd_weights()
    wm_lit = "CAST([" + ", ".join(str(v) for v in w_macd) + "] AS BIGINT[])"
    ws_lit = "CAST([" + ", ".join(str(v) for v in w_sig) + "] AS BIGINT[])"
    # exact integer convolution (cents × nano-weights), ONE division at
    # the end: /1e9 undoes the weight grid, leaving cents
    qsum = (
        "CAST(list_aggregate(list_transform(range(1, {n} + 1), "
        "i -> CAST(arr[i] AS HUGEINT) * ({w})[i]), 'sum') "
        "AS DOUBLE) / 1000000000.0"
    )
    return f"""
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS d,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
                       AS BIGINT)) AS BIGINT) AS x
  FROM lineitem GROUP BY 1
),
win AS (
  SELECT d, x,
         list(x) OVER (ORDER BY d
                       ROWS BETWEEN {_MACD_LX - 1} PRECEDING
                                AND CURRENT ROW) AS arr
  FROM daily
),
f AS (
  SELECT d, x,
         {qsum.format(n=_MACD_LX, w=wm_lit)} AS macd,
         {qsum.format(n=_MACD_LX, w=ws_lit)} AS signal
  FROM win WHERE len(arr) = {_MACD_LX}
)
SELECT d, x, round(macd, 6) AS macd_cents,
       round(signal, 6) AS signal_cents,
       round(macd - signal, 6) AS histogram_cents
FROM f ORDER BY d
"""
@register(
    "finance_macd",
    oracle=_sql_macd(),
    tags=("finance", "macd", "timeseries", "ema"),
)
def finance_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12, 26, 9) on the daily revenue series, computed as ONE
    literal linear filter: both the macd line (EMA12 − EMA26) and its
    signal line (the 9-EMA of macd) are fixed-coefficient convolutions
    of the raw series once the truncated EMAs are pre-convolved in the
    driver — so a single 130-row window array serves both lines and the
    recursive definition never touches the cluster (the
    ``w_ewma_smoothed`` discipline generalized: any composition of
    truncated EMAs is a literal FIR filter). Warm-up rows (t < 130) are
    excluded — full-window semantics, re-normalized truncated weights.

    Exactness: the filter coefficients are nano-grid INTEGERS rendered
    into both programs, so every term is an exact integer product of
    cents × nano-weights and the convolution is pure (order-free)
    integer arithmetic — no float enters until the single final
    division (see ``_macd_weights`` for why float literals are not
    engine-portable).

    Scale shape: one map-side-combined day groupBy, then one bounded
    window over the day-grain frame with O(130) work per row — pure
    codegen via zip_with/aggregate, no UDF, no recursion."""
    from pyspark.sql import Window

    w_macd, w_sig = _macd_weights()
    li = _t(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    )
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("d").rowsBetween(-(_MACD_LX - 1), 0)
    win = daily.select("d", "x", F.collect_list("x").over(w).alias("arr"))

    def filt(weights: list[int]):
        warr = F.array(*[F.lit(v).cast("decimal(38,0)") for v in weights])
        terms = F.zip_with(F.col("arr"), warr, lambda v, wt: v * wt)
        return (
            F.aggregate(
                terms,
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, t: acc + t,
            ).cast("double")
            / 1e9
        )

    f = win.where(F.size("arr") == _MACD_LX).select(
        "d", "x", filt(w_macd).alias("macd"), filt(w_sig).alias("signal")
    )
    return f.select(
        "d",
        "x",
        F.round("macd", 6).alias("macd_cents"),
        F.round("signal", 6).alias("signal_cents"),
        F.round(F.col("macd") - F.col("signal"), 6).alias("histogram_cents"),
    ).sortWithinPartitions("d")


# --------------------------------------------------------------------------
# EVT peaks-over-threshold tail estimate (round 9)
# --------------------------------------------------------------------------

_POT_Q = 0.99  # tail quantile the GPD extrapolates to


def _sql_evt_pot() -> str:
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
deltas AS (
  SELECT h, lag(x) OVER (ORDER BY h) - x AS dn FROM hourly
),
losses AS (SELECT dn AS v FROM deltas WHERE dn IS NOT NULL AND dn > 0),
{sql_cuts_ctes("losses", "v", 10)},
u AS (SELECT c AS uc FROM cuts WHERE b = 9),
exc AS (
  SELECT CAST(v - u.uc AS BIGINT) AS y, u.uc
  FROM losses CROSS JOIN u WHERE v > u.uc
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_loss FROM losses),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS nu,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(min(uc) AS BIGINT) AS uc
  FROM exc
),
fit AS (
  SELECT nu, uc, n_loss,
         CAST(sy AS DOUBLE) / nu AS mean_y,
         CASE WHEN nu >= 2 AND nu * syy - sy * sy > 0 THEN
           (CAST(nu AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(nu AS DOUBLE) * (nu - 1.0)) END AS var_y
  FROM m CROSS JOIN nn
),
gpd AS (
  SELECT nu, uc, n_loss, mean_y, var_y,
         0.5 * (1.0 - mean_y * mean_y / var_y) AS xi,
         0.5 * mean_y * (1.0 + mean_y * mean_y / var_y) AS beta
  FROM fit
)
SELECT n_loss, nu AS n_exceed,
       round(uc / 100.0, 2) AS threshold_u,
       round(xi, 9) AS xi,
       round(beta / 100.0, 6) AS beta,
       CASE WHEN xi IS NOT NULL AND xi <> 0.0 THEN
         round((uc + beta / xi
                * (exp(-xi * ln((CAST(n_loss AS DOUBLE) / nu) * {1.0 - _POT_Q}))
                   - 1.0)) / 100.0, 4) END AS var_{int(_POT_Q * 100)}
FROM gpd
"""


@register(
    "finance_evt_pot_tail",
    oracle=_sql_evt_pot(),
    tags=("finance", "evt", "tail-risk", "gpd"),
)
def finance_evt_pot_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value tail estimate via peaks-over-threshold: hour-over-
    hour activity-value DECLINES above the exact 90th-percentile
    threshold are fitted with a generalized Pareto distribution by
    method of moments (xi = (1 - m^2/s^2)/2, beta = m(1 + m^2/s^2)/2),
    then extrapolated to the 99% quantile — Pickands-
    Balkema-de Haan applied where ``finance_var_cvar`` stops: the
    empirical VaR cannot see beyond observed losses, the GPD tail can.

    Exactness: hourly sums and losses are exact cents; the threshold
    is the exact order statistic from the distributed prefix sum
    (equi-depth k=10, boundary 9); excess moments are Decimal128 /
    HUGEINT integer sums; xi/beta/VaR are identical double expressions
    over those integers, with the fractional power spelled
    exp(-xi ln(.)) in BOTH programs so each engine evaluates the same
    composition. Sample variance guards nu >= 2 by construction (the
    decile threshold leaves ~10% of losses above).

    Scale shape: one hourly map-side-combined aggregate; the lag
    window runs on the bounded hour-grain frame; the cut derivation is
    the equidepth machinery; excess moments are a 1-row combine. The
    raw event table never meets a window."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.round(F.col("value") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("h")
    losses = (
        hourly.select((F.lag("x").over(w) - F.col("x")).alias("dn"))
        .filter(F.col("dn").isNotNull() & (F.col("dn") > 0))
        .select(F.col("dn").alias("v"))
        .localCheckpoint(eager=True)  # feeds the cut derivation AND excesses
    )
    uc = equi_depth_cut_points(losses, F.col("v"), 10)[8]
    n_loss = losses.count()
    m = (
        losses.filter(F.col("v") > F.lit(uc))
        .select((F.col("v") - F.lit(uc)).alias("y"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nu"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        )
    )
    nud = F.col("nu").cast("double")
    mean_y = F.col("sy").cast("double") / F.col("nu")
    # degenerate-excess guards (the r8 latent class): nu < 2 or a
    # zero-spread excess set leaves the sample variance undefined —
    # exact Decimal128 comparison, NULL on both engines
    var_y = F.when(
        (F.col("nu") >= 2)
        & (F.col("nu").cast("decimal(38,0)") * F.col("syy") - F.col("sy") * F.col("sy") > 0),
        (nud * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
        / (nud * (F.col("nu") - 1.0)),
    )
    fit = m.select(
        "nu",
        mean_y.alias("mean_y"),
        var_y.alias("var_y"),
    )
    xi = 0.5 * (1.0 - F.col("mean_y") * F.col("mean_y") / F.col("var_y"))
    beta = 0.5 * F.col("mean_y") * (1.0 + F.col("mean_y") * F.col("mean_y") / F.col("var_y"))
    gpd = fit.select("nu", "mean_y", "var_y", xi.alias("xi"), beta.alias("beta"))
    ratio = (F.lit(float(n_loss)) / F.col("nu")) * F.lit(1.0 - _POT_Q)
    return gpd.select(
        F.lit(n_loss).cast("bigint").alias("n_loss"),
        F.col("nu").alias("n_exceed"),
        F.round(F.lit(uc) / 100.0, 2).alias("threshold_u"),
        F.round("xi", 9).alias("xi"),
        F.round(F.col("beta") / 100.0, 6).alias("beta"),
        F.when(
            F.col("xi").isNotNull() & (F.col("xi") != 0.0),
            F.round(
                (F.lit(uc) + F.col("beta") / F.col("xi") * (F.exp(-F.col("xi") * F.log(ratio)) - 1.0))
                / 100.0,
                4,
            ),
        ).alias(f"var_{int(_POT_Q * 100)}"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit — round 10
# --------------------------------------------------------------------------

_SQL_BENFORD = """
WITH px AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS d
  FROM orders WHERE o_totalprice > 0
),
counts AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM px GROUP BY d),
spine AS (SELECT CAST(range AS INT) AS digit FROM range(1, 10)),
j AS (
  SELECT digit, COALESCE(n, 0) AS n
  FROM spine LEFT JOIN counts ON digit = d
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM j),
s AS (
  SELECT digit, n, nt,
         round(CAST(n AS DOUBLE) / nt, 9) AS share,
         round(log10(1.0 + 1.0 / digit), 9) AS benford_expected
  FROM j CROSS JOIN tot
),
t AS (
  SELECT digit, n, share, benford_expected,
         round(abs(share - benford_expected), 9) AS abs_dev,
         round(nt * (share - benford_expected) * (share - benford_expected)
               / benford_expected, 9) AS chi2_term
  FROM s
)
SELECT digit, n, share, benford_expected, abs_dev,
       round((CAST(SUM(CAST(round(abs_dev * 1000000000.0) AS HUGEINT))
                   OVER () AS DOUBLE) / 1000000000.0) / 9.0, 9) AS mad,
       round(CAST(SUM(CAST(round(chi2_term * 1000000.0) AS HUGEINT))
                  OVER () AS DOUBLE) / 1000000.0, 6) AS chi2
FROM t ORDER BY digit
"""


@register(
    "finance_benford_first_digit",
    oracle=_SQL_BENFORD,
    tags=("finance", "audit", "benford", "stats"),
)
def finance_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    classic forensic-accounting conformity test (Nigrini): observed
    digit shares vs the Benford expectation log10(1 + 1/d), with the
    mean absolute deviation (Nigrini's MAD, conformity bands at
    0.006/0.012/0.015) and the 8-dof chi-square as whole-table columns.

    Exactness: the first digit is the first character of the integer
    CENTS string — no float log10/power extraction, so a price like
    1000.00 can never flip digits between engines; shares are exact
    count ratios; MAD and chi2 quantize their 9 per-digit terms on the
    nano/micro grid before the ordered sum (the dsum discipline), so
    cross-engine summation order is irrelevant. A 1..9 digit spine
    LEFT-join zero-fills absent digits (the J4 pattern) so the 9-row
    shape is unconditional.

    Scale shape: one pruned fact scan -> map-side-combined 9-group
    hash agg; everything after the agg lives on a 9-row frame
    (broadcastable spine join + constant-state windows). Linear in the
    fact table, no global sort, no skew exposure (9 keys, combiner
    absorbs them map-side)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = orders.select(d.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    j = (
        spine.join(F.broadcast(counts), spine.digit == counts.d, "left")
        .select("digit", F.coalesce("n", F.lit(0)).cast("bigint").alias("n"))
    )
    wall = Window.partitionBy(F.lit(1))
    nt = F.sum("n").over(wall)
    s = j.select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / nt, 9).alias("share"),
        F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 9).alias(
            "benford_expected"
        ),
        nt.alias("nt"),
    )
    t = s.select(
        "digit",
        "n",
        "share",
        "benford_expected",
        F.round(F.abs(F.col("share") - F.col("benford_expected")), 9).alias("abs_dev"),
        F.round(
            F.col("nt")
            * (F.col("share") - F.col("benford_expected"))
            * (F.col("share") - F.col("benford_expected"))
            / F.col("benford_expected"),
            9,
        ).alias("chi2_term"),
    )
    return (
        t.select(
            "digit",
            "n",
            "share",
            "benford_expected",
            "abs_dev",
            F.round(
                (
                    F.sum(
                        F.round(F.col("abs_dev") * 1000000000.0).cast("long")
                    ).over(wall).cast("double")
                    / 1000000000.0
                )
                / 9.0,
                9,
            ).alias("mad"),
            F.round(
                F.sum(F.round(F.col("chi2_term") * 1000000.0).cast("long"))
                .over(wall)
                .cast("double")
                / 1000000.0,
                6,
            ).alias("chi2"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Market-basket association rules (2-itemsets) — round 10
# --------------------------------------------------------------------------

_BASKET_MIN_COUNT = 3

_SQL_BASKET = f"""
WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM items),
ic AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY p),
pairs AS (
  SELECT a.p AS part_a, b.p AS part_b, CAST(count(*) AS BIGINT) AS n_both
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING count(*) >= {_BASKET_MIN_COUNT}
)
SELECT part_a, part_b, n_both,
       ca.c AS n_a, cb.c AS n_b,
       round(CAST(n_both AS DOUBLE) / n_orders, 9) AS support,
       round(CAST(n_both AS DOUBLE) / ca.c, 9) AS conf_a_to_b,
       round(CAST(n_both AS DOUBLE) / cb.c, 9) AS conf_b_to_a,
       round(CAST(n_both AS DOUBLE) * n_orders / (ca.c * cb.c), 9) AS lift
FROM pairs
JOIN ic ca ON ca.p = part_a
JOIN ic cb ON cb.p = part_b
CROSS JOIN n
ORDER BY part_a, part_b
"""


@register(
    "finance_basket_association_rules",
    oracle=_SQL_BASKET,
    tags=("finance", "basket", "association", "apriori"),
)
def finance_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order line items — the
    Apriori 2-itemset layer (Agrawal & Srikant's support/confidence
    framework plus lift): for every part pair co-occurring in at least
    _BASKET_MIN_COUNT orders, the joint support, both directional confidences
    and the lift vs independence. All four measures are ratios of exact
    BIGINT basket counts, so the SQL replay is bit-identical.

    Scale shape: baskets dedup to distinct (order, part) once (one hash
    agg); candidate pairs come from a SELF-JOIN CO-PARTITIONED ON THE
    ORDER KEY — one shuffle of the skinny item list, per-task work
    bounded by C(basket_size, 2), never a cross join over the part
    domain. Pair counts and per-part counts are map-side-combined hash
    aggs; the min-count HAVING bounds the rule table (the Apriori
    support-pruning argument), and the per-part counts join back onto
    it WITHOUT a broadcast hint — the part domain is sf-proportional
    (TPC-H part = sf x 200k; billions of rows at 100 TB), so forcing a
    broadcast would OOM the driver at scale. The
    support-pruned pair table is the small side; AQE picks the
    strategy. Popular-part skew lands in the combiner, not a shuffle
    hot key. At 100 TB this is the standard two-pass FP-growth
    preamble; k-itemsets nest the same co-partitioned join (see
    finance_basket_triples)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # the deduped basket frame feeds FOUR consumers (both self-join
    # sides, per-part counts, the order total): localCheckpoint pins it
    # so the scan+distinct shuffle runs once, not once per consumer
    # (the graph-entry shared-subtree discipline)
    items = li.distinct().localCheckpoint(eager=True)
    n_orders = items.agg(F.countDistinct("o").cast("bigint").alias("n_orders"))
    ic = items.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = items.select(F.col("o"), F.col("p").alias("part_a"))
    b = items.select(F.col("o"), F.col("p").alias("part_b"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= _BASKET_MIN_COUNT)
    )
    # NO broadcast hint on ic: per-part counts are sf-proportional
    # (part domain = sf x 200k); the support-pruned `pairs` frame is the
    # bounded side, so let AQE choose (n_orders stays broadcast: 1 row).
    out = (
        pairs.join(
            ic.select(F.col("p").alias("part_a"), F.col("c").alias("n_a")),
            "part_a",
        )
        .join(
            ic.select(F.col("p").alias("part_b"), F.col("c").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    both = F.col("n_both").cast("double")
    return out.select(
        "part_a",
        "part_b",
        "n_both",
        "n_a",
        "n_b",
        F.round(both / F.col("n_orders"), 9).alias("support"),
        F.round(both / F.col("n_a"), 9).alias("conf_a_to_b"),
        F.round(both / F.col("n_b"), 9).alias("conf_b_to_a"),
        F.round(
            both * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 9
        ).alias("lift"),
    ).orderBy("part_a", "part_b")


# --------------------------------------------------------------------------
# Market-basket association rules (3-itemsets, Apriori-pruned) — round 11
# --------------------------------------------------------------------------

_TRIPLE_MIN_COUNT = 2

_SQL_BASKET_TRIPLES = f"""
WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM items),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_pair
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING count(*) >= {_TRIPLE_MIN_COUNT}
),
trips AS (
  SELECT a.p AS part_a, b.p AS part_b, c.p AS part_c,
         CAST(count(*) AS BIGINT) AS n_all
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
               JOIN items c ON b.o = c.o AND b.p < c.p
  GROUP BY 1, 2, 3
  HAVING count(*) >= {_TRIPLE_MIN_COUNT}
)
SELECT part_a, part_b, part_c, n_all, pr.n_pair AS n_ab,
       round(CAST(n_all AS DOUBLE) / n_orders, 9) AS support,
       round(CAST(n_all AS DOUBLE) / pr.n_pair, 9) AS conf_ab_to_c
FROM trips
JOIN pairs pr ON pr.pa = part_a AND pr.pb = part_b
CROSS JOIN n
ORDER BY part_a, part_b, part_c
"""


@register(
    "finance_basket_triples",
    oracle=_SQL_BASKET_TRIPLES,
    tags=("finance", "basket", "association", "apriori"),
)
def finance_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Apriori k=3 layer nested on the same co-partitioned basket
    self-join as finance_basket_association_rules (proving that entry's
    'k-itemsets nest the same join' claim): 3-itemset support plus the
    (a,b) -> c confidence against the frequent-pair table. All measures
    are ratios of exact BIGINT counts, so the SQL replay is bit-exact.

    Apriori pruning is LOSSLESS here and applied before the cubic join:
    any part in a frequent triple appears in a frequent sub-pair
    (sub-pattern support >= triple support >= min), so restricting the
    item list to parts of frequent pairs (one semi-join) cannot drop a
    result — it only shrinks the per-basket candidate count b, and the
    triple join's per-task work is C(b, 3). Likewise the final HAVING
    implies every sub-pair is frequent, so the confidence join always
    hits. Scale shape: the 3-way self-join stays co-partitioned on the
    order key (the first join's shuffle partitioning is reused for the
    second), pair/triple counts are map-side-combined hash aggs, and no
    sf-proportional frame carries a broadcast hint —
    the frequent-pair and pruned-item joins are plain joins AQE sizes at
    runtime."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    items = li.distinct().localCheckpoint(eager=True)
    n_orders = items.agg(F.countDistinct("o").cast("bigint").alias("n_orders"))
    a = items.select("o", F.col("p").alias("pa"))
    b = items.select("o", F.col("p").alias("pb"))
    # L2 feeds two consumers (the part prune + the confidence join): pin
    # it so the pair shuffle runs once (shared-subtree discipline)
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= _TRIPLE_MIN_COUNT)
        .localCheckpoint(eager=True)
    )
    freq_parts = (
        pairs.select(F.col("pa").alias("p"))
        .union(pairs.select(F.col("pb").alias("p")))
        .distinct()
    )
    pruned = items.join(freq_parts, "p", "left_semi")
    pa = pruned.select("o", F.col("p").alias("part_a"))
    pb = pruned.select("o", F.col("p").alias("part_b"))
    pc = pruned.select("o", F.col("p").alias("part_c"))
    trips = (
        pa.join(pb, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .join(pc, "o")
        .filter(F.col("part_b") < F.col("part_c"))
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
        .filter(F.col("n_all") >= _TRIPLE_MIN_COUNT)
    )
    out = trips.join(
        pairs.select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("n_pair").alias("n_ab"),
        ),
        ["part_a", "part_b"],
    ).crossJoin(F.broadcast(n_orders))
    n_all = F.col("n_all").cast("double")
    return out.select(
        "part_a",
        "part_b",
        "part_c",
        "n_all",
        "n_ab",
        F.round(n_all / F.col("n_orders"), 9).alias("support"),
        F.round(n_all / F.col("n_ab"), 9).alias("conf_ab_to_c"),
    ).orderBy("part_a", "part_b", "part_c")

"""Statistical tests, estimators, sketches, and ML-adjacent analytics.

Consolidated in round 9 from the round-named catalog shards (the
original per-round files are in git history; entry source text is
unchanged). Every entry registers in REGISTRY with a DuckDB oracle
unless documented otherwise; reference parity citations live in the
entry docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from .catalog import SQL_DAVG, SQL_DSUM, SQL_NSUM, demo_guard, register, _t
from .datapipe import text as tx
from .functions import davg, dsum, nano_comoment, nsum
from .catalog import register, _t
from .catalog import SQL_DSUM, register, _t
from .datapipe.sketches import (
    BLOOM_K,
    BLOOM_M,
    QD_K,
    QD_SIGMA,
    QD_U,
    bloom_bits,
    bloom_maybe,
    cms_cells,
    cms_estimate,
    hll_estimate,
    hll_registers,
    qdigest_build,
    qdigest_quantile,
    sql_bloom,
    sql_cms_bucket,
    sql_hll,
)
from .functions import dsum
from pyspark.sql import DataFrame, SparkSession
from .datapipe.hashing import hash60, sql_hash60
from pyspark.sql import Column, DataFrame, SparkSession, Window
from .datapipe import clustering as cl
from .datapipe.sampling import RESOLUTION, _gate, sql_gate
from .datapipe.util import fan_out
from .catalog import SQL_DAVG, register, _t
from .functions.aggregates import davg
from .datapipe import dedup as dd
from .datapipe.sampling import RESOLUTION
from .operators.equidepth import (
    bucket_by_cuts,
    equi_depth_cut_points,
    grouped_value_counts_cum,
    grouped_values_at_ranks,
    sql_cuts_ctes,
    value_counts_cum,
    values_at_ranks,
)
from .operators.equidepth import grouped_value_counts_cum
from .operators.equidepth import value_counts_cum
import math
from .datapipe.sampling import RESOLUTION, sql_gate, train_eval_split
from .catalog import SQL_DAVG, _t, register
from .functions import davg
from .operators.equidepth import (
    bucket_by_cuts,
    equi_depth_cut_points,
    sql_cuts_ctes,
)


@register(
    "regression_by_key",
    oracle=f"""
WITH pts AS (
  SELECT event_type, epoch(ts) / 3600.0 AS x, value AS y FROM events
),
means AS (
  SELECT event_type,
         {SQL_DAVG.format(x='x')} AS xbar,
         {SQL_DAVG.format(x='y')} AS ybar,
         count(*) AS n
  FROM pts GROUP BY event_type
),
centered AS (
  SELECT p.event_type,
         {SQL_DSUM.format(x='(p.x - m.xbar) * (p.y - m.ybar)')} AS sxy,
         {SQL_DSUM.format(x='(p.x - m.xbar) * (p.x - m.xbar)')} AS sxx,
         min(m.xbar) AS xbar, min(m.ybar) AS ybar, min(m.n) AS n
  FROM pts p JOIN means m USING (event_type)
  GROUP BY p.event_type
)
SELECT event_type, n,
       round(sxy / sxx, 9) AS slope,
       round(ybar - (sxy / sxx) * xbar, 6) AS intercept
FROM centered
ORDER BY event_type
""",
    tags=("regression", "aggregate", "analytics"),
)
def regression_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (value vs time) via the
    closed-form centered sums — the general form of the reference's
    two-point slope (analyse.py:263-270): slope = Σ(dx·dy)/Σ(dx²) with
    dx, dy centered on per-group means. Two passes: a tiny per-key mean
    aggregate broadcast back into the fact scan, then one hash agg of
    quantized products — no window, no sort, O(1) state per group, which
    is why this scales where per-group curve fitting loops cannot.
    Centering keeps products small (hours-from-mean, not epoch-hours),
    so the 1e-6 quantization grid carries the full signal."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        (F.col("ts").cast("double") / 3600.0).alias("x"),
        F.col("value").alias("y"),
    )
    means = pts.groupBy("event_type").agg(
        davg(F.col("x")).alias("xbar"),
        davg(F.col("y")).alias("ybar"),
        F.count(F.lit(1)).alias("n"),
    )
    dx = F.col("x") - F.col("xbar")
    dy = F.col("y") - F.col("ybar")
    centered = (
        pts.join(F.broadcast(means), "event_type")
        .groupBy("event_type")
        .agg(
            dsum(dx * dy).alias("sxy"),
            dsum(dx * dx).alias("sxx"),
            F.min("xbar").alias("xbar"),
            F.min("ybar").alias("ybar"),
            F.min("n").alias("n"),
        )
    )
    slope = F.col("sxy") / F.col("sxx")
    return centered.select(
        "event_type",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round(F.col("ybar") - slope * F.col("xbar"), 6).alias("intercept"),
    ).orderBy("event_type")


@register(
    "histogram_equi_depth",
    oracle="""
WITH tiled AS (
  SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
  FROM events
)
SELECT bucket, count(*) AS n, min(value) AS lo, max(value) AS hi
FROM tiled GROUP BY bucket ORDER BY bucket
""",
    tags=("histogram", "window", "analytics"),
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram via ntile over a total order —
    the value-distribution summary whose bucket POPULATIONS are equal
    and bucket WIDTHS carry the density signal (complement of the
    fixed-width B1/B2 binning family). The tiebreak on event_id makes
    the tiling deterministic. ntile's single total order is the fixture
    form; the scale path is the round-4 twin
    ``histogram_equi_depth_cuts`` (operators/equidepth.py exact
    percentile cuts as broadcast literals + map-only assignment); the
    demo_guard makes that routing an error message instead of a silent
    single-partition sort on frames past the cap."""
    ev = demo_guard(
        _t(spark, sf_dir, "events"),
        "histogram_equi_depth",
        "histogram_equi_depth_cuts",
    )
    w = Window.orderBy("value", "event_id")
    return (
        ev.select("value", F.ntile(10).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("bucket")
    )


_SQL_MULTI_DISTINCT = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(count(DISTINCT CAST(floor(value / 10) AS BIGINT)) AS BIGINT) AS n_value_decades
FROM events GROUP BY event_type ORDER BY event_type
"""
@register(
    "agg_multi_distinct",
    oracle=_SQL_MULTI_DISTINCT,
    tags=("agg", "distinct", "expand"),
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several EXACT count-distincts over different columns in one
    logical aggregation — Catalyst compiles this to a single Expand node
    (one row fan-out per distinct column) + a two-phase aggregate, so
    the scan happens once and the shuffle carries (group, column-tag,
    value) triples instead of one full pass per metric. The approximate
    alternative at extreme scale is approx_distinct_parts (HLL); this is
    the exact form dashboards reconcile against."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
            F.countDistinct(
                F.floor(F.col("value") / 10).cast("bigint")
            ).alias("n_value_decades"),
        )
        .orderBy("event_type")
    )


_CMS_D, _CMS_W = 4, 64
def _cms_union(select_prefix: str, src: str) -> str:
    return " UNION ALL ".join(
        f"SELECT {select_prefix}, {r} AS d, {sql_cms_bucket('k', r, _CMS_W)} AS b FROM {src}"
        for r in range(_CMS_D)
    )
@register(
    "sketch_countmin_freq",
    oracle=f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
pairs AS ({_cms_union("1 AS one", "ev")}),
cells AS (SELECT d, b, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY d, b),
truth AS (SELECT k, CAST(count(*) AS BIGINT) AS true_n FROM ev GROUP BY k),
probes AS ({_cms_union("k, true_n", "truth")}),
est AS (
  SELECT p.k, min(p.true_n) AS true_n, min(c.c) AS est
  FROM probes p JOIN cells c USING (d, b) GROUP BY p.k
)
SELECT CAST(k AS BIGINT) AS user_id, est, true_n,
       est >= true_n AS no_underestimate
FROM est ORDER BY user_id
""",
    tags=("sketch", "frequency", "streaming"),
)
def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode-Muthukrishnan): d=4 hash rows x w=64
    buckets estimate per-user event frequencies with CONSTANT shuffle
    volume — partial aggregation collapses every partition to <= d*w
    cells before the exchange, so the sketch build never shuffles
    per-key rows no matter the cardinality. The estimate (min over the
    d probed cells) is compared against the exact count; the CMS
    one-sided guarantee (never under-counts) is emitted as a column the
    driver value-checks on every key. The md5-seeded hash family is
    engine-portable, so the oracle replays the sketch exactly."""
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").cast("string").alias("k"))
    cells = cms_cells(ev, F.col("k"), depth=_CMS_D, width=_CMS_W)
    truth = ev.groupBy("k").agg(F.count(F.lit(1)).alias("true_n"))
    est = cms_estimate(truth, F.col("k"), cells, depth=_CMS_D, width=_CMS_W)
    return est.select(
        F.col("k").cast("bigint").alias("user_id"),
        "est",
        "true_n",
        (F.col("est") >= F.col("true_n")).alias("no_underestimate"),
    ).orderBy("user_id")


@register(
    "sketch_bloom_membership",
    oracle=f"""
WITH {sql_bloom("CAST(c_custkey AS VARCHAR)",
                "(SELECT * FROM customer WHERE c_mktsegment = 'BUILDING')",
                "customer")},
bt AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bloom_bits)
SELECT {BLOOM_M} AS m, {BLOOM_K} AS k_hashes, bt.n_bits_set,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(count(*) FILTER (WHERE is_member) AS BIGINT) AS n_members,
       CAST(count(*) FILTER (WHERE maybe) AS BIGINT) AS n_maybe,
       CAST(count(*) FILTER (WHERE maybe AND NOT is_member) AS BIGINT) AS n_false_pos,
       CAST(count(*) FILTER (WHERE is_member AND NOT maybe) AS BIGINT) AS n_false_neg,
       CASE WHEN count(*) FILTER (WHERE NOT is_member) = 0 THEN NULL
            ELSE round(CAST(count(*) FILTER (WHERE maybe AND NOT is_member) AS DOUBLE)
                       / count(*) FILTER (WHERE NOT is_member), 6)
       END AS fpr
FROM bloom_probe, bt
GROUP BY bt.n_bits_set
""",
    tags=("sketch", "membership", "bloom", "mergeable"),
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (Bloom 1970) completing the sketch family
    (CMS frequency / KMV intersection / HLL cardinality / Bloom
    membership): the BUILDING-segment customer keys build a m=2048-bit,
    k=3 filter; EVERY customer key then probes it, and the single output
    row audits the filter against exact membership — n_false_neg is the
    one-sided guarantee (must be 0, value-checked by the driver exactly
    like the CMS no_underestimate column) and fpr is the measured
    false-positive rate over true non-members.

    Scale shape: the build's distinct-position aggregate partial-aggs to
    <= m rows per partition (constant exchange at any build
    cardinality); the <= m-row bit table broadcasts to the probe side,
    which is one explode(k) + broadcast semi-match + per-key count — no
    shuffle keyed on the probe stream beyond its distinct. This is the
    join-pruning structure runtime bloom filters inject automatically
    (session keeps spark.sql.optimizer.runtime.bloomFilter ON); the
    entry makes the construction itself differential-testable via the
    portable seeded hash60 family."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("k"), "c_mktsegment"
    )
    build = cust.where(F.col("c_mktsegment") == "BUILDING").select("k")
    bits = bloom_bits(build, F.col("k"))
    probes = cust.groupBy("k").agg(
        F.max(F.col("c_mktsegment") == "BUILDING").alias("is_member")
    )
    probed = bloom_maybe(probes, F.col("k"), bits)
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    non_members = F.count(F.when(~F.col("is_member"), 1))
    agg = probed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.count(F.when(F.col("is_member"), 1)).cast("bigint").alias("n_members"),
        F.count(F.when(F.col("maybe"), 1)).cast("bigint").alias("n_maybe"),
        F.count(F.when(F.col("maybe") & ~F.col("is_member"), 1))
        .cast("bigint")
        .alias("n_false_pos"),
        F.count(F.when(F.col("is_member") & ~F.col("maybe"), 1))
        .cast("bigint")
        .alias("n_false_neg"),
        F.when(non_members == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.count(F.when(F.col("maybe") & ~F.col("is_member"), 1)).cast(
                    "double"
                )
                / non_members,
                6,
            )
        )
        .alias("fpr"),
    )
    return agg.crossJoin(F.broadcast(n_bits)).select(
        F.lit(BLOOM_M).alias("m"),
        F.lit(BLOOM_K).alias("k_hashes"),
        "n_bits_set",
        "n_probes",
        "n_members",
        "n_maybe",
        "n_false_pos",
        "n_false_neg",
        "fpr",
    )


@register(
    "sketch_hll_cardinality",
    oracle=f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
{sql_hll("k", "ev")},
exact AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct
          FROM ev WHERE k IS NOT NULL)
SELECT m, n_filled, v_empty, raw_est, est, exact_distinct,
       round(abs(est - exact_distinct) / exact_distinct, 6) AS abs_rel_err
FROM hll_out, exact
""",
    # NOT tagged "streaming": that tag routes an entry OUT of the
    # per-entry batch plan pins (test_plan_properties); this is a batch
    # entry whose registers merge streaming-style, which "mergeable" says
    tags=("sketch", "cardinality", "hll", "mergeable"),
)
def sketch_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) over the
    event user ids, next to the CMS frequency sketch: m=256 registers of
    max(leading-zero rank), harmonic-mean estimate with the standard
    small-range linear-counting correction, compared against the exact
    distinct count in the same row.

    Why it matters at 100 TB: countDistinct shuffles unbounded distinct
    pre-aggregation state; the HLL build partial-aggregates every
    partition to <= m register rows before the ONE exchange — constant
    shuffle volume at any cardinality, and registers from disjoint
    corpora merge by max() (the streaming/union form). Determinism: the
    register build is exact integer arithmetic over the portable md5
    hash60 (bucket = mod, rho = 53 - bin-string length — never floating
    log2), and the harmonic sum is an exact BIGINT numerator, so the
    oracle replays the sketch bit-for-bit; the only shared-libm step is
    the one ln() in the small-range branch (6-dp-rounded in both
    ``hll_estimate`` and the ``sql_hll`` oracle)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    sk = hll_estimate(hll_registers(ev, F.col("k")))
    exact = ev.where(F.col("k").isNotNull()).agg(
        F.countDistinct("k").cast("bigint").alias("exact_distinct")
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        "m",
        "n_filled",
        "v_empty",
        "raw_est",
        "est",
        "exact_distinct",
        F.round(
            F.abs(F.col("est") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("abs_rel_err"),
    )


@register(
    "stats_chi2_lang_source",
    oracle=f"""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
),
rowt AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM documents GROUP BY 1),
colt AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM documents GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT lang) AS BIGINT) AS l,
         CAST(count(DISTINCT source) AS BIGINT) AS s
  FROM documents
)
SELECT {SQL_DSUM.format(x='''
         (CAST(c.o AS DOUBLE) - (CAST(r.nl AS DOUBLE) * ct.ns) / t.n)
         * (CAST(c.o AS DOUBLE) - (CAST(r.nl AS DOUBLE) * ct.ns) / t.n)
         / ((CAST(r.nl AS DOUBLE) * ct.ns) / t.n)''')} AS chi2,
       min((t.l - 1) * (t.s - 1)) AS dof,
       min(t.n) AS n
FROM cells c
JOIN rowt r USING (lang)
JOIN colt ct USING (source)
CROSS JOIN tot t
ORDER BY 1
""",
    tags=("stats", "chi2", "contingency"),
)
def stats_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test on the lang x source
    contingency table: observed cell counts vs expected (row_total *
    col_total / N), summed over cells on the micro-unit grid so the
    statistic is deterministic under any partitioning. The contingency
    machinery (three small aggregates broadcast into a cells-sized
    join) is the scalable shape — the fact table is scanned once per
    marginal, and every post-scan frame is (langs x sources)-sized.
    Degrees of freedom derive from the marginal cardinalities."""
    docs = _t(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rowt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    colt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    tot = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("lang").alias("l"),
        F.countDistinct("source").alias("s"),
    )
    e = (F.col("nl").cast("double") * F.col("ns")) / F.col("n")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    return (
        cells.join(F.broadcast(rowt), "lang")
        .join(F.broadcast(colt), "source")
        .crossJoin(F.broadcast(tot))
        .agg(
            dsum(term).alias("chi2"),
            F.min((F.col("l") - 1) * (F.col("s") - 1)).alias("dof"),
            F.min("n").alias("n"),
        )
        .orderBy("chi2")
    )


@register(
    "stats_mad_by_event_type",
    oracle="""
WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1),
rk AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
  FROM ev
),
med AS (
  SELECT r.event_type, round((min(r.value) + max(r.value)) / 2.0, 6) AS median
  FROM rk r JOIN cnt c USING (event_type)
  WHERE r.rn = (c.n + 1) // 2 OR r.rn = (c.n + 2) // 2
  GROUP BY 1
),
dev AS (
  SELECT e.event_type, abs(e.value - m.median) AS d
  FROM ev e JOIN med m USING (event_type)
),
rk2 AS (
  SELECT event_type, d,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
  FROM dev
),
mad AS (
  SELECT r.event_type, round((min(r.d) + max(r.d)) / 2.0, 6) AS mad
  FROM rk2 r JOIN cnt c USING (event_type)
  WHERE r.rn = (c.n + 1) // 2 OR r.rn = (c.n + 2) // 2
  GROUP BY 1
)
SELECT c.event_type, c.n, m.median, d.mad
FROM cnt c JOIN med m USING (event_type) JOIN mad d USING (event_type)
ORDER BY 1
""",
    tags=("robust-stats", "median", "mad"),
)
def stats_mad_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median and MAD (median absolute deviation) via
    RANK selection rather than interpolation: pick the row(s) at ranks
    ⌈n/2⌉ and ⌊n/2⌋+1 and average them — (min+max)/2 of at most two
    values is order-free, so the result is deterministic across engines
    with no dependence on anyone's quantile interpolation convention.
    The robust-dispersion pair is the outlier-resistant counterpart of
    the z-score anomaly entry. Scale note: rank selection is a per-key
    sort; at 100 TB substitute percentile_approx cut points (the
    equi-depth histogram path) — the output contract is unchanged."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value").filter(
        F.col("value").isNotNull()
    )
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    def rank_median(df: DataFrame, col: str, out: str) -> DataFrame:
        ranked = df.withColumn("rn", F.row_number().over(
            Window.partitionBy("event_type").orderBy(col)
        ))
        return (
            ranked.join(F.broadcast(cnt), "event_type")
            .filter(
                (F.col("rn") == F.expr("(n + 1) div 2"))
                | (F.col("rn") == F.expr("(n + 2) div 2"))
            )
            .groupBy("event_type")
            .agg(F.round((F.min(col) + F.max(col)) / 2.0, 6).alias(out))
        )

    med = rank_median(ev, "value", "median")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("median")).alias("d")
    )
    mad = rank_median(dev, "d", "mad")
    return (
        cnt.join(med, "event_type")
        .join(mad, "event_type")
        .select("event_type", "n", "median", "mad")
        .orderBy("event_type")
    )


@register(
    "events_changepoint_cusum",
    oracle="""
WITH m AS (
  SELECT event_type,
         (CAST(SUM(CAST(round(value * 1000000.0) AS HUGEINT)) AS DOUBLE)
          / COUNT(value) / 1000000.0) AS mu,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, e.ts, e.event_id, m.n,
         CAST(sum(CAST(round((e.value - m.mu) * 1000000.0) AS BIGINT))
              OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id)
              AS BIGINT) AS s_int
  FROM events e JOIN m USING (event_type)
),
ranked AS (
  SELECT event_type, n, ts, event_id, s_int,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(s_int) DESC, ts, event_id) AS rk
  FROM dev
)
SELECT event_type, n, ts AS cp_ts, event_id AS cp_event_id,
       round(CAST(s_int AS DOUBLE) / 1000000.0, 6) AS max_dev
FROM ranked WHERE rk = 1 ORDER BY event_type
""",
    tags=("changepoint", "cusum", "timeseries"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (Page 1954): per series, the running
    sum of mean-centered deviations peaks (in absolute value) at the
    most likely mean-shift point. Deviations are quantized to micro-
    unit integers BEFORE the running sum, so the cumulative path — and
    therefore the argmax — is exact and identical in any engine or
    partitioning; the argmax pick is made total with (ts, event_id)
    tiebreaks. One broadcast of per-series means, one window pass, one
    rank — the same cost envelope as the z-score anomaly entry, but
    detecting LOCATION of change rather than pointwise outliers."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "event_id", "value")
    from .functions import davg

    m = ev.groupBy("event_type").agg(
        davg(F.col("value")).alias("mu"), F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    dev = ev.join(F.broadcast(m), "event_type").withColumn(
        "s_int",
        F.sum(F.round((F.col("value") - F.col("mu")) * 1_000_000.0).cast("bigint"))
        .over(w)
        .cast("bigint"),
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_int")).desc(), "ts", "event_id"
    )
    return (
        dev.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            "n",
            F.col("ts").alias("cp_ts"),
            F.col("event_id").alias("cp_event_id"),
            F.round(F.col("s_int").cast("double") / 1_000_000.0, 6).alias("max_dev"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_winsorized_mean",
    oracle=f"""
WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1),
rk AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
  FROM ev
),
cuts AS (
  SELECT r.event_type,
         min(CASE WHEN r.rn = greatest(CAST(ceil(0.05 * c.n) AS BIGINT), 1)
                  THEN r.value END) AS lo,
         min(CASE WHEN r.rn = CAST(ceil(0.95 * c.n) AS BIGINT)
                  THEN r.value END) AS hi
  FROM rk r JOIN cnt c USING (event_type)
  GROUP BY 1
)
SELECT e.event_type, min(c2.n) AS n, min(k.lo) AS lo, min(k.hi) AS hi,
       {SQL_DAVG.format(x='greatest(least(e.value, k.hi), k.lo)')} AS winsorized_mean,
       {SQL_DAVG.format(x='e.value')} AS raw_mean
FROM ev e JOIN cuts k USING (event_type) JOIN cnt c2 USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
""",
    tags=("robust-stats", "winsorize", "aggregate"),
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clip at the exact rank-selected 5th /
    95th percentile values (⌈0.05n⌉-th and ⌈0.95n⌉-th order statistics
    — rank selection, so no engine's quantile interpolation convention
    is involved), then the quantized mean of the clipped column next to
    the raw mean. The robust-location counterpart of the MAD entry
    (scale path: the round-4 twin ``stats_winsorized_mean_cuts``); cut
    points are group-cardinality and broadcast back into a map-only
    clip. At 100 TB the cut points come from percentile_approx instead
    (equi-depth machinery), same contract; the demo_guard refuses inputs
    past the cap with a pointer to the twin."""
    ev = demo_guard(
        _t(spark, sf_dir, "events"),
        "stats_winsorized_mean",
        "stats_winsorized_mean_cuts",
    ).select("event_type", "value").filter(F.col("value").isNotNull())
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    rk = ev.withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type").orderBy("value"))
    )
    cuts = (
        rk.join(F.broadcast(cnt), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(
                    F.col("rn")
                    == F.greatest(
                        F.ceil(F.lit(0.05) * F.col("n")).cast("bigint"), F.lit(1)
                    ),
                    F.col("value"),
                )
            ).alias("lo"),
            F.min(
                F.when(
                    F.col("rn") == F.ceil(F.lit(0.95) * F.col("n")).cast("bigint"),
                    F.col("value"),
                )
            ).alias("hi"),
        )
    )
    clipped = F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo"))
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .join(F.broadcast(cnt), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n"),
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
            davg(clipped).alias("winsorized_mean"),
            davg(F.col("value")).alias("raw_mean"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_mode_by_user",
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT user_id, event_type, n,
         CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS n_total,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type) AS rk
  FROM counts
)
SELECT user_id, event_type AS mode_event_type, n AS n_mode, n_total,
       round(CAST(n AS DOUBLE) / n_total, 6) AS share
FROM ranked WHERE rk = 1 ORDER BY user_id
""",
    tags=("aggregate", "mode", "statistics"),
)
def agg_mode_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped MODE (most frequent value) with a deterministic
    tiebreak: counts per (user, event_type), then the top row per user
    ordered by (count desc, value asc) — the statistical-mode
    aggregate the profiling and value_counts entries stop short of,
    plus the modal share. The ranking runs on the counts frame
    (states-per-user cardinality), not on events."""
    counts = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("user_id")
    wr = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("n_total", F.sum("n").over(wp).cast("bigint"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("n_mode"),
            "n_total",
            F.round(F.col("n").cast("double") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy("user_id")
    )


@register(
    "growth_rolling_wau_hll",
    oracle="""
WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
wau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau_exact
  FROM days d JOIN du u
    ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
  GROUP BY 1
)
SELECT day, wau_exact, TRUE AS in_bound FROM wau ORDER BY day
""",
    tags=("sketch", "hll", "growth"),
)
def growth_rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling WAU by MERGED HLL sketches — the constant-state scale
    path that growth_rolling_engagement documents: one HLL sketch per
    (user-serving) day cell, hll_union_agg over each trailing window,
    hll_sketch_estimate at the end. Sketch merge is register-wise max —
    commutative and associative — so the estimate is deterministic
    under any partitioning, and per-day state is ~2^12 registers no
    matter how many users exist (the exact plan's distinct-count state
    grows with cardinality). The driver-checked contract follows the
    sketch-entry convention: the exact window count plus the published
    error guarantee as a value column (estimate within 5%+5 of exact —
    lgK=12's 3-sigma envelope), since no external engine can replay
    Spark's datasketches registers bit-for-bit."""
    du = (
        _t(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
    )
    days = du.select("day").distinct()
    max_day = days.agg(F.max("day").alias("max_day"))
    targets = (
        du.crossJoin(F.broadcast(max_day))
        .select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(
                        F.col("day") + F.expr("INTERVAL 6 DAY"), F.col("max_day")
                    ),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("tday"),
            "user_id",
        )
        .join(days.select(F.col("day").alias("tday")), "tday")
    )
    est = targets.groupBy("tday").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
        F.countDistinct("user_id").alias("wau_exact"),
    )
    bound = F.greatest(F.round(F.col("wau_exact") * 0.05), F.lit(5.0))
    return (
        est.select(
            F.col("tday").alias("day"),
            "wau_exact",
            (F.abs(F.col("est") - F.col("wau_exact")) <= bound).alias("in_bound"),
        )
        .orderBy("day")
    )


_WELCH_A, _WELCH_B = "click", "view"
def _sql_welch() -> str:
    return f"""
WITH q AS (
  SELECT event_type, CAST(round(value * 1000000.0) AS HUGEINT) AS q
  FROM events WHERE event_type IN ('{_WELCH_A}', '{_WELCH_B}')
),
s AS (
  SELECT
    CAST(count(*) FILTER (WHERE event_type = '{_WELCH_A}') AS BIGINT) AS n1,
    CAST(count(*) FILTER (WHERE event_type = '{_WELCH_B}') AS BIGINT) AS n2,
    CAST(sum(q)     FILTER (WHERE event_type = '{_WELCH_A}') AS DOUBLE) AS a1,
    CAST(sum(q * q) FILTER (WHERE event_type = '{_WELCH_A}') AS DOUBLE) AS a2,
    CAST(sum(q)     FILTER (WHERE event_type = '{_WELCH_B}') AS DOUBLE) AS b1,
    CAST(sum(q * q) FILTER (WHERE event_type = '{_WELCH_B}') AS DOUBLE) AS b2
  FROM q
),
m AS (
  SELECT n1, n2,
         a1 / n1 / 1000000.0 AS m1,
         b1 / n2 / 1000000.0 AS m2,
         (a2 - a1 * a1 / n1) / (n1 - 1) / 1e12 AS v1,
         (b2 - b1 * b1 / n2) / (n2 - 1) / 1e12 AS v2
  FROM s
)
SELECT n1, n2,
       round(m1, 6) AS mean_a, round(m2, 6) AS mean_b,
       round(v1, 6) AS var_a,  round(v2, 6) AS var_b,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
       round(
         (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
         / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)),
         6
       ) AS welch_dof
FROM m
"""
@register(
    "stats_welch_ttest",
    oracle=_sql_welch(),
    tags=("stats", "hypothesis-test"),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event types' value
    distributions — the A/B-test primitive. One conditional-aggregation
    pass over the fact (map-side combinable: 6 sums, no join, no
    window); the t statistic and Welch–Satterthwaite dof are computed
    from exact integer moment sums on the micro-unit grid, cast to
    double once, so both engines evaluate the identical IEEE expression
    tree — bit-equal before the 6-dp presentation rounding. At 100 TB
    this is a single shuffle of 6 numbers."""
    cond_a = F.col("event_type") == _WELCH_A
    cond_b = F.col("event_type") == _WELCH_B
    q = F.round(F.col("value") * 1000000.0).cast("decimal(38,0)")
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_WELCH_A, _WELCH_B)
    )
    s = ev.agg(
        F.count(F.when(cond_a, 1)).alias("n1"),
        F.count(F.when(cond_b, 1)).alias("n2"),
        F.sum(F.when(cond_a, q)).cast("double").alias("a1"),
        F.sum(F.when(cond_a, q * q)).cast("double").alias("a2"),
        F.sum(F.when(cond_b, q)).cast("double").alias("b1"),
        F.sum(F.when(cond_b, q * q)).cast("double").alias("b2"),
    )
    m1 = F.col("a1") / F.col("n1") / F.lit(1000000.0)
    m2 = F.col("b1") / F.col("n2") / F.lit(1000000.0)
    v1 = (F.col("a2") - F.col("a1") * F.col("a1") / F.col("n1")) / (
        F.col("n1") - 1
    ) / F.lit(1e12)
    v2 = (F.col("b2") - F.col("b1") * F.col("b1") / F.col("n2")) / (
        F.col("n2") - 1
    ) / F.lit(1e12)
    se1, se2 = v1 / F.col("n1"), v2 / F.col("n2")
    return s.select(
        "n1",
        "n2",
        F.round(m1, 6).alias("mean_a"),
        F.round(m2, 6).alias("mean_b"),
        F.round(v1, 6).alias("var_a"),
        F.round(v2, 6).alias("var_b"),
        F.round((m1 - m2) / F.sqrt(se1 + se2), 6).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)),
            6,
        ).alias("welch_dof"),
    )


_CORR_VARS = ("l_quantity", "l_extendedprice", "l_discount")
def _sql_corr_matrix() -> str:
    qs = {v: f"CAST(round({v} * 1000000.0) AS HUGEINT)" for v in _CORR_VARS}
    sums = ",\n    ".join(
        [f"CAST(count(*) AS DOUBLE) AS n"]
        + [f"CAST(sum({qs[v]}) AS DOUBLE) AS s_{v}" for v in _CORR_VARS]
        + [
            f"CAST(sum({qs[v]} * {qs[w]}) AS DOUBLE) AS p_{v}_{w}"
            for i, v in enumerate(_CORR_VARS)
            for w in _CORR_VARS[i:]
        ]
    )

    def corr(v, w):
        return (
            f"round((n * p_{v}_{w} - s_{v} * s_{w})"
            f" / (sqrt(n * p_{v}_{v} - s_{v} * s_{v})"
            f" * sqrt(n * p_{w}_{w} - s_{w} * s_{w})), 9)"
        )

    rows = "\nUNION ALL\n".join(
        f"SELECT '{v}' AS x_var, '{w}' AS y_var, {corr(v, w)} AS pearson_r FROM s"
        for i, v in enumerate(_CORR_VARS)
        for w in _CORR_VARS[i + 1 :]
    )
    return f"WITH s AS (\n  SELECT {sums}\n  FROM lineitem\n)\n{rows}\nORDER BY x_var, y_var"
@register(
    "stats_corr_matrix",
    oracle=_sql_corr_matrix(),
    tags=("stats", "correlation"),
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures in
    ONE aggregation pass (the textbook sufficient-statistics form:
    n, Σx, Σx², Σxy per pair — 10 aggregates, map-side combinable, no
    shuffle beyond the 1-row combine). Moment sums are exact integers on
    the micro-unit grid accumulated through DECIMAL(38,0) (products up
    to ~1e22 — far past int64, safe in 38 digits / HUGEINT), cast to
    double once; both engines then evaluate the identical IEEE formula,
    so the 9-dp rounding is cosmetic, not load-bearing. The long-format
    output (x_var, y_var, r) is exploded from the single stats row."""
    li = _t(spark, sf_dir, "lineitem")

    def q(v):
        return F.round(F.col(v) * 1000000.0).cast("decimal(38,0)")

    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [F.sum(q(v)).cast("double").alias(f"s_{v}") for v in _CORR_VARS]
    aggs += [
        F.sum(q(v) * q(w)).cast("double").alias(f"p_{v}_{w}")
        for i, v in enumerate(_CORR_VARS)
        for w in _CORR_VARS[i:]
    ]
    s = li.agg(*aggs)

    def corr(v, w):
        n = F.col("n")
        return F.round(
            (n * F.col(f"p_{v}_{w}") - F.col(f"s_{v}") * F.col(f"s_{w}"))
            / (
                F.sqrt(n * F.col(f"p_{v}_{v}") - F.col(f"s_{v}") * F.col(f"s_{v}"))
                * F.sqrt(n * F.col(f"p_{w}_{w}") - F.col(f"s_{w}") * F.col(f"s_{w}"))
            ),
            9,
        )

    pairs = F.array(
        *[
            F.struct(
                F.lit(v).alias("x_var"),
                F.lit(w).alias("y_var"),
                corr(v, w).alias("pearson_r"),
            )
            for i, v in enumerate(_CORR_VARS)
            for w in _CORR_VARS[i + 1 :]
        ]
    )
    return (
        s.select(F.explode(pairs).alias("p"))
        .select("p.x_var", "p.y_var", "p.pearson_r")
        .orderBy("x_var", "y_var")
    )


_KS_A, _KS_B = "click", "view"
def _sql_ks() -> str:
    return f"""
WITH pv AS (
  SELECT value,
         CAST(count(*) FILTER (WHERE event_type = '{_KS_A}') AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE event_type = '{_KS_B}') AS BIGINT) AS c2
  FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')
  GROUP BY value
),
run AS (
  SELECT value,
         sum(c1) OVER (ORDER BY value) AS r1,
         sum(c2) OVER (ORDER BY value) AS r2
  FROM pv
),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM pv)
SELECT n1, n2,
       CAST(max(abs(r1 * n2 - r2 * n1)) AS BIGINT) AS d_num,
       round(CAST(max(abs(r1 * n2 - r2 * n1)) AS DOUBLE) / (n1 * n2), 9) AS ks_d,
       (CAST(max(abs(r1 * n2 - r2 * n1)) AS DOUBLE) / (n1 * n2))
         > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)) AS reject_95
FROM run, tot
GROUP BY n1, n2
"""
@register(
    "stats_ks_test",
    oracle=_sql_ks(),
    tags=("stats", "hypothesis-test", "rank"),
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between two event types' value
    distributions. D = sup|F1 - F2| is computed as an exact integer —
    max|r1*n2 - r2*n1| over the per-distinct-value running counts,
    divided by n1*n2 only at the end — so both engines agree on the
    statistic bit-for-bit; the 95% decision uses the asymptotic critical
    value 1.358*sqrt((n1+n2)/(n1*n2)). The only ordered window runs over
    the per-distinct-value frame (|values| ~ thousands, never row
    count); at 100 TB the ECDF running sums become two-level
    range-partitioned prefix sums over the same bounded frame. The
    1-row totals broadcast is the funnel scalar idiom."""
    pv = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_KS_A, _KS_B))
        .groupBy("value")
        .agg(
            F.count(F.when(F.col("event_type") == _KS_A, 1)).alias("c1"),
            F.count(F.when(F.col("event_type") == _KS_B, 1)).alias("c2"),
        )
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    run = pv.select(
        F.sum("c1").over(w).alias("r1"), F.sum("c2").over(w).alias("r2")
    )
    tot = pv.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    j = run.crossJoin(F.broadcast(tot))
    diff = F.abs(F.col("r1") * F.col("n2") - F.col("r2") * F.col("n1"))
    agg = j.groupBy("n1", "n2").agg(F.max(diff).alias("d_num"))
    ks = F.col("d_num").cast("double") / (F.col("n1") * F.col("n2"))
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double") / (F.col("n1") * F.col("n2"))
    )
    return agg.select(
        "n1",
        "n2",
        "d_num",
        F.round(ks, 9).alias("ks_d"),
        (ks > crit).alias("reject_95"),
    )

def _sql_mwu() -> str:
    return f"""
WITH pv AS (
  SELECT value,
         CAST(count(*) FILTER (WHERE event_type = '{_KS_A}') AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE event_type = '{_KS_B}') AS BIGINT) AS c2,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')
  GROUP BY value
),
rk AS (
  SELECT c1, c2, c,
         coalesce(sum(c) OVER (ORDER BY value
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_excl
  FROM pv
),
s AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c1 * (2 * cum_excl + c + 1)) AS BIGINT) AS two_r1,
         CAST(sum(c * c * c - c) AS BIGINT) AS ties
  FROM rk
)
SELECT n1, n2,
       (CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE)) / 2 AS u1,
       CAST(n1 AS DOUBLE) * n2 - (CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE)) / 2 AS u2,
       round(
         ((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE)) / 2
          - CAST(n1 AS DOUBLE) * n2 / 2)
         / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                * ((n1 + n2 + 1)
                   - CAST(ties AS DOUBLE)
                     / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
         6
       ) AS z_stat
FROM s
"""
@register(
    "stats_mannwhitney_u",
    oracle=_sql_mwu(),
    tags=("stats", "hypothesis-test", "rank"),
)
def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) with midrank tie handling and
    the tie-corrected normal approximation. Average ranks are carried as
    the exact integer 2*rank (2*cum_excl + c + 1), so the rank sum, both
    U statistics and the tie term Σ(c³-c) are exact integers; the z
    statistic is one identical IEEE expression over those integers in
    both engines, rounded at 6 dp for presentation. Shape: one
    per-distinct-value aggregation, one ordered window over that bounded
    frame, one final 1-row aggregate — no scalar broadcast needed."""
    pv = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_KS_A, _KS_B))
        .groupBy("value")
        .agg(
            F.count(F.when(F.col("event_type") == _KS_A, 1)).alias("c1"),
            F.count(F.when(F.col("event_type") == _KS_B, 1)).alias("c2"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    rk = pv.select(
        "c1",
        "c2",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cum_excl"),
    )
    s = rk.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cum_excl") + F.col("c") + 1)).alias("two_r1"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("ties"),
    )
    u1 = (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2
    n1d = F.col("n1").cast("double")
    mu = n1d * F.col("n2") / 2
    var = (
        n1d
        * F.col("n2")
        / 12
        * (
            (F.col("n1") + F.col("n2") + 1)
            - F.col("ties").cast("double")
            / ((F.col("n1") + F.col("n2")).cast("double") * (F.col("n1") + F.col("n2") - 1))
        )
    )
    return s.select(
        "n1",
        "n2",
        u1.alias("u1"),
        (n1d * F.col("n2") - u1).alias("u2"),
        F.round((u1 - mu) / F.sqrt(var), 6).alias("z_stat"),
    )


def _sql_weighted_median() -> str:
    return """
WITH pv AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         CAST(sum(CAST(round(l_quantity * 1000000.0) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
run AS (
  SELECT flag, price, w,
         sum(w) OVER (PARTITION BY flag ORDER BY price) AS cumw,
         sum(w) OVER (PARTITION BY flag) AS totw
  FROM pv
)
SELECT flag, min(price) AS weighted_median_price
FROM run WHERE 2 * cumw >= totw
GROUP BY flag ORDER BY flag
"""
@register(
    "stats_weighted_median",
    oracle=_sql_weighted_median(),
    tags=("stats", "percentile", "weighted"),
)
def stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted price per return flag): the
    smallest value whose cumulative weight reaches half the total.
    Weights are exact micro-unit integers, the pick is a rank selection
    (no interpolation convention to disagree on), and the ordered window
    runs over the per-(flag, distinct price) frame, not raw rows. The
    lower-median convention (2*cumw >= totw, min value) is pinned in
    both engines."""
    pv = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("price"))
        .agg(
            F.sum(F.round(F.col("l_quantity") * 1000000.0).cast("bigint")).alias("w")
        )
    )
    wrun = Window.partitionBy("flag").orderBy("price").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wtot = Window.partitionBy("flag")
    run = pv.select(
        "flag",
        "price",
        F.sum("w").over(wrun).alias("cumw"),
        F.sum("w").over(wtot).alias("totw"),
    )
    return (
        run.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("flag")
        .agg(F.min("price").alias("weighted_median_price"))
        .orderBy("flag")
    )


def _sql_kaplan_meier() -> str:
    return """
WITH u AS (
  SELECT user_id,
         CAST(min(date_trunc('day', ts)) AS DATE) AS first_day,
         CAST(max(date_trunc('day', ts)) AS DATE) AS last_day
  FROM events GROUP BY user_id
),
mx AS (SELECT max(last_day) AS max_day FROM u),
d AS (
  SELECT date_diff('day', first_day, last_day) AS t,
         CASE WHEN last_day < max_day THEN 1 ELSE 0 END AS ev
  FROM u, mx
),
pt AS (
  SELECT t,
         CAST(sum(ev) AS BIGINT) AS d_events,
         CAST(count(*) - sum(ev) AS BIGINT) AS c_censored,
         CAST(count(*) AS BIGINT) AS tot
  FROM d GROUP BY t
),
rk AS (
  SELECT t, d_events, c_censored,
         CAST(sum(tot) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
  FROM pt
),
et AS (SELECT * FROM rk WHERE d_events > 0),
cm AS (
  SELECT t, d_events, c_censored, n_risk,
         sum(CASE WHEN d_events < n_risk
                  THEN CAST(round(ln(1.0 - CAST(d_events AS DOUBLE) / n_risk) * 1e9)
                       AS BIGINT)
                  ELSE 0 END) OVER (ORDER BY t) AS cum_lq,
         max(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t)
           AS zerod
  FROM et
)
SELECT CAST(t AS INT) AS t_days, n_risk, d_events, c_censored,
       CASE WHEN zerod = 1 THEN 0.0 ELSE round(exp(cum_lq / 1e9), 9) END
         AS survival
FROM cm ORDER BY t_days
"""
@register(
    "events_kaplan_meier",
    oracle=_sql_kaplan_meier(),
    tags=("survival", "retention", "stats"),
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over user lifetimes: duration =
    days between a user's first and last event; users whose last day is
    the corpus max day are right-censored. S(t) = Π(1 - d_u/n_u) over
    event times, computed as an exact-integer prefix sum of
    nano-quantized log-hazard terms (exp at the very end) — the
    product-chain discipline shared with PageRank/EWMA, so both engines
    walk the identical trajectory. Risk sets are a suffix sum over the
    per-duration frame (cardinality = distinct durations, ~days — the
    ordered windows never touch raw rows). The d == n_risk edge (last
    cohort all churning) pins survival to exactly 0 instead of ln(0).
    The corpus max-day is the 1-row scalar broadcast idiom."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.to_date(F.min(F.date_trunc("day", "ts"))).alias("first_day"),
        F.to_date(F.max(F.date_trunc("day", "ts"))).alias("last_day"),
    )
    mx = u.agg(F.max("last_day").alias("max_day"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.datediff("last_day", "first_day").alias("t"),
        F.when(F.col("last_day") < F.col("max_day"), 1).otherwise(0).alias("ev"),
    )
    pt = d.groupBy("t").agg(
        F.sum("ev").alias("d_events"),
        (F.count(F.lit(1)) - F.sum("ev")).alias("c_censored"),
        F.count(F.lit(1)).alias("tot"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    rk = pt.select(
        "t", "d_events", "c_censored", F.sum("tot").over(wdesc).alias("n_risk")
    )
    et = rk.filter(F.col("d_events") > 0)
    wasc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    lq = F.when(
        F.col("d_events") < F.col("n_risk"),
        F.round(
            F.log(F.lit(1.0) - F.col("d_events").cast("double") / F.col("n_risk"))
            * 1e9
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    cm = et.select(
        "t",
        "d_events",
        "c_censored",
        "n_risk",
        F.sum(lq).over(wasc).alias("cum_lq"),
        F.max(
            F.when(F.col("d_events") >= F.col("n_risk"), 1).otherwise(0)
        ).over(wasc).alias("zerod"),
    )
    return cm.select(
        F.col("t").cast("int").alias("t_days"),
        "n_risk",
        "d_events",
        "c_censored",
        F.when(F.col("zerod") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_lq") / 1e9), 9))
        .alias("survival"),
    ).orderBy("t_days")


_BOOT_B = 64
_BOOT_SEED = 100
def _sql_bootstrap() -> str:
    # gate = (h(id) + h(b)) mod RESOLUTION: one md5 per EVENT plus one
    # per RESAMPLE instead of one per (event × resample) — B× fewer
    # hashes on the Spark side (11s -> ~2s at sf0.1), same determinism
    # and engine-portability (integer addition of two 60-bit hashes
    # fits int64). The mix is a keyed rotation of a uniform hash, so
    # per-resample membership stays a fair coin per id.
    hid = sql_hash60("event_id::VARCHAR", seed=_BOOT_SEED)
    ob = sql_hash60("b::VARCHAR")
    return f"""
WITH rs AS (
  SELECT b, {SQL_DAVG.format(x='value')} AS mean_b
  FROM events, unnest(generate_series(0, {_BOOT_B - 1})) AS u(b)
  WHERE (({hid} + {ob}) % {RESOLUTION}) < {RESOLUTION // 2}
  GROUP BY b
)
SELECT CAST(count(*) AS BIGINT) AS n_resamples,
       round({SQL_DAVG.format(x='mean_b')}, 6) AS mean_of_means,
       round(quantile_cont(mean_b, 0.05), 6) AS ci_lo,
       round(quantile_cont(mean_b, 0.95), 6) AS ci_hi
FROM rs
"""
@register(
    "stats_bootstrap_ci",
    oracle=_sql_bootstrap(),
    tags=("stats", "bootstrap", "sampling"),
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic subsample bootstrap (m-out-of-n, m = n/2) for the
    mean event value: 64 half-sample resamples, membership decided by a
    seeded hash gate (h(event_id) + h(resample#)) mod RESOLUTION —
    RNG-free, so every run and every engine draws the identical
    resamples (the property that makes a distributed bootstrap
    auditable), and hash-frugal: one md5 per event plus one per
    resample, never one per pair. The 90% CI is the
    [p05, p95] band of the 64 resample means. Plan: one explode(×B) →
    map-only gate → 64-group aggregate; at 100 TB the ×B blow-up is
    avoided by per-partition partial means per b (same shuffle bound:
    B × partitions rows), which this plan's map-side combine already
    approximates."""
    ev = _t(spark, sf_dir, "events").select(
        "value", hash60(F.col("event_id").cast("string"), seed=_BOOT_SEED).alias("h")
    )
    # per-resample offsets: the B hash60("0".."63") values are constants,
    # so compute them ONCE in Python (bit-identical md5 arithmetic to the
    # old spark.range frame — pinned by the unchanged oracle) and inline
    # them as int64 literals. The gate then evaluates inside the
    # explode's filter, so the ×B row blow-up never passes through a
    # join: explode ships only the ~B/2 passing resample ids per event
    # (half the rows of the old explode-then-broadcast-join, one
    # operator fewer, zero per-row md5 for the offsets), straight into
    # the map-side-combined agg.
    import hashlib

    obs = F.array(
        *[
            F.lit(int(hashlib.md5(str(b).encode()).hexdigest()[:15], 16))
            for b in range(_BOOT_B)
        ]
    )
    passing = F.filter(
        F.sequence(F.lit(0), F.lit(_BOOT_B - 1)),
        lambda b: F.pmod(F.col("h") + F.element_at(obs, b + F.lit(1)), F.lit(RESOLUTION))
        < RESOLUTION // 2,
    )
    rs = (
        ev.select("value", F.explode(passing).alias("b"))
        .groupBy("b")
        .agg(davg("value").alias("mean_b"))
    )
    return rs.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.round(davg("mean_b"), 6).alias("mean_of_means"),
        F.round(F.percentile("mean_b", F.lit(0.05)), 6).alias("ci_lo"),
        F.round(F.percentile("mean_b", F.lit(0.95)), 6).alias("ci_hi"),
    )


def _sql_boxplot() -> str:
    return """
WITH st AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         min(value) AS vmin,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.5) AS median,
         quantile_cont(value, 0.75) AS q3,
         max(value) AS vmax
  FROM events GROUP BY event_type
),
f AS (
  SELECT *, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM st
)
SELECT f.event_type, f.n,
       round(f.vmin, 6) AS vmin, round(f.q1, 6) AS q1,
       round(f.median, 6) AS median, round(f.q3, 6) AS q3,
       round(f.vmax, 6) AS vmax,
       CAST(count(*) FILTER (WHERE e.value < f.lo) AS BIGINT) AS n_low_outliers,
       CAST(count(*) FILTER (WHERE e.value > f.hi) AS BIGINT) AS n_high_outliers
FROM events e JOIN f ON e.event_type = f.event_type
GROUP BY f.event_type, f.n, f.vmin, f.q1, f.median, f.q3, f.vmax
ORDER BY f.event_type
"""
@register(
    "stats_boxplot_by_event_type",
    oracle=_sql_boxplot(),
    tags=("stats", "boxplot", "percentile"),
)
def stats_boxplot_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot five-number summary per group with Tukey-fence outlier
    counts: exact percentiles (F.percentile ≡ quantile_cont, bit-equal —
    the pinned convention from percentiles_by_event_type), IQR fences
    computed on the unrounded quartiles, and a second pass that joins
    the broadcast per-group stats back to count fence violations. Two
    scans of the fact, one tiny broadcast — the same shape at any scale
    (group stats are |groups| rows)."""
    ev = _t(spark, sf_dir, "events")
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("vmin"),
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.5)).alias("median"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
        F.max("value").alias("vmax"),
    )
    f = st.withColumn("lo", F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).withColumn(
        "hi", F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    )
    return (
        ev.join(F.broadcast(f), "event_type")
        .groupBy("event_type", "n", "vmin", "q1", "median", "q3", "vmax")
        .agg(
            F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_low_outliers"),
            F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_high_outliers"),
        )
        .select(
            "event_type",
            "n",
            F.round("vmin", 6).alias("vmin"),
            F.round("q1", 6).alias("q1"),
            F.round("median", 6).alias("median"),
            F.round("q3", 6).alias("q3"),
            F.round("vmax", 6).alias("vmax"),
            "n_low_outliers",
            "n_high_outliers",
        )
        .orderBy("event_type")
    )


_NB_LL = "round(ln((COALESCE(c, 0) + 1) / CAST(t_total + vocab AS DOUBLE)), 9)"
def _sql_naive_bayes() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH train AS (
  SELECT lang, unnest({toks}) AS tok FROM documents WHERE doc_id % 5 <> 0
),
counts AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM train GROUP BY lang, tok
),
totals AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS t_total FROM counts GROUP BY lang
),
vsz AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM train),
lang_docs AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS d
  FROM documents WHERE doc_id % 5 <> 0 GROUP BY lang
),
priors AS (
  SELECT lang,
         round(ln(d / CAST(sum(d) OVER () AS DOUBLE)), 9) AS logprior
  FROM lang_docs
),
test_tok AS (
  SELECT doc_id, lang AS actual, unnest({toks}) AS tok
  FROM documents WHERE doc_id % 5 = 0
),
scored_tok AS (
  SELECT t.doc_id, t.actual, p.lang, p.logprior,
         {_NB_LL} AS ll
  FROM test_tok t
  CROSS JOIN priors p
  CROSS JOIN vsz
  JOIN totals ON totals.lang = p.lang
  LEFT JOIN counts ON counts.lang = p.lang AND counts.tok = t.tok
),
scores AS (
  SELECT doc_id, actual, lang,
         min(logprior)
           + (CAST(SUM(CAST(round(ll * 1000000.0) AS HUGEINT)) AS DOUBLE) / 1000000.0) AS score
  FROM scored_tok GROUP BY doc_id, actual, lang
),
ranked AS (
  SELECT doc_id, actual, lang AS predicted, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM scores
)
SELECT doc_id, actual, predicted, round(score, 6) AS score,
       (actual = predicted) AS correct
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""
@register(
    "classify_naive_bayes_langid",
    oracle=_sql_naive_bayes(),
    tags=("classify", "text", "ml"),
)
def classify_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and evaluated
    in one plan. Training is pure aggregation (token counts per lang,
    lang totals, vocabulary size); scoring explodes each held-out doc's
    tokens against the broadcast model grid and argmaxes per doc. Every
    log-likelihood is rounded at 9 dp before the micro-quantized sum, so
    scores are bit-identical across engines; argmax tie-breaks on
    (score desc, lang asc)."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)

    tr_tok = train.select("lang", F.explode(tx.tokens("text")).alias("tok"))
    counts = tr_tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("lang").agg(F.sum("c").alias("t_total"))
    vsz = tr_tok.agg(F.countDistinct("tok").alias("vocab"))
    # priors stay a lazy 5-row frame: per-lang doc counts with the grand
    # total from an unbounded window over those 5 rows (no driver action)
    priors = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("d"))
        .select(
            "lang",
            F.round(
                F.log(
                    F.col("d") / F.sum("d").over(Window.partitionBy(F.lit(1))).cast("double")
                ),
                9,
            ).alias("logprior"),
        )
    )

    test_tok = test.select(
        "doc_id", F.col("lang").alias("actual"), F.explode(tx.tokens("text")).alias("tok")
    )
    # model grid rides in as broadcast dims: 5 langs x (totals, priors),
    # vocab as a 1-row scalar, counts as the only sizable dim (vocab x lang)
    cdim = counts.select(
        F.col("lang").alias("c_lang"), F.col("tok").alias("c_tok"), "c"
    )
    scored_tok = (
        test_tok.crossJoin(F.broadcast(priors))
        .crossJoin(F.broadcast(vsz))
        .join(F.broadcast(totals), "lang")
        .join(
            F.broadcast(cdim),
            (F.col("c_lang") == F.col("lang")) & (F.col("c_tok") == F.col("tok")),
            "left",
        )
        .select(
            "doc_id",
            "actual",
            "lang",
            "logprior",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1)
                    / (F.col("t_total") + F.col("vocab")).cast("double")
                ),
                9,
            ).alias("ll"),
        )
    )
    scores = scored_tok.groupBy("doc_id", "actual", "lang").agg(
        (F.min("logprior") + dsum(F.col("ll"))).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "actual",
            F.col("lang").alias("predicted"),
            F.round("score", 6).alias("score"),
            (F.col("actual") == F.col("lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


_SQL_BENFORD = """
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS cnt
  FROM cents GROUP BY 1
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM digits),
scored AS (
  SELECT digit, cnt,
         round(cnt / CAST(n AS DOUBLE), 9) AS obs_share,
         round(log10(1.0 + 1.0 / digit), 9) AS benford_share,
         round(
           (cnt - round(log10(1.0 + 1.0 / digit), 9) * n)
             * (cnt - round(log10(1.0 + 1.0 / digit), 9) * n)
             / (round(log10(1.0 + 1.0 / digit), 9) * n),
           9) AS chi2_term
  FROM digits CROSS JOIN tot
)
SELECT digit, cnt, obs_share, benford_share, chi2_term,
       (CAST(SUM(CAST(round(chi2_term * 1000000.0) AS HUGEINT)) OVER () AS DOUBLE)
          / 1000000.0) AS chi2_total
FROM scored ORDER BY digit
"""
@register(
    "stats_benford_digits",
    oracle=_SQL_BENFORD,
    tags=("stats", "dq", "benford"),
)
def stats_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over order totals: the
    classic anomaly screen for invented numbers. The digit comes from
    integer cents (string-of-int is engine-portable; no float formatting),
    the expected share is log10(1 + 1/d), and the chi-square statistic
    sums 9 micro-quantized per-digit terms — an unbounded window over a
    9-row frame, constant state at any scale. One scan, one 9-group agg."""
    cents = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    )
    digits = cents.groupBy(
        F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("digit")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = digits.agg(F.sum("cnt").alias("n"))
    exp_share = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 9)
    dev = F.col("cnt") - exp_share * F.col("n")
    scored = digits.crossJoin(F.broadcast(tot)).select(
        "digit",
        "cnt",
        F.round(F.col("cnt") / F.col("n").cast("double"), 9).alias("obs_share"),
        exp_share.alias("benford_share"),
        F.round(dev * dev / (exp_share * F.col("n")), 9).alias("chi2_term"),
    )
    w = Window.partitionBy(F.lit(1))
    return scored.withColumn(
        "chi2_total",
        F.sum(F.round(F.col("chi2_term") * 1000000.0).cast("long")).over(w).cast("double")
        / 1000000.0,
    ).orderBy("digit")


_SQL_QNORM = """
WITH ranked AS (
  SELECT event_id, event_type, value,
         CAST(round(value * 1000000.0) AS BIGINT) AS micro,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n_g
  FROM events
),
pooled AS (
  SELECT list(micro ORDER BY micro, event_id) AS arr,
         CAST(count(*) AS BIGINT) AS n FROM ranked
),
pos AS (
  SELECT event_id, event_type, value, n_g,
         (r - 1) * (n - 1) // (n_g - 1) AS lo,
         (r - 1) * (n - 1) % (n_g - 1) AS rem,
         arr, n
  FROM ranked CROSS JOIN pooled
  WHERE n_g >= 2
)
SELECT event_id, event_type, value,
       round(
         (CAST(arr[lo + 1] AS DOUBLE)
            + CASE WHEN rem = 0 THEN 0.0
                   ELSE CAST(arr[lo + 2] - arr[lo + 1] AS DOUBLE) * rem / (n_g - 1)
              END) / 1000000.0,
         9) AS qnorm
FROM pos ORDER BY event_id
"""
@register(
    "stats_quantile_normalize",
    oracle=_SQL_QNORM,
    tags=("stats", "normalize", "ml"),
)
def stats_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: every event_type's value distribution is
    mapped onto the POOLED distribution — rank r of n_g in its group maps
    to the interpolated order statistic at the same quantile of the whole
    table (the microarray/feature-alignment standard). Arithmetic is
    integer through the index math ((r-1)(N-1) div/mod (n_g-1)) and
    micro-quantized through the values, so both engines interpolate the
    same two integers. The pooled sorted vector is a single-row broadcast
    here; the scale path is the round-4 twin
    ``stats_quantile_normalize_grid`` (101 exact pooled order
    statistics broadcast, mid-rank ties, no data-sized window)."""
    ev = _t(spark, sf_dir, "events")
    micro = F.round(F.col("value") * 1000000.0).cast("long")
    wg = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_id",
        "event_type",
        "value",
        micro.alias("micro"),
        F.row_number().over(wg).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n_g"),
    )
    pooled = ranked.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("micro", "event_id"))), lambda s: s["micro"]
        ).alias("arr"),
        F.count(F.lit(1)).alias("n"),
    )
    lo = ((F.col("r") - 1) * (F.col("n") - 1) / (F.col("n_g") - 1)).cast("long")
    rem = ((F.col("r") - 1) * (F.col("n") - 1)) % (F.col("n_g") - 1)
    base = F.element_at("arr", (lo + 1).cast("int")).cast("double")
    step = (
        F.element_at("arr", (lo + 2).cast("int")) - F.element_at("arr", (lo + 1).cast("int"))
    ).cast("double")
    return (
        ranked.crossJoin(F.broadcast(pooled))
        .filter(F.col("n_g") >= 2)
        .withColumn("lo", lo)
        .withColumn("rem", rem)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(
                (
                    base
                    + F.when(F.col("rem") == 0, F.lit(0.0)).otherwise(
                        step * F.col("rem") / (F.col("n_g") - 1)
                    )
                )
                / 1000000.0,
                9,
            ).alias("qnorm"),
        )
        # No global order on a corpus-sized output: repartition(1) would
        # funnel every event row through ONE task — a serial stage and an
        # OOM risk at 100 TB — and a range-sort orderBy samples and
        # reshuffles the full output. The order is cosmetic (driver
        # compare sorts rows), so emit partition-locally sorted rows with
        # NO exchange at all.
        .sortWithinPartitions("event_id")
    )


_SQL_PAV = """
WITH hourly AS (
  SELECT CAST(extract(hour FROM ts) AS BIGINT) AS h,
         CAST(SUM(CAST(round(value * 1000000.0) AS HUGEINT)) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
pre AS (
  SELECT h, s, n,
         CAST(sum(s) OVER (ORDER BY h) AS BIGINT) AS cs,
         CAST(sum(n) OVER (ORDER BY h) AS BIGINT) AS cn
  FROM hourly
),
triples AS (
  SELECT i.h AS h, j.h AS j, k.h AS k,
         round(CAST(k.cs - (j.cs - j.s) AS DOUBLE)
                 / (k.cn - (j.cn - j.n)) / 1000000.0, 9) AS ravg
  FROM pre i JOIN pre j ON j.h <= i.h JOIN pre k ON k.h >= i.h
),
inner_min AS (
  SELECT h, j, min(ravg) AS m FROM triples GROUP BY h, j
)
SELECT p.h,
       p.n,
       round(CAST(p.s AS DOUBLE) / p.n / 1000000.0, 9) AS y_mean,
       mx.iso
FROM pre p
JOIN (SELECT h, max(m) AS iso FROM inner_min GROUP BY h) mx ON mx.h = p.h
ORDER BY p.h
"""
@register(
    "iso_regression_pav",
    oracle=_SQL_PAV,
    tags=("stats", "regression", "ml"),
)
def iso_regression_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of mean event value against
    hour-of-day, via the minimax closed form
    iso_h = max_{j<=h} min_{k>=h} wavg(y_j..y_k) — the calibration
    primitive (monotone score -> probability maps). The grid is bounded
    (24 hours), so the cubic enumeration is a broadcast self-join of a
    24-row aggregate — the 10k raw events only ever see one groupBy.
    Every range average is a ratio of exact integers (micro-quantized
    sums over prefix differences), rounded at 9 dp; the result is the
    same pool-adjacent-violators fit, engine-identical. At scale the
    grid stays fixed while the scan grows — the O(G^3) driver-free tail
    is constant."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.hour("ts").cast("bigint").alias("h")).agg(
        F.sum(F.round(F.col("value") * 1000000.0).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    wh = Window.orderBy("h")
    pre = hourly.select(
        "h", "s", "n", F.sum("s").over(wh).alias("cs"), F.sum("n").over(wh).alias("cn")
    )
    i = pre.select(F.col("h").alias("h"))
    j = pre.select(
        F.col("h").alias("j"), (F.col("cs") - F.col("s")).alias("pcs"),
        (F.col("cn") - F.col("n")).alias("pcn"),
    )
    k = pre.select(F.col("h").alias("k"), F.col("cs").alias("kcs"), F.col("cn").alias("kcn"))
    ravg = F.round(
        (F.col("kcs") - F.col("pcs")).cast("double")
        / (F.col("kcn") - F.col("pcn"))
        / 1000000.0,
        9,
    )
    triples = (
        i.join(F.broadcast(j), F.col("j") <= F.col("h"))
        .join(F.broadcast(k), F.col("k") >= F.col("h"))
        .select("h", "j", ravg.alias("ravg"))
    )
    inner_min = triples.groupBy("h", "j").agg(F.min("ravg").alias("m"))
    iso = inner_min.groupBy("h").agg(F.max("m").alias("iso"))
    return (
        pre.join(F.broadcast(iso), "h")
        .select(
            "h",
            "n",
            F.round(F.col("s").cast("double") / F.col("n") / 1000000.0, 9).alias("y_mean"),
            "iso",
        )
        .orderBy("h")
    )


_LR_STEPS = 8
_LR_LR = 1.0
_LR_STOP = "('the', 'a', 'of', 'and', 'is')"
def _sql_logreg() -> str:
    toks = tx.sql_tokens("text")
    feats = f"""
feats AS (
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         1.0 AS x0,
         round(len(list_filter({toks}, t -> t IN {_LR_STOP}))
                 / CAST(len({toks}) AS DOUBLE), 9) AS x1,
         round(len(array_to_string({toks}, '')) / CAST(len({toks}) AS DOUBLE), 9) AS x2,
         round(len(list_distinct({toks})) / CAST(len({toks}) AS DOUBLE), 9) AS x3
  FROM documents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feats),
w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    q = "(CAST(SUM(CAST(round(({t}) * 1000000.0) AS HUGEINT)) AS DOUBLE) / 1000000.0)"
    steps = []
    for s in range(1, _LR_STEPS + 1):
        p = (
            "round(1.0 / (1.0 + exp(-round(b + w1 * x1 + w2 * x2 + w3 * x3, 9))), 9)"
        )
        steps.append(f"""
g{s} AS (
  SELECT {q.format(t=f"({p} - y)")} AS gb,
         {q.format(t=f"({p} - y) * x1")} AS g1,
         {q.format(t=f"({p} - y) * x2")} AS g2,
         {q.format(t=f"({p} - y) * x3")} AS g3
  FROM feats CROSS JOIN w{s-1}
),
w{s} AS (
  SELECT round(b - {_LR_LR} * gb / n, 9) AS b,
         round(w1 - {_LR_LR} * g1 / n, 9) AS w1,
         round(w2 - {_LR_LR} * g2 / n, 9) AS w2,
         round(w3 - {_LR_LR} * g3 / n, 9) AS w3
  FROM g{s} CROSS JOIN w{s-1} CROSS JOIN n
)""")
    p_fin = "round(1.0 / (1.0 + exp(-round(b + w1 * x1 + w2 * x2 + w3 * x3, 9))), 9)"
    return f"""
WITH {feats},
{",".join(steps)}
SELECT b, w1, w2, w3,
       CAST(sum(CASE WHEN ({p_fin} >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(min(n.n) AS BIGINT) AS n_rows,
       round({q.format(t=f"-(y * round(ln({p_fin}), 9) + (1.0 - y) * round(ln(1.0 - {p_fin}), 9))")}
               / min(n.n), 9) AS log_loss
FROM feats CROSS JOIN w{_LR_STEPS} CROSS JOIN n
GROUP BY b, w1, w2, w3
"""
@register(
    "ml_logreg_gd",
    oracle=_sql_logreg(),
    tags=("ml", "classify", "iterative"),
)
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained by 8 deterministic full-batch gradient
    steps (lr=1, zero init) on three row-local text features, predicting
    lang='en'. Per step: one micro-quantized aggregate over the persisted
    feature frame computes the 4 gradients; the weight vector is a 1-row
    broadcast. The sigmoid runs on a 9 dp-quantized logit and is
    re-rounded at 9 dp, so the whole trajectory is bit-identical across
    engines (the exp/ln libm parity convention). Output: final weights,
    training accuracy numerator, and mean log-loss — one row."""
    docs = _t(spark, sf_dir, "documents")
    ts = tx.tokens("text")
    stop = F.filter(ts, lambda t: t.isin("the", "a", "of", "and", "is"))
    nf = F.size(ts).cast("double")
    feats = docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.round(F.size(stop) / nf, 9).alias("x1"),
        F.round(F.length(F.array_join(ts, "")) / nf, 9).alias("x2"),
        F.round(F.size(F.array_distinct(ts)) / nf, 9).alias("x3"),
    ).localCheckpoint(eager=True)
    n = feats.count()  # materialized by the checkpoint; exact scalar

    w = {"b": 0.0, "w1": 0.0, "w2": 0.0, "w3": 0.0}
    for _ in range(_LR_STEPS):
        z = F.round(
            F.lit(w["b"])
            + F.lit(w["w1"]) * F.col("x1")
            + F.lit(w["w2"]) * F.col("x2")
            + F.lit(w["w3"]) * F.col("x3"),
            9,
        )
        p = F.round(1.0 / (1.0 + F.exp(-z)), 9)
        g = feats.agg(
            dsum(p - F.col("y")).alias("gb"),
            dsum((p - F.col("y")) * F.col("x1")).alias("g1"),
            dsum((p - F.col("y")) * F.col("x2")).alias("g2"),
            dsum((p - F.col("y")) * F.col("x3")).alias("g3"),
        ).collect()[0]
        # O(#features) driver state per iteration — the MLlib shape; the
        # 9 dp re-round matches the oracle's CTE chain exactly
        w = {
            "b": round(w["b"] - _LR_LR * g["gb"] / n, 9),
            "w1": round(w["w1"] - _LR_LR * g["g1"] / n, 9),
            "w2": round(w["w2"] - _LR_LR * g["g2"] / n, 9),
            "w3": round(w["w3"] - _LR_LR * g["g3"] / n, 9),
        }
    z = F.round(
        F.lit(w["b"])
        + F.lit(w["w1"]) * F.col("x1")
        + F.lit(w["w2"]) * F.col("x2")
        + F.lit(w["w3"]) * F.col("x3"),
        9,
    )
    p = F.round(1.0 / (1.0 + F.exp(-z)), 9)
    nll = -(
        F.col("y") * F.round(F.log(p), 9)
        + (1.0 - F.col("y")) * F.round(F.log(1.0 - p), 9)
    )
    return feats.agg(
        F.lit(w["b"]).alias("b"),
        F.lit(w["w1"]).alias("w1"),
        F.lit(w["w2"]).alias("w2"),
        F.lit(w["w3"]).alias("w3"),
        F.sum(
            F.when((p >= 0.5) == (F.col("y") == 1.0), 1).otherwise(0)
        ).alias("n_correct"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(dsum(nll) / F.lit(float(n)), 9).alias("log_loss"),
    )

_CAL_BINS = 10
def _sql_calibration() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         round(len(list_filter({toks}, t -> t IN {_LR_STOP}))
                 / CAST(len({toks}) AS DOUBLE), 9) AS conf
  FROM documents
),
binned AS (
  SELECT y, conf, ntile({_CAL_BINS}) OVER (ORDER BY conf, doc_id) AS bin
  FROM scored
),
per_bin AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS n,
         round((CAST(SUM(CAST(round(conf * 1000000.0) AS HUGEINT)) AS DOUBLE)
                  / count(*)) / 1000000.0, 9) AS mean_conf,
         round(sum(y) / CAST(count(*) AS DOUBLE), 9) AS frac_pos
  FROM binned GROUP BY bin
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM per_bin)
SELECT bin, n, mean_conf, frac_pos,
       round(abs(mean_conf - frac_pos), 9) AS gap,
       (CAST(SUM(CAST(round(n * round(abs(mean_conf - frac_pos), 9) * 1000000.0)
                      AS HUGEINT)) OVER () AS DOUBLE) / 1000000.0) / min(nt) OVER () AS ece
FROM per_bin CROSS JOIN tot ORDER BY bin
"""
@register(
    "eval_calibration_bins",
    oracle=_sql_calibration(),
    tags=("eval", "stats", "ml"),
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for a classifier
    score (stopword ratio as confidence for lang='en'): equal-count bins
    over the (score, doc_id) total order, per-bin mean confidence vs
    empirical positive rate, ECE = Σ n_b/N · |acc_b − conf_b|. The
    companion to eval_roc_auc: ROC ranks, calibration checks the
    probabilities themselves. One window + one small agg; the ECE is a
    constant-state window over {_CAL_BINS} rows. Scale path: the
    round-4 twin ``eval_calibration_bins_cuts`` (exact conf-domain
    cuts, no un-partitioned data window); the demo_guard refuses inputs
    past the cap with a pointer to the twin."""
    docs = demo_guard(
        _t(spark, sf_dir, "documents"),
        "eval_calibration_bins",
        "eval_calibration_bins_cuts",
    )
    ts = tx.tokens("text")
    stop = F.filter(ts, lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.round(F.size(stop) / F.size(ts).cast("double"), 9).alias("conf"),
    )
    binned = scored.withColumn(
        "bin", F.ntile(_CAL_BINS).over(Window.orderBy("conf", "doc_id"))
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            (
                F.sum(F.round(F.col("conf") * 1000000.0).cast("long")).cast("double")
                / F.count(F.lit(1))
            )
            / 1000000.0,
            9,
        ).alias("mean_conf"),
        F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 9).alias("frac_pos"),
    )
    wall = Window.partitionBy(F.lit(1))
    gap = F.round(F.abs(F.col("mean_conf") - F.col("frac_pos")), 9)
    return (
        per_bin.withColumn("gap", gap)
        .withColumn(
            "ece",
            (
                F.sum(
                    F.round(F.col("n") * F.col("gap") * 1000000.0).cast("long")
                ).over(wall).cast("double")
                / 1000000.0
            )
            / F.sum("n").over(wall),
        )
        .orderBy("bin")
    )


_KMV_K = 64
_TWO60 = float(1 << 60)
def _sql_kmv() -> str:
    h = sql_hash60("CAST(user_id AS VARCHAR)")
    return f"""
WITH hashes AS (
  SELECT DISTINCT event_type, {h} AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
  FROM hashes
),
kmv AS (SELECT event_type, h, r FROM ranked WHERE r <= {_KMV_K}),
theta AS (
  SELECT event_type, max(h) AS kth, CAST(count(*) AS BIGINT) AS k_eff
  FROM kmv GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         least(a.kth, b.kth) AS theta_star,
         a.kth AS kth_a, b.kth AS kth_b, a.k_eff AS ka, b.k_eff AS kb
  FROM theta a JOIN theta b ON a.event_type < b.event_type
),
common AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM kmv x
  JOIN kmv y ON x.h = y.h AND x.event_type < y.event_type
  JOIN pairs p ON p.type_a = x.event_type AND p.type_b = y.event_type
              AND x.h < p.theta_star
  GROUP BY 1, 2
),
exact AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS exact_inter
  FROM hashes x JOIN hashes y ON x.h = y.h AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       round((p.ka - 1) * {_TWO60} / p.kth_a, 9) AS est_a,
       round((p.kb - 1) * {_TWO60} / p.kth_b, 9) AS est_b,
       round(COALESCE(c.n_common, 0) * {_TWO60} / p.theta_star, 9) AS est_inter,
       COALESCE(e.exact_inter, 0) AS exact_inter
FROM pairs p
LEFT JOIN common c ON c.type_a = p.type_a AND c.type_b = p.type_b
LEFT JOIN exact e ON e.type_a = p.type_a AND e.type_b = p.type_b
ORDER BY p.type_a, p.type_b
"""
@register(
    "sketch_kmv_intersection",
    oracle=_sql_kmv(),
    tags=("sketch", "approx", "distinct"),
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta) sketches over per-event-type user
    sets: distinct-count estimates ((k-1)/θ with θ = kth-smallest hash /
    2^60) and pairwise INTERSECTION estimates (common sketch hashes below
    θ* = min(θ_a, θ_b), scaled by 1/θ*) — the set-operation capability
    HLL lacks. Sketches are k rows/group of a deterministic md5-derived
    hash, so the oracle replays them exactly; the exact intersection
    rides along as the audit column (the expensive side at scale — the
    sketch is the 100 TB path: constant bytes/group, mergeable,
    shuffle-free compare). The audited accuracy stays within the
    published ~1/sqrt(k) envelope (pinned in the unit test)."""
    ev = _t(spark, sf_dir, "events")
    # one scan + one distinct for the WHOLE entry: the (type, hash) frame
    # is tiny (<= types x users) and feeds the sketch build, both exact
    # audit legs, and the per-type counts — checkpoint it so the events
    # scan and the distinct exchange run exactly once (bench: the
    # un-checkpointed form re-ran them per audit leg)
    hashes = (
        ev.select("event_type", hash60(F.col("user_id").cast("string")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    wr = Window.partitionBy("event_type").orderBy("h")
    kmv = (
        hashes.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= _KMV_K)
        .select("event_type", "h")
        .localCheckpoint(eager=True)
    )
    theta = kmv.groupBy("event_type").agg(
        F.max("h").alias("kth"), F.count(F.lit(1)).alias("k_eff")
    )
    ta = theta.select(
        F.col("event_type").alias("type_a"), F.col("kth").alias("kth_a"), F.col("k_eff").alias("ka")
    )
    tb = theta.select(
        F.col("event_type").alias("type_b"), F.col("kth").alias("kth_b"), F.col("k_eff").alias("kb")
    )
    pairs = ta.join(tb, F.col("type_a") < F.col("type_b")).withColumn(
        "theta_star", F.least("kth_a", "kth_b")
    )
    ka = kmv.select(F.col("event_type").alias("type_a"), "h")
    kb = kmv.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb"))
    common = (
        ka.join(kb, (F.col("h") == F.col("hb")) & (F.col("type_a") < F.col("type_b")))
        .join(F.broadcast(pairs.select("type_a", "type_b", "theta_star")), ["type_a", "type_b"])
        .filter(F.col("h") < F.col("theta_star"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ha = hashes.select(F.col("event_type").alias("type_a"), "h")
    hb = hashes.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb"))
    exact = (
        ha.join(hb, (F.col("h") == F.col("hb")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return (
        pairs.join(F.broadcast(common), ["type_a", "type_b"], "left")
        .join(F.broadcast(exact), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.round((F.col("ka") - 1) * _TWO60 / F.col("kth_a"), 9).alias("est_a"),
            F.round((F.col("kb") - 1) * _TWO60 / F.col("kth_b"), 9).alias("est_b"),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0)) * _TWO60 / F.col("theta_star"), 9
            ).alias("est_inter"),
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
        )
        .orderBy("type_a", "type_b")
    )


def _sql_kmv_set_ops() -> str:
    h = sql_hash60("CAST(user_id AS VARCHAR)")
    return f"""
WITH hashes AS (
  SELECT DISTINCT event_type, {h} AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
  FROM hashes
),
kmv AS (SELECT event_type, h FROM ranked WHERE r <= {_KMV_K}),
types AS (SELECT DISTINCT event_type FROM kmv),
pr AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
u AS (
  SELECT p.type_a, p.type_b, k.h, 1 AS ia, 0 AS ib
  FROM pr p JOIN kmv k ON k.event_type = p.type_a
  UNION ALL
  SELECT p.type_a, p.type_b, k.h, 0 AS ia, 1 AS ib
  FROM pr p JOIN kmv k ON k.event_type = p.type_b
),
m AS (
  SELECT type_a, type_b, h, max(ia) AS in_a, max(ib) AS in_b
  FROM u GROUP BY 1, 2, 3
),
mr AS (
  SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS r
  FROM m
),
sk AS (
  SELECT type_a, type_b,
         CAST(count(*) AS BIGINT) AS k_u,
         max(h) AS kth_u,
         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
         CAST(sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only
  FROM mr WHERE r <= {_KMV_K} GROUP BY 1, 2
),
est AS (
  SELECT *,
         CASE WHEN k_u < {_KMV_K} THEN CAST(k_u AS DOUBLE)
              ELSE round((k_u - 1) * {_TWO60} / kth_u, 9) END AS est_union
  FROM sk
),
cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM hashes GROUP BY 1
),
ex AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS exact_inter
  FROM hashes x JOIN hashes y ON x.h = y.h AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT e.type_a, e.type_b, e.k_u, e.est_union,
       round(e.n_both * e.est_union / e.k_u, 9) AS est_inter,
       round(e.n_a_only * e.est_union / e.k_u, 9) AS est_diff_a,
       round(e.n_b_only * e.est_union / e.k_u, 9) AS est_diff_b,
       round(CAST(e.n_both AS DOUBLE) / e.k_u, 9) AS jaccard_est,
       ca.n + cb.n - COALESCE(x.exact_inter, 0) AS exact_union,
       COALESCE(x.exact_inter, 0) AS exact_inter
FROM est e
JOIN cnt ca ON ca.event_type = e.type_a
JOIN cnt cb ON cb.event_type = e.type_b
LEFT JOIN ex x ON x.type_a = e.type_a AND x.type_b = e.type_b
ORDER BY e.type_a, e.type_b
"""
@register(
    "sketch_kmv_set_ops",
    oracle=_sql_kmv_set_ops(),
    tags=("sketch", "approx", "distinct"),
)
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KMV set-OPERATION estimates via sketch MERGE (Beyer et al.
    2007, the Apache DataSketches Theta workhorse): the k smallest
    hashes of L_A∪L_B are themselves a valid KMV sketch of A∪B, so
    est_union = (k_u−1)·2^60/kth_u from the merged kth minimum, and the
    inclusion ratios of merged-sketch members that sit in both / only
    one source sketch scale it into intersection, both difference
    directions, and a Jaccard estimate — the overlap triage a training
    pipeline runs across corpora BEFORE paying for exact contamination
    joins (``pipeline_contamination_check`` is the exact twin). The
    sibling ``sketch_kmv_intersection`` estimates intersection from the
    θ* = min(θa, θb) common-hash rule; this entry is the mergeable form
    (union first, everything else as a ratio of it), which is what
    composes across >2 corpora and across partitions.

    100 TB shape: per-corpus sketches are ≤ k = 64 rows each, built by
    ONE partial-aggregating rank pass over the distinct hashes; every
    pairwise stage runs on ≤ k·|pairs| rows (broadcast territory
    forever — the corpus count, not the corpus SIZE, is the only scale
    axis). The exact-audit columns (exact_union / exact_inter from the
    full hash sets) are the expensive side that the sketch path
    replaces at scale. Determinism: sketches are k-smallest of the
    portable md5 hash60, membership flags are exact integers, the only
    float steps are the final (k_u−1)·2^60/kth_u division and the ratio
    scalings, composed in the same order and 9-dp-rounded in both
    engines; when the merged sketch is complete (k_u < k ⟹ both source
    sets complete) the estimators collapse to the exact counts by
    construction. kth_u > 0 is structural in the estimate branch
    (k_u = k ≥ 64 distinct non-negative hashes ⟹ max ≥ 63), so the
    ANSI division needs no runtime guard. Accuracy stays within the
    published ~1/sqrt(k) envelope (pinned in the unit test).
    """
    ev = _t(spark, sf_dir, "events")
    # one scan + one distinct for the WHOLE entry (see the sibling
    # sketch_kmv_intersection note): the tiny (type, hash) frame feeds
    # the sketch build, both exact audit legs, and the per-type counts
    hashes = (
        ev.select("event_type", hash60(F.col("user_id").cast("string")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    wr = Window.partitionBy("event_type").orderBy("h")
    kmv = (
        hashes.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= _KMV_K)
        .select("event_type", "h")
        .localCheckpoint(eager=True)
    )
    types = kmv.select("event_type").distinct()
    pr = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    u = (
        F.broadcast(pr)
        .join(kmv, F.col("event_type") == F.col("type_a"))
        .select("type_a", "type_b", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
        .unionAll(
            F.broadcast(pr)
            .join(kmv, F.col("event_type") == F.col("type_b"))
            .select("type_a", "type_b", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
        )
    )
    m = u.groupBy("type_a", "type_b", "h").agg(
        F.max("ia").alias("in_a"), F.max("ib").alias("in_b")
    )
    wm = Window.partitionBy("type_a", "type_b").orderBy("h")
    sk = (
        m.withColumn("r", F.row_number().over(wm))
        .filter(F.col("r") <= _KMV_K)
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("k_u"),
            F.max("h").alias("kth_u"),
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
            ).alias("n_both"),
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 0), 1).otherwise(0)
            ).alias("n_a_only"),
            F.sum(
                F.when((F.col("in_a") == 0) & (F.col("in_b") == 1), 1).otherwise(0)
            ).alias("n_b_only"),
        )
    )
    est = sk.withColumn(
        "est_union",
        F.when(
            F.col("k_u") < _KMV_K, F.col("k_u").cast("double")
        ).otherwise(F.round((F.col("k_u") - 1) * _TWO60 / F.col("kth_u"), 9)),
    )
    cnt = hashes.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ha = hashes.select(F.col("event_type").alias("type_a"), "h")
    hb = hashes.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb"))
    exact = (
        ha.join(hb, (F.col("h") == F.col("hb")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return (
        est.join(
            F.broadcast(cnt.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))),
            "type_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))),
            "type_b",
        )
        .join(F.broadcast(exact), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "k_u",
            "est_union",
            F.round(F.col("n_both") * F.col("est_union") / F.col("k_u"), 9).alias("est_inter"),
            F.round(F.col("n_a_only") * F.col("est_union") / F.col("k_u"), 9).alias("est_diff_a"),
            F.round(F.col("n_b_only") * F.col("est_union") / F.col("k_u"), 9).alias("est_diff_b"),
            F.round(F.col("n_both").cast("double") / F.col("k_u"), 9).alias("jaccard_est"),
            (F.col("na") + F.col("nb") - F.coalesce("exact_inter", F.lit(0))).alias("exact_union"),
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
        )
        .orderBy("type_a", "type_b")
    )


_SQL_THEILSEN = f"""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
         round({SQL_DAVG.format(x='value')}, 9) AS y
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         round((b.y - a.y) / (b.d - a.d), 9) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM slopes
)
SELECT event_type,
       CAST(min(n) AS BIGINT) AS n_pairs,
       min(CASE WHEN r = (n + 1) // 2 THEN slope END) AS theilsen_slope
FROM ranked GROUP BY event_type ORDER BY event_type
"""
@register(
    "stats_theilsen_slope",
    oracle=_SQL_THEILSEN,
    tags=("stats", "regression", "robust"),
)
def stats_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate per event type: the median of all
    pairwise slopes of the DAILY mean series — up to ~29% contamination
    tolerance where OLS breaks on one outlier. The pair enumeration runs
    on the pre-aggregated daily frame (30 points → 435 pairs per group,
    never the raw events; the published large-n variant subsamples
    pairs), slopes are ratios of exact quantities rounded at 9 dp, and
    the median uses the catalog's lower-median convention (rank
    (n+1)//2 over a total order)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
    ).agg(F.round(davg("value"), 9).alias("y"))
    a = daily.select(
        F.col("event_type"), F.col("d").alias("da"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("event_type"), F.col("d").alias("db"), F.col("y").alias("yb")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .select(
            "event_type",
            F.round((F.col("yb") - F.col("ya")) / (F.col("db") - F.col("da")), 9).alias(
                "slope"
            ),
        )
    )
    wp = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(wp.orderBy("slope")).alias("r"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.min("n").alias("n_pairs"),
            F.min(
                F.when(
                    F.col("r") == F.floor((F.col("n") + 1) / 2), F.col("slope")
                )
            ).alias("theilsen_slope"),
        )
        .orderBy("event_type")
    )


_HIST_CUT_SQL = f"""
WITH {sql_cuts_ctes("events", "value", 10)},
cl AS (SELECT coalesce(list(c ORDER BY b), []) AS cs FROM cuts),
bucketed AS (
  SELECT value,
         1 + len(list_filter(cl.cs, x -> value > x)) AS bucket
  FROM events, cl
)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
       min(value) AS lo, max(value) AS hi
FROM bucketed GROUP BY 1 ORDER BY 1
"""
@register(
    "histogram_equi_depth_cuts",
    oracle=_HIST_CUT_SQL,
    tags=("histogram", "equidepth", "scale"),
)
def histogram_equi_depth_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram through EXACT PERCENTILE CUTS instead of an
    un-partitioned ntile (the ``histogram_equi_depth`` docstring's
    promised 100 TB path, now code): boundary b is the
    ceil(b*n/10)-th smallest value, found by a distributed prefix sum
    over the distinct-value domain (operators/equidepth.py — range
    partition, per-partition offsets, partitioned window; no task ever
    sees the whole table), then a map-only ``1 + sum(value > cut)``
    assignment. Ties sit entirely in the lower bucket, so counts are
    equal up to tie mass — the standard warehouse equi-depth contract
    (vs ntile's forced-equal counts that SPLIT ties arbitrarily)."""
    ev = _t(spark, sf_dir, "events")
    cuts = equi_depth_cut_points(ev, F.col("value"), 10)
    return (
        ev.select("value", bucket_by_cuts(F.col("value"), cuts).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("bucket")
    )


_QN_GRID = 101  # pooled grid resolution (0..100 inclusive)
_QN_GRID_SQL = f"""
WITH vc AS (
  SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v, count(*) AS cnt
  FROM events GROUP BY 1
),
cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM vc),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
grid AS (
  SELECT g, min(CASE WHEN cum >= 1 + (g * (n - 1)) // {_QN_GRID - 1} THEN v END) AS os
  FROM cum, tot, (SELECT unnest(range(0, {_QN_GRID})) AS g)
  GROUP BY g
),
gl AS (SELECT list(os ORDER BY g) AS gs FROM grid),
vcg AS (
  SELECT event_type, value, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
cumg AS (
  SELECT event_type, value, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY value) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n_g
  FROM vcg
),
pos AS (
  SELECT e.event_id, e.event_type, e.value,
         ((c.cum - c.cnt + (c.cnt + 1) / 2.0 - 1) / (c.n_g - 1))
           * {_QN_GRID - 1} AS pos
  FROM events e
  JOIN cumg c ON e.event_type = c.event_type AND e.value = c.value
  WHERE c.n_g >= 2
),
sel AS (
  SELECT event_id, event_type, value,
         CAST(floor(pos) AS BIGINT) AS i, pos - floor(pos) AS frac
  FROM pos
)
SELECT s.event_id, s.event_type, s.value,
       round((CAST(gs[CAST(s.i + 1 AS INTEGER)] AS DOUBLE)
              + CASE WHEN s.frac = 0 THEN 0.0
                     ELSE s.frac * (CAST(gs[CAST(s.i + 2 AS INTEGER)] AS DOUBLE)
                                    - CAST(gs[CAST(s.i + 1 AS INTEGER)] AS DOUBLE))
                END) / 1000000.0, 9) AS qnorm
FROM sel s, gl ORDER BY event_id
"""
@register(
    "stats_quantile_normalize_grid",
    oracle=_QN_GRID_SQL,
    tags=("stats", "normalize", "ml", "equidepth", "scale"),
)
def stats_quantile_normalize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization against a POOLED PERCENTILE GRID — the
    ``stats_quantile_normalize`` docstring's promised 100 TB shape, now
    code. The original broadcasts the ENTIRE pooled sorted vector (one
    collect_list row — O(n) on the driver and every executor); this
    variant broadcasts {_QN_GRID} exact pooled order statistics
    (distributed prefix sum over the micro-quantized value domain +
    one conditional-min aggregation) and linearly interpolates between
    grid points. Per-group ranks come from the per-(type, value) cum
    table joined back on the natural key — mid-rank for ties (the
    published form for distribution alignment), so no per-row
    row_number window over data-sized partitions anywhere in the plan.
    Contract difference vs the exact original: ties share the mean
    rank, and targets interpolate the percentile grid rather than the
    full pooled vector — the approximation the grid resolution
    controls, with the grid itself still EXACT order statistics."""
    ev = _t(spark, sf_dir, "events")
    micro = F.round(F.col("value") * 1000000.0).cast("long")
    cum, n = value_counts_cum(ev, micro)
    g1 = _QN_GRID - 1
    ranks = [1 + (g * (n - 1)) // g1 for g in range(_QN_GRID)]
    grid = values_at_ranks(cum, ranks)
    garr = F.array(*[F.lit(int(v)) for v in grid])
    # Per-group cum via the GROUPED two-level prefix sum — a window
    # partitioned by event_type alone would hold n/#groups DATA rows in
    # one task (measured: the window form was the 4x outlier in the
    # round-4 10x table); here every task is bounded by a range slice.
    gcum, n_g_map = grouped_value_counts_cum(ev, F.col("event_type"), F.col("value"))
    ng = F.create_map(*[F.lit(x) for g, ngv in n_g_map.items() for x in (g, ngv)])
    cumg = gcum.select(
        F.col("g").alias("event_type"),
        F.col("v").alias("value"),
        "cnt",
        "cum",
        ng[F.col("g")].alias("n_g"),
    )
    pos = (
        (F.col("cum") - F.col("cnt") + (F.col("cnt") + 1) / 2.0 - 1)
        / (F.col("n_g") - 1)
    ) * g1
    rows = (
        ev.join(cumg, ["event_type", "value"])
        .filter(F.col("n_g") >= 2)
        .select(
            "event_id",
            "event_type",
            "value",
            pos.alias("pos"),
        )
        .withColumn("i", F.floor(F.col("pos")).cast("int"))
        .withColumn("frac", F.col("pos") - F.floor(F.col("pos")))
    )
    base = F.element_at(garr, F.col("i") + 1).cast("double")
    nxt = F.element_at(garr, F.col("i") + 2).cast("double")
    qnorm = F.round(
        (
            base
            + F.when(F.col("frac") == 0, F.lit(0.0)).otherwise(
                F.col("frac") * (nxt - base)
            )
        )
        / 1000000.0,
        9,
    )
    # No global order on a corpus-sized output (same rationale as
    # stats_quantile_normalize): partition-local sort, no
    # single-partition funnel, no range exchange.
    return (
        rows.select("event_id", "event_type", "value", qnorm.alias("qnorm"))
        .sortWithinPartitions("event_id")
    )


_WINS_CUT_SQL = f"""
WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
vc AS (SELECT event_type AS g, value AS v, count(*) AS cnt FROM ev GROUP BY 1, 2),
cum AS (
  SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum FROM vc
),
ng AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM vc GROUP BY 1),
cuts AS (
  SELECT c.g,
         min(CASE WHEN c.cum >= greatest(CAST(ceil(0.05 * ng.n) AS BIGINT), 1)
                  THEN c.v END) AS lo,
         min(CASE WHEN c.cum >= CAST(ceil(0.95 * ng.n) AS BIGINT)
                  THEN c.v END) AS hi
  FROM cum c JOIN ng USING (g) GROUP BY 1
)
SELECT e.event_type, min(ng.n) AS n, min(k.lo) AS lo, min(k.hi) AS hi,
       {SQL_DAVG.format(x='greatest(least(e.value, k.hi), k.lo)')} AS winsorized_mean,
       {SQL_DAVG.format(x='e.value')} AS raw_mean
FROM ev e JOIN cuts k ON e.event_type = k.g JOIN ng ON e.event_type = ng.g
GROUP BY 1 ORDER BY 1
"""
@register(
    "stats_winsorized_mean_cuts",
    oracle=_WINS_CUT_SQL,
    tags=("robust-stats", "winsorize", "equidepth", "scale"),
)
def stats_winsorized_mean_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean with the P5/P95 clip points found by GROUPED exact
    order statistics (operators/equidepth.py grouped_value_counts_cum)
    instead of ``stats_winsorized_mean``'s per-group row_number window.
    Same rank-selection contract (the max(ceil(0.05 n), 1)-th and
    ceil(0.95 n)-th order statistics per group — identical values), but
    the per-group window partitions there hold n/#groups DATA rows in
    one task each; here the range-partitioned prefix sum bounds every
    task by a slice of the distinct-value DOMAIN, and clipping is a
    map-only comparison against per-group broadcast literals. The rank
    targets use the same IEEE double expression ceil(0.05 * n) on both
    engines."""
    import math

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
        .localCheckpoint(eager=True)  # consumed by the cum pass AND the clip pass
    )
    cum, n_g = grouped_value_counts_cum(ev, F.col("event_type"), F.col("value"))
    targets = {
        g: [max(math.ceil(0.05 * n), 1), math.ceil(0.95 * n)] for g, n in n_g.items()
    }
    oss = grouped_values_at_ranks(cum, targets)
    lo_map = F.create_map(*[F.lit(x) for g in oss for x in (g, oss[g][0])])
    hi_map = F.create_map(*[F.lit(x) for g in oss for x in (g, oss[g][1])])
    n_map = F.create_map(*[F.lit(x) for g, n in n_g.items() for x in (g, n)])
    lo = lo_map[F.col("event_type")]
    hi = hi_map[F.col("event_type")]
    clipped = F.greatest(F.least(F.col("value"), hi), lo)
    return (
        ev.groupBy("event_type")
        .agg(
            davg(clipped).alias("winsorized_mean"),
            davg(F.col("value")).alias("raw_mean"),
        )
        .select(
            "event_type",
            n_map[F.col("event_type")].cast("bigint").alias("n"),
            lo_map[F.col("event_type")].alias("lo"),
            hi_map[F.col("event_type")].alias("hi"),
            "winsorized_mean",
            "raw_mean",
        )
        .orderBy("event_type")
    )


def _sql_rank2(col: str) -> str:
    # doubled average rank (2*cum - cnt + 1) over the ascending distinct
    # domain: an exact BIGINT, so the tie-averaged "rank + (ties-1)/2"
    # never touches floats until the final correlation formula
    return f"""(
  SELECT v, CAST(2 * cum - cnt + 1 AS BIGINT) AS r2 FROM (
    SELECT {col} AS v, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(count(*)) OVER (ORDER BY {col}) AS BIGINT) AS cum
    FROM lineitem GROUP BY 1))"""
def _sql_spearman_pair(xcol: str, ycol: str) -> str:
    return f"""
  SELECT '{xcol}' AS x_var, '{ycol}' AS y_var,
         CAST(count(*) AS BIGINT) AS n,
         round((CAST(count(*) AS DOUBLE) * CAST(sum(CAST(rx2 AS HUGEINT) * ry2) AS DOUBLE)
                - CAST(sum(CAST(rx2 AS HUGEINT)) AS DOUBLE) * CAST(sum(CAST(ry2 AS HUGEINT)) AS DOUBLE))
               / (sqrt(CAST(count(*) AS DOUBLE) * CAST(sum(CAST(rx2 AS HUGEINT) * rx2) AS DOUBLE)
                       - CAST(sum(CAST(rx2 AS HUGEINT)) AS DOUBLE) * CAST(sum(CAST(rx2 AS HUGEINT)) AS DOUBLE))
                  * sqrt(CAST(count(*) AS DOUBLE) * CAST(sum(CAST(ry2 AS HUGEINT) * ry2) AS DOUBLE)
                         - CAST(sum(CAST(ry2 AS HUGEINT)) AS DOUBLE) * CAST(sum(CAST(ry2 AS HUGEINT)) AS DOUBLE))), 9)
           AS spearman_rho
  FROM (
    SELECT rx.r2 AS rx2, ry.r2 AS ry2
    FROM lineitem l
    JOIN {_sql_rank2(xcol)} rx ON l.{xcol} = rx.v
    JOIN {_sql_rank2(ycol)} ry ON l.{ycol} = ry.v
  )"""
_SPEARMAN_SQL = f"""
{_sql_spearman_pair('l_extendedprice', 'l_discount')}
UNION ALL
{_sql_spearman_pair('l_extendedprice', 'l_quantity')}
ORDER BY y_var
"""
@register(
    "stats_spearman_corr",
    oracle=_SPEARMAN_SQL,
    tags=("stats", "correlation", "rank", "scale-path"),
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (price vs quantity, price vs discount)
    with textbook tie-averaged ranks — the robust complement to
    ``stats_corr_matrix``'s Pearson (monotone association, insensitive
    to outliers and nonlinear scales).

    Scale path: average ranks come from ONE grouped distributed prefix
    sum over the three columns' DISTINCT-value domains
    (``grouped_value_counts_cum`` with the column name as the group —
    the same machinery as the ``_cuts`` family: repartitionByRange +
    partitioned window + offsets, never an un-partitioned global
    window), doubled into the exact integer ``2*cum - cnt + 1`` so
    tie-averaged halves stay on an integer grid. The rank maps
    (checkpointed once — four join branches would otherwise each replay
    the window) join back to the fact by value in one three-join chain
    (every row matches its own value, so multiplicity is unchanged and
    BOTH pairs aggregate from a single scan), then one
    map-side-combinable aggregation accumulates all Pearson moments
    through DECIMAL(38,0) — the ``stats_corr_matrix`` convention — so
    both engines cast identical exact integers to double and evaluate
    the same IEEE formula; the 9-dp round is cosmetic. The 2x rank
    scale cancels in the formula. The two output rows explode from the
    single stats row (one consumer — no plan-branch recompute)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ("l_extendedprice", "l_quantity", "l_discount")
    # single-split parquet at small SFs would melt+pre-aggregate the 3x
    # row explosion on one core — widen first
    melted = fan_out(li.select(*cols)).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("col"), F.col(c).alias("val"))
                    for c in cols
                ]
            )
        ).alias("e")
    ).select("e.col", "e.val")
    cum, _ = grouped_value_counts_cum(melted, F.col("col"), F.col("val"))
    cum = cum.localCheckpoint(eager=True)

    def rank2(colname: str, alias: str) -> DataFrame:
        return cum.filter(F.col("g") == colname).select(
            F.col("v").alias(colname),
            (2 * F.col("cum") - F.col("cnt") + 1).cast("bigint").alias(alias),
        )

    # quantity and discount are DOMAIN-BOUNDED columns (integral 1..50 /
    # 11 discount steps — the domain does not grow with the corpus), so
    # their rank maps broadcast at any scale; hinting them removes two of
    # the three fact-table shuffles (checkpointed rank maps carry no
    # size statistics, so the 64 MB auto-broadcast cannot fire on its
    # own). The price rank map is value-domain-sized and keeps the
    # shuffled join.
    j = (
        li.select(*cols)
        .join(rank2("l_extendedprice", "rx2"), "l_extendedprice")
        .join(F.broadcast(rank2("l_quantity", "rq2")), "l_quantity")
        .join(F.broadcast(rank2("l_discount", "rd2")), "l_discount")
    )

    def d(c: str):
        return F.col(c).cast("decimal(38,0)")

    s = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d("rx2")).cast("double").alias("sx"),
        F.sum(d("rx2") * d("rx2")).cast("double").alias("sxx"),
        F.sum(d("rq2")).cast("double").alias("sq"),
        F.sum(d("rq2") * d("rq2")).cast("double").alias("sqq"),
        F.sum(d("rx2") * d("rq2")).cast("double").alias("sxq"),
        F.sum(d("rd2")).cast("double").alias("sd"),
        F.sum(d("rd2") * d("rd2")).cast("double").alias("sdd"),
        F.sum(d("rx2") * d("rd2")).cast("double").alias("sxd"),
    )

    def rho(sy: str, syy: str, sxy: str):
        n = F.col("n")
        return F.round(
            (n * F.col(sxy) - F.col("sx") * F.col(sy))
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col(syy) - F.col(sy) * F.col(sy))
            ),
            9,
        )

    def out_row(ycol: str, sy: str, syy: str, sxy: str):
        return F.struct(
            F.lit("l_extendedprice").alias("x_var"),
            F.lit(ycol).alias("y_var"),
            F.col("nb").alias("n"),
            rho(sy, syy, sxy).alias("spearman_rho"),
        )

    return (
        s.select(
            F.explode(
                F.array(
                    out_row("l_discount", "sd", "sdd", "sxd"),
                    out_row("l_quantity", "sq", "sqq", "sxq"),
                )
            ).alias("p")
        )
        .select("p.*")
        .orderBy("y_var")
    )


_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
def _sql_anova() -> str:
    cols = []
    for i, g in enumerate(_PRIORITIES):
        c = f"o_orderpriority = '{g}'"
        q = "CAST(round(o_totalprice * 100.0) AS HUGEINT)"
        cols += [
            f"CAST(count(*) FILTER (WHERE {c}) AS DOUBLE) AS n{i}",
            f"CAST(sum({q}) FILTER (WHERE {c}) AS DOUBLE) AS s{i}",
            f"CAST(sum({q} * {q}) FILTER (WHERE {c}) AS DOUBLE) AS ss{i}",
        ]
    k = len(_PRIORITIES)
    nsum = " + ".join(f"n{i}" for i in range(k))
    ssum = " + ".join(f"s{i}" for i in range(k))
    tsum = " + ".join(f"s{i} * s{i} / n{i}" for i in range(k))
    sssum = " + ".join(f"ss{i}" for i in range(k))
    return f"""
WITH g AS (SELECT {', '.join(cols)} FROM orders),
c AS (
  SELECT {nsum} AS nn, ({tsum}) - ({ssum}) * ({ssum}) / ({nsum}) AS ssb,
         ({sssum}) - ({tsum}) AS ssw
  FROM g
)
SELECT CAST({k} AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
       round(ssb / (ssb + ssw), 9) AS eta_sq,
       round((ssb / {k - 1}) / (ssw / (nn - {k})), 6) AS f_stat
FROM c
"""
@register(
    "stats_anova_oneway",
    oracle=_sql_anova(),
    tags=("stats", "anova", "hypothesis-test"),
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for order value across the five order
    priorities — the k-group generalization of ``stats_welch_ttest``
    (between-group vs within-group variance), plus the eta-squared
    effect size.

    ONE aggregation pass in the conditional-sufficient-statistics shape:
    15 FILTERed aggregates (n, Σx, Σx² per group on the exact cents grid
    through DECIMAL(38,0)/HUGEINT), map-side combinable, no shuffle
    beyond the 1-row combine — at 100 TB this is a single scan. The
    cross-group reductions are written as explicit left-to-right
    expression chains over the five per-group doubles, so both engines
    fold in the identical order and the IEEE result is bit-equal —
    never a float SUM over a nondeterministically-ordered group set."""
    orders = _t(spark, sf_dir, "orders")
    q = F.round(F.col("o_totalprice") * 100.0).cast("decimal(38,0)")
    aggs = []
    for i, g in enumerate(_PRIORITIES):
        c = F.col("o_orderpriority") == g
        aggs += [
            F.count(F.when(c, F.lit(1))).cast("double").alias(f"n{i}"),
            F.sum(F.when(c, q)).cast("double").alias(f"s{i}"),
            F.sum(F.when(c, q * q)).cast("double").alias(f"ss{i}"),
        ]
    s = orders.agg(*aggs)
    k = len(_PRIORITIES)
    # explicit left-assoc chains — same fold order as the SQL text
    nn = F.col("n0")
    ssum = F.col("s0")
    tsum = F.col("s0") * F.col("s0") / F.col("n0")
    sssum = F.col("ss0")
    for i in range(1, k):
        nn = nn + F.col(f"n{i}")
        ssum = ssum + F.col(f"s{i}")
        tsum = tsum + F.col(f"s{i}") * F.col(f"s{i}") / F.col(f"n{i}")
        sssum = sssum + F.col(f"ss{i}")
    ssb = tsum - ssum * ssum / nn
    ssw = sssum - tsum
    return s.select(
        F.lit(k).cast("bigint").alias("k"),
        nn.cast("bigint").alias("n"),
        F.round(ssb / (ssb + ssw), 9).alias("eta_sq"),
        F.round((ssb / F.lit(k - 1)) / (ssw / (nn - F.lit(k))), 6).alias("f_stat"),
    )


_KW_GROUPS = ("A", "N", "R")
def _sql_kruskal() -> str:
    cols = []
    for i, g in enumerate(_KW_GROUPS):
        cols.append(f"CAST(count(*) FILTER (WHERE grp = '{g}') AS DOUBLE) AS n{i}")
        cols.append(
            f"CAST(sum(CAST(r2 AS HUGEINT)) FILTER (WHERE grp = '{g}') AS DOUBLE) AS s{i}"
        )
    k = len(_KW_GROUPS)
    nn = " + ".join(f"n{i}" for i in range(k))
    ts = " + ".join(f"s{i} * s{i} / n{i}" for i in range(k))
    h = f"3.0 / (({nn}) * (({nn}) + 1)) * ({ts}) - 3 * (({nn}) + 1)"
    tc = f"1 - tsum / (({nn}) * ({nn}) * ({nn}) - ({nn}))"
    return f"""
WITH pts AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_quantity * 100.0) AS BIGINT) AS v
  FROM lineitem
),
dom AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
  FROM pts GROUP BY 1
),
r AS (SELECT v, CAST(2 * cum - cnt + 1 AS BIGINT) AS r2 FROM dom),
tie AS (
  SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE) AS tsum
  FROM dom
),
g AS (SELECT {', '.join(cols)} FROM pts JOIN r USING (v))
SELECT CAST({k} AS BIGINT) AS k, CAST({nn} AS BIGINT) AS n,
       round({h}, 6) AS h_stat,
       round({tc}, 9) AS tie_correction,
       round(({h}) / ({tc}), 6) AS h_adj
FROM g CROSS JOIN tie
"""
@register(
    "stats_kruskal_wallis",
    oracle=_sql_kruskal(),
    tags=("stats", "rank", "hypothesis-test", "scale-path"),
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (rank-based one-way analysis of variance)
    for line-item quantity across the three return flags, with the
    standard tie correction ``C = 1 - Sigma(t^3 - t)/(N^3 - N)`` — the
    nonparametric twin of ``stats_anova_oneway``, on a fixture whose
    integer quantities produce heavy real ties (C = 0.9996 at sf0.01).

    Scale path: tie-averaged ranks come from the distributed prefix sum
    over the DISTINCT-value domain (``value_counts_cum`` — the ``_cuts``
    machinery: repartitionByRange + partitioned window + offsets, never
    an un-partitioned global window), doubled into the exact integer
    ``2*cum - cnt + 1`` so tie-averaged halves stay on an integer grid.
    The rank map joins back by value (auto-broadcast at this domain
    size), then ONE aggregation pass in the conditional-sufficient-
    statistics shape: per-group n and Sigma(r2) as FILTERed aggregates
    through DECIMAL(38,0)/HUGEINT, combined with explicit left-assoc
    expression chains so both engines fold the k per-group doubles in
    the identical order (the r6 k-group convention). The doubled-rank
    scale cancels: H = 3/(N(N+1)) Sigma S2_g^2/n_g - 3(N+1), verified
    against a naive tie-averaged-rank reimplementation at sf0.001."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_quantity") * 100.0).cast("bigint").alias("v"),
    )
    cum, _ = value_counts_cum(pts, F.col("v"))
    # two consumers (rank map + tie sum) — pin the window output once
    cum = cum.localCheckpoint(eager=True)
    r2map = cum.select(
        "v", (2 * F.col("cum") - F.col("cnt") + 1).cast("bigint").alias("r2")
    )
    c = F.col("cnt").cast("decimal(38,0)")
    tie = cum.agg(F.sum(c * c * c - c).cast("double").alias("tsum"))
    aggs = []
    for i, g in enumerate(_KW_GROUPS):
        cc = F.col("grp") == g
        aggs.append(F.count(F.when(cc, F.lit(1))).cast("double").alias(f"n{i}"))
        aggs.append(
            F.sum(F.when(cc, F.col("r2").cast("decimal(38,0)")))
            .cast("double")
            .alias(f"s{i}")
        )
    s = pts.join(r2map, "v").agg(*aggs).crossJoin(F.broadcast(tie))
    k = len(_KW_GROUPS)
    # explicit left-assoc chains — same fold order as the SQL text
    nn = F.col("n0")
    ts = F.col("s0") * F.col("s0") / F.col("n0")
    for i in range(1, k):
        nn = nn + F.col(f"n{i}")
        ts = ts + F.col(f"s{i}") * F.col(f"s{i}") / F.col(f"n{i}")
    h = F.lit(3.0) / (nn * (nn + 1)) * ts - 3 * (nn + 1)
    tc = 1 - F.col("tsum") / (nn * nn * nn - nn)
    return s.select(
        F.lit(k).cast("bigint").alias("k"),
        nn.cast("bigint").alias("n"),
        F.round(h, 6).alias("h_stat"),
        F.round(tc, 9).alias("tie_correction"),
        F.round(h / tc, 6).alias("h_adj"),
    )


_CRAMERS_CHI2_X = """
         (CAST(c.o AS DOUBLE) - (CAST(r.nl AS DOUBLE) * ct.ns) / t.n)
         * (CAST(c.o AS DOUBLE) - (CAST(r.nl AS DOUBLE) * ct.ns) / t.n)
         / ((CAST(r.nl AS DOUBLE) * ct.ns) / t.n)"""
_CRAMERS_SQL = f"""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
),
rowt AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM documents GROUP BY 1),
colt AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM documents GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT lang) AS BIGINT) AS l,
         CAST(count(DISTINCT source) AS BIGINT) AS s
  FROM documents
),
agg AS (
  SELECT {SQL_DSUM.format(x=_CRAMERS_CHI2_X)} AS chi2,
         min(t.n) AS n, min(t.l) AS r, min(t.s) AS c
  FROM cells c
  JOIN rowt r USING (lang)
  JOIN colt ct USING (source)
  CROSS JOIN tot t
)
SELECT round(chi2, 6) AS chi2, n, r, c,
       round(chi2 / n, 9) AS phi2,
       round(sqrt(chi2 / (n * (least(r, c) - 1))), 9) AS cramers_v
FROM agg
"""
@register(
    "stats_cramers_v",
    oracle=_CRAMERS_SQL,
    tags=("stats", "chi2", "effect-size"),
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V — the normalized [0, 1] association strength for the
    lang x source contingency table, ``V = sqrt(chi2 / (N (min(r,c) -
    1)))``, plus the phi-squared mean-square contingency; the effect
    size that ``stats_chi2_lang_source``'s test statistic lacks (chi2
    grows with N even when association is fixed, V does not).

    Same contingency machinery as the chi2 entry (three small
    aggregates broadcast into a cells-sized join, chi2 summed on the
    micro-unit grid so it is identical on both engines); V and phi2 are
    then pure functions of that shared double and the exact marginal
    cardinalities, so no new nondeterminism enters. Fact table scanned
    once per marginal; every post-scan frame is (langs x sources)-sized
    at any corpus scale."""
    docs = _t(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rowt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    colt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    tot = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("lang").alias("l"),
        F.countDistinct("source").alias("s"),
    )
    e = (F.col("nl").cast("double") * F.col("ns")) / F.col("n")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    agg = (
        cells.join(F.broadcast(rowt), "lang")
        .join(F.broadcast(colt), "source")
        .crossJoin(F.broadcast(tot))
        .agg(
            dsum(term).alias("chi2"),
            F.min("n").alias("n"),
            F.min("l").alias("r"),
            F.min("s").alias("c"),
        )
    )
    return agg.select(
        F.round(F.col("chi2"), 6).alias("chi2"),
        "n",
        "r",
        "c",
        F.round(F.col("chi2") / F.col("n"), 9).alias("phi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("r", "c") - 1))), 9
        ).alias("cramers_v"),
    )


_BF_GROUPS = ("A", "N", "R")
def _sql_brown_forsythe() -> str:
    cols = []
    for i, g in enumerate(_BF_GROUPS):
        c = f"grp = '{g}'"
        cols += [
            f"CAST(count(*) FILTER (WHERE {c}) AS DOUBLE) AS n{i}",
            f"CAST(sum(CAST(z AS HUGEINT)) FILTER (WHERE {c}) AS DOUBLE) AS s{i}",
            f"CAST(sum(CAST(z AS HUGEINT) * z) FILTER (WHERE {c}) AS DOUBLE) AS ss{i}",
        ]
    k = len(_BF_GROUPS)
    nn = " + ".join(f"n{i}" for i in range(k))
    ssum = " + ".join(f"s{i}" for i in range(k))
    ts = " + ".join(f"s{i} * s{i} / n{i}" for i in range(k))
    sss = " + ".join(f"ss{i}" for i in range(k))
    return f"""
WITH pts AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_quantity * 100.0) AS BIGINT) AS v
  FROM lineitem
),
dom AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(count(*)) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cum
  FROM pts GROUP BY 1, 2
),
tot AS (SELECT grp, CAST(max(cum) AS BIGINT) AS n FROM dom GROUP BY 1),
med AS (
  SELECT grp, min(v) AS m FROM dom JOIN tot USING (grp)
  WHERE cum >= CAST(floor((n + 1) / 2.0) AS BIGINT) GROUP BY 1
),
zt AS (SELECT grp, abs(v - m) AS z FROM pts JOIN med USING (grp)),
g AS (SELECT {', '.join(cols)} FROM zt),
c AS (
  SELECT {nn} AS nn, ({ts}) - ({ssum}) * ({ssum}) / ({nn}) AS ssb,
         ({sss}) - ({ts}) AS ssw
  FROM g
)
SELECT CAST({k} AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
       round(ssb / (ssb + ssw), 9) AS eta_sq_z,
       round((ssb / {k - 1}) / (ssw / (nn - {k})), 6) AS w_stat
FROM c
"""
@register(
    "stats_levene_brownforsythe",
    oracle=_sql_brown_forsythe(),
    tags=("stats", "hypothesis-test", "variance", "scale-path"),
)
def stats_levene_brownforsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene's test with group MEDIANS, the
    robust recommended form) for homogeneity of quantity spread across
    the three return flags: W = one-way ANOVA F computed on the
    absolute deviations z = |x - median_g|. Completes the k-group
    triptych on this fixture — ``stats_anova_oneway`` compares means,
    ``stats_kruskal_wallis`` compares rank distributions, this compares
    SPREADS (the precondition check for the first).

    Scale path: the per-group medians come from the GROUPED distributed
    prefix sum over each group's distinct-value domain
    (``grouped_value_counts_cum`` — the ``_cuts`` machinery; never an
    un-partitioned window), selected at the lower-median rank
    floor((n+1)/2) — the ``stats_weighted_median`` convention. The
    medians broadcast back (k rows), z is an exact nonnegative BIGINT
    (integer cents minus integer median), and the W statistic reduces
    to the same FILTERed sufficient-statistics single pass +
    left-assoc k-group folds as the ANOVA entry. Verified against a
    naive per-group Python replay at sf0.01."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_quantity") * 100.0).cast("bigint").alias("v"),
    )
    cum, _ = grouped_value_counts_cum(pts, F.col("grp"), F.col("v"))
    cum = cum.localCheckpoint(eager=True)
    tot = cum.groupBy("g").agg(F.max("cum").cast("bigint").alias("n"))
    med = (
        cum.join(tot, "g")
        .filter(
            F.col("cum") >= F.floor((F.col("n") + 1) / 2.0).cast("bigint")
        )
        .groupBy("g")
        .agg(F.min("v").alias("m"))
        .select(F.col("g").alias("grp"), "m")
    )
    zt = pts.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("v") - F.col("m")).alias("z")
    )
    aggs = []
    for i, g in enumerate(_BF_GROUPS):
        c = F.col("grp") == g
        zq = F.col("z").cast("decimal(38,0)")
        aggs += [
            F.count(F.when(c, F.lit(1))).cast("double").alias(f"n{i}"),
            F.sum(F.when(c, zq)).cast("double").alias(f"s{i}"),
            F.sum(F.when(c, zq * zq)).cast("double").alias(f"ss{i}"),
        ]
    s = zt.agg(*aggs)
    k = len(_BF_GROUPS)
    nn = F.col("n0")
    ssum = F.col("s0")
    ts = F.col("s0") * F.col("s0") / F.col("n0")
    sss = F.col("ss0")
    for i in range(1, k):
        nn = nn + F.col(f"n{i}")
        ssum = ssum + F.col(f"s{i}")
        ts = ts + F.col(f"s{i}") * F.col(f"s{i}") / F.col(f"n{i}")
        sss = sss + F.col(f"ss{i}")
    ssb = ts - ssum * ssum / nn
    ssw = sss - ts
    return s.select(
        F.lit(k).cast("bigint").alias("k"),
        nn.cast("bigint").alias("n"),
        F.round(ssb / (ssb + ssw), 9).alias("eta_sq_z"),
        F.round((ssb / F.lit(k - 1)) / (ssw / (nn - F.lit(k))), 6).alias("w_stat"),
    )


_PERM_B = 64
_PERM_SEED = 7
def _sql_permutation() -> str:
    hid = sql_hash60("doc_id::VARCHAR", seed=_PERM_SEED)
    ob = sql_hash60("b::VARCHAR")
    return f"""
WITH base AS (
  SELECT doc_id, n_chars,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lab
  FROM documents
),
obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lab) AS BIGINT) AS n1,
         CAST(sum(n_chars) AS BIGINT) AS st,
         CAST(sum(n_chars * lab) AS BIGINT) AS s1
  FROM base
),
reps AS (
  SELECT b,
         CAST(count(*) FILTER (WHERE gate) AS BIGINT) AS na,
         CAST(sum(n_chars) FILTER (WHERE gate) AS BIGINT) AS sa
  FROM (
    SELECT b, n_chars,
           (({hid} + {ob}) % {RESOLUTION})
             < CAST(floor({RESOLUTION} * o.n1 / CAST(o.n AS DOUBLE)) AS BIGINT)
             AS gate
    FROM base, unnest(generate_series(0, {_PERM_B - 1})) AS u(b)
    CROSS JOIN obs o
  )
  GROUP BY b
),
scored AS (
  SELECT CAST(count(*) AS BIGINT) AS b_resamples,
         CAST(count(*) FILTER (WHERE
           abs(CAST(r.sa AS DOUBLE) / r.na
               - CAST(o.st - r.sa AS DOUBLE) / (o.n - r.na))
           >= abs(CAST(o.s1 AS DOUBLE) / o.n1
                  - CAST(o.st - o.s1 AS DOUBLE) / (o.n - o.n1))) AS BIGINT)
           AS n_extreme
  FROM reps r CROSS JOIN obs o
)
SELECT o.n, o.n1 AS n_pos,
       round(CAST(o.s1 AS DOUBLE) / o.n1
             - CAST(o.st - o.s1 AS DOUBLE) / (o.n - o.n1), 6) AS diff_obs,
       s.b_resamples, s.n_extreme,
       round((1 + s.n_extreme) / CAST(s.b_resamples + 1 AS DOUBLE), 6) AS p_value
FROM obs o CROSS JOIN scored s
"""
@register(
    "stats_permutation_test",
    oracle=_sql_permutation(),
    tags=("stats", "hypothesis-test", "resampling"),
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the English-vs-rest document-length gap:
    64 deterministic relabelings (the ``stats_bootstrap_ci`` hash-gate
    discipline — membership = (h(doc_id) + h(replicate#)) mod R under
    the observed positive-rate threshold, RNG-free so both engines draw
    IDENTICAL pseudo-permutations), each scoring the mean difference;
    the add-one p-value (1 + #{|diff_b| >= |diff_obs|}) / (B + 1)
    (Phipson & Smyth 2010). The distribution-free inference companion
    to ``stats_welch_ttest`` on the same kind of two-group gap — valid
    with no normality assumption at all.

    All replicate state is exact integers (counts and n_chars sums per
    gate side); every mean difference is the identical two-division
    IEEE expression, so the >= comparisons against the observed gap are
    bit-identical cross-engine. Plan shape: one observed-stats
    aggregate, one explode(xB) -> map-only gate -> B-group combine
    (hash-frugal: one md5 per doc plus one per replicate, never per
    pair); at 100 TB the xB blow-up collapses to per-partition partial
    sums per b, which the map-side combine already approximates."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("lab"),
    )
    obs = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("lab").cast("bigint").alias("n1"),
        F.sum("n_chars").cast("bigint").alias("st"),
        F.sum(F.col("n_chars") * F.col("lab")).cast("bigint").alias("s1"),
    )
    offsets = spark.range(_PERM_B).select(
        F.col("id").cast("int").alias("b"),
        hash60(F.col("id").cast("string")).alias("ob"),
    )
    exploded = (
        base.select(
            "n_chars",
            hash60(F.col("doc_id").cast("string"), seed=_PERM_SEED).alias("h"),
            F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("b"),
        )
        .join(F.broadcast(offsets), "b")
        .crossJoin(F.broadcast(obs))
    )
    thr = F.floor(
        F.lit(RESOLUTION) * F.col("n1") / F.col("n").cast("double")
    ).cast("bigint")
    gate = F.pmod(F.col("h") + F.col("ob"), F.lit(RESOLUTION)) < thr
    reps = exploded.groupBy("b").agg(
        F.count(F.when(gate, F.lit(1))).cast("bigint").alias("na"),
        F.sum(F.when(gate, F.col("n_chars"))).cast("bigint").alias("sa"),
    )
    diff_obs = F.col("s1").cast("double") / F.col("n1") - (
        F.col("st") - F.col("s1")
    ).cast("double") / (F.col("n") - F.col("n1"))
    diff_b = F.col("sa").cast("double") / F.col("na") - (
        F.col("st") - F.col("sa")
    ).cast("double") / (F.col("n") - F.col("na"))
    scored = reps.crossJoin(F.broadcast(obs)).agg(
        F.count(F.lit(1)).cast("bigint").alias("b_resamples"),
        F.count(F.when(F.abs(diff_b) >= F.abs(diff_obs), F.lit(1)))
        .cast("bigint")
        .alias("n_extreme"),
    )
    return obs.crossJoin(F.broadcast(scored)).select(
        "n",
        F.col("n1").alias("n_pos"),
        F.round(diff_obs, 6).alias("diff_obs"),
        "b_resamples",
        "n_extreme",
        F.round(
            (1 + F.col("n_extreme")) / (F.col("b_resamples") + 1).cast("double"), 6
        ).alias("p_value"),
    )


_CUPED_SEED = 7
def _sql_cuped() -> str:
    arm = f"({sql_hash60('user_id::VARCHAR', seed=_CUPED_SEED)} % 2)"
    return f"""
WITH b AS (
  SELECT CAST(floor((epoch_us(min(ts)) + epoch_us(max(ts))) / 2.0) AS BIGINT)
           AS tmid
  FROM events
),
u AS (
  SELECT user_id, {arm} AS arm,
         CAST(sum(CASE WHEN epoch_us(ts) < tmid
                       THEN CAST(round(value * 1000000.0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS xq,
         CAST(sum(CASE WHEN epoch_us(ts) >= tmid
                       THEN CAST(round(value * 1000000.0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS yq
  FROM events, b GROUP BY 1, 2
),
g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(xq AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(yq AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(xq AS HUGEINT) * xq) AS DOUBLE) AS sxx,
         CAST(sum(CAST(yq AS HUGEINT) * yq) AS DOUBLE) AS syy,
         CAST(sum(CAST(xq AS HUGEINT) * yq) AS DOUBLE) AS sxy
  FROM u
),
t AS (
  SELECT n, sx,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
         (n * sxy - sx * sy) * (n * sxy - sx * sy)
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rho_sq
  FROM g
),
a AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CAST(xq AS HUGEINT)) AS DOUBLE) AS ax,
         CAST(sum(CAST(yq AS HUGEINT)) AS DOUBLE) AS ay
  FROM u GROUP BY arm
)
SELECT CAST(arm AS INT) AS arm, n_users,
       round(ay / n_users / 1000000.0, 6) AS mean_y,
       round((ay / n_users - theta * (ax / n_users - sx / n)) / 1000000.0, 6)
         AS mean_y_cuped,
       round(theta, 6) AS theta,
       round(rho_sq, 6) AS rho_sq
FROM a, t ORDER BY arm
"""
@register(
    "stats_cuped_adjustment",
    oracle=_sql_cuped(),
    tags=("stats", "experimentation", "cuped", "variance-reduction"),
)
def stats_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) readout:
    the standard variance-reduction adjustment for A/B metrics. Unit =
    user; arm = RNG-free md5 hash split (the ``sample_hash_documents``
    gate discipline); metric Y = the user's total event value in the
    second half of the corpus time range, covariate X = the same total
    in the first half. theta = cov(X,Y)/var(X) pooled over all units,
    Y_cuped = Y - theta (X - mean X); the readout reports per-arm raw
    and adjusted means plus theta and rho^2 (the achieved variance
    reduction is 1 - rho^2).

    Exactness: per-user X/Y are integer micro-unit sums; the pooled
    sufficient statistics (Sx, Sy, Sxx, Syy, Sxy) accumulate those
    bigints in decimal(38,0) on Spark / HUGEINT in DuckDB — exact
    integers — so theta and every mean are single double expressions
    over identical integers on both engines.

    Scale shape: one shuffle (groupBy user), then two tiny aggregates
    over the per-user frame (a 1-row pooled-stats frame broadcast onto
    the 2-row per-arm frame). No window, no driver data; the per-user
    frame is localCheckpointed so the shared subtree runs once. At
    100 TB the user groupBy is the only data-sized stage and it
    map-side combines."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    b = ev.agg(
        F.floor(
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2.0
        )
        .cast("bigint")
        .alias("tmid")
    )
    vq = F.round(F.col("value") * 1000000.0).cast("bigint")
    us = F.unix_micros("ts")
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(us < F.col("tmid"), vq).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("xq"),
            F.sum(F.when(us >= F.col("tmid"), vq).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("yq"),
        )
        .select(
            F.pmod(
                hash60(F.col("user_id").cast("string"), seed=_CUPED_SEED),
                F.lit(2),
            ).alias("arm"),
            "xq",
            "yq",
        )
        .localCheckpoint(eager=True)
    )
    xd = F.col("xq").cast("decimal(38,0)")
    yd = F.col("yq").cast("decimal(38,0)")
    g = u.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * F.col("xq")).cast("double").alias("sxx"),
        F.sum(yd * F.col("yq")).cast("double").alias("syy"),
        F.sum(xd * F.col("yq")).cast("double").alias("sxy"),
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    t = g.select(
        "n",
        "sx",
        (cov_n / var_x).alias("theta"),
        (cov_n * cov_n / (var_x * var_y)).alias("rho_sq"),
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(xd).cast("double").alias("ax"),
        F.sum(yd).cast("double").alias("ay"),
    )
    return (
        a.crossJoin(F.broadcast(t))
        .select(
            F.col("arm").cast("int").alias("arm"),
            "n_users",
            F.round(F.col("ay") / F.col("n_users") / 1000000.0, 6).alias("mean_y"),
            F.round(
                (
                    F.col("ay") / F.col("n_users")
                    - F.col("theta")
                    * (F.col("ax") / F.col("n_users") - F.col("sx") / F.col("n"))
                )
                / 1000000.0,
                6,
            ).alias("mean_y_cuped"),
            F.round("theta", 6).alias("theta"),
            F.round("rho_sq", 6).alias("rho_sq"),
        )
        .orderBy("arm")
    )


def _sql_nelson_aalen() -> str:
    return """
WITH u AS (
  SELECT user_id,
         CAST(min(date_trunc('day', ts)) AS DATE) AS first_day,
         CAST(max(date_trunc('day', ts)) AS DATE) AS last_day
  FROM events GROUP BY user_id
),
mx AS (SELECT max(last_day) AS max_day FROM u),
d AS (
  SELECT date_diff('day', first_day, last_day) AS t,
         CASE WHEN last_day < max_day THEN 1 ELSE 0 END AS ev
  FROM u, mx
),
pt AS (
  SELECT t,
         CAST(sum(ev) AS BIGINT) AS d_events,
         CAST(count(*) AS BIGINT) AS tot
  FROM d GROUP BY t
),
rk AS (
  SELECT t, d_events,
         CAST(sum(tot) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
  FROM pt
),
et AS (SELECT * FROM rk WHERE d_events > 0),
cm AS (
  SELECT t, d_events, n_risk,
         sum(CAST(round(CAST(d_events AS DOUBLE) / n_risk * 1e9) AS BIGINT))
           OVER (ORDER BY t) AS cum_hq
  FROM et
)
SELECT CAST(t AS INT) AS t_days, n_risk, d_events,
       round(CAST(cum_hq AS DOUBLE) / 1e9, 9) AS cum_hazard,
       round(exp(-CAST(cum_hq AS DOUBLE) / 1e9), 9) AS fh_survival
FROM cm ORDER BY t_days
"""
@register(
    "events_nelson_aalen",
    oracle=_sql_nelson_aalen(),
    tags=("survival", "retention", "stats"),
)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the same user
    lifetimes as ``events_kaplan_meier`` (duration = days between a
    user's first and last event, last-day users right-censored):
    H(t) = sum d_u/n_u over event times, plus the Fleming-Harrington
    survival exp(-H(t)) — the estimator of choice when hazard RATES
    (not just survival) are the deliverable, and the numerically
    stabler curve when risk sets get small.

    Exactness: each hazard increment d/n is nano-quantized before the
    ascending prefix sum, so the trajectory is an exact-integer
    reduction on both engines; unlike the KM product chain there is no
    d == n edge case (the hazard just adds 1.0).

    Scale shape: identical to KM — the groupBy user shuffle, then all
    ordered windows run over the per-duration frame (cardinality =
    distinct durations, ~days), never raw events; the corpus max-day is
    the 1-row scalar broadcast idiom."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.to_date(F.min(F.date_trunc("day", "ts"))).alias("first_day"),
        F.to_date(F.max(F.date_trunc("day", "ts"))).alias("last_day"),
    )
    mx = u.agg(F.max("last_day").alias("max_day"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.datediff("last_day", "first_day").alias("t"),
        F.when(F.col("last_day") < F.col("max_day"), 1).otherwise(0).alias("ev"),
    )
    pt = d.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d_events"),
        F.count(F.lit(1)).cast("bigint").alias("tot"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    rk = pt.select(
        "t", "d_events", F.sum("tot").over(wdesc).cast("bigint").alias("n_risk")
    )
    et = rk.filter(F.col("d_events") > 0)
    wasc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    hq = F.round(F.col("d_events").cast("double") / F.col("n_risk") * 1e9).cast(
        "bigint"
    )
    cm = et.select(
        "t",
        "d_events",
        "n_risk",
        F.sum(hq).over(wasc).alias("cum_hq"),
    )
    return cm.select(
        F.col("t").cast("int").alias("t_days"),
        "n_risk",
        "d_events",
        F.round(F.col("cum_hq").cast("double") / 1e9, 9).alias("cum_hazard"),
        F.round(F.exp(-F.col("cum_hq").cast("double") / 1e9), 9).alias(
            "fh_survival"
        ),
    ).orderBy("t_days")


def _sql_multiple_ols() -> str:
    # 3x3 determinant, written with the SAME association order as the
    # Spark side so the double arithmetic is bit-identical.
    def det(a, b, c, d, e, f, g, h, i):
        return (
            f"({a} * ({e} * {i} - {f} * {h}) - {b} * ({d} * {i} - {f} * {g})"
            f" + {c} * ({d} * {h} - {e} * {g}))"
        )

    dm = det("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
    d0 = det("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
    d1 = det("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
    d2 = det("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")
    return f"""
WITH q AS (
  SELECT CAST(round(l_quantity * 100.0) AS BIGINT) AS x1,
         CAST(round(l_discount * 10000.0) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100.0) AS BIGINT) AS y
  FROM lineitem
),
g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
         CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
         CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
         CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
         CAST(sum(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
  FROM q
),
b AS (
  SELECT n, sy, s1y, s2y, syy,
         {d0} / {dm} AS b0, {d1} / {dm} AS b1, {d2} / {dm} AS b2
  FROM g
)
SELECT CAST(n AS BIGINT) AS n,
       round(b0 / 100.0, 6) AS beta0,
       round(b1, 6) AS beta1,
       round(b2 * 100.0, 6) AS beta2,
       round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                   / (syy - sy * sy / n), 9) AS r_sq
FROM b
"""
@register(
    "regression_multiple_ols",
    oracle=_sql_multiple_ols(),
    tags=("stats", "regression", "normal-equations", "scale-path"),
)
def regression_multiple_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression (two features + intercept) fit by the
    textbook distributed-ML recipe: one map-side-combined pass collects
    the normal-equation sufficient statistics X'X and X'y, then the
    3x3 system solves in closed form with Cramer's rule — no gradient
    loop, no driver-side data. Fits l_extendedprice ~ l_quantity +
    l_discount; coefficients are reported in original units and r^2
    from the standard SSE identity Syy - b.X'y.

    Exactness: inputs quantize to integer cents / basis points; every
    cross-moment accumulates those bigints in decimal(38,0) on Spark /
    HUGEINT in DuckDB (exact at any corpus size); the determinant
    expressions are written with the same association order on both
    engines, so the doubles agree bit-for-bit.

    Scale shape: a single aggregate — partial-aggregated map-side, one
    1-row reduce. This is the canonical 'learn on 100 TB with one
    shuffle-free pass' plan; adding features grows the statistic count
    quadratically but the pass count not at all."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.select(
        F.round(F.col("l_quantity") * 100.0).cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 10000.0).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100.0).cast("bigint").alias("y"),
    )

    def dsum2(a: str, b: str):
        return F.sum(F.col(a).cast("decimal(38,0)") * F.col(b)).cast("double")

    g = q.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x1").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(F.col("x2").cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        dsum2("x1", "x1").alias("s11"),
        dsum2("x2", "x2").alias("s22"),
        dsum2("x1", "x2").alias("s12"),
        dsum2("x1", "y").alias("s1y"),
        dsum2("x2", "y").alias("s2y"),
        dsum2("y", "y").alias("syy"),
    )

    def det(a, b, c, d, e, f_, g_, h, i):
        return (
            F.col(a) * (F.col(e) * F.col(i) - F.col(f_) * F.col(h))
            - F.col(b) * (F.col(d) * F.col(i) - F.col(f_) * F.col(g_))
            + F.col(c) * (F.col(d) * F.col(h) - F.col(e) * F.col(g_))
        )

    dm = det("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
    d0 = det("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
    d1 = det("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
    d2 = det("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")
    b = g.select(
        "n",
        "sy",
        "s1y",
        "s2y",
        "syy",
        (d0 / dm).alias("b0"),
        (d1 / dm).alias("b1"),
        (d2 / dm).alias("b2"),
    )
    sse = (
        F.col("syy")
        - F.col("b0") * F.col("sy")
        - F.col("b1") * F.col("s1y")
        - F.col("b2") * F.col("s2y")
    )
    sst = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return b.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("b0") / 100.0, 6).alias("beta0"),
        F.round(F.col("b1"), 6).alias("beta1"),
        F.round(F.col("b2") * 100.0, 6).alias("beta2"),
        F.round(F.lit(1.0) - sse / sst, 9).alias("r_sq"),
    )


_BH_ALPHA = 0.05
def _sql_fdr_bh() -> str:
    # Bowling et al.'s logistic approximation to the normal CDF:
    # Phi(z) ~ 1 / (1 + exp(-1.5976 z - 0.07056 z^3)); identical
    # expression text on both engines.
    return f"""
WITH q AS (
  SELECT c_nationkey, CAST(round(c_acctbal * 100.0) AS BIGINT) AS a
  FROM customer
),
g AS (
  SELECT c_nationkey,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CAST(a AS HUGEINT)) AS DOUBLE) AS s_g
  FROM q GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(a AS HUGEINT)) AS DOUBLE) AS s,
         CAST(sum(CAST(a AS HUGEINT) * a) AS DOUBLE) AS ss
  FROM q
),
z AS (
  SELECT c_nationkey, n_g,
         (s_g / n_g - s / n) / sqrt(((ss - s * s / n) / (n - 1)) / n_g) AS zs
  FROM g, tot
),
p AS (
  SELECT c_nationkey, n_g, zs,
         2.0 * (1.0 - 1.0 / (1.0 + exp(-1.5976 * abs(zs)
               - 0.07056 * abs(zs) * abs(zs) * abs(zs)))) AS pv
  FROM z
),
rk AS (
  SELECT c_nationkey, n_g, zs, pv,
         row_number() OVER (ORDER BY pv, c_nationkey) AS i,
         CAST(count(*) OVER () AS DOUBLE) AS m
  FROM p
),
km AS (
  SELECT max(CASE WHEN pv <= i * {_BH_ALPHA} / m THEN i ELSE 0 END) AS k_max
  FROM rk
)
SELECT CAST(c_nationkey AS INT) AS nationkey, n_g AS n_customers,
       round(zs, 6) AS z_stat, round(pv, 6) AS p_value,
       round(i * {_BH_ALPHA} / m, 6) AS bh_critical,
       CAST(CASE WHEN i <= k_max THEN 1 ELSE 0 END AS INT) AS rejected
FROM rk, km
ORDER BY nationkey
"""
@register(
    "stats_fdr_bh_nations",
    oracle=_sql_fdr_bh(),
    tags=("stats", "multiple-testing", "fdr", "hypothesis-test"),
)
def stats_fdr_bh_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a family of
    per-group hypothesis tests — the multiple-testing step every
    metrics sweep needs once it tests tens of segments at once. Family:
    for each nation, a z-test of whether that nation's mean customer
    balance differs from the global mean (global variance, normal
    approximation via the Bowling logistic CDF — a closed-form both
    engines evaluate identically). BH then sorts the m p-values,
    finds the largest i with p_(i) <= i*alpha/m, and rejects the first
    k_max of them (alpha=0.05).

    Exactness: group and global moments are exact integer-cent sums
    (HUGEINT/decimal); z, p, and the BH critical values are single
    double expressions over those integers with a nationkey tiebreak
    making the p-value order total.

    Scale shape: one map-side-combined groupBy(nation) + one 1-row
    global moment pass over the same scan; every window (rank, k_max)
    runs over the m=25-row test frame, never the data. The testing
    layer is O(m log m) on a frame of group cardinality — unchanged at
    100 TB."""
    cust = _t(spark, sf_dir, "customer")
    q = cust.select(
        "c_nationkey", F.round(F.col("c_acctbal") * 100.0).cast("bigint").alias("a")
    )
    ad = F.col("a").cast("decimal(38,0)")
    g = q.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(ad).cast("double").alias("s_g"),
    )
    tot = q.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(ad).cast("double").alias("s"),
        F.sum(ad * F.col("a")).cast("double").alias("ss"),
    )
    zs = (
        F.col("s_g") / F.col("n_g") - F.col("s") / F.col("n")
    ) / F.sqrt(
        ((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1))
        / F.col("n_g")
    )
    z = g.crossJoin(F.broadcast(tot)).select("c_nationkey", "n_g", zs.alias("zs"))
    az = F.abs(F.col("zs"))
    pv = F.lit(2.0) * (
        F.lit(1.0)
        - F.lit(1.0)
        / (F.lit(1.0) + F.exp(F.lit(-1.5976) * az - F.lit(0.07056) * az * az * az))
    )
    p = z.select("c_nationkey", "n_g", "zs", pv.alias("pv"))
    wr = Window.orderBy("pv", "c_nationkey")
    wall = Window.partitionBy()
    rk = p.select(
        "c_nationkey",
        "n_g",
        "zs",
        "pv",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wall).cast("double").alias("m"),
    )
    flag_i = F.when(
        F.col("pv") <= F.col("i") * _BH_ALPHA / F.col("m"), F.col("i")
    ).otherwise(F.lit(0))
    rk = rk.withColumn("k_max", F.max(flag_i).over(wall))
    return rk.select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("n_g").alias("n_customers"),
        F.round("zs", 6).alias("z_stat"),
        F.round("pv", 6).alias("p_value"),
        F.round(F.col("i") * _BH_ALPHA / F.col("m"), 6).alias("bh_critical"),
        F.when(F.col("i") <= F.col("k_max"), 1).otherwise(0).cast("int").alias(
            "rejected"
        ),
    ).orderBy("nationkey")


def _sql_jackknife() -> str:
    return """
WITH q AS (
  SELECT date_trunc('month', l_shipdate) AS blk,
         CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT) AS a,
         CAST(round(l_quantity * 100.0) AS BIGINT) AS b
  FROM lineitem
),
g AS (
  SELECT blk,
         CAST(sum(CAST(a AS HUGEINT)) AS DOUBLE) AS a_g,
         CAST(sum(CAST(b AS HUGEINT)) AS DOUBLE) AS b_g
  FROM q GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS gg,
         CAST(sum(a_g) AS DOUBLE) AS sa,
         CAST(sum(b_g) AS DOUBLE) AS sb
  FROM g
),
loo AS (
  SELECT gg, sa, sb,
         CAST(round((sa - a_g) / (sb - b_g) * 1e9) AS BIGINT) AS rq
  FROM g, tot
),
jk AS (
  SELECT any_value(gg) AS gg, any_value(sa) AS sa, any_value(sb) AS sb,
         CAST(sum(rq) AS DOUBLE) / count(*) / 1e9 AS rbar,
         list(rq ORDER BY rq) AS rqs
  FROM loo
),
dev AS (
  SELECT gg, sa, sb, rbar,
         CAST(sum(CAST(round(
           (CAST(u.r AS DOUBLE) / 1e9 - rbar)
           * (CAST(u.r AS DOUBLE) / 1e9 - rbar) * 1e15) AS HUGEINT)) AS DOUBLE)
           AS ssq
  FROM jk, unnest(rqs) AS u(r)
  GROUP BY gg, sa, sb, rbar
)
SELECT gg AS n_blocks,
       round(sa / sb, 6) AS ratio,
       round(sqrt((gg - 1.0) / gg * ssq / 1e15), 9) AS jack_se,
       round(sa / sb - 1.96 * sqrt((gg - 1.0) / gg * ssq / 1e15), 6) AS ci_lo,
       round(sa / sb + 1.96 * sqrt((gg - 1.0) / gg * ssq / 1e15), 6) AS ci_hi
FROM dev
"""
@register(
    "stats_jackknife_ratio_se",
    oracle=_sql_jackknife(),
    tags=("stats", "jackknife", "resampling", "ratio-metric"),
)
def stats_jackknife_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-block jackknife standard error for a ratio metric —
    the RNG-free resampling twin of ``stats_bootstrap_ci``, and the
    estimator production metric pipelines use for ratio KPIs (a mean of
    ratios is biased; the ratio of sums needs a resampling SE). Metric:
    discounted revenue per unit quantity over lineitem; blocks are
    shipdate months (delete-one-month leave-out, the temporal block
    form robust to within-month correlation). SE^2 = (G-1)/G *
    sum_g (R_(-g) - Rbar)^2 with R_(-g) = (Sa - a_g)/(Sb - b_g).

    Exactness: block sums are exact integer cents (HUGEINT/decimal);
    each leave-one-out ratio is nano-quantized before averaging, each
    squared deviation atto-quantized (1e18) before summing, so the
    whole jackknife reduces to exact-integer arithmetic on both
    engines.

    Scale shape: one map-side-combined groupBy(month) — the only
    data-sized stage — then all leave-one-out algebra runs on the
    G-row block frame against 1-row broadcast totals. Blocks grow with
    the time horizon, not the data: identical plan at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.select(
        F.date_trunc("month", "l_shipdate").alias("blk"),
        F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0)
        .cast("bigint")
        .alias("a"),
        F.round(F.col("l_quantity") * 100.0).cast("bigint").alias("b"),
    )
    g = q.groupBy("blk").agg(
        F.sum(F.col("a").cast("decimal(38,0)")).cast("double").alias("a_g"),
        F.sum(F.col("b").cast("decimal(38,0)")).cast("double").alias("b_g"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("gg"),
        F.sum("a_g").cast("double").alias("sa"),
        F.sum("b_g").cast("double").alias("sb"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        "gg",
        "sa",
        "sb",
        F.round((F.col("sa") - F.col("a_g")) / (F.col("sb") - F.col("b_g")) * 1e9)
        .cast("bigint")
        .alias("rq"),
    )
    jk = loo.agg(
        F.any_value("gg").alias("gg"),
        F.any_value("sa").alias("sa"),
        F.any_value("sb").alias("sb"),
        (F.sum("rq").cast("double") / F.count(F.lit(1)) / 1e9).alias("rbar"),
    )
    dev = loo.select("rq").crossJoin(F.broadcast(jk)).agg(
        F.any_value("gg").alias("gg"),
        F.any_value("sa").alias("sa"),
        F.any_value("sb").alias("sb"),
        F.sum(
            F.round(
                (F.col("rq").cast("double") / 1e9 - F.col("rbar"))
                * (F.col("rq").cast("double") / 1e9 - F.col("rbar"))
                * 1e15
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("ssq"),
    )
    gd = F.col("gg").cast("double")
    se = F.sqrt((gd - 1.0) / gd * F.col("ssq") / 1e15)
    return dev.select(
        F.col("gg").alias("n_blocks"),
        F.round(F.col("sa") / F.col("sb"), 6).alias("ratio"),
        F.round(se, 9).alias("jack_se"),
        F.round(F.col("sa") / F.col("sb") - F.lit(1.96) * se, 6).alias("ci_lo"),
        F.round(F.col("sa") / F.col("sb") + F.lit(1.96) * se, 6).alias("ci_hi"),
    )


def _sql_gini() -> str:
    return """
WITH pts AS (
  SELECT CAST(round(c_acctbal * 100.0) AS BIGINT) AS v
  FROM customer WHERE c_acctbal >= 0
),
dom AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
  FROM pts GROUP BY v
),
s AS (
  SELECT CAST(max(cum) AS BIGINT) AS n,
         CAST(sum(CAST(v AS HUGEINT) * cnt) AS HUGEINT) AS sx,
         CAST(sum(CAST(v AS HUGEINT) * cnt * (2 * cum - cnt + 1))
              AS HUGEINT) AS s1x2
  FROM dom
)
SELECT n,
       round(CAST(sx AS DOUBLE) / n / 100.0, 6) AS mean_balance,
       round((CAST(s1x2 AS DOUBLE) - (n + 1.0) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS gini
FROM s
"""
@register(
    "stats_gini_lorenz",
    oracle=_sql_gini(),
    tags=("stats", "inequality", "gini", "scale-path"),
)
def stats_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of non-negative customer balances
    — the native (pure-expression) twin of the ``udf_grouped_agg_gini``
    UDF-surface entry, demonstrating that the slow-path pandas UDF is
    never REQUIRED for this statistic. Uses the rank-sum identity
    G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)) with ties handled
    exactly: a distinct value v occupying ranks (cum-cnt+1..cum)
    contributes 2*v*(sum of ranks) = v * cnt * (2*cum - cnt + 1) to the
    DOUBLED rank-sum, so the whole numerator is exact HUGEINT/decimal
    arithmetic (no integer halving, whose `/` semantics differ between
    engines) and the coefficient is a single double expression.

    Scale path: the ranks come from the distributed distinct-domain
    prefix sum (``value_counts_cum`` — range-repartitioned, PARTITIONED
    window + broadcast offsets, never an un-partitioned global sort;
    the oracle's global window is the semantic spec only). One more
    map-side-combined aggregate over the domain frame finishes it."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= 0)
    pts = cust.select(F.round(F.col("c_acctbal") * 100.0).cast("bigint").alias("v"))
    cum, _n = value_counts_cum(pts, F.col("v"))
    vd = F.col("v").cast("decimal(38,0)")
    s = cum.agg(
        F.max("cum").cast("bigint").alias("n"),
        F.sum(vd * F.col("cnt")).alias("sx"),
        F.sum(
            vd * F.col("cnt") * (2 * F.col("cum") - F.col("cnt") + 1)
        ).cast("decimal(38,0)").alias("s1x2"),
    )
    return s.select(
        "n",
        F.round(F.col("sx").cast("double") / F.col("n") / 100.0, 6).alias(
            "mean_balance"
        ),
        F.round(
            (
                F.col("s1x2").cast("double")
                - (F.col("n") + 1.0) * F.col("sx").cast("double")
            )
            / (F.col("n").cast("double") * F.col("sx").cast("double")),
            9,
        ).alias("gini"),
    )


def _sql_stump() -> str:
    return """
WITH pts AS (
  SELECT n_chars AS v,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
dom AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cumn,
         CAST(sum(sum(y)) OVER (ORDER BY v) AS BIGINT) AS cumpos
  FROM pts GROUP BY v
),
tot AS (
  SELECT CAST(max(cumn) AS BIGINT) AS n, CAST(max(cumpos) AS BIGINT) AS post
  FROM dom
),
cand AS (
  SELECT v, cumn AS n_left, n - cumn AS n_right,
         cumpos AS pos_left, post - cumpos AS pos_right,
         (CAST(cumpos AS DOUBLE) * (cumn - cumpos) / cumn
          + CAST(post - cumpos AS DOUBLE) * ((n - cumn) - (post - cumpos))
            / (n - cumn)) * 2.0 / n AS gini_split,
         2.0 * CAST(post AS DOUBLE) * (n - post)
           / (CAST(n AS DOUBLE) * n) AS gini_root
  FROM dom, tot WHERE cumn < n
)
SELECT CAST(v AS BIGINT) AS threshold, n_left, n_right, pos_left, pos_right,
       round(gini_split, 9) AS gini_split, round(gini_root, 9) AS gini_root
FROM cand ORDER BY gini_split, v LIMIT 1
"""
@register(
    "ml_decision_stump_gini",
    oracle=_sql_stump(),
    tags=("ml", "decision-tree", "gini", "scale-path"),
)
def ml_decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 decision tree (stump) fit by exhaustive split search:
    the best threshold on n_chars for predicting lang == 'en' by
    weighted Gini impurity 2/n * (posL*negL/nL + posR*negR/nR) — the
    split-finding primitive inside every distributed tree learner
    (XGBoost/LightGBM histogram mode evaluates exactly this quantity
    over a value domain). Every distinct feature value except the
    maximum is a candidate threshold (split is x <= t).

    Exactness: candidate statistics are the inclusive prefix sums of
    (count, positives) over the ascending distinct-value domain — exact
    integers — and the impurity is one double expression with identical
    association order on both engines; the argmin is made total by the
    (impurity, threshold) tiebreak.

    Scale path: the prefix sums come from the distributed
    distinct-domain machinery (``value_counts_cum`` with unit and label
    weights — range-repartitioned, partitioned windows, broadcast
    offsets); the argmin is a domain-frame TakeOrdered. The oracle's
    global window is the semantic spec only. Histogram-binning (the
    production trick for continuous features) is the ``_cuts`` family
    composed in front."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("v"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    cnt_cum, _ = value_counts_cum(docs, F.col("v"))
    pos_cum, _ = value_counts_cum(docs, F.col("v"), weight=F.col("y"))
    dom = cnt_cum.join(
        pos_cum.select(
            F.col("v").alias("v2"),
            F.col("cnt").alias("pos"),
            F.col("cum").alias("cumpos"),
        ),
        F.col("v") == F.col("v2"),
    ).select("v", "cnt", "cum", "pos", "cumpos")
    tot = dom.agg(
        F.max("cum").cast("bigint").alias("n"),
        F.max("cumpos").cast("bigint").alias("pos_total"),
    )
    cand = (
        dom.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") < F.col("n"))
        .select(
            "v",
            F.col("cum").alias("n_left"),
            (F.col("n") - F.col("cum")).alias("n_right"),
            F.col("cumpos").alias("pos_left"),
            (F.col("pos_total") - F.col("cumpos")).alias("pos_right"),
            (
                (
                    F.col("cumpos").cast("double")
                    * (F.col("cum") - F.col("cumpos"))
                    / F.col("cum")
                    + (F.col("pos_total") - F.col("cumpos")).cast("double")
                    * (
                        (F.col("n") - F.col("cum"))
                        - (F.col("pos_total") - F.col("cumpos"))
                    )
                    / (F.col("n") - F.col("cum"))
                )
                * 2.0
                / F.col("n")
            ).alias("gini_split"),
            (
                2.0
                * F.col("pos_total").cast("double")
                * (F.col("n") - F.col("pos_total"))
                / (F.col("n").cast("double") * F.col("n"))
            ).alias("gini_root"),
        )
    )
    return (
        cand.orderBy("gini_split", "v")
        .limit(1)
        .select(
            F.col("v").cast("bigint").alias("threshold"),
            "n_left",
            "n_right",
            "pos_left",
            "pos_right",
            F.round("gini_split", 9).alias("gini_split"),
            F.round("gini_root", 9).alias("gini_root"),
        )
    )


_PB_B = 32
_PB_SEED = 211
# Inverse-CDF thresholds for Poisson(1) on the RESOLUTION grid, rendered
# as integer literals into BOTH engines (cumulative e^-1/k!).
_PB_THRESH: list[int] = []
_acc = 0.0
for _k in range(7):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _PB_THRESH.append(int(_acc * RESOLUTION))
def _sql_poisson_bootstrap() -> str:
    hid = sql_hash60("event_id::VARCHAR", seed=_PB_SEED)
    ob = sql_hash60("b::VARCHAR")
    cases = " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_PB_THRESH)
    )
    return f"""
WITH x AS (
  SELECT b, CAST(round(value * 1000000.0) AS BIGINT) AS vq,
         (({hid} + {ob}) % {RESOLUTION}) AS u
  FROM events, unnest(generate_series(0, {_PB_B - 1})) AS t(b)
),
w AS (SELECT b, vq, CASE {cases} ELSE 7 END AS w FROM x),
rs AS (
  SELECT b,
         CAST(sum(CAST(w AS HUGEINT) * vq) AS DOUBLE)
           / CAST(sum(CAST(w AS HUGEINT)) AS DOUBLE) / 1000000.0 AS mean_b
  FROM w GROUP BY b
)
SELECT CAST(count(*) AS BIGINT) AS n_resamples,
       round((CAST(SUM(CAST(round((mean_b) * 1000000.0) AS HUGEINT)) AS DOUBLE)
              / COUNT(mean_b) / 1000000.0), 6) AS mean_of_means,
       round(quantile_cont(mean_b, 0.05), 6) AS ci_lo,
       round(quantile_cont(mean_b, 0.95), 6) AS ci_hi
FROM rs
"""
@register(
    "stats_poisson_bootstrap",
    oracle=_sql_poisson_bootstrap(),
    tags=("stats", "bootstrap", "poisson", "resampling", "scale-path"),
)
def stats_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap for the mean event value — the bootstrap that
    actually runs at 100 TB: instead of drawing n-out-of-n multinomial
    resamples (which needs global coordination), every row
    independently receives a Poisson(1) replication weight per
    resample, giving each row an identical marginal resampling
    distribution with NO cross-row state — the streaming/map-only
    recipe. Weights are RNG-free: the (h(event_id) + h(b)) mod R
    uniform (the ``stats_bootstrap_ci`` hash-gate discipline) pushed
    through the Poisson(1) inverse CDF rendered as integer grid
    thresholds, identical literals on both engines. B=32 weighted
    means; the 90% CI is the [p05, p95] band.

    Exactness: weighted sums are HUGEINT/decimal over micro-unit
    integers; each resample mean micro-quantizes before the
    mean-of-means (davg); the percentile runs over the 32-row frame.

    Scale shape: one explode(xB) -> map-only weight -> 32-group
    map-side-combined aggregate; at 100 TB the xB blow-up collapses to
    per-partition partial (sum w*v, sum w) pairs per b."""
    ev = _t(spark, sf_dir, "events").select(
        F.round(F.col("value") * 1000000.0).cast("bigint").alias("vq"),
        hash60(F.col("event_id").cast("string"), seed=_PB_SEED).alias("h"),
    )
    offsets = spark.range(_PB_B).select(
        F.col("id").cast("int").alias("b"),
        hash60(F.col("id").cast("string")).alias("ob"),
    )
    x = (
        ev.select(
            "vq", "h", F.explode(F.sequence(F.lit(0), F.lit(_PB_B - 1))).alias("b")
        )
        .join(F.broadcast(offsets), "b")
        .select("b", "vq", F.pmod(F.col("h") + F.col("ob"), F.lit(RESOLUTION)).alias("u"))
    )
    w: F.Column = F.lit(7)
    for k, t in reversed(list(enumerate(_PB_THRESH))):
        w = F.when(F.col("u") < t, F.lit(k)).otherwise(w)
    wd = w.cast("decimal(38,0)")
    rs = x.groupBy("b").agg(
        (
            F.sum(wd * F.col("vq")).cast("double")
            / F.sum(wd).cast("double")
            / 1000000.0
        ).alias("mean_b")
    )
    return rs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_resamples"),
        F.round(davg("mean_b"), 6).alias("mean_of_means"),
        F.round(F.percentile("mean_b", F.lit(0.05)), 6).alias("ci_lo"),
        F.round(F.percentile("mean_b", F.lit(0.95)), 6).alias("ci_hi"),
    )


_TOST_SEED = 7  # same split as stats_cuped_adjustment: arms are comparable
_TOST_MARGIN_FRAC = 0.05
def _sql_tost() -> str:
    arm = f"({sql_hash60('user_id::VARCHAR', seed=_TOST_SEED)} % 2)"
    phi = "1.0 / (1.0 + exp(-1.5976 * ({z}) - 0.07056 * ({z}) * ({z}) * ({z})))"
    return f"""
WITH u AS (
  SELECT user_id, {arm} AS arm,
         CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS yq
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS DOUBLE) AS n0,
         CAST(count(*) FILTER (WHERE arm = 1) AS DOUBLE) AS n1,
         CAST(sum(CAST(yq AS HUGEINT)) FILTER (WHERE arm = 0) AS DOUBLE) AS s0,
         CAST(sum(CAST(yq AS HUGEINT)) FILTER (WHERE arm = 1) AS DOUBLE) AS s1,
         CAST(sum(CAST(yq AS HUGEINT) * yq) FILTER (WHERE arm = 0) AS DOUBLE) AS ss0,
         CAST(sum(CAST(yq AS HUGEINT) * yq) FILTER (WHERE arm = 1) AS DOUBLE) AS ss1
  FROM u
),
d AS (
  SELECT n0, n1,
         s1 / n1 - s0 / n0 AS diff,
         sqrt((ss0 - s0 * s0 / n0) / (n0 - 1) / n0
              + (ss1 - s1 * s1 / n1) / (n1 - 1) / n1) AS se,
         {_TOST_MARGIN_FRAC} * abs((s0 + s1) / (n0 + n1)) AS delta
  FROM g
),
t AS (
  SELECT n0, n1, diff, se, delta,
         (diff + delta) / se AS t_lower,
         (diff - delta) / se AS t_upper
  FROM d
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       round(diff / 1000000.0, 6) AS diff,
       round(se / 1000000.0, 6) AS se,
       round(delta / 1000000.0, 6) AS delta,
       round(1.0 - {phi.format(z='t_lower')}, 6) AS p_lower,
       round({phi.format(z='t_upper')}, 6) AS p_upper,
       CAST(CASE WHEN 1.0 - {phi.format(z='t_lower')} <= 0.05
                  AND {phi.format(z='t_upper')} <= 0.05
            THEN 1 ELSE 0 END AS INT) AS equivalent
FROM t
"""
@register(
    "stats_tost_equivalence",
    oracle=_sql_tost(),
    tags=("stats", "experimentation", "equivalence", "tost"),
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST (two one-sided tests) equivalence readout between the two
    md5 hash-split arms (the CUPED entry's split): 'no significant
    difference' never demonstrates equivalence — TOST does, by testing
    H0: |diff| >= delta with two one-sided Welch z-tests against the
    margin delta = 5% of the grand mean of per-user total value.
    Equivalence is declared iff BOTH one-sided p-values <= 0.05 (i.e.
    the 90% CI for the difference sits inside +/-delta) — the readout
    an A/A gate or a non-inferiority launch check runs.

    Exactness: per-user totals are exact micro-unit integers; arm
    moments accumulate in HUGEINT/decimal; diff/se/delta and the two
    z-statistics are single double expressions; the normal CDF is the
    Bowling logistic closed form with identical expression text (the
    BH-FDR entry's convention).

    Scale shape: one groupBy-user shuffle, then ONE 6-statistic
    FILTERed aggregate — no window, no driver data; left-assoc folds
    nowhere needed (two-arm folds are single expressions)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 1000000.0).cast("bigint"))
            .cast("bigint")
            .alias("yq")
        )
        .select(
            F.pmod(
                hash60(F.col("user_id").cast("string"), seed=_TOST_SEED), F.lit(2)
            ).alias("arm"),
            "yq",
        )
    )
    yd = F.col("yq").cast("decimal(38,0)")
    a0 = F.col("arm") == 0
    a1 = F.col("arm") == 1
    g = u.agg(
        F.count(F.when(a0, F.lit(1))).cast("double").alias("n0"),
        F.count(F.when(a1, F.lit(1))).cast("double").alias("n1"),
        F.sum(F.when(a0, yd)).cast("double").alias("s0"),
        F.sum(F.when(a1, yd)).cast("double").alias("s1"),
        F.sum(F.when(a0, yd * F.col("yq"))).cast("double").alias("ss0"),
        F.sum(F.when(a1, yd * F.col("yq"))).cast("double").alias("ss1"),
    )
    d = g.select(
        "n0",
        "n1",
        (F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")).alias("diff"),
        F.sqrt(
            (F.col("ss0") - F.col("s0") * F.col("s0") / F.col("n0"))
            / (F.col("n0") - 1)
            / F.col("n0")
            + (F.col("ss1") - F.col("s1") * F.col("s1") / F.col("n1"))
            / (F.col("n1") - 1)
            / F.col("n1")
        ).alias("se"),
        (
            F.lit(_TOST_MARGIN_FRAC)
            * F.abs((F.col("s0") + F.col("s1")) / (F.col("n0") + F.col("n1")))
        ).alias("delta"),
    )
    t = d.select(
        "n0",
        "n1",
        "diff",
        "se",
        "delta",
        ((F.col("diff") + F.col("delta")) / F.col("se")).alias("t_lower"),
        ((F.col("diff") - F.col("delta")) / F.col("se")).alias("t_upper"),
    )

    def phi(z: F.Column) -> F.Column:
        return F.lit(1.0) / (
            F.lit(1.0) + F.exp(F.lit(-1.5976) * z - F.lit(0.07056) * z * z * z)
        )

    p_lower = F.lit(1.0) - phi(F.col("t_lower"))
    p_upper = phi(F.col("t_upper"))
    return t.select(
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.round(F.col("diff") / 1000000.0, 6).alias("diff"),
        F.round(F.col("se") / 1000000.0, 6).alias("se"),
        F.round(F.col("delta") / 1000000.0, 6).alias("delta"),
        F.round(p_lower, 6).alias("p_lower"),
        F.round(p_upper, 6).alias("p_upper"),
        F.when((p_lower <= 0.05) & (p_upper <= 0.05), 1)
        .otherwise(0)
        .cast("int")
        .alias("equivalent"),
    )


_WILSON_Z = 1.96
_WILSON_THRESHOLD = 5000.0
def _sql_wilson() -> str:
    z = _WILSON_Z
    return f"""
WITH g AS (
  SELECT c_nationkey,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(count(*) FILTER (WHERE c_acctbal > {_WILSON_THRESHOLD})
              AS DOUBLE) AS k
  FROM customer GROUP BY 1
),
w AS (
  SELECT c_nationkey, n, k, k / n AS p,
         1.0 + {z} * {z} / n AS dn,
         (k / n + {z} * {z} / (2.0 * n)) AS ctr,
         {z} * sqrt((k / n) * (1.0 - k / n) / n
                    + {z} * {z} / (4.0 * n * n)) AS hw
  FROM g
)
SELECT CAST(c_nationkey AS INT) AS nationkey,
       CAST(n AS BIGINT) AS n_customers, CAST(k AS BIGINT) AS k_high,
       round(p, 6) AS p_hat,
       round((ctr - hw) / dn, 6) AS ci_lo,
       round((ctr + hw) / dn, 6) AS ci_hi
FROM w ORDER BY nationkey
"""
@register(
    "stats_wilson_ci_by_nation",
    oracle=_sql_wilson(),
    tags=("stats", "proportion", "confidence-interval"),
)
def stats_wilson_ci_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for each nation's
    high-balance customer share (acctbal > 5000) — the interval of
    choice for proportions (never escapes [0,1], stays calibrated at
    small n and extreme p where the Wald interval collapses); the
    per-segment readout dashboards should use instead of p ± 1.96 se.

    Exactness: n and k are exact counts; center, half-width and the
    denominator 1 + z^2/n are single double expressions with identical
    association order on both engines — no iteration, no special
    functions beyond sqrt.

    Scale shape: ONE map-side-combined FILTERed groupBy(nation); the
    interval algebra is row-local on the 25-row group frame. Nothing
    else — the cheapest possible per-segment readout plan."""
    cust = _t(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.when(F.col("c_acctbal") > _WILSON_THRESHOLD, F.lit(1)))
        .cast("double")
        .alias("k"),
    )
    z = F.lit(_WILSON_Z)
    p = F.col("k") / F.col("n")
    dn = F.lit(1.0) + z * z / F.col("n")
    ctr = F.col("k") / F.col("n") + z * z / (F.lit(2.0) * F.col("n"))
    hw = z * F.sqrt(
        (F.col("k") / F.col("n")) * (F.lit(1.0) - F.col("k") / F.col("n"))
        / F.col("n")
        + z * z / (F.lit(4.0) * F.col("n") * F.col("n"))
    )
    w = g.select(
        "c_nationkey",
        "n",
        "k",
        p.alias("p"),
        dn.alias("dn"),
        ctr.alias("ctr"),
        hw.alias("hw"),
    )
    return w.select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("k").cast("bigint").alias("k_high"),
        F.round("p", 6).alias("p_hat"),
        F.round((F.col("ctr") - F.col("hw")) / F.col("dn"), 6).alias("ci_lo"),
        F.round((F.col("ctr") + F.col("hw")) / F.col("dn"), 6).alias("ci_hi"),
    ).orderBy("nationkey")


# Bowling et al.'s logistic approximation to the normal CDF — the one
# p-value literal of every stats entry (BH-FDR, TOST, SRM, power, ...):
# identical expression text on both engines.
_PHI = "1.0 / (1.0 + exp(-1.5976 * ({z}) - 0.07056 * ({z}) * ({z}) * ({z})))"
_MCN_STOPWORDS = "('the', 'a', 'of', 'and', 'is')"
_MCN_THRESHOLD = 0.08  # classifier A: the eval_cohens_kappa decision rule
def _sql_mcnemar() -> str:
    toks = tx.sql_tokens("text")
    phi = _PHI.format(z="sqrt((abs(CAST(b AS DOUBLE) - c) - 1.0) "
                        "* (abs(CAST(b AS DOUBLE) - c) - 1.0) / (b + c))")
    return f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
         CASE WHEN round(len(list_filter({toks}, t -> t IN {_MCN_STOPWORDS}))
                      / CAST(len({toks}) AS DOUBLE), 9) >= {_MCN_THRESHOLD}
              THEN 1 ELSE 0 END AS pa,
         CASE WHEN len(list_filter({toks}, t -> t = 'the')) > 0
              THEN 1 ELSE 0 END AS pb
  FROM documents
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE pa = truth AND pb = truth) AS BIGINT)
           AS both_right,
         CAST(count(*) FILTER (WHERE pa = truth AND pb <> truth) AS BIGINT) AS b,
         CAST(count(*) FILTER (WHERE pa <> truth AND pb = truth) AS BIGINT) AS c,
         CAST(count(*) FILTER (WHERE pa <> truth AND pb <> truth) AS BIGINT)
           AS both_wrong
  FROM scored
)
SELECT n, both_right, b, c, both_wrong,
       round((abs(CAST(b AS DOUBLE) - c) - 1.0)
             * (abs(CAST(b AS DOUBLE) - c) - 1.0) / (b + c), 9) AS chi2_cc,
       round(2.0 * (1.0 - {phi}), 6) AS p_value
FROM c
"""
@register(
    "stats_mcnemar_test",
    oracle=_sql_mcnemar(),
    tags=("stats", "eval", "paired-test", "mcnemar"),
)
def stats_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (continuity-corrected) comparing two lang-ID
    classifiers on the SAME documents: classifier A = the thresholded
    stopword-ratio rule (``eval_cohens_kappa``'s 9-dp decision
    boundary), classifier B = presence of the token 'the'. Accuracy
    deltas on paired predictions must be tested on the DISCORDANT
    pairs only — chi2 = (|b-c|-1)^2/(b+c) where b = A right & B wrong,
    c = A wrong & B right — the standard readout for "is the new model
    actually better on the same eval set". Two-sided p via the Bowling
    logistic CDF (the BH-FDR/TOST convention).

    The whole statistic is ONE map-side-combinable aggregate producing
    five exact BIGINT cells; chi2 and p are single double expressions
    over those integers with identical text on both engines. At 100 TB
    this is one scan, one 5-cell combine — no shuffle wider than the
    final 1-row reduce."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("truth"),
        tx.tokens("text").alias("toks"),
    )
    stop = F.filter(F.col("toks"), lambda t: t.isin("the", "a", "of", "and", "is"))
    the = F.filter(F.col("toks"), lambda t: t == "the")
    scored = base.select(
        "truth",
        (
            F.round(F.size(stop) / F.size("toks").cast("double"), 9)
            >= _MCN_THRESHOLD
        ).cast("int").alias("pa"),
        (F.size(the) > 0).cast("int").alias("pb"),
    )
    c = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when((F.col("pa") == F.col("truth")) & (F.col("pb") == F.col("truth")), 1))
        .cast("bigint")
        .alias("both_right"),
        F.count(F.when((F.col("pa") == F.col("truth")) & (F.col("pb") != F.col("truth")), 1))
        .cast("bigint")
        .alias("b"),
        F.count(F.when((F.col("pa") != F.col("truth")) & (F.col("pb") == F.col("truth")), 1))
        .cast("bigint")
        .alias("c"),
        F.count(F.when((F.col("pa") != F.col("truth")) & (F.col("pb") != F.col("truth")), 1))
        .cast("bigint")
        .alias("both_wrong"),
    )
    diff = F.abs(F.col("b").cast("double") - F.col("c")) - F.lit(1.0)
    chi2 = diff * diff / (F.col("b") + F.col("c"))
    z = F.sqrt(chi2)
    phi = 1.0 / (
        1.0 + F.exp(F.lit(-1.5976) * z - F.lit(0.07056) * z * z * z)
    )
    return c.select(
        "n",
        "both_right",
        "b",
        "c",
        "both_wrong",
        F.round(chi2, 9).alias("chi2_cc"),
        F.round(2.0 * (1.0 - phi), 6).alias("p_value"),
    )


_EFFECT_SEED = 7  # the CUPED/TOST split: arms are comparable across entries
def _sql_cohens_d() -> str:
    arm = f"({sql_hash60('user_id::VARCHAR', seed=_EFFECT_SEED)} % 2)"
    return f"""
WITH u AS (
  SELECT user_id, {arm} AS arm,
         CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS yq
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS DOUBLE) AS n0,
         CAST(count(*) FILTER (WHERE arm = 1) AS DOUBLE) AS n1,
         CAST(sum(CAST(yq AS HUGEINT)) FILTER (WHERE arm = 0) AS DOUBLE) AS s0,
         CAST(sum(CAST(yq AS HUGEINT)) FILTER (WHERE arm = 1) AS DOUBLE) AS s1,
         CAST(sum(CAST(yq AS HUGEINT) * yq) FILTER (WHERE arm = 0) AS DOUBLE)
           AS ss0,
         CAST(sum(CAST(yq AS HUGEINT) * yq) FILTER (WHERE arm = 1) AS DOUBLE)
           AS ss1
  FROM u
),
d AS (
  SELECT n0, n1,
         s1 / n1 - s0 / n0 AS diff,
         sqrt(((ss0 - s0 * s0 / n0) + (ss1 - s1 * s1 / n1))
              / (n0 + n1 - 2.0)) AS sp
  FROM g
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       round(diff / 1000000.0, 6) AS diff,
       round(sp / 1000000.0, 6) AS pooled_sd,
       round(diff / sp, 9) AS cohens_d,
       round((diff / sp) * (1.0 - 3.0 / (4.0 * (n0 + n1) - 9.0)), 9)
         AS hedges_g
FROM d
"""
@register(
    "stats_cohens_d_effect",
    oracle=_sql_cohens_d(),
    tags=("stats", "experimentation", "effect-size"),
)
def stats_cohens_d_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g — the standardized effect sizes that a
    significance test alone never reports — between the two md5
    hash-split arms on per-user total event value (the CUPED/TOST
    fixture: same seed, so the three experimentation readouts describe
    the SAME experiment). d = (mean1 - mean0) / pooled SD with the
    pooled variance over (n0 + n1 - 2) df; Hedges' g applies the
    small-sample bias correction J = 1 - 3/(4N - 9).

    Exactness: per-user totals are exact micro-unit integers; the six
    FILTERed moments accumulate in HUGEINT/decimal(38,0); diff, the
    pooled SD, and both effect sizes are single double expressions with
    identical association order on both engines (the TOST expression
    discipline).

    Scale shape: one groupBy-user shuffle (map-side combined), then ONE
    6-statistic FILTERed aggregate to a single row — no window, no
    driver data."""
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 1000000.0).cast("bigint"))
            .cast("bigint")
            .alias("yq")
        )
        .select(
            F.pmod(
                hash60(F.col("user_id").cast("string"), seed=_EFFECT_SEED),
                F.lit(2),
            ).alias("arm"),
            "yq",
        )
    )
    yd = F.col("yq").cast("decimal(38,0)")
    g = u.agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("double").alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("double").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, yd)).cast("double").alias("s0"),
        F.sum(F.when(F.col("arm") == 1, yd)).cast("double").alias("s1"),
        F.sum(F.when(F.col("arm") == 0, yd * F.col("yq"))).cast("double").alias("ss0"),
        F.sum(F.when(F.col("arm") == 1, yd * F.col("yq"))).cast("double").alias("ss1"),
    )
    diff = F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")
    sp = F.sqrt(
        (
            (F.col("ss0") - F.col("s0") * F.col("s0") / F.col("n0"))
            + (F.col("ss1") - F.col("s1") * F.col("s1") / F.col("n1"))
        )
        / (F.col("n0") + F.col("n1") - 2.0)
    )
    d = g.select("n0", "n1", diff.alias("diff"), sp.alias("sp"))
    j = 1.0 - 3.0 / (4.0 * (F.col("n0") + F.col("n1")) - 9.0)
    return d.select(
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.round(F.col("diff") / 1000000.0, 6).alias("diff"),
        F.round(F.col("sp") / 1000000.0, 6).alias("pooled_sd"),
        F.round(F.col("diff") / F.col("sp"), 9).alias("cohens_d"),
        F.round((F.col("diff") / F.col("sp")) * j, 9).alias("hedges_g"),
    )


def _sql_gtest() -> str:
    exp = "(CAST(r.nl AS DOUBLE) * ct.ns) / t.n"
    return f"""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
),
rowt AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM documents GROUP BY 1),
colt AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM documents GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT lang) AS BIGINT) AS l,
         CAST(count(DISTINCT source) AS BIGINT) AS s
  FROM documents
)
SELECT round(2.0 * CAST(sum(CAST(round(
           CAST(c.o AS DOUBLE) * ln(CAST(c.o AS DOUBLE) / ({exp})) * 1e9)
           AS HUGEINT)) AS DOUBLE) / 1e9, 6) AS g_stat,
       min((t.l - 1) * (t.s - 1)) AS dof,
       min(t.n) AS n
FROM cells c
JOIN rowt r USING (lang)
JOIN colt ct USING (source)
CROSS JOIN tot t
ORDER BY 1
"""
@register(
    "stats_gtest_independence",
    oracle=_sql_gtest(),
    tags=("stats", "gtest", "contingency"),
)
def stats_gtest_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence on the lang x source contingency table —
    the log-likelihood-ratio twin of ``stats_chi2_lang_source`` (same
    marginal machinery, same expected-count expression text): G = 2 ·
    Σ O·ln(O/E). Preferred over Pearson when any cell's O/E ratio is
    large, and the form whose cell terms ADD across partitions of the
    data (the property mutual-information / feature-selection pipelines
    exploit). Zero-count cells contribute no term by construction
    (absent from the observed-cells frame), matching the 0·ln0 = 0
    convention.

    Exactness: each cell's O·ln(O/E) is nano-quantized BEFORE the
    cross-cell sum (HUGEINT/decimal accumulator), so G is
    partitioning- and engine-independent; E uses the identical
    (row_total * col_total)/N double expression as the chi-square
    entry. Scale: one scan per marginal, every post-scan frame is
    (langs x sources)-sized."""
    docs = _t(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rowt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    colt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    tot = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("lang").alias("l"),
        F.countDistinct("source").alias("s"),
    )
    exp = (F.col("nl").cast("double") * F.col("ns")) / F.col("n")
    term = F.round(
        F.col("o").cast("double") * F.log(F.col("o").cast("double") / exp) * 1e9
    ).cast("decimal(38,0)")
    joined = (
        cells.join(rowt, "lang")
        .join(colt, "source")
        .crossJoin(F.broadcast(tot))
    )
    return joined.agg(
        F.round(2.0 * F.sum(term).cast("double") / 1e9, 6).alias("g_stat"),
        F.min((F.col("l") - 1) * (F.col("s") - 1)).alias("dof"),
        F.min("n").alias("n"),
    ).orderBy("g_stat")


_RIDGE_LAMBDA_FRAC = 0.1  # lambda = 0.1 * n on the quantized-unit grid
def _sql_ridge() -> str:
    lam = f"({_RIDGE_LAMBDA_FRAC} * n)"
    det = f"((s11c + {lam}) * (s22c + {lam}) - s12c * s12c)"
    return f"""
WITH q AS (
  SELECT CAST(round(l_quantity * 100.0) AS BIGINT) AS x1,
         CAST(round(l_discount * 10000.0) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100.0) AS BIGINT) AS y
  FROM lineitem
),
g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
         CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
         CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
         CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
         CAST(sum(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y
  FROM q
),
c AS (
  SELECT n, s1, s2, sy,
         s11 - s1 * s1 / n AS s11c,
         s22 - s2 * s2 / n AS s22c,
         s12 - s1 * s2 / n AS s12c,
         s1y - s1 * sy / n AS s1yc,
         s2y - s2 * sy / n AS s2yc
  FROM g
),
b AS (
  SELECT n, s1, s2, sy,
         (s1yc * (s22c + {lam}) - s12c * s2yc) / {det} AS b1,
         ((s11c + {lam}) * s2yc - s12c * s1yc) / {det} AS b2
  FROM c
)
SELECT CAST(n AS BIGINT) AS n,
       round({lam} / n, 6) AS lambda_per_row,
       round((sy / n - b1 * (s1 / n) - b2 * (s2 / n)) / 100.0, 6) AS beta0,
       round(b1, 6) AS beta1,
       round(b2 * 100.0, 6) AS beta2
FROM b
"""
@register(
    "ml_ridge_normal_equations",
    oracle=_sql_ridge(),
    tags=("ml", "regression", "ridge"),
)
def ml_ridge_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge (L2-regularized) regression on ``regression_multiple_ols``'s
    fixture — extendedprice ~ quantity + discount — via the regularized
    normal equations (X'X_centered + lambda·I) beta = X'y_centered,
    solved in closed form on the 2x2 centered-moment matrix. The
    intercept is NOT penalized (the standard convention: center first,
    shrink the slopes, recover beta0 from the means). lambda scales
    with n (0.1·n on the quantized grid) so the shrinkage strength is
    row-count-invariant — the hyperparameter contract a distributed
    trainer needs.

    Exactness: the nine sufficient statistics accumulate the SAME
    exact HUGEINT/decimal(38,0) integers as the OLS entry; centering,
    the 2x2 Cramer solve, and the descaling are single double
    expressions with identical association order on both engines.

    Scale shape: ONE map-side-combined moment pass over the fact table,
    then row-local algebra on a 1-row frame — the one-pass distributed-
    ML recipe (same as OLS; regularization costs nothing extra)."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.select(
        F.round(F.col("l_quantity") * 100.0).cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 10000.0).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100.0).cast("bigint").alias("y"),
    )
    d1 = F.col("x1").cast("decimal(38,0)")
    d2 = F.col("x2").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    g = q.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d1).cast("double").alias("s1"),
        F.sum(d2).cast("double").alias("s2"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(d1 * F.col("x1")).cast("double").alias("s11"),
        F.sum(d2 * F.col("x2")).cast("double").alias("s22"),
        F.sum(d1 * F.col("x2")).cast("double").alias("s12"),
        F.sum(d1 * F.col("y")).cast("double").alias("s1y"),
        F.sum(d2 * F.col("y")).cast("double").alias("s2y"),
    )
    c = g.select(
        "n",
        "s1",
        "s2",
        "sy",
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("s11c"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("s22c"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("s12c"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("s1yc"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("s2yc"),
    )
    lam = F.lit(_RIDGE_LAMBDA_FRAC) * F.col("n")
    det = (F.col("s11c") + lam) * (F.col("s22c") + lam) - F.col("s12c") * F.col(
        "s12c"
    )
    b1 = (F.col("s1yc") * (F.col("s22c") + lam) - F.col("s12c") * F.col("s2yc")) / det
    b2 = ((F.col("s11c") + lam) * F.col("s2yc") - F.col("s12c") * F.col("s1yc")) / det
    b = c.select("n", "s1", "s2", "sy", b1.alias("b1"), b2.alias("b2"))
    return b.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.lit(_RIDGE_LAMBDA_FRAC) * F.col("n") / F.col("n"), 6).alias(
            "lambda_per_row"
        ),
        F.round(
            (
                F.col("sy") / F.col("n")
                - F.col("b1") * (F.col("s1") / F.col("n"))
                - F.col("b2") * (F.col("s2") / F.col("n"))
            )
            / 100.0,
            6,
        ).alias("beta0"),
        F.round(F.col("b1"), 6).alias("beta1"),
        F.round(F.col("b2") * 100.0, 6).alias("beta2"),
    )


_SRM_SEED = 7  # the CUPED/TOST/effect-size split — the one being audited
_SRM_ALPHA = 0.001  # the conventional SRM alarm level
def _sql_srm() -> str:
    arm = f"({sql_hash60('user_id::VARCHAR', seed=_SRM_SEED)} % 2)"
    phi = _PHI.format(z="sqrt(chi2)")
    return f"""
WITH u AS (
  SELECT user_id, {arm} AS arm FROM events GROUP BY 1, 2
),
c AS (
  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0,
         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1
  FROM u
),
s AS (
  SELECT n0, n1, (n0 + n1) / 2.0 AS expected,
         (n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0) / ((n0 + n1) / 2.0)
           + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0) / ((n0 + n1) / 2.0)
           AS chi2
  FROM c
)
SELECT n0, n1, round(expected, 1) AS expected_per_arm,
       round(chi2, 9) AS chi2,
       round(2.0 * (1.0 - {phi}), 6) AS p_value,
       CAST(CASE WHEN 2.0 * (1.0 - {phi}) < {_SRM_ALPHA} THEN 1 ELSE 0 END
            AS INT) AS srm_detected
FROM s
"""
@register(
    "stats_srm_check",
    oracle=_sql_srm(),
    tags=("stats", "experimentation", "srm", "data-quality"),
)
def stats_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate on the md5 hash split (the SAME
    seed-7 split the CUPED / TOST / effect-size entries read out): a
    1-df chi-square goodness-of-fit of the observed per-arm unit counts
    against the designed 50/50 allocation, alarmed at p < 0.001 — the
    FIRST check every experimentation platform runs, because a split
    that fails SRM invalidates every downstream readout. Unit = user
    (the randomization unit), counted once regardless of event volume.

    Exactness: the two arm counts are exact BIGINTs from one distinct
    aggregate; chi2 and p (Bowling logistic CDF, the BH-FDR/TOST
    convention) are single double expressions over those integers.

    Scale shape: one groupBy(user, arm) distinct shuffle (map-side
    combined), then a 2-cell combine to one row."""
    ev = _t(spark, sf_dir, "events").select("user_id")
    u = ev.groupBy(
        "user_id",
        F.pmod(
            hash60(F.col("user_id").cast("string"), seed=_SRM_SEED), F.lit(2)
        ).alias("arm"),
    ).agg(F.lit(1).alias("one"))
    c = u.agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("n1"),
    )
    expected = (F.col("n0") + F.col("n1")) / 2.0
    chi2 = (F.col("n0") - expected) * (F.col("n0") - expected) / expected + (
        F.col("n1") - expected
    ) * (F.col("n1") - expected) / expected
    s = c.select("n0", "n1", expected.alias("expected"), chi2.alias("chi2"))
    z = F.sqrt(F.col("chi2"))
    phi = 1.0 / (1.0 + F.exp(F.lit(-1.5976) * z - F.lit(0.07056) * z * z * z))
    p = 2.0 * (1.0 - phi)
    return s.select(
        "n0",
        "n1",
        F.round(F.col("expected"), 1).alias("expected_per_arm"),
        F.round(F.col("chi2"), 9).alias("chi2"),
        F.round(p, 6).alias("p_value"),
        (p < _SRM_ALPHA).cast("int").alias("srm_detected"),
    )


def _sql_hhi() -> str:
    return """
WITH rev AS (
  SELECT date_trunc('month', l_shipdate) AS month, l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
                       AS BIGINT)) AS BIGINT) AS r
  FROM lineitem GROUP BY 1, 2
),
m AS (
  SELECT month,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(CAST(r AS HUGEINT)) AS DOUBLE) AS tot,
         CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE) AS ssq
  FROM rev GROUP BY month
)
SELECT month, n_suppliers,
       round(tot / 100.0, 2) AS total_revenue,
       round(ssq / (tot * tot), 9) AS hhi,
       round((tot * tot) / ssq, 6) AS effective_suppliers
FROM m ORDER BY month
"""
@register(
    "stats_hhi_concentration",
    oracle=_sql_hhi(),
    tags=("stats", "finance", "concentration", "market"),
)
def stats_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of monthly supplier revenue:
    HHI = Σ share_i² — the antitrust/market-structure statistic — plus
    its reciprocal, the 'effective number of suppliers' (the
    participation-ratio form ecology and portfolio analytics use).
    ``parts_abc_pareto`` answers 'how much do the top sellers own';
    HHI answers 'how concentrated is the whole distribution' in one
    number per month.

    Exactness: per-(month, supplier) revenue is an exact integer cents
    sum; HHI = Σr_i² / (Σr_i)² is computed from TWO exact
    HUGEINT/decimal aggregates of those integers — no per-share
    division, no quantization anywhere — so the ratio is a single
    double expression over exact integers on both engines.

    Scale shape: one map-side-combined groupBy(month, supplier), then a
    months-sized aggregate; no window, no broadcast needed."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("month"),
        "l_suppkey",
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("r")
    )
    rd = F.col("r").cast("decimal(38,0)")
    m = rev.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum(rd).cast("double").alias("tot"),
        F.sum(rd * F.col("r")).cast("double").alias("ssq"),
    )
    return m.select(
        "month",
        "n_suppliers",
        F.round(F.col("tot") / 100.0, 2).alias("total_revenue"),
        F.round(F.col("ssq") / (F.col("tot") * F.col("tot")), 9).alias("hhi"),
        F.round((F.col("tot") * F.col("tot")) / F.col("ssq"), 6).alias(
            "effective_suppliers"
        ),
    ).orderBy("month")


_POWER_SEED = 7  # the CUPED/TOST/SRM split — designing for the same experiment
# z_{alpha/2} at alpha=0.05 and z_beta at 80% power, injected as IDENTICAL
# decimal literals on both engines (quantile functions differ per libm).
_Z_ALPHA = "1.959963984540054"
_Z_BETA = "0.8416212335729143"
_MDE_REL_TARGET = 0.02  # size the experiment for a 2% lift
def _sql_power() -> str:
    arm = f"({sql_hash60('user_id::VARCHAR', seed=_POWER_SEED)} % 2)"
    return f"""
WITH u AS (
  SELECT user_id, {arm} AS arm,
         CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS yq
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS DOUBLE) AS n0,
         CAST(count(*) FILTER (WHERE arm = 1) AS DOUBLE) AS n1,
         CAST(sum(CAST(yq AS HUGEINT)) AS DOUBLE) AS s,
         CAST(sum(CAST(yq AS HUGEINT) * yq) AS DOUBLE) AS ss,
         CAST(sum(CAST(yq AS HUGEINT)) FILTER (WHERE arm = 0) AS DOUBLE) AS s0,
         CAST(sum(CAST(yq AS HUGEINT)) FILTER (WHERE arm = 1) AS DOUBLE) AS s1,
         CAST(sum(CAST(yq AS HUGEINT) * yq) FILTER (WHERE arm = 0) AS DOUBLE)
           AS ss0,
         CAST(sum(CAST(yq AS HUGEINT) * yq) FILTER (WHERE arm = 1) AS DOUBLE)
           AS ss1
  FROM u
),
d AS (
  SELECT n0, n1, s / (n0 + n1) AS mean_y,
         sqrt(((ss0 - s0 * s0 / n0) + (ss1 - s1 * s1 / n1))
              / (n0 + n1 - 2.0)) AS sp
  FROM g
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       round(mean_y / 1000000.0, 6) AS mean_y,
       round(sp / 1000000.0, 6) AS pooled_sd,
       round(({_Z_ALPHA} + {_Z_BETA}) * sp * sqrt(1.0 / n0 + 1.0 / n1)
             / 1000000.0, 6) AS mde_abs,
       round(({_Z_ALPHA} + {_Z_BETA}) * sp * sqrt(1.0 / n0 + 1.0 / n1)
             / mean_y, 9) AS mde_rel,
       CAST(ceil(2.0 * sp * sp
                 * ({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})
                 / (({_MDE_REL_TARGET} * mean_y) * ({_MDE_REL_TARGET} * mean_y)))
            AS BIGINT) AS n_required_per_arm
FROM d
"""
@register(
    "stats_power_mde",
    oracle=_sql_power(),
    tags=("stats", "experimentation", "power", "mde"),
)
def stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis for the seed-7 experiment the CUPED / TOST /
    effect-size / SRM entries read out: the minimum detectable effect
    at the CURRENT per-arm sample sizes (two-sided alpha = 0.05, 80%
    power: MDE = (z_a2 + z_b) · s_p · √(1/n0 + 1/n1)) and the required
    per-arm n to detect a 2% lift of the grand mean (n = 2 s²(z_a2 +
    z_b)²/δ²) — the DESIGN-side readout that decides whether an
    experiment is worth running before any effect is estimated.

    Exactness: the same exact HUGEINT/decimal moment machinery as the
    TOST entry (per-user micro-unit totals, FILTERed arm moments);
    the two z-quantiles are injected as IDENTICAL decimal literals on
    both engines (quantile functions are libm-dependent); MDE and the
    sample size are single double expressions.

    Scale shape: one groupBy-user shuffle (map-side combined), ONE
    8-statistic FILTERed aggregate, row-local algebra on a 1-row
    frame."""
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 1000000.0).cast("bigint"))
            .cast("bigint")
            .alias("yq")
        )
        .select(
            F.pmod(
                hash60(F.col("user_id").cast("string"), seed=_POWER_SEED),
                F.lit(2),
            ).alias("arm"),
            "yq",
        )
    )
    yd = F.col("yq").cast("decimal(38,0)")
    g = u.agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("double").alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("double").alias("n1"),
        F.sum(yd).cast("double").alias("s"),
        F.sum(yd * F.col("yq")).cast("double").alias("ss"),
        F.sum(F.when(F.col("arm") == 0, yd)).cast("double").alias("s0"),
        F.sum(F.when(F.col("arm") == 1, yd)).cast("double").alias("s1"),
        F.sum(F.when(F.col("arm") == 0, yd * F.col("yq"))).cast("double").alias("ss0"),
        F.sum(F.when(F.col("arm") == 1, yd * F.col("yq"))).cast("double").alias("ss1"),
    )
    mean_y = F.col("s") / (F.col("n0") + F.col("n1"))
    sp = F.sqrt(
        (
            (F.col("ss0") - F.col("s0") * F.col("s0") / F.col("n0"))
            + (F.col("ss1") - F.col("s1") * F.col("s1") / F.col("n1"))
        )
        / (F.col("n0") + F.col("n1") - 2.0)
    )
    d = g.select("n0", "n1", mean_y.alias("mean_y"), sp.alias("sp"))
    zsum = F.lit(float(_Z_ALPHA)) + F.lit(float(_Z_BETA))
    mde = zsum * F.col("sp") * F.sqrt(1.0 / F.col("n0") + 1.0 / F.col("n1"))
    delta = F.lit(_MDE_REL_TARGET) * F.col("mean_y")
    return d.select(
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.round(F.col("mean_y") / 1000000.0, 6).alias("mean_y"),
        F.round(F.col("sp") / 1000000.0, 6).alias("pooled_sd"),
        F.round(mde / 1000000.0, 6).alias("mde_abs"),
        F.round(mde / F.col("mean_y"), 9).alias("mde_rel"),
        F.ceil(2.0 * F.col("sp") * F.col("sp") * zsum * zsum / (delta * delta))
        .cast("bigint")
        .alias("n_required_per_arm"),
    )

def _sql_lognormal_ks() -> str:
    phi = _PHI.format(z="(v / 1e9 - mu) / sigma")
    return f"""
WITH q AS (
  SELECT CAST(round(ln(CAST(round(l_extendedprice * 100.0) AS BIGINT)) * 1e9)
              AS BIGINT) AS v
  FROM lineitem
),
dom AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
  FROM q GROUP BY v
),
fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE)
           / count(*) / 1e9 AS mu,
         sqrt((CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) / 1e18
               - count(*) * (CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE)
                             / count(*) / 1e9)
                          * (CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE)
                             / count(*) / 1e9))
              / (count(*) - 1)) AS sigma
  FROM q
),
ks AS (
  SELECT v, n, mu, sigma,
         greatest(abs(cum / n - {phi}),
                  abs((cum - cnt) / n - {phi})) AS d
  FROM dom, fit
)
SELECT CAST(n AS BIGINT) AS n, round(mu, 9) AS mu, round(sigma, 9) AS sigma,
       round(d, 9) AS ks_stat,
       round(v / 1e9, 9) AS ks_at_log_value
FROM ks ORDER BY d DESC, v LIMIT 1
"""
@register(
    "stats_lognormal_fit_ks",
    oracle=_sql_lognormal_ks(),
    tags=("stats", "distribution-fit", "ks", "scale-path"),
)
def stats_lognormal_fit_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal fit of extended price by log-moment matching (mu,
    sigma of ln cents) plus the one-sample Kolmogorov-Smirnov distance
    between the empirical CDF and the FITTED lognormal — the
    distribution-fitting readout a pricing/latency pipeline runs
    ('is this heavy tail lognormal enough to model?').
    ``stats_ks_test`` compares two samples; this compares sample vs
    model, which needs the exact ECDF at every distinct value.

    Exactness: log values are nano-quantized integers; the fit moments
    accumulate them in HUGEINT/decimal(38,0) (sum of squares ~1e27 —
    exact); the model CDF is the Bowling logistic closed form with
    identical expression text; the KS distance takes the sup over BOTH
    one-sided gaps (cum/n and (cum-cnt)/n) at every distinct value,
    and the argmax is a TakeOrdered over the (d desc, v) total order.

    Scale shape: the ECDF comes from the distributed distinct-domain
    prefix sum (``value_counts_cum``: range-repartitioned, partitioned
    windows, broadcast offsets — the _cuts machinery); the 1-row fit
    broadcasts onto the domain frame. The oracle's global window is
    the semantic spec only."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.select(
        F.round(
            F.log(F.round(F.col("l_extendedprice") * 100.0).cast("bigint").cast("double"))
            * 1e9
        )
        .cast("bigint")
        .alias("v")
    ).localCheckpoint(eager=True)  # feeds the domain AND the fit moments
    dom, _n = value_counts_cum(q, F.col("v"))
    vd = F.col("v").cast("decimal(38,0)")
    fit = q.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum(vd).cast("double") / F.count(F.lit(1)) / 1e9).alias("mu"),
        F.sqrt(
            (
                F.sum(vd * F.col("v")).cast("double") / 1e18
                - F.count(F.lit(1))
                * (F.sum(vd).cast("double") / F.count(F.lit(1)) / 1e9)
                * (F.sum(vd).cast("double") / F.count(F.lit(1)) / 1e9)
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("sigma"),
    )
    z = (F.col("v") / 1e9 - F.col("mu")) / F.col("sigma")
    cdf = 1.0 / (1.0 + F.exp(F.lit(-1.5976) * z - F.lit(0.07056) * z * z * z))
    ks = dom.crossJoin(F.broadcast(fit)).select(
        "v",
        "n",
        "mu",
        "sigma",
        F.greatest(
            F.abs(F.col("cum") / F.col("n") - cdf),
            F.abs((F.col("cum") - F.col("cnt")) / F.col("n") - cdf),
        ).alias("d"),
    )
    return (
        # argmax on the RAW d/v (matching the oracle's ORDER BY d DESC, v)
        # BEFORE the 9-dp rounding projection, so two domain values whose
        # d round to the same figure cannot select different rows per
        # engine.
        ks.orderBy(F.desc("d"), "v")
        .limit(1)
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("mu"), 9).alias("mu"),
            F.round(F.col("sigma"), 9).alias("sigma"),
            F.round(F.col("d"), 9).alias("ks_stat"),
            F.round(F.col("v") / 1e9, 9).alias("ks_at_log_value"),
        )
    )


_BB_SEED = 7  # the CUPED/TOST/SRM/power split
_BB_ALPHA0, _BB_BETA0 = 1.0, 1.0  # uniform prior
_Z95 = "1.959963984540054"  # 95% interval half-width in SDs (shared literal)
def _sql_beta_binomial() -> str:
    arm = f"({sql_hash60('user_id::VARCHAR', seed=_BB_SEED)} % 2)"
    phi = _PHI.format(z="(m1 - m0) / sqrt(v0 + v1)")
    return f"""
WITH u AS (
  SELECT user_id, {arm} AS arm,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM u GROUP BY arm
),
post AS (
  SELECT arm, n, conv,
         ({_BB_ALPHA0} + conv) AS a, ({_BB_BETA0} + n - conv) AS b
  FROM c
),
m AS (
  SELECT arm, n, conv,
         a / (a + b) AS pm,
         sqrt(a * b / ((a + b) * (a + b) * (a + b + 1.0))) AS ps
  FROM post
),
pair AS (
  SELECT max(CASE WHEN arm = 0 THEN pm END) AS m0,
         max(CASE WHEN arm = 1 THEN pm END) AS m1,
         max(CASE WHEN arm = 0 THEN ps * ps END) AS v0,
         max(CASE WHEN arm = 1 THEN ps * ps END) AS v1
  FROM m
)
SELECT m.arm, m.n, m.conv,
       round(m.pm, 9) AS posterior_mean,
       round(greatest(0.0, m.pm - {_Z95} * m.ps), 9) AS ci_lo,
       round(least(1.0, m.pm + {_Z95} * m.ps), 9) AS ci_hi,
       round({phi}, 6) AS p_treatment_beats_control
FROM m CROSS JOIN pair ORDER BY m.arm
"""
@register(
    "stats_bayes_beta_binomial",
    oracle=_sql_beta_binomial(),
    tags=("stats", "experimentation", "bayesian"),
)
def stats_bayes_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian conversion readout for the seed-7 experiment: per-arm
    user-level purchase conversion under a Beta(1,1) prior — posterior
    mean, 95% credible interval (normal approximation of the Beta, the
    same z-literal as the power entry, clamped to the [0,1] support so
    a near-saturated arm never reports a probability bound above 1),
    and P(treatment > control) via
    the normal approximation of the posterior difference (Bowling CDF)
    — the decision readout Bayesian A/B platforms publish next to the
    frequentist p-value (the probability statement stakeholders
    actually ask for). Unit = user; conversion = any purchase event.

    Exactness: conversion counts are exact BIGINTs (max-per-user then
    sum); every posterior quantity is a closed-form double expression
    over those integers with identical text on both engines (Beta
    mean/variance, the z and Phi literals shared with the
    power/TOST/FDR entries).

    Scale shape: one groupBy-user shuffle (map-side combined), a 2-row
    per-arm frame, a 1-row pairing broadcast back onto it."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("converted")
        )
        .select(
            F.pmod(
                hash60(F.col("user_id").cast("string"), seed=_BB_SEED), F.lit(2)
            ).alias("arm"),
            "converted",
        )
    )
    c = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    a = F.lit(_BB_ALPHA0) + F.col("conv")
    b = F.lit(_BB_BETA0) + F.col("n") - F.col("conv")
    m = c.select(
        "arm",
        "n",
        "conv",
        (a / (a + b)).alias("pm"),
        F.sqrt(a * b / ((a + b) * (a + b) * (a + b + 1.0))).alias("ps"),
    )
    pair = m.agg(
        F.max(F.when(F.col("arm") == 0, F.col("pm"))).alias("m0"),
        F.max(F.when(F.col("arm") == 1, F.col("pm"))).alias("m1"),
        F.max(F.when(F.col("arm") == 0, F.col("ps") * F.col("ps"))).alias("v0"),
        F.max(F.when(F.col("arm") == 1, F.col("ps") * F.col("ps"))).alias("v1"),
    )
    z = (F.col("m1") - F.col("m0")) / F.sqrt(F.col("v0") + F.col("v1"))
    phi = 1.0 / (1.0 + F.exp(F.lit(-1.5976) * z - F.lit(0.07056) * z * z * z))
    z95 = F.lit(float(_Z95))
    return (
        m.crossJoin(F.broadcast(pair))
        .select(
            "arm",
            "n",
            "conv",
            F.round(F.col("pm"), 9).alias("posterior_mean"),
            F.round(
                F.greatest(F.lit(0.0), F.col("pm") - z95 * F.col("ps")), 9
            ).alias("ci_lo"),
            F.round(
                F.least(F.lit(1.0), F.col("pm") + z95 * F.col("ps")), 9
            ).alias("ci_hi"),
            F.round(phi, 6).alias("p_treatment_beats_control"),
        )
        .orderBy("arm")
    )

def _sql_runs_test() -> str:
    phi = _PHI.format(z="abs(z)")
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
s AS (
  SELECT d, CASE WHEN x > xp THEN 1 ELSE 0 END AS up
  FROM led WHERE xp IS NOT NULL AND x <> xp
),
r AS (
  SELECT up, CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                    OR up <> lag(up) OVER (ORDER BY d)
             THEN 1 ELSE 0 END AS new_run
  FROM s
),
c AS (
  SELECT CAST(sum(new_run) AS BIGINT) AS runs,
         CAST(count(*) FILTER (WHERE up = 1) AS BIGINT) AS n_up,
         CAST(count(*) FILTER (WHERE up = 0) AS BIGINT) AS n_down
  FROM r
),
z AS (
  SELECT runs, n_up, n_down,
         1.0 + 2.0 * n_up * n_down / (n_up + n_down) AS mu,
         sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
              / ((CAST(n_up + n_down AS DOUBLE)) * (n_up + n_down)
                 * (n_up + n_down - 1.0))) AS sigma
  FROM c
),
zz AS (
  SELECT runs, n_up, n_down, mu, sigma, (runs - mu) / sigma AS z FROM z
)
SELECT runs, n_up, n_down,
       round(mu, 6) AS expected_runs,
       round(z, 9) AS z_stat,
       round(2.0 * (1.0 - {phi}), 6) AS p_value
FROM zz
"""
@register(
    "stats_runs_test",
    oracle=_sql_runs_test(),
    tags=("stats", "randomness", "timeseries"),
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the up/down direction sequence of
    daily revenue (flat days dropped — the standard tie handling):
    counts maximal runs of consecutive same-direction moves and tests
    them against the exact run-count mean/variance for a random
    arrangement of n_up ups and n_down downs. Too FEW runs = trending
    (momentum), too MANY = oscillating (mean reversion) — the
    randomness diagnostic that complements ``ts_mann_kendall_trend``
    (monotone trend) and ``ts_autocorrelation`` (linear memory).

    Exactness: directions are exact integer comparisons of exact cents
    totals; run starts come from one lag over the (day) total order;
    the z formula is a single double expression over three exact
    BIGINTs; two-sided p via the Bowling logistic CDF on |z|.

    Scale shape: one map-side-combined daily aggregate; both lag
    windows and the 1-row reduce run on the day-grain frame (the
    Sharpe/VaR discipline)."""
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
    s = led.filter(F.col("xp").isNotNull() & (F.col("x") != F.col("xp"))).select(
        "d", F.when(F.col("x") > F.col("xp"), 1).otherwise(0).alias("up")
    )
    r = s.select(
        "up",
        F.when(
            F.lag("up").over(w).isNull() | (F.col("up") != F.lag("up").over(w)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    c = r.agg(
        F.sum("new_run").cast("bigint").alias("runs"),
        F.count(F.when(F.col("up") == 1, 1)).cast("bigint").alias("n_up"),
        F.count(F.when(F.col("up") == 0, 1)).cast("bigint").alias("n_down"),
    )
    nu, nd = F.col("n_up"), F.col("n_down")
    mu = 1.0 + 2.0 * nu * nd / (nu + nd)
    sigma = F.sqrt(
        2.0
        * nu
        * nd
        * (2.0 * nu * nd - nu - nd)
        / ((nu + nd).cast("double") * (nu + nd) * (nu + nd - 1.0))
    )
    zz = c.select(
        "runs",
        "n_up",
        "n_down",
        mu.alias("mu"),
        sigma.alias("sigma"),
        ((F.col("runs") - mu) / sigma).alias("z"),
    )
    az = F.abs(F.col("z"))
    phi = 1.0 / (1.0 + F.exp(F.lit(-1.5976) * az - F.lit(0.07056) * az * az * az))
    return zz.select(
        "runs",
        "n_up",
        "n_down",
        F.round(F.col("mu"), 6).alias("expected_runs"),
        F.round(F.col("z"), 9).alias("z_stat"),
        F.round(2.0 * (1.0 - phi), 6).alias("p_value"),
    )


_LIFT_STOPWORDS = "('the', 'a', 'of', 'and', 'is')"
def _sql_lift_cuts() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         CAST(round(len(list_filter({toks}, t -> t IN {_LIFT_STOPWORDS}))
                      / CAST(len({toks}) AS DOUBLE) * 1e9)
              AS BIGINT) AS s9
  FROM documents
  WHERE len({toks}) > 0
),
{sql_cuts_ctes("scored", "s9", 10)},
cl AS (SELECT coalesce(list(c ORDER BY b), []) AS cs FROM cuts),
dec AS (
  SELECT label,
         CAST(11 - (1 + len(list_filter(cl.cs, x -> s9 > x))) AS BIGINT)
           AS decile
  FROM scored, cl
),
agg AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS pos
  FROM dec GROUP BY 1
)
SELECT decile, n, pos,
       round((pos / CAST(n AS DOUBLE))
             / (CAST(sum(pos) OVER () AS DOUBLE) / sum(n) OVER ()), 9) AS lift,
       round(CAST(sum(pos) OVER (ORDER BY decile) AS DOUBLE)
             / sum(pos) OVER (), 9) AS cum_gain,
       round((CAST(sum(pos) OVER (ORDER BY decile) AS DOUBLE)
              / sum(n) OVER (ORDER BY decile))
             / (CAST(sum(pos) OVER () AS DOUBLE) / sum(n) OVER ()), 9) AS cum_lift
FROM agg ORDER BY decile
"""
@register(
    "eval_lift_gains_deciles_cuts",
    oracle=_sql_lift_cuts(),
    tags=("eval", "ranking", "lift", "gains", "equidepth", "scale"),
)
def eval_lift_gains_deciles_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative gains on the EXACT-PERCENTILE-CUTS scale
    path — the 100 TB form of ``eval_lift_gains_deciles`` (which keeps
    the standard ``ntile(10)`` total order as the oracle-parity pin and
    was the last documented laptop-form plan in the catalog). Decile
    boundaries are exact order statistics of the score via the
    distributed prefix sum (operators/equidepth.py — no task ever sees
    the whole table, no un-partitioned Window anywhere in the plan);
    assignment is the map-only ``1 + sum(s > cut)`` flipped so decile 1
    holds the HIGHEST scores (the targeting convention). Ties sit in one
    decile wholesale — the warehouse equi-depth contract — so decile
    counts are equal only up to tie mass (vs ntile's forced-equal split
    of ties), which is exactly the semantics a campaign cut at "top 10%
    by score" actually applies.

    Cumulative gains WITHOUT a window (and without a constant-key join,
    which Catalyst constant-folds into a nested loop): the per-decile
    frame (≤10 rows, eagerly checkpointed) explodes each row to
    ``sequence(decile, 10)`` cover keys and re-aggregates — cumulative-
    through-d sums as one tiny map-side-combined shuffle; grand totals
    replicate the same way over ``sequence(1, 10)`` so both stitch back
    as KEYED broadcast hash joins on the decile. Scores quantize to
    BIGINT nano-ratios before the cut derivation so the domain groupBy
    is exact integer equality on both engines."""
    docs = _t(spark, sf_dir, "documents")
    # zero-token guard: an empty-token document would make
    # the stopword ratio 0/0 — NULL in Spark, raise/NaN in DuckDB — so
    # both programs exclude it identically before scoring.
    base = docs.select("lang", tx.tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    stop = F.filter(F.col("toks"), lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = base.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.round(F.size(stop) / F.size("toks").cast("double") * 1e9, 0)
        .cast("bigint")
        .alias("s9"),
    ).localCheckpoint(eager=True)  # feeds the cut derivation AND assignment
    cuts = equi_depth_cut_points(scored, F.col("s9"), 10)
    dec = scored.select(
        "label",
        (F.lit(11) - bucket_by_cuts(F.col("s9"), cuts)).alias("decile"),
    )
    agg = (
        dec.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("label").cast("bigint").alias("pos"),
        )
        .localCheckpoint(eager=True)  # ≤10 rows; feeds cover AND the join
    )
    cums = (
        agg.select(
            F.explode(F.sequence(F.col("decile"), F.lit(10))).alias("dc"),
            "n",
            "pos",
        )
        .groupBy("dc")
        .agg(
            F.sum("n").cast("bigint").alias("cum_n"),
            F.sum("pos").cast("bigint").alias("cum_pos"),
        )
    )
    tots = (
        agg.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("dt"),
            "n",
            "pos",
        )
        .groupBy("dt")
        .agg(
            F.sum("n").cast("bigint").alias("tot_n"),
            F.sum("pos").cast("bigint").alias("tot_pos"),
        )
    )
    base_rate = F.col("tot_pos").cast("double") / F.col("tot_n")
    return (
        agg.join(F.broadcast(cums), agg["decile"] == cums["dc"])
        .join(F.broadcast(tots), agg["decile"] == tots["dt"])
        .select(
            "decile",
            "n",
            "pos",
            F.round(
                (F.col("pos") / F.col("n").cast("double")) / base_rate, 9
            ).alias("lift"),
            F.round(
                F.col("cum_pos").cast("double") / F.col("tot_pos"), 9
            ).alias("cum_gain"),
            F.round(
                (F.col("cum_pos").cast("double") / F.col("cum_n")) / base_rate, 9
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )

_LB_MAX_LAG = 6
def _sql_ljung_box() -> str:
    leads = ", ".join(
        f"lead(x, {k}) OVER (ORDER BY h) AS x{k}" for k in range(1, _LB_MAX_LAG + 1)
    )
    nums = ",\n    ".join(
        f"CAST(sum(CAST(round((x - xbar) * (x{k} - xbar) * 1e9) AS BIGINT)) AS BIGINT)"
        f" AS num{k}"
        for k in range(1, _LB_MAX_LAG + 1)
    )
    qsum = " + ".join(
        f"(CAST(num{k} AS DOUBLE) / denom) * (CAST(num{k} AS DOUBLE) / denom)"
        f" / (nn - {k})"
        for k in range(1, _LB_MAX_LAG + 1)
    )
    df = float(_LB_MAX_LAG)
    wh_z = (
        f"(cbrt(q / {df}) - (1.0 - 2.0 / (9.0 * {df})))"
        f" / sqrt(2.0 / (9.0 * {df}))"
    )
    phi = _PHI.format(z="z")
    davg_x = SQL_DAVG.format(x="value")
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, {davg_x} AS x
  FROM events GROUP BY 1
),
m AS (SELECT {SQL_DAVG.format(x='x')} AS xbar, CAST(count(*) AS BIGINT) AS nn
      FROM hourly),
led AS (
  SELECT x, xbar, nn, {leads}
  FROM hourly, m
),
s AS (
  SELECT max(nn) AS nn,
    CAST(sum(CAST(round((x - xbar) * (x - xbar) * 1e9) AS BIGINT)) AS BIGINT) AS denom,
    {nums}
  FROM led
),
q AS (
  SELECT nn, CAST({_LB_MAX_LAG} AS BIGINT) AS df,
         nn * (nn + 2.0) * ({qsum}) AS q
  FROM s
),
z AS (SELECT nn, df, q, {wh_z} AS z FROM q)
SELECT nn AS n, df, round(q, 9) AS q_stat,
       round(1.0 - ({phi}), 6) AS p_value
FROM z
"""
@register(
    "stats_ljung_box",
    oracle=_sql_ljung_box(),
    tags=("stats", "timeseries", "ljung-box"),
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (lags 1..6) on the hourly mean-value
    series: Q = n(n+2) Σ r_k²/(n-k) with the p-value via the
    Wilson-Hilferty cube-root normal approximation of χ²(6) and the
    catalog's shared Bowling Φ — 'is this series white noise, or is the
    ACF telling the truth?', the readout published next to
    ``ts_autocorrelation``'s coefficients. Same construction as that
    entry: the series is an hourly aggregate FIRST (the ordered lead
    window runs over series cardinality, never raw events), each
    autocovariance term quantizes to a nano-grid integer, and every
    downstream number is a closed-form double expression over those
    integers, identical text on both engines.

    Scale shape: one map-side-combined hour groupBy, the 1-row series
    mean broadcast (scalar idiom), one bounded window sort producing
    all six leads, one 1-row reduce."""
    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(davg("value").alias("x"))
    )
    from pyspark.sql import Window

    m = hourly.agg(
        davg("x").alias("xbar"), F.count(F.lit(1)).cast("bigint").alias("nn")
    )
    w = Window.orderBy("h")
    led = hourly.crossJoin(F.broadcast(m)).select(
        "x",
        "xbar",
        "nn",
        *[F.lead("x", k).over(w).alias(f"x{k}") for k in range(1, _LB_MAX_LAG + 1)],
    )

    xbar = F.col("xbar")
    s = led.agg(
        F.max("nn").alias("nn"),
        nano_comoment(F.col("x"), F.col("x"), xbar).alias("denom"),
        *[
            nano_comoment(F.col("x"), F.col(f"x{k}"), xbar).alias(f"num{k}")
            for k in range(1, _LB_MAX_LAG + 1)
        ],
    )
    qsum = None
    for k in range(1, _LB_MAX_LAG + 1):
        rk = F.col(f"num{k}").cast("double") / F.col("denom")
        term = rk * rk / (F.col("nn") - F.lit(k))
        qsum = term if qsum is None else qsum + term
    dfl = float(_LB_MAX_LAG)
    q = s.select(
        "nn",
        F.lit(_LB_MAX_LAG).cast("bigint").alias("df"),
        (F.col("nn") * (F.col("nn") + F.lit(2.0)) * qsum).alias("q"),
    )
    z = (F.cbrt(F.col("q") / F.lit(dfl)) - (F.lit(1.0) - F.lit(2.0) / (9.0 * dfl))) / F.sqrt(
        F.lit(2.0 / (9.0 * dfl))
    )
    phi = 1.0 / (1.0 + F.exp(F.lit(-1.5976) * z - F.lit(0.07056) * z * z * z))
    return q.select(
        F.col("nn").alias("n"),
        "df",
        F.round("q", 9).alias("q_stat"),
        F.round(F.lit(1.0) - phi, 6).alias("p_value"),
    )

def _sql_cochran_armitage() -> str:
    phi = _PHI.format(z="abs(z)")
    return f"""
WITH g AS (
  SELECT (hour(ts) // 6) + 1 AS s,
         CAST(count(*) AS BIGINT) AS n_i,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS r_i
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(sum(r_i) AS BIGINT) AS r,
         CAST(sum(s * r_i) AS BIGINT) AS sr,
         CAST(sum(s * n_i) AS BIGINT) AS sn,
         CAST(sum(s * s * n_i) AS BIGINT) AS ssn
  FROM g
),
z AS (
  SELECT n, r,
         (sr - CAST(r AS DOUBLE) * sn / n)
           / sqrt((CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)
                  * (ssn - CAST(sn AS DOUBLE) * sn / n)) AS z
  FROM m
)
SELECT n, r, round(z, 9) AS z_stat,
       round(2.0 * (1.0 - ({phi})), 6) AS p_value
FROM z
"""
@register(
    "stats_cochran_armitage",
    oracle=_sql_cochran_armitage(),
    tags=("stats", "trend", "categorical"),
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test for purchase rate across the four
    ORDERED dayparts (night/morning/afternoon/evening, scores 1..4):
    does conversion rise monotonically through the day, as a trend —
    one degree of freedom — rather than the unordered heterogeneity
    ``stats_chi2_lang_source`` tests? T = Σs·r − R·Σs·n/N normalized by
    the score-weighted binomial variance; two-sided p via the shared
    Bowling Φ.

    Exactness: all five sufficient statistics are exact BIGINT sums
    over the 4-row daypart frame; z and p are closed-form doubles over
    those integers, identical text both engines.

    Scale shape: ONE map-side-combined groupBy to 4 rows, then a 1-row
    reduce. No joins, no windows."""
    ev = _t(spark, sf_dir, "events").select("ts", "event_type")
    g = ev.groupBy(((F.hour("ts") / 6).cast("int") + 1).alias("s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("r_i"),
    )
    m = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.col("s") * F.col("r_i")).cast("bigint").alias("sr"),
        F.sum(F.col("s") * F.col("n_i")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i")).cast("bigint").alias("ssn"),
    )
    rn = F.col("r").cast("double") / F.col("n")
    z = (F.col("sr") - F.col("r").cast("double") * F.col("sn") / F.col("n")) / F.sqrt(
        rn * (F.lit(1.0) - rn)
        * (F.col("ssn") - F.col("sn").cast("double") * F.col("sn") / F.col("n"))
    )
    az = F.abs(z)
    phi = 1.0 / (1.0 + F.exp(F.lit(-1.5976) * az - F.lit(0.07056) * az * az * az))
    return m.select(
        "n",
        "r",
        F.round(z, 9).alias("z_stat"),
        F.round(2.0 * (F.lit(1.0) - phi), 6).alias("p_value"),
    )

def _sql_friedman() -> str:
    davg_v = SQL_DAVG.format(x="value")
    phi = _PHI.format(z="z")
    return f"""
WITH cell AS (
  SELECT date_trunc('day', ts) AS d, event_type, {davg_v} AS x
  FROM events GROUP BY 1, 2
),
complete AS (
  SELECT d FROM cell GROUP BY d
  HAVING count(*) = (SELECT count(DISTINCT event_type) FROM events)
),
r AS (
  SELECT cell.d, event_type,
         CAST(2 * rank() OVER (PARTITION BY cell.d ORDER BY x)
              + count(*) OVER (PARTITION BY cell.d, x) - 1 AS BIGINT) AS mr2
  FROM cell JOIN complete USING (d)
),
rs AS (
  SELECT event_type, CAST(sum(mr2) AS BIGINT) AS r2_sum,
         CAST(count(*) AS BIGINT) AS n_blocks
  FROM r GROUP BY 1
),
q AS (
  SELECT CAST(max(n_blocks) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         12.0 / (max(n_blocks) * count(*) * (count(*) + 1))
           * sum((r2_sum / 2.0) * (r2_sum / 2.0))
           - 3.0 * max(n_blocks) * (count(*) + 1) AS q
  FROM rs
),
z AS (
  SELECT n, k, q,
         (cbrt(q / (k - 1)) - (1.0 - 2.0 / (9.0 * (k - 1))))
           / sqrt(2.0 / (9.0 * (k - 1))) AS z
  FROM q
)
SELECT n AS n_blocks, k AS k_treatments, round(q, 9) AS q_stat,
       round(1.0 - ({phi}), 6) AS p_value
FROM z
"""
@register(
    "stats_friedman_test",
    oracle=_sql_friedman(),
    tags=("stats", "nonparametric", "friedman"),
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: do the event types differ in mean value,
    BLOCKING by day? Each complete day ranks its k type means
    (midranks, doubled to stay integer — the Pettitt discipline), and
    Q = 12/(nk(k+1))·ΣR_j² − 3n(k+1) with the Wilson-Hilferty χ²(k−1)
    p-value — the repeated-measures complement to
    ``stats_kruskal_wallis`` (which pools all days and so confounds
    day-to-day level shifts with type differences; Friedman removes
    the block effect). Incomplete days (a type with zero events) are
    excluded — the standard complete-block contract.

    Exactness: cell means are the micro-quantized davg; doubled
    midranks and rank sums are exact BIGINTs; Q/z/p are identical
    closed-form doubles.

    Scale shape: one map-side-combined (day, type) groupBy; the rank
    window partitions BY DAY (k rows per partition — never a global
    sort); the rest is a k-row reduce."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    cell = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).agg(davg("value").alias("x"))
    # the type count rides as a 1-row broadcast scalar (the oracle's
    # scalar subquery) — no eager driver action during plan build
    kt = ev.agg(F.count_distinct(F.col("event_type")).alias("kt"))
    complete = (
        cell.groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(kt))
        .where(F.col("c") == F.col("kt"))
    ).select("d")
    r = cell.join(F.broadcast(complete), "d").select(
        "event_type",
        (
            2 * F.rank().over(Window.partitionBy("d").orderBy("x"))
            + F.count(F.lit(1)).over(Window.partitionBy("d", "x"))
            - 1
        )
        .cast("bigint")
        .alias("mr2"),
    )
    rs = r.groupBy("event_type").agg(
        F.sum("mr2").cast("bigint").alias("r2_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )
    q = rs.agg(
        F.max("n_blocks").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        (
            F.lit(12.0)
            / (F.max("n_blocks") * F.count(F.lit(1)) * (F.count(F.lit(1)) + 1))
            * F.sum((F.col("r2_sum") / 2.0) * (F.col("r2_sum") / 2.0))
            - 3.0 * F.max("n_blocks") * (F.count(F.lit(1)) + 1)
        ).alias("q"),
    )
    dfq = (F.col("k") - 1).cast("double")
    z = (F.cbrt(F.col("q") / dfq) - (F.lit(1.0) - 2.0 / (9.0 * dfq))) / F.sqrt(
        2.0 / (9.0 * dfq)
    )
    phi = 1.0 / (1.0 + F.exp(F.lit(-1.5976) * z - F.lit(0.07056) * z * z * z))
    return q.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.round("q", 9).alias("q_stat"),
        F.round(F.lit(1.0) - phi, 6).alias("p_value"),
    )

def _sql_bartlett() -> str:
    phi = _PHI.format(z="z")
    return f"""
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(CAST(round(value * 1000000.0) AS HUGEINT)) AS DOUBLE)
           / 1e6 AS s1,
         CAST(sum(CAST(round(value * 1000000.0) AS HUGEINT)
                  * CAST(round(value * 1000000.0) AS HUGEINT)) AS DOUBLE)
           / 1e12 AS s2
  FROM events GROUP BY 1
),
v AS (
  SELECT event_type, n_h,
         (s2 - s1 * s1 / n_h) / (n_h - 1) AS var_h
  FROM g
),
s AS (
  SELECT CAST(sum(n_h) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
         sum((n_h - 1) * var_h) AS ssw,
         sum((n_h - 1) * ln(var_h)) AS slog,
         sum(1.0 / (n_h - 1)) AS sinv
  FROM v
),
t AS (
  SELECT n, k,
         ((n - k) * ln(ssw / (n - k)) - slog)
           / (1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1))) AS t
  FROM s
),
z AS (
  SELECT n, k, t,
         (cbrt(t / (k - 1)) - (1.0 - 2.0 / (9.0 * (k - 1))))
           / sqrt(2.0 / (9.0 * (k - 1))) AS z
  FROM t
)
SELECT n, k, round(t, 9) AS t_stat, round(1.0 - ({phi}), 6) AS p_value
FROM z
"""
@register(
    "stats_bartlett_test",
    oracle=_sql_bartlett(),
    tags=("stats", "variance", "bartlett"),
)
def stats_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett test of variance homogeneity across event types — the
    PARAMETRIC complement to ``stats_levene_brownforsythe`` (Bartlett
    is more powerful under normality, Brown-Forsythe robust without
    it; a variance-QA suite reports both). T compares the pooled
    log-variance to the mean of group log-variances with the standard
    correction factor; p via Wilson-Hilferty χ²(k−1).

    Exactness: group moments are exact micro-quantized integer sums
    (Σx, Σx² on the micro grid, HUGEINT/DECIMAL-safe); variances, T,
    and p are identical closed-form doubles over them.

    Scale shape: ONE map-side-combined groupBy to k rows, then a 1-row
    reduce. No joins, no windows."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    q = F.round(F.col("value") * 1e6).cast("decimal(38,0)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        (F.sum(q).cast("double") / 1e6).alias("s1"),
        (F.sum(q * q).cast("double") / 1e12).alias("s2"),
    )
    v = g.select(
        "n_h",
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_h")) / (F.col("n_h") - 1)).alias(
            "var_h"
        ),
    )
    s = v.agg(
        F.sum("n_h").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum((F.col("n_h") - 1) * F.col("var_h")).alias("ssw"),
        F.sum((F.col("n_h") - 1) * F.ln("var_h")).alias("slog"),
        F.sum(F.lit(1.0) / (F.col("n_h") - 1)).alias("sinv"),
    )
    nk = (F.col("n") - F.col("k")).cast("double")
    t = ((F.col("n") - F.col("k")) * F.ln(F.col("ssw") / nk) - F.col("slog")) / (
        F.lit(1.0) + (F.col("sinv") - 1.0 / nk) / (3.0 * (F.col("k") - 1))
    )
    ts = s.select("n", "k", t.alias("t"))
    dfq = (F.col("k") - 1).cast("double")
    z = (F.cbrt(F.col("t") / dfq) - (F.lit(1.0) - 2.0 / (9.0 * dfq))) / F.sqrt(
        2.0 / (9.0 * dfq)
    )
    phi = 1.0 / (1.0 + F.exp(F.lit(-1.5976) * z - F.lit(0.07056) * z * z * z))
    return ts.select(
        "n",
        "k",
        F.round("t", 9).alias("t_stat"),
        F.round(F.lit(1.0) - phi, 6).alias("p_value"),
    )

def _sql_anderson_darling() -> str:
    phi_z = _PHI.format(z="z")
    return f"""
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS d,
         CAST(round(ln(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
                                           * 100.0) AS BIGINT)) AS DOUBLE))
                    * 1e9) AS BIGINT) AS v
  FROM lineitem GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) / count(*) / 1e9 AS mu,
         sqrt((CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) / 1e18
               - count(*) * (CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE)
                             / count(*) / 1e9)
                          * (CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE)
                             / count(*) / 1e9))
              / (count(*) - 1)) AS sigma
  FROM daily
),
r AS (
  SELECT CAST(row_number() OVER (ORDER BY v, d) AS BIGINT) AS i,
         (v / 1e9 - mu) / sigma AS z, n
  FROM daily, m
),
f AS (
  SELECT i, n, {phi_z} AS fz FROM r
),
s AS (
  SELECT max(n) AS n,
         CAST(sum(CAST(round(((2.0 * i - 1) * ln(fz)
                              + (2.0 * n + 1 - 2.0 * i) * ln(1.0 - fz))
                             * 1e9) AS HUGEINT)) AS DOUBLE) / 1e9 AS t
  FROM f
)
SELECT n AS n_days, round(-CAST(n AS DOUBLE) - t / n, 9) AS a_sq
FROM s
"""
@register(
    "stats_anderson_darling",
    oracle=_sql_anderson_darling(),
    tags=("stats", "normality", "anderson-darling"),
)
def stats_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality statistic on the daily LOG-revenue
    series: A² = −n − (1/n)Σ[(2i−1)·ln F(zᵢ) + (2n+1−2i)·ln(1−F(zᵢ))]
    — the tail-weighted EDF test that catches the departures from
    normality ``stats_lognormal_fit_ks``'s KS misses (KS weighs the
    middle; A-D weighs the tails, where revenue distributions actually
    break). The folded single-pass form replaces the textbook's
    paired-rank (i, n+1−i) sum — algebraically identical, and it needs
    only ONE rank per row. F is the catalog's shared Bowling Φ, so A²
    is comparable across entries, not against scipy's tables —
    documented approximation, identical text both engines.

    Exactness: log values quantize to nano-BIGINTs (the lognormal-KS
    discipline) so moments are exact-integer ratios; the (v, d) rank
    order is total; each row's EDF term quantizes to a nano-grid
    integer before the order-free sum (a plain float sum's order
    differs between Spark partial aggregation and DuckDB).

    Scale shape: one map-side-combined day groupBy; one rank window
    over the horizon-bounded day frame; one 1-row reduce."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    )
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.round(
            F.ln(
                F.sum(
                    F.round(
                        F.col("l_extendedprice")
                        * (F.lit(1.0) - F.col("l_discount"))
                        * 100.0
                    ).cast("bigint")
                ).cast("double")
            )
            * 1e9
        )
        .cast("bigint")
        .alias("v")
    )
    vd = F.col("v").cast("decimal(38,0)")
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(vd).cast("double") / F.count(F.lit(1)) / 1e9).alias("mu"),
        F.sqrt(
            (
                F.sum(vd * F.col("v")).cast("double") / 1e18
                - F.count(F.lit(1))
                * (F.sum(vd).cast("double") / F.count(F.lit(1)) / 1e9)
                * (F.sum(vd).cast("double") / F.count(F.lit(1)) / 1e9)
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("sigma"),
    )
    w = Window.orderBy("v", "d")
    r = daily.crossJoin(F.broadcast(m)).select(
        F.row_number().over(w).cast("bigint").alias("i"),
        ((F.col("v") / 1e9 - F.col("mu")) / F.col("sigma")).alias("z"),
        "n",
    )
    fz = 1.0 / (
        1.0
        + F.exp(
            F.lit(-1.5976) * F.col("z") - F.lit(0.07056) * F.col("z") * F.col("z") * F.col("z")
        )
    )
    f = r.select("i", "n", fz.alias("fz"))
    term = (2.0 * F.col("i") - 1) * F.ln("fz") + (
        2.0 * F.col("n") + 1 - 2.0 * F.col("i")
    ) * F.ln(F.lit(1.0) - F.col("fz"))
    s = f.agg(
        F.max("n").alias("n"),
        (
            F.sum(F.round(term * 1e9).cast("decimal(38,0)")).cast("double") / 1e9
        ).alias("t"),
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.round(-F.col("n").cast("double") - F.col("t") / F.col("n"), 9).alias("a_sq"),
    )


def _sql_grubbs() -> str:
    return """
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS d,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
                       AS BIGINT)) AS BIGINT) AS x
  FROM lineitem GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
  FROM daily
),
m AS (
  SELECT n, sx / n AS mean,
         sqrt((sxx - n * (sx / n) * (sx / n)) / (n - 1)) AS sd
  FROM s
)
SELECT m.n,
       round(m.mean, 6) AS mean_cents,
       round(m.sd, 6) AS sd_cents,
       round(abs(daily.x - m.mean) / m.sd, 9) AS g_stat,
       daily.d AS outlier_day,
       daily.x AS outlier_cents
FROM daily CROSS JOIN m
ORDER BY abs(daily.x - m.mean) DESC, daily.d
LIMIT 1
"""
@register(
    "stats_grubbs_test",
    oracle=_sql_grubbs(),
    tags=("stats", "outlier", "grubbs"),
)
def stats_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs (maximum normed residual) outlier statistic on the daily
    revenue series: G = max |x - x̄| / s over days, plus the flagged day
    and its value — the single-outlier screen run before alerting on a
    revenue dip/spike. Daily sums are exact BIGINT cents; moments come
    from DECIMAL(38,0)-exact Σx/Σx² (overflow-safe at any volume) and
    G is the identical double expression on both engines. The argmax
    orders on the RAW deviation (then day) before the 9-dp rounding
    projection — the stats_lognormal_fit_ks discipline.

    Scale shape: one map-side-combined day groupBy (the frame is
    days-sized forever after), a 1-row moment broadcast back onto it
    (scalar idiom), and a TakeOrdered(1). No window anywhere."""
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
    xd = F.col("x").cast("decimal(38,0)")
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(xd * F.col("x")).cast("double").alias("sxx"),
    )
    m = s.select(
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("sxx") - F.col("n") * (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n")))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    return (
        daily.crossJoin(F.broadcast(m))
        .orderBy(F.desc(F.abs(F.col("x") - F.col("mean"))), "d")
        .limit(1)
        .select(
            "n",
            F.round("mean", 6).alias("mean_cents"),
            F.round("sd", 6).alias("sd_cents"),
            F.round(F.abs(F.col("x") - F.col("mean")) / F.col("sd"), 9).alias(
                "g_stat"
            ),
            F.col("d").alias("outlier_day"),
            F.col("x").alias("outlier_cents"),
        )
    )


def _sql_kendall_tau() -> str:
    return """
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS d,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
                       AS BIGINT)) AS BIGINT) AS x,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS y
  FROM lineitem GROUP BY 1
),
cd AS (
  SELECT
    CAST(count(*) FILTER (WHERE (a.x - b.x) * (a.y - b.y) > 0) AS BIGINT) AS c,
    CAST(count(*) FILTER (WHERE (a.x - b.x) * (a.y - b.y) < 0) AS BIGINT) AS dd
  FROM daily a JOIN daily b ON a.d < b.d
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
tx AS (
  SELECT CAST(coalesce(sum(t * (t - 1) / 2), 0) AS BIGINT) AS n1
  FROM (SELECT count(*) AS t FROM daily GROUP BY x) WHERE t > 1
),
ty AS (
  SELECT CAST(coalesce(sum(t * (t - 1) / 2), 0) AS BIGINT) AS n2
  FROM (SELECT count(*) AS t FROM daily GROUP BY y) WHERE t > 1
)
SELECT n AS n_days, c AS concordant, dd AS discordant,
       round((c - dd)
             / sqrt((n * (n - 1) / 2.0 - n1) * (n * (n - 1) / 2.0 - n2)),
             9) AS tau_b
FROM cd, nn, tx, ty
"""
@register(
    "stats_kendall_tau_daily",
    oracle=_sql_kendall_tau(),
    tags=("stats", "correlation", "kendall"),
)
def stats_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily revenue and daily
    order count — the tie-corrected pair-concordance complement to
    ``stats_spearman_corr`` (tau is the probability statement 'a random
    pair of days orders the same way on both metrics', the more robust
    of the two rank correlations under heavy ties). Concordant and
    discordant counts are exact BIGINTs from sign tests on integer
    differences; the tie corrections n1/n2 are exact integer sums over
    the value-group sizes; tau is one closed-form double over five
    integers — identical on both engines.

    Scale shape: the pair enumeration is a self-join of the DAY-GRAIN
    frame — bounded by the time horizon squared (10 years ≈ 6.7M
    pairs), never the raw table; a broadcast NLJ of the tiny day frame
    is the right plan (the iso_regression_pav precedent). The raw scan
    reduces map-side to one row per day first. Tie groups and the
    grand count stitch in as 1-row broadcasts (the funnel idiom)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice", "l_discount", "l_orderkey"
    )
    daily = (
        li.groupBy(F.date_trunc("day", "l_shipdate").alias("d"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100.0
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("x"),
            F.count_distinct(F.col("l_orderkey")).cast("bigint").alias("y"),
        )
        .localCheckpoint(eager=True)  # feeds pairs, ties, and the count
    )
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    prod = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    cd = (
        a.join(F.broadcast(b), F.col("da") < F.col("db"))
        .agg(
            F.count(F.when(prod > 0, 1)).cast("bigint").alias("c"),
            F.count(F.when(prod < 0, 1)).cast("bigint").alias("dd"),
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tx_ = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(F.col("t") * (F.col("t") - 1) / 2), F.lit(0))
            .cast("bigint")
            .alias("n1")
        )
    )
    ty_ = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(F.col("t") * (F.col("t") - 1) / 2), F.lit(0))
            .cast("bigint")
            .alias("n2")
        )
    )
    half = F.col("n") * (F.col("n") - 1) / F.lit(2.0)
    return (
        cd.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tx_))
        .crossJoin(F.broadcast(ty_))
        .select(
            F.col("n").alias("n_days"),
            F.col("c").alias("concordant"),
            F.col("dd").alias("discordant"),
            F.round(
                (F.col("c") - F.col("dd"))
                / F.sqrt((half - F.col("n1")) * (half - F.col("n2"))),
                9,
            ).alias("tau_b"),
        )
    )


def _sql_theil() -> str:
    return """
WITH x AS (
  SELECT CAST(round(c_acctbal * 100.0) AS BIGINT) AS v
  FROM customer WHERE c_acctbal > 0
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) / count(*) AS mu
  FROM x
),
t AS (
  SELECT max(m.n) AS n, max(m.mu) AS mu,
         CAST(sum(CAST(round((v / m.mu) * ln(v / m.mu) * 1e9) AS BIGINT))
              AS BIGINT) AS st,
         CAST(sum(CAST(round(ln(m.mu / v) * 1e9) AS BIGINT)) AS BIGINT) AS sl
  FROM x CROSS JOIN m
)
SELECT n, round(mu, 6) AS mean_cents,
       round(CAST(st AS DOUBLE) / 1e9 / n, 9) AS theil_t,
       round(CAST(sl AS DOUBLE) / 1e9 / n, 9) AS theil_l
FROM t
"""
@register(
    "stats_theil_index",
    oracle=_sql_theil(),
    tags=("stats", "inequality", "theil"),
)
def stats_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil inequality indices over positive customer balances: T =
    (1/n)Σ(x/μ)ln(x/μ) (top-sensitive) and L = (1/n)Σln(μ/x) (the mean
    log deviation, bottom-sensitive) — the additively DECOMPOSABLE
    inequality family (unlike ``stats_gini_lorenz``'s Gini, Theil
    splits exactly into within-group + between-group terms, which is
    why concentration audits prefer it). Non-positive balances are
    outside the index's domain (ln) and excluded — the standard
    contract, stated rather than silently absorbed.

    Exactness: μ is an exact DECIMAL-sum ratio broadcast as the 1-row
    scalar; each log term quantizes to a nano-grid integer before the
    order-free sum; the indices are closed-form doubles over those
    integers — identical text both engines.

    Scale shape: one scan to the cents projection, a 1-row moment
    broadcast, one map-side-combined reduce. Nothing keyed, nothing
    windowed."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0)
    x = c.select(F.round(F.col("c_acctbal") * 100.0).cast("bigint").alias("v"))
    m = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("v").cast("decimal(38,0)")).cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    r = F.col("v") / F.col("mu")
    t = x.crossJoin(F.broadcast(m)).agg(
        F.max("n").alias("n"),
        F.max("mu").alias("mu"),
        F.sum(F.round(r * F.ln(r) * 1e9).cast("bigint")).cast("bigint").alias("st"),
        # mu/v directly (NOT 1/r): two divisions land differently in ulp
        F.sum(F.round(F.ln(F.col("mu") / F.col("v")) * 1e9).cast("bigint"))
        .cast("bigint")
        .alias("sl"),
    )
    return t.select(
        "n",
        F.round("mu", 6).alias("mean_cents"),
        F.round(F.col("st").cast("double") / 1e9 / F.col("n"), 9).alias("theil_t"),
        F.round(F.col("sl").cast("double") / 1e9 / F.col("n"), 9).alias("theil_l"),
    )


_CR_SPLIT = "2024-01-16"  # capture window: before; recapture: on/after
def _sql_capture_recapture() -> str:
    return f"""
WITH cap AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts < TIMESTAMP '{_CR_SPLIT} 00:00:00'
),
recap AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '{_CR_SPLIT} 00:00:00'
),
s AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM cap) AS n1,
         (SELECT CAST(count(*) AS BIGINT) FROM recap) AS n2,
         (SELECT CAST(count(*) AS BIGINT)
          FROM cap JOIN recap USING (user_id)) AS m
)
SELECT n1, n2, m,
       round((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0, 6)
         AS n_hat_chapman,
       round(CAST(n1 AS DOUBLE) * n2 / m, 6) AS n_hat_lp
FROM s
"""
@register(
    "stats_capture_recapture",
    oracle=_sql_capture_recapture(),
    tags=("stats", "estimation", "capture-recapture"),
)
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen / Chapman capture-recapture estimate of the
    total user population from two observation windows (first vs
    second half-month): users 'captured' early, 'recaptured' late, and
    the overlap m gives N̂ = n1·n2/m (Chapman's +1 form is the
    bias-corrected standard) — the ecology estimator product teams
    reuse to size an audience only partially observed in any window
    (and dedup teams reuse to size a corpus from two crawls). The
    same structure as ``sketch_kmv_intersection``'s estimate, but
    exact: distinct sets intersect via one equi-join on user_id.

    Exactness: all three counts are exact BIGINTs; the estimators are
    closed-form doubles over them.

    Scale shape: two map-side-combined distincts partitioned on
    user_id and one equi-join on the same key — co-partitioned, no
    broadcast needed at any scale; the funnel stitch is three 1-row
    aggregates (the scalar idiom)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    split = F.lit(f"{_CR_SPLIT} 00:00:00").cast("timestamp")
    cap = ev.where(F.col("ts") < split).select("user_id").distinct()
    recap = ev.where(F.col("ts") >= split).select("user_id").distinct()
    n1 = cap.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    n2 = recap.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    m = cap.join(recap, "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .select(
            "n1",
            "n2",
            "m",
            F.round(
                ((F.col("n1") + 1).cast("double") * (F.col("n2") + 1))
                / (F.col("m") + 1)
                - 1.0,
                6,
            ).alias("n_hat_chapman"),
            F.round(
                F.col("n1").cast("double") * F.col("n2") / F.col("m"), 6
            ).alias("n_hat_lp"),
        )
    )


def _sql_gh_means() -> str:
    return """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(exp(CAST(sum(CAST(round(ln(value) * 1e9) AS HUGEINT)) AS DOUBLE)
                 / 1e9 / count(*)), 9) AS geometric_mean,
       round(count(*)
             / (CAST(sum(CAST(round((1.0 / value) * 1e9) AS HUGEINT))
                     AS DOUBLE) / 1e9), 9) AS harmonic_mean
FROM events WHERE value > 0
GROUP BY 1 ORDER BY 1
"""
@register(
    "agg_geometric_harmonic_means",
    oracle=_sql_gh_means(),
    tags=("aggregation", "stats", "means"),
)
def agg_geometric_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means of event value per type — the means
    that are CORRECT for multiplicative quantities (growth factors,
    ratios: geometric) and for rates (throughputs, speeds: harmonic),
    where the arithmetic mean the rest of the catalog reports
    overstates both. Non-positive values are outside both domains and
    excluded — stated, not absorbed.

    Exactness: each ln / reciprocal term quantizes to a nano-grid
    integer before the order-free sum (the catalog discipline for
    non-associative float reductions); exp of identical doubles closes
    the geometric mean.

    Scale shape: ONE map-side-combined groupBy over the type domain.
    Nothing else."""
    ev = _t(spark, sf_dir, "events").where(F.col("value") > 0)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.exp(
                    F.sum(F.round(F.ln("value") * 1e9).cast("decimal(38,0)")).cast(
                        "double"
                    )
                    / 1e9
                    / F.count(F.lit(1))
                ),
                9,
            ).alias("geometric_mean"),
            F.round(
                F.count(F.lit(1))
                / (
                    F.sum(
                        F.round((F.lit(1.0) / F.col("value")) * 1e9).cast(
                            "decimal(38,0)"
                        )
                    ).cast("double")
                    / 1e9
                ),
                9,
            ).alias("harmonic_mean"),
        )
        .orderBy("event_type")
    )


def _sql_odds_ratio() -> str:
    from .datapipe.hashing import sql_hash60

    arm = f"({sql_hash60('user_id::VARCHAR', seed=_BB_SEED_OR)} % 2)"
    return f"""
WITH u AS (
  SELECT user_id, {arm} AS arm,
         CAST(CASE WHEN count(*) FILTER (WHERE event_type = 'purchase')
                        >= {_OR_HEAVY} THEN 1 ELSE 0 END
              AS BIGINT) AS converted
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT
    CAST(sum(CASE WHEN arm = 1 AND converted = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS a,
    CAST(sum(CASE WHEN arm = 1 AND converted = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS b,
    CAST(sum(CASE WHEN arm = 0 AND converted = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS c,
    CAST(sum(CASE WHEN arm = 0 AND converted = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS d
  FROM u
)
SELECT a, b, c, d,
       round((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c), 9)
         AS odds_ratio,
       round(exp(ln((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c))
                 - 1.959963984540054
                   * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 9)
         AS ci_lo,
       round(exp(ln((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c))
                 + 1.959963984540054
                   * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 9)
         AS ci_hi
FROM c
"""
_BB_SEED_OR = 7  # the CUPED/TOST/SRM/power/beta-binomial split
_OR_HEAVY = 14  # 'heavy purchaser' outcome: >= median purchase count
@register(
    "stats_odds_ratio_ci",
    oracle=_sql_odds_ratio(),
    tags=("stats", "experimentation", "odds-ratio"),
)
def stats_odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of the HEAVY-PURCHASER outcome (≥14 purchases, the
    fixture median — any-purchase conversion is degenerate here: every
    sf0.01 user purchases, zeroing two 2×2 cells) for treatment vs
    control on the seed-7 hash split, with the Woolf 95% CI:
    OR = ad/bc from the user-level table,
    CI = exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)) — the effect-size report
    epidemiology and A/B readouts publish next to the risk difference,
    multiplicative where ``stats_bayes_beta_binomial``'s posterior
    difference is additive (same split, same unit — the experiment
    family's shared fixture). The CI is on the log scale, so no support
    clamping is needed (exp keeps it positive by construction — the
    lesson of the beta-binomial's clamp, designed out here).

    Exactness: the four cells are exact BIGINTs from one
    groupBy-user pass + one 1-row combine; OR and CI are identical
    closed-form doubles.

    Scale shape: one map-side-combined user groupBy, one 1-row
    reduce."""
    from .datapipe.hashing import hash60

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)) >= _OR_HEAVY, 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("converted")
    ).select(
        F.pmod(hash60(F.col("user_id").cast("string"), seed=_BB_SEED_OR), F.lit(2)).alias(
            "arm"
        ),
        "converted",
    )
    c = u.agg(
        F.sum(F.when((F.col("arm") == 1) & (F.col("converted") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("converted") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("converted") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("converted") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    orr = (F.col("a").cast("double") * F.col("d")) / (
        F.col("b").cast("double") * F.col("c")
    )
    se = F.sqrt(
        F.lit(1.0) / F.col("a")
        + F.lit(1.0) / F.col("b")
        + F.lit(1.0) / F.col("c")
        + F.lit(1.0) / F.col("d")
    )
    z95 = F.lit(1.959963984540054)
    return c.select(
        "a",
        "b",
        "c",
        "d",
        F.round(orr, 9).alias("odds_ratio"),
        F.round(F.exp(F.ln(orr) - z95 * se), 9).alias("ci_lo"),
        F.round(F.exp(F.ln(orr) + z95 * se), 9).alias("ci_hi"),
    )


_COOKS_TOP = 5
def _sql_cooks_distance() -> str:
    return f"""
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS d,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
                       AS BIGINT)) AS BIGINT) AS y
  FROM lineitem GROUP BY 1
),
xi AS (
  SELECT d, y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS x
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) / count(*) AS xbar,
         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / count(*) AS ybar,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE)
           - count(*) * (CAST(sum(x) AS DOUBLE) / count(*))
                      * (CAST(sum(x) AS DOUBLE) / count(*)) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE)
           - count(*) * (CAST(sum(x) AS DOUBLE) / count(*))
                      * (CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / count(*))
           AS sxy
  FROM xi
),
e AS (
  SELECT d, x, y, n, xbar, sxx,
         y - (ybar + (sxy / sxx) * (x - xbar)) AS resid,
         1.0 / n + (x - xbar) * (x - xbar) / sxx AS lev
  FROM xi, m
),
s2 AS (
  SELECT (CAST(sum(CAST(round(resid * resid * 1e6) AS HUGEINT)) AS DOUBLE)
          / 1e6) / (max(n) - 2) AS s2
  FROM e
)
SELECT d, y,
       round(resid, 6) AS residual_cents,
       round(lev, 9) AS leverage,
       round(resid * resid * lev / (2.0 * s2 * (1.0 - lev) * (1.0 - lev)), 9)
         AS cooks_d
FROM e, s2
ORDER BY resid * resid * lev / (2.0 * s2 * (1.0 - lev) * (1.0 - lev)) DESC, d
LIMIT {_COOKS_TOP}
"""
@register(
    "stats_cooks_distance",
    oracle=_sql_cooks_distance(),
    tags=("stats", "regression", "diagnostics"),
)
def stats_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance on the daily revenue trend fit: the 5 most
    INFLUENTIAL days under the simple OLS of revenue on the day index
    — D_i = e_i²·h_ii / (p·s²·(1−h_ii)²) with p=2 and the closed-form
    simple-regression leverage h_ii = 1/n + (x_i−x̄)²/Sxx. The
    regression-diagnostics readout ``regression_multiple_ols`` omits:
    a day can have a modest residual but dominate the FIT (end-of-range
    leverage), and Cook's D is what says 'this one day moved the
    slope'. The argmax orders on the RAW statistic before rounding
    (the stats_lognormal_fit_ks discipline).

    Exactness: x is a dense rank over the total (day) order; all
    moments are exact DECIMAL integer sums; s² quantizes each squared
    residual to a micro-grid integer before the order-free sum;
    residual/leverage/D are identical closed-form doubles.

    Scale shape: one map-side-combined day groupBy, one rank window
    over the horizon-bounded day frame, a 1-row moment broadcast, a
    TakeOrdered(5)."""
    from pyspark.sql import Window

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
        .alias("y")
    )
    xi = daily.select(
        "d", "y", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("x")
    ).localCheckpoint(eager=True)  # feeds moments AND the residual pass
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    cnt = F.count(F.lit(1))
    xbar = F.sum("x").cast("double") / cnt
    ybar = F.sum(yd).cast("double") / cnt
    m = xi.agg(
        cnt.cast("bigint").alias("n"),
        xbar.alias("xbar"),
        ybar.alias("ybar"),
        (F.sum(xd * F.col("x")).cast("double") - cnt * xbar * xbar).alias("sxx"),
        (F.sum(xd * F.col("y")).cast("double") - cnt * xbar * ybar).alias("sxy"),
    )
    e = xi.crossJoin(F.broadcast(m)).select(
        "d",
        "y",
        "n",
        (
            F.col("y")
            - (
                F.col("ybar")
                + (F.col("sxy") / F.col("sxx")) * (F.col("x") - F.col("xbar"))
            )
        ).alias("resid"),
        (
            F.lit(1.0) / F.col("n")
            + (F.col("x") - F.col("xbar")) * (F.col("x") - F.col("xbar")) / F.col("sxx")
        ).alias("lev"),
    )
    s2 = e.agg(
        (
            F.sum(F.round(F.col("resid") * F.col("resid") * 1e6).cast("decimal(38,0)")).cast(
                "double"
            )
            / 1e6
            / (F.max("n") - 2)
        ).alias("s2")
    )
    cooks = (
        F.col("resid")
        * F.col("resid")
        * F.col("lev")
        / (2.0 * F.col("s2") * (F.lit(1.0) - F.col("lev")) * (F.lit(1.0) - F.col("lev")))
    )
    return (
        e.crossJoin(F.broadcast(s2))
        .orderBy(cooks.desc(), "d")
        .limit(_COOKS_TOP)
        .select(
            "d",
            "y",
            F.round("resid", 6).alias("residual_cents"),
            F.round("lev", 9).alias("leverage"),
            F.round(cooks, 9).alias("cooks_d"),
        )
    )


_HURST_SIZES = (16, 32, 64, 128)
def _sql_hurst() -> str:
    davg_x = SQL_DAVG.format(x="value")
    sizes = ", ".join(str(s) for s in _HURST_SIZES)
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, {davg_x} AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT x, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS i FROM hourly
),
blk AS (
  SELECT s, (i - 1) // s AS b, i, x
  FROM idx, unnest([{sizes}]) AS u(s)
),
full_blocks AS (
  SELECT s, b FROM blk GROUP BY s, b HAVING count(*) = s
),
bm AS (
  SELECT blk.s, blk.b, {SQL_DAVG.format(x='x')} AS m
  FROM blk JOIN full_blocks USING (s, b) GROUP BY blk.s, blk.b
),
dev AS (
  SELECT blk.s, blk.b, blk.i,
         CAST(round((x - m) * 1e9) AS BIGINT) AS d9,
         CAST(round((x - m) * (x - m) * 1e9) AS BIGINT) AS dd9
  FROM blk JOIN bm ON blk.s = bm.s AND blk.b = bm.b
),
y AS (
  SELECT s, b, dd9,
         CAST(sum(d9) OVER (PARTITION BY s, b ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS yt
  FROM dev
),
rs AS (
  SELECT s, b,
         ((greatest(max(yt), 0) - least(min(yt), 0)) / 1e9)
           / sqrt(CAST(sum(dd9) AS DOUBLE) / 1e9 / s) AS rs_b
  FROM y GROUP BY s, b
),
pt AS (
  SELECT s,
         CAST(round(ln(CAST(s AS DOUBLE)) * 1e9) AS BIGINT) AS a,
         CAST(round(ln((CAST(SUM(CAST(round(rs_b * 1000000.0) AS HUGEINT))
                             AS DOUBLE) / count(*)) / 1000000.0) * 1e9)
              AS BIGINT) AS bb
  FROM rs GROUP BY s
),
f AS (
  SELECT CAST(count(*) AS BIGINT) AS np,
         CAST(sum(CAST(a AS HUGEINT)) AS DOUBLE) / 1e9 AS sa,
         CAST(sum(CAST(bb AS HUGEINT)) AS DOUBLE) / 1e9 AS sb,
         CAST(sum(CAST(a AS HUGEINT) * a) AS DOUBLE) / 1e18 AS saa,
         CAST(sum(CAST(a AS HUGEINT) * bb) AS DOUBLE) / 1e18 AS sab
  FROM pt
)
SELECT np AS n_sizes,
       round((np * sab - sa * sb) / (np * saa - sa * sa), 6) AS hurst_h
FROM f
"""
@register(
    "stats_hurst_exponent",
    oracle=_sql_hurst(),
    tags=("stats", "timeseries", "hurst", "long-memory"),
)
def stats_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly engagement series via classical
    rescaled-range analysis: for block sizes s ∈ {16,32,64,128}, each
    complete block's R/S = (range of cumulative mean-deviations) /
    (population σ), averaged per size, and Ĥ is the log-log OLS slope
    — the long-memory diagnostic (H≈0.5 random walk increments, H>0.5
    persistent trends) that says whether ``ts_autocorrelation``'s decay
    carries structure or noise. R spans the walk's
    full excursion INCLUDING its 0 start: greatest(max Y, 0) −
    least(min Y, 0), the classical convention.

    Exactness: per-block deviation increments quantize to nano-BIGINTs,
    so every cumulative walk value AND the range are exact integers;
    block σ comes from the quantized square sums; per-size means
    micro-quantize; the final slope is the Heaps-fit integer-moment
    form.

    Scale shape: the series is an hourly aggregate first (720 points at
    sf0.01); the size explode is 4×; all windows partition by (size,
    block) — no un-partitioned pass except the one bounded series
    index (the ts_autocorrelation precedent)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        davg("value").alias("x")
    )
    idx = hourly.select(
        "x", F.row_number().over(Window.orderBy("h")).cast("bigint").alias("i")
    )
    blk = idx.select(
        F.explode(F.array(*[F.lit(s) for s in _HURST_SIZES])).alias("s"),
        "i",
        "x",
    ).select(
        "s", F.floor((F.col("i") - 1) / F.col("s")).cast("bigint").alias("b"), "i", "x"
    ).localCheckpoint(eager=True)
    full_blocks = (
        blk.groupBy("s", "b").agg(F.count(F.lit(1)).alias("c")).where(
            F.col("c") == F.col("s")
        ).select("s", "b")
    )
    bm = (
        blk.join(full_blocks, ["s", "b"])
        .groupBy("s", "b")
        .agg(davg("x").alias("m"))
    )
    dev = blk.join(bm, ["s", "b"]).select(
        "s",
        "b",
        "i",
        F.round((F.col("x") - F.col("m")) * 1e9).cast("bigint").alias("d9"),
        F.round((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")) * 1e9)
        .cast("bigint")
        .alias("dd9"),
    )
    wy = (
        Window.partitionBy("s", "b")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    y = dev.select(
        "s", "b", "dd9", F.sum("d9").over(wy).cast("bigint").alias("yt")
    )
    rs = y.groupBy("s", "b").agg(
        (
            ((F.greatest(F.max("yt"), F.lit(0)) - F.least(F.min("yt"), F.lit(0))) / 1e9)
            / F.sqrt(F.sum("dd9").cast("double") / 1e9 / F.max(F.col("s")))
        ).alias("rs_b")
    )
    pt = rs.groupBy("s").agg(
        F.round(F.ln(F.col("s").cast("double")) * 1e9)
        .cast("bigint")
        .alias("a"),
        F.round(
            F.ln(
                F.sum(F.round(F.col("rs_b") * 1e6).cast("decimal(38,0)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
                / 1e6
            )
            * 1e9
        )
        .cast("bigint")
        .alias("bb"),
    )
    ad = F.col("a").cast("decimal(38,0)")
    f = pt.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        (F.sum(ad).cast("double") / 1e9).alias("sa"),
        (F.sum(F.col("bb").cast("decimal(38,0)")).cast("double") / 1e9).alias("sb"),
        (F.sum(ad * F.col("a")).cast("double") / 1e18).alias("saa"),
        (F.sum(ad * F.col("bb")).cast("double") / 1e18).alias("sab"),
    )
    slope = (F.col("np") * F.col("sab") - F.col("sa") * F.col("sb")) / (
        F.col("np") * F.col("saa") - F.col("sa") * F.col("sa")
    )
    return f.select(
        F.col("np").alias("n_sizes"), F.round(slope, 6).alias("hurst_h")
    )


_ESD_K = 5
def _sql_esd() -> str:
    base = """
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS d,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
                       AS BIGINT)) AS BIGINT) AS x
  FROM lineitem GROUP BY 1
)"""
    ctes = [base]
    prev_excl = ""
    for r in range(1, _ESD_K + 1):
        excl = (
            "WHERE d NOT IN (" + " UNION ALL ".join(
                f"SELECT d FROM p{j}" for j in range(1, r)
            ) + ")"
            if r > 1
            else ""
        )
        ctes.append(f"""
rem{r} AS (SELECT d, x FROM daily {excl}),
m{r} AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
  FROM rem{r}
),
mm{r} AS (
  SELECT n, sx / n AS mean,
         sqrt((sxx - n * (sx / n) * (sx / n)) / (n - 1)) AS sd
  FROM m{r}
),
p{r} AS (
  SELECT {r} AS round, d, x,
         abs(x - mean) / sd AS r_stat
  FROM rem{r}, mm{r}
  ORDER BY abs(x - mean) / sd DESC, d LIMIT 1
)""")
        prev_excl = excl
    picks = " UNION ALL ".join(f"SELECT * FROM p{r}" for r in range(1, _ESD_K + 1))
    return (
        ",".join(ctes)
        + f"""
SELECT CAST(round AS BIGINT) AS esd_round, d, x,
       round(r_stat, 9) AS r_stat
FROM ({picks}) ORDER BY esd_round
"""
    )
@register(
    "stats_esd_outliers",
    oracle=_sql_esd(),
    tags=("stats", "outlier", "esd", "iterative"),
)
def stats_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (Rosner) outlier sequence on the daily revenue
    series: 5 rounds of 'remove the most-studentized day, recompute the
    moments' — the multi-outlier extension of ``stats_grubbs_test``
    (whose single-shot statistic is MASKED when a second outlier
    inflates the SD; ESD's re-estimation after each removal is the
    fix, and the S-H-ESD anomaly pipeline's core loop). Each round
    reports the picked day and its studentized statistic.

    The recursion compiles to ONE LAZY PLAN — no driver loop, no
    collects: round r's frame anti-joins the union of rounds 1..r−1's
    single-row picks, its moments broadcast back (scalar idiom), and
    its pick is a TakeOrdered(1). Five rounds = five tiny stages over
    the day-grain frame; k is a compile-time constant exactly like the
    EMA depths.

    Exactness: the day frame is exact BIGINT cents; moments are exact
    DECIMAL sums; each argmax orders on the RAW studentized deviation
    (then day) before rounding."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    )
    daily = (
        li.groupBy(F.date_trunc("day", "l_shipdate").alias("d"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100.0
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint(eager=True)  # base of all five rounds
    )
    picks: list = []
    rem = daily
    for r in range(1, _ESD_K + 1):
        xd = F.col("x").cast("decimal(38,0)")
        s = rem.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(xd).cast("double").alias("sx"),
            F.sum(xd * F.col("x")).cast("double").alias("sxx"),
        )
        mm = s.select(
            "n",
            (F.col("sx") / F.col("n")).alias("mean"),
            F.sqrt(
                (
                    F.col("sxx")
                    - F.col("n") * (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
                )
                / (F.col("n") - 1)
            ).alias("sd"),
        )
        p = (
            rem.crossJoin(F.broadcast(mm))
            .orderBy(F.desc(F.abs(F.col("x") - F.col("mean")) / F.col("sd")), "d")
            .limit(1)
            .select(
                F.lit(r).cast("bigint").alias("esd_round"),
                "d",
                "x",
                F.round(F.abs(F.col("x") - F.col("mean")) / F.col("sd"), 9).alias(
                    "r_stat"
                ),
            )
        )
        picks.append(p)
        if r < _ESD_K:
            # Lineage cut per round: the recursion references rem three
            # times per round (moments, pick, next rem), so the uncut
            # plan grows ~3^k subtrees (716 Exchanges uncut)
            # and re-executes them all. The day-grain frame is tiny;
            # one eager cut per round keeps every round one shallow pass.
            rem = rem.join(p.select("d"), "d", "left_anti").localCheckpoint(
                eager=True
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.orderBy("esd_round")




# --------------------------------------------------------------------------
# Mood's median test across order priorities (round 9)
# --------------------------------------------------------------------------


def _sql_mood_median() -> str:
    return f"""
WITH vals AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100.0) AS BIGINT) AS v
  FROM orders
),
{sql_cuts_ctes("vals", "v", 2)},
m AS (SELECT min(c) AS med FROM cuts),
cells AS (
  SELECT g,
         CAST(count(*) FILTER (WHERE v > m.med) AS BIGINT) AS n_above,
         CAST(count(*) FILTER (WHERE v <= m.med) AS BIGINT) AS n_below
  FROM vals CROSS JOIN m GROUP BY g
),
mtot AS (
  SELECT CAST(sum(n_above) AS BIGINT) AS ta,
         CAST(sum(n_below) AS BIGINT) AS tb,
         CAST(sum(n_above) + sum(n_below) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k
  FROM cells
)
SELECT CASE WHEN min(t.ta) = 0 OR min(t.tb) = 0 THEN NULL ELSE
       {SQL_DSUM.format(x='''
         (CAST(c.n_above AS DOUBLE) - (CAST(c.n_above + c.n_below AS DOUBLE) * t.ta) / t.n)
         * (CAST(c.n_above AS DOUBLE) - (CAST(c.n_above + c.n_below AS DOUBLE) * t.ta) / t.n)
         / ((CAST(c.n_above + c.n_below AS DOUBLE) * t.ta) / t.n)
         + (CAST(c.n_below AS DOUBLE) - (CAST(c.n_above + c.n_below AS DOUBLE) * t.tb) / t.n)
         * (CAST(c.n_below AS DOUBLE) - (CAST(c.n_above + c.n_below AS DOUBLE) * t.tb) / t.n)
         / ((CAST(c.n_above + c.n_below AS DOUBLE) * t.tb) / t.n)''')} END AS chi2,
       min(t.k - 1) AS dof,
       min(t.n) AS n,
       round(min(m.med) / 100.0, 2) AS grand_median
FROM cells c CROSS JOIN mtot t CROSS JOIN m
ORDER BY 1
"""


@register(
    "stats_mood_median_test",
    oracle=_sql_mood_median(),
    tags=("stats", "nonparametric", "median"),
)
def stats_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do the five order priorities share a common
    median order value? Counts above/below the GRAND median per group
    form a 2xk contingency table tested with Pearson chi-square — the
    nonparametric, outlier-immune sibling of ``stats_anova_oneway``
    (means) and ``stats_kruskal_wallis`` (mean ranks): it only asks on
    which side of one order statistic each row falls.

    Exactness: the grand median is the EXACT lower-median order
    statistic of integer cents from the distributed prefix sum
    (operators/equidepth.py, k=2 — ties at the boundary fall below on
    both engines by the shared <=-convention); cell counts are integer
    comparisons against that literal; the chi-square sum runs on the
    micro-unit grid (SQL_DSUM) so it is partitioning-independent. dof
    = k-1. No p-value column — the catalog's chi-square entries
    publish the statistic and dof (the gamma CDF is not engine-stable).

    Scale shape: the cut derivation is the equidepth machinery (range
    partition + per-partition offsets, no global window), then ONE
    map-side-combined groupBy over 5 groups and a 1-row combine. The
    grand median is the only order statistic the whole plan needs."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100.0).cast("bigint").alias("v"),
    ).localCheckpoint(eager=True)  # feeds the cut derivation AND the cells
    med = equi_depth_cut_points(o, F.col("v"), 2)[0]
    cells = o.groupBy("g").agg(
        F.count(F.when(F.col("v") > F.lit(med), 1)).cast("bigint").alias("n_above"),
        F.count(F.when(F.col("v") <= F.lit(med), 1)).cast("bigint").alias("n_below"),
    )
    tot = cells.agg(
        F.sum("n_above").cast("bigint").alias("ta"),
        F.sum("n_below").cast("bigint").alias("tb"),
        (F.sum("n_above") + F.sum("n_below")).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ng = (F.col("n_above") + F.col("n_below")).cast("double")
    ea = ng * F.col("ta") / F.col("n")
    eb = ng * F.col("tb") / F.col("n")
    # try_divide: under ANSI mode the per-row term must not raise when a
    # margin is empty (ea/eb = 0 iff ta/tb = 0 globally — the outer guard
    # then nulls chi2 anyway, matching the oracle's CASE)
    term = (
        F.try_divide(
            (F.col("n_above").cast("double") - ea) * (F.col("n_above").cast("double") - ea), ea
        )
        + F.try_divide(
            (F.col("n_below").cast("double") - eb) * (F.col("n_below").cast("double") - eb), eb
        )
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .agg(
            # degenerate-margin guard (the r8 latent class): if every row
            # sits on one side of the median the test is undefined — NULL
            # on BOTH engines instead of Spark-NULL vs DuckDB-inf
            F.when(
                (F.min("ta") == 0) | (F.min("tb") == 0), F.lit(None)
            )
            .otherwise(dsum(term))
            .alias("chi2"),
            F.min(F.col("k") - 1).alias("dof"),
            F.min("n").alias("n"),
            F.round(F.lit(med) / 100.0, 2).alias("grand_median"),
        )
        .orderBy("chi2")
    )


# --------------------------------------------------------------------------
# Wald SPRT over the ordered daily conversion sequence (round 9)
# --------------------------------------------------------------------------

# H0: purchase share p0 = 0.18 vs H1: p1 = 0.22, alpha = 0.05, beta = 0.10.
# The per-trial log-likelihood-ratio increments and the Wald boundaries
# are INTEGER NANO-GRID LITERALS computed once here, so both engines do
# pure integer arithmetic end-to-end (the catalog's float-literal
# discipline: no ln() evaluated inside either engine).
import math as _math

_SPRT_P0, _SPRT_P1 = 0.18, 0.22
_SPRT_L1_9 = round(_math.log(_SPRT_P1 / _SPRT_P0) * 1e9)  # per-success LLR
_SPRT_L0_9 = round(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1e9)  # per-failure
_SPRT_A9 = round(_math.log((1 - 0.10) / 0.05) * 1e9)  # accept-H1 boundary
_SPRT_B9 = round(_math.log(0.10 / (1 - 0.05)) * 1e9)  # accept-H0 boundary


def _sql_sprt() -> str:
    return f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(count(*) AS BIGINT) AS n_t,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS x_t
  FROM events GROUP BY 1
),
walk AS (
  SELECT d,
         sum(x_t * CAST({_SPRT_L1_9} AS BIGINT)
             + (n_t - x_t) * CAST({_SPRT_L0_9} AS BIGINT))
           OVER (ORDER BY d) AS s9
  FROM daily
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         min(d) FILTER (WHERE s9 >= {_SPRT_A9}) AS first_up,
         min(d) FILTER (WHERE s9 <= {_SPRT_B9}) AS first_dn,
         max_by(s9, d) AS s9_final
  FROM walk
)
SELECT n_days,
       CASE WHEN first_up IS NOT NULL
                 AND (first_dn IS NULL OR first_up <= first_dn) THEN 'accept_h1'
            WHEN first_dn IS NOT NULL THEN 'accept_h0'
            ELSE 'continue' END AS decision,
       coalesce(least(first_up, first_dn), coalesce(first_up, first_dn))
         AS decision_day,
       round(CAST(s9_final AS DOUBLE) / 1e9, 9) AS llr_final
FROM agg
"""


@register(
    "stats_sprt_sequential",
    oracle=_sql_sprt(),
    tags=("stats", "sequential", "sprt", "ab-testing"),
)
def stats_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test on the day-ordered
    purchase-share sequence: the cumulative Bernoulli log-likelihood
    ratio walk S_t = Sigma x_t ln(p1/p0) + (n_t - x_t) ln(q1/q0) with
    early-stopping boundaries ln((1-beta)/alpha) / ln(beta/(1-alpha)) —
    the always-valid sequential monitor a daily experiment dashboard
    runs instead of a fixed-horizon test (``stats_welch_ttest``), and
    the hypothesis-driven complement of the distribution-free
    ``events_changepoint_cusum``.

    Exactness: the per-trial LLR increments and both Wald boundaries
    are integer nano-grid literals computed ONCE in the driver (no ln
    evaluated in either engine); the walk is an integer prefix sum over
    the day total order; crossings are integer comparisons; first
    crossing days come from conditional min. Decision tie (both
    boundaries crossed, up first by date) resolves identically via the
    shared CASE.

    Scale shape: one map-side-combined daily aggregate, then the walk
    window and 1-row reduce on the bounded day-grain frame (the runs-
    test discipline — the raw event table never meets a window)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("x_t"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = daily.select(
        "d",
        F.sum(
            F.col("x_t") * F.lit(_SPRT_L1_9)
            + (F.col("n_t") - F.col("x_t")) * F.lit(_SPRT_L0_9)
        )
        .over(w)
        .alias("s9"),
    )
    agg = walk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.min(F.when(F.col("s9") >= F.lit(_SPRT_A9), F.col("d"))).alias("first_up"),
        F.min(F.when(F.col("s9") <= F.lit(_SPRT_B9), F.col("d"))).alias("first_dn"),
        F.max_by("s9", "d").alias("s9_final"),
    )
    return agg.select(
        "n_days",
        F.when(
            F.col("first_up").isNotNull()
            & (F.col("first_dn").isNull() | (F.col("first_up") <= F.col("first_dn"))),
            F.lit("accept_h1"),
        )
        .when(F.col("first_dn").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.coalesce(
            F.least("first_up", "first_dn"), F.coalesce("first_up", "first_dn")
        ).alias("decision_day"),
        F.round(F.col("s9_final").cast("double") / 1e9, 9).alias("llr_final"),
    )


# --------------------------------------------------------------------------
# Fisher's exact test (2x2, two-sided) — round 9
# --------------------------------------------------------------------------


def _sql_fisher() -> str:
    return """
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE s_acctbal > 5000.0) AS BIGINT) AS r1,
         CAST(count(*) FILTER (WHERE s_nationkey < 12) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE s_acctbal > 5000.0 AND s_nationkey < 12)
              AS BIGINT) AS a_obs
  FROM supplier
),
lf AS (
  SELECT i,
         sum(CASE WHEN i = 0 THEN 0
                  ELSE CAST(round(ln(CAST(i AS DOUBLE)) * 1e9) AS BIGINT) END)
           OVER (ORDER BY i) AS v
  FROM (SELECT unnest(generate_series(0, (SELECT n FROM m))) AS i)
),
konst AS (
  SELECT m.n, m.r1, m.c1, m.a_obs,
         la.v + lb.v + lc.v + ld.v - le.v AS c9
  FROM m
  JOIN lf la ON la.i = m.r1
  JOIN lf lb ON lb.i = m.n - m.r1
  JOIN lf lc ON lc.i = m.c1
  JOIN lf ld ON ld.i = m.n - m.c1
  JOIN lf le ON le.i = m.n
),
ks AS (
  SELECT k.n, k.r1, k.c1, k.a_obs, k.c9,
         unnest(generate_series(greatest(0, k.r1 + k.c1 - k.n),
                                least(k.r1, k.c1))) AS kk
  FROM konst k
),
lp AS (
  SELECT ks.*,
         ks.c9 - l1.v - l2.v - l3.v - l4.v AS logp9
  FROM ks
  JOIN lf l1 ON l1.i = ks.kk
  JOIN lf l2 ON l2.i = ks.r1 - ks.kk
  JOIN lf l3 ON l3.i = ks.c1 - ks.kk
  JOIN lf l4 ON l4.i = ks.n - ks.r1 - ks.c1 + ks.kk
),
obs AS (SELECT logp9 AS obs9 FROM lp WHERE kk = a_obs)
SELECT min(lp.n) AS n, min(lp.r1) AS r1, min(lp.c1) AS c1,
       min(lp.a_obs) AS a_obs,
       round(CAST(sum(CAST(round(exp(CAST(lp.logp9 AS DOUBLE) / 1e9) * 1e12)
                           AS BIGINT))
                      FILTER (WHERE lp.logp9 <= obs.obs9) AS DOUBLE)
             / 1e12, 9) AS p_two_sided
FROM lp CROSS JOIN obs
"""


@register(
    "stats_fisher_exact_2x2",
    oracle=_sql_fisher(),
    tags=("stats", "exact-test", "contingency"),
)
def stats_fisher_exact_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT test on the supplier 2x2 (high balance x western
    nation block): two-sided p = Sigma of hypergeometric P(k) over all
    tables at least as extreme as observed (P(k) <= P(a_obs), the
    standard two-sided convention) — the small-sample test
    ``stats_chi2_lang_source`` cannot replace when expected cells are
    tiny, and the catalog's first EXACT (non-asymptotic) p-value.

    Exactness: every log-factorial is a PREFIX SUM OF NANO-QUANTIZED
    ln(i) INTEGERS, so each hypergeometric log-probability is an exact
    integer and the extremeness comparison P(k) <= P(a_obs) is pure
    integer ordering (no float tie ambiguity); each probability then
    exponentiates the same integer on both engines and quantizes to the
    1e-12 grid before the order-free sum.

    Scale shape: the ln-factorial table and the k-domain are bounded by
    the SUPPLIER table (the deliberately small dimension — exact tests
    are small-margin procedures by definition; at large margins the
    chi-square entries take over), so the single-task prefix window and
    the broadcast lf joins are constant-size. The fact scan is one
    map-side-combined 1-row margin aggregate."""
    s = _t(spark, sf_dir, "supplier")
    m = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("s_acctbal") > 5000.0, 1)).cast("bigint").alias("r1"),
        F.count(F.when(F.col("s_nationkey") < 12, 1)).cast("bigint").alias("c1"),
        F.count(
            F.when((F.col("s_acctbal") > 5000.0) & (F.col("s_nationkey") < 12), 1)
        )
        .cast("bigint")
        .alias("a_obs"),
    ).localCheckpoint(eager=True)  # tiny; feeds the lf domain AND k domain
    lf = (
        m.select(F.explode(F.sequence(F.lit(0), F.col("n"))).alias("i"))
        .select(
            "i",
            F.when(F.col("i") == 0, F.lit(0))
            .otherwise(F.round(F.log(F.col("i").cast("double")) * 1e9).cast("bigint"))
            .alias("t"),
        )
        .select(
            "i",
            F.sum("t")
            .over(Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0))
            .alias("v"),
        )
    )

    def lfat(frame, key, alias):
        j = lf.select(F.col("i").alias(f"_i_{alias}"), F.col("v").alias(alias))
        return frame.join(F.broadcast(j), key == F.col(f"_i_{alias}")).drop(
            f"_i_{alias}"
        )

    konst = lfat(m, F.col("r1"), "la")
    konst = lfat(konst, F.col("n") - F.col("r1"), "lb")
    konst = lfat(konst, F.col("c1"), "lc")
    konst = lfat(konst, F.col("n") - F.col("c1"), "ld")
    konst = lfat(konst, F.col("n"), "le")
    konst = konst.withColumn(
        "c9", F.col("la") + F.col("lb") + F.col("lc") + F.col("ld") - F.col("le")
    )
    ks = konst.select(
        "n",
        "r1",
        "c1",
        "a_obs",
        "c9",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("r1") + F.col("c1") - F.col("n")),
                F.least(F.col("r1"), F.col("c1")),
            )
        ).alias("kk"),
    )
    lp = lfat(ks, F.col("kk"), "l1")
    lp = lfat(lp, F.col("r1") - F.col("kk"), "l2")
    lp = lfat(lp, F.col("c1") - F.col("kk"), "l3")
    lp = lfat(lp, F.col("n") - F.col("r1") - F.col("c1") + F.col("kk"), "l4")
    lp = lp.withColumn(
        "logp9",
        F.col("c9") - F.col("l1") - F.col("l2") - F.col("l3") - F.col("l4"),
    ).localCheckpoint(eager=True)  # k-domain frame; feeds obs AND the sum
    obs = lp.filter(F.col("kk") == F.col("a_obs")).select(
        F.col("logp9").alias("obs9")
    )
    term = F.round(F.exp(F.col("logp9").cast("double") / 1e9) * 1e12).cast("bigint")
    return (
        lp.crossJoin(F.broadcast(obs))
        .agg(
            F.min("n").alias("n"),
            F.min("r1").alias("r1"),
            F.min("c1").alias("c1"),
            F.min("a_obs").alias("a_obs"),
            F.round(
                F.sum(F.when(F.col("logp9") <= F.col("obs9"), term)).cast("double")
                / 1e12,
                9,
            ).alias("p_two_sided"),
        )
    )


# --------------------------------------------------------------------------
# Cochran-Mantel-Haenszel stratified 2x2 test (round 9)
# --------------------------------------------------------------------------


def _sql_cmh() -> str:
    return f"""
WITH cust AS (
  SELECT r.r_name AS stratum,
         CASE WHEN c.c_acctbal > 5000.0 THEN 1 ELSE 0 END AS ex,
         CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS ou
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
s AS (
  SELECT stratum,
         CAST(count(*) FILTER (WHERE ex = 1 AND ou = 1) AS BIGINT) AS a,
         CAST(count(*) FILTER (WHERE ex = 1) AS BIGINT) AS r1,
         CAST(count(*) FILTER (WHERE ou = 1) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n
  FROM cust GROUP BY 1
),
t AS (
  SELECT stratum, a, r1, c1, n,
         r1 - a AS b, c1 - a AS c, n - r1 - c1 + a AS d
  FROM s
)
SELECT CAST(count(*) AS BIGINT) AS n_strata,
       CAST(sum(a) AS BIGINT) AS sum_a,
       round(pow({SQL_DSUM.format(
                 x='CASE WHEN n >= 2 THEN a - CAST(r1 AS DOUBLE) * c1 / n'
                   ' ELSE 0.0 END')}, 2)
             / {SQL_DSUM.format(
                 x='CASE WHEN n >= 2 THEN'
                   ' CAST(r1 AS DOUBLE) * (n - r1) * c1 * (n - c1)'
                   ' / (CAST(n AS DOUBLE) * n * (n - 1.0)) ELSE 0.0 END')}, 9)
         AS cmh_chi2,
       round({SQL_DSUM.format(x='CAST(a AS DOUBLE) * d / n')}
             / {SQL_DSUM.format(x='CAST(b AS DOUBLE) * c / n')}, 6) AS or_mh
FROM t
"""


@register(
    "stats_cmh_test",
    oracle=_sql_cmh(),
    tags=("stats", "stratified", "contingency", "cmh"),
)
def stats_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test of the balance->segment association
    STRATIFIED BY REGION (one 2x2 per region, 1 dof pooled): chi2 =
    (Sigma(a_i - E_i))^2 / Sigma V_i with the hypergeometric E_i, V_i,
    plus the Mantel-Haenszel pooled odds ratio Sigma(a_i d_i/n_i) /
    Sigma(b_i c_i/n_i) — the confounding-aware complement of the
    marginal ``stats_chi2_lang_source`` / ``stats_odds_ratio_ci``
    (Simpson's-paradox-proof: association is tested WITHIN strata and
    pooled, never across them). No continuity correction (documented;
    both programs identical).

    Exactness: per-stratum cells are exact integer conditional counts;
    each (a - E), V, ad/n and bc/n term quantizes on the micro grid
    (SQL_DSUM) before its sum, so the pooled sums are
    partitioning-independent; chi2 and OR are identical final
    expressions over those quantized sums.

    Scale shape: customer scans once through two BROADCAST dimension
    joins (nation, region); one map-side-combined 5-stratum groupBy;
    a 1-row combine. dof is 1 by construction."""
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cust = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("stratum"),
            (F.col("c_acctbal") > 5000.0).cast("int").alias("ex"),
            (F.col("c_mktsegment") == "AUTOMOBILE").cast("int").alias("ou"),
        )
    )
    s = cust.groupBy("stratum").agg(
        F.count(F.when((F.col("ex") == 1) & (F.col("ou") == 1), 1))
        .cast("bigint")
        .alias("a"),
        F.count(F.when(F.col("ex") == 1, 1)).cast("bigint").alias("r1"),
        F.count(F.when(F.col("ou") == 1, 1)).cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    t = s.select(
        "stratum",
        "a",
        "r1",
        "c1",
        "n",
        (F.col("r1") - F.col("a")).alias("b"),
        (F.col("c1") - F.col("a")).alias("c"),
        (F.col("n") - F.col("r1") - F.col("c1") + F.col("a")).alias("d"),
    )
    nd = F.col("n").cast("double")
    # singleton-stratum guard (the Neyman r8 pattern): n = 1 leaves the
    # hypergeometric variance 0/0 — both terms pin to 0 on both engines
    # (a - E is identically 0 there anyway)
    num = F.when(
        F.col("n") >= 2,
        F.col("a") - F.col("r1").cast("double") * F.col("c1") / F.col("n"),
    ).otherwise(F.lit(0.0))
    var = F.when(
        F.col("n") >= 2,
        F.col("r1").cast("double")
        * (F.col("n") - F.col("r1"))
        * F.col("c1")
        * (F.col("n") - F.col("c1"))
        / (nd * F.col("n") * (F.col("n") - 1.0)),
    ).otherwise(F.lit(0.0))
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.round(
            F.pow(dsum(num), 2) / dsum(var),
            9,
        ).alias("cmh_chi2"),
        F.round(
            dsum(F.col("a").cast("double") * F.col("d") / F.col("n"))
            / dsum(F.col("b").cast("double") * F.col("c") / F.col("n")),
            6,
        ).alias("or_mh"),
    )


# --------------------------------------------------------------------------
# Round 10: mutual information, Jarque-Bera, Cliff's delta, Wasserstein-1
# --------------------------------------------------------------------------


_SQL_MUTUAL_INFO = f"""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
mx AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
my AS (SELECT source, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
n AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM cells),
mi AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         {{NSUM_MI}} AS mi_nats
  FROM cells JOIN mx USING (lang) JOIN my USING (source) CROSS JOIN n
),
hx AS (SELECT {{NSUM_HX}} AS h_lang FROM mx CROSS JOIN n),
hy AS (SELECT {{NSUM_HY}} AS h_source FROM my CROSS JOIN n)
SELECT nt AS n, n_cells, mi_nats, h_lang, h_source,
       round(mi_nats / sqrt(h_lang * h_source), 9) AS nmi
FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN n
""".format(
    NSUM_MI=SQL_NSUM.format(
        x="round((CAST(c AS DOUBLE) / nt)"
        " * ln(CAST(c AS DOUBLE) * nt / (CAST(cx AS DOUBLE) * cy)), 9)"
    ),
    NSUM_HX=SQL_NSUM.format(
        x="round(-(CAST(cx AS DOUBLE) / nt) * ln(CAST(cx AS DOUBLE) / nt), 9)"
    ),
    NSUM_HY=SQL_NSUM.format(
        x="round(-(CAST(cy AS DOUBLE) / nt) * ln(CAST(cy AS DOUBLE) / nt), 9)"
    ),
)


@register(
    "stats_mutual_information",
    oracle=_SQL_MUTUAL_INFO,
    tags=("stats", "information", "entropy"),
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (lang x
    source): I = Sigma p_xy ln(p_xy / (p_x p_y)) in nats, alongside both
    marginal Shannon entropies and the normalized MI
    I / sqrt(H(X) H(Y)) (Strehl & Ghosh's NMI — the clustering-
    agreement normalization). The information-theoretic sibling of
    stats_chi2_lang_source and stats_cramers_v on the same contingency
    table.

    Exactness: every per-cell / per-margin term is rounded on the 9-dp
    grid then summed on the nano grid (the l-diversity entropy
    discipline), so summation order cannot move either engine; counts
    are exact BIGINTs from one hash agg.

    Scale shape: ONE map-side-combined groupBy over the fact table;
    margins and the total are re-aggregations of the (|lang| x |source|)
    cell frame — everything after the first agg is bounded by the
    categorical domain, not the data."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    mx = cells.groupBy("lang").agg(F.sum("c").cast("bigint").alias("cx"))
    my = cells.groupBy("source").agg(F.sum("c").cast("bigint").alias("cy"))
    n = cells.agg(F.sum("c").cast("bigint").alias("nt"))
    joined = (
        cells.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(n))
    )
    cd = F.col("c").cast("double")
    mi_term = F.round(
        (cd / F.col("nt"))
        * F.log(cd * F.col("nt") / (F.col("cx").cast("double") * F.col("cy"))),
        9,
    )
    mi = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        nsum(mi_term).alias("mi_nats"),
    )
    pxd = F.col("cx").cast("double") / F.col("nt")
    hx = mx.crossJoin(F.broadcast(n)).agg(
        nsum(F.round(-pxd * F.log(pxd), 9)).alias("h_lang")
    )
    pyd = F.col("cy").cast("double") / F.col("nt")
    hy = my.crossJoin(F.broadcast(n)).agg(
        nsum(F.round(-pyd * F.log(pyd), 9)).alias("h_source")
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("nt").alias("n"),
            "n_cells",
            "mi_nats",
            "h_lang",
            "h_source",
            F.round(
                F.col("mi_nats") / F.sqrt(F.col("h_lang") * F.col("h_source")), 9
            ).alias("nmi"),
        )
    )


_SQL_JARQUE_BERA = f"""
WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         {{DAVG_V}} AS mean_v
  FROM ev GROUP BY 1
),
d AS (
  SELECT e.event_type, m.n, m.mean_v, (e.value - m.mean_v) / 100.0 AS dv
  FROM ev e JOIN m USING (event_type)
),
mom AS (
  SELECT event_type, min(n) AS n, min(mean_v) AS mean_v,
         {{NSUM_D2}} / min(n) AS s2,
         {{NSUM_D3}} / min(n) AS s3,
         {{NSUM_D4}} / min(n) AS s4
  FROM d GROUP BY 1
)
SELECT event_type, n, round(mean_v, 6) AS mean_v,
       round(s3 / (s2 * sqrt(s2)), 9) AS skewness,
       round(s4 / (s2 * s2) - 3.0, 9) AS excess_kurtosis,
       round(CAST(n AS DOUBLE) / 6.0
             * (round(s3 / (s2 * sqrt(s2)), 9) * round(s3 / (s2 * sqrt(s2)), 9)
                + round(s4 / (s2 * s2) - 3.0, 9) * round(s4 / (s2 * s2) - 3.0, 9)
                  / 4.0), 6) AS jarque_bera
FROM mom ORDER BY event_type
""".format(
    DAVG_V=SQL_DAVG.format(x="value"),
    NSUM_D2=SQL_NSUM.format(x="round(dv * dv, 9)"),
    NSUM_D3=SQL_NSUM.format(x="round(dv * dv * dv, 9)"),
    NSUM_D4=SQL_NSUM.format(x="round(dv * dv * dv * dv, 9)"),
)


@register(
    "stats_jarque_bera",
    oracle=_SQL_JARQUE_BERA,
    tags=("stats", "normality", "moments"),
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type: sample skewness and
    excess kurtosis from exact central moments, pooled into
    JB = n/6 (g1^2 + g2^2/4) ~ chi2(2) — the moment-based normality
    audit complementing the ECDF-based stats_ks_test.

    Exactness: the group mean is the quantized davg (identical double
    on both engines); deviations are divided by the constant 100 BEFORE
    powering (JB is scale-invariant, and the rescale keeps the 4th-power
    terms inside the nano grid's integer range at any SF); each power
    term rounds to 9 dp and sums on the nano grid; g1/g2 round before
    squaring so JB composes from already-identical doubles.

    Scale shape: two passes over the fact table (mean, then central
    moments — the numerically-stable textbook split), both map-side-
    combined hash aggs on the same 5-key group; the mean frame
    broadcast-joins back. No window, no sort anywhere."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        davg(F.col("value")).alias("mean_v"),
    )
    d = ev.join(F.broadcast(m), "event_type").withColumn(
        "dv", (F.col("value") - F.col("mean_v")) / F.lit(100.0)
    )
    dv = F.col("dv")
    mom = d.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min("mean_v").alias("mean_v"),
        (nsum(F.round(dv * dv, 9)) / F.min("n")).alias("s2"),
        (nsum(F.round(dv * dv * dv, 9)) / F.min("n")).alias("s3"),
        (nsum(F.round(dv * dv * dv * dv, 9)) / F.min("n")).alias("s4"),
    )
    g1 = F.round(F.col("s3") / (F.col("s2") * F.sqrt(F.col("s2"))), 9)
    g2 = F.round(F.col("s4") / (F.col("s2") * F.col("s2")) - 3.0, 9)
    return mom.select(
        "event_type",
        "n",
        F.round("mean_v", 6).alias("mean_v"),
        g1.alias("skewness"),
        g2.alias("excess_kurtosis"),
        F.round(
            F.col("n").cast("double") / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 6
        ).alias("jarque_bera"),
    ).orderBy("event_type")


_SQL_CLIFFS_DELTA = f"""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
  FROM orders WHERE o_totalprice IS NOT NULL
),
vc AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(g) AS BIGINT) AS c1
  FROM o GROUP BY v
),
cum AS (
  SELECT v, cnt, c1,
         CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
  FROM vc
),
agg AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(cnt) AS BIGINT) AS n,
         {{DSUM_R1}} AS r1,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
  FROM cum
),
u AS (
  SELECT n1, n - n1 AS n2, n, tie3,
         r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0 AS u1
  FROM agg
)
SELECT n1 AS n_a, n2 AS n_b, round(u1, 6) AS u_a,
       round((2.0 * u1 - CAST(n1 AS DOUBLE) * n2)
             / (CAST(n1 AS DOUBLE) * n2), 9) AS cliffs_delta,
       round((u1 - CAST(n1 AS DOUBLE) * n2 / 2.0)
             / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                    * ((n + 1) - CAST(tie3 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1.0)))),
             6) AS z_mann_whitney
FROM u
""".format(
    DSUM_R1=SQL_DSUM.format(x="CAST(c1 AS DOUBLE) * (cum - (cnt - 1) / 2.0)")
)


@register(
    "stats_cliffs_delta",
    oracle=_SQL_CLIFFS_DELTA,
    tags=("stats", "effect-size", "rank", "nonparametric"),
)
def stats_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (= rank-biserial correlation) between urgent and
    non-urgent order totals, with the tie-corrected Mann-Whitney U and
    its normal-approximation z: delta = (#(x>y) - #(x<y)) / (n1 n2),
    recovered exactly from midranks via 2U/(n1 n2) - 1 — the ordinal
    effect size to pair with stats_cohens_d_effect's parametric one,
    and the two-group U underlying stats_kruskal_wallis's k-group H.

    Exactness: values quantize to integer cents, so ranking never
    compares raw doubles; midranks (integers or exact halves) come from
    the combined distinct-value running count; R1 = Sigma c1(v) *
    midrank(v) sums on the micro grid; the tie term Sigma(t^3 - t) is
    an exact BIGINT; every downstream expression composes identically
    on both engines from those exact inputs.

    Scale shape: the midrank frame is value_counts_cum's
    repartitionByRange two-level prefix sum (the stats_spearman_corr
    discipline — NO global rank window; no task ever sees more than one
    range slice); group-1 counts ride the SAME distinct-value hash agg,
    so the whole statistic is two shuffles on the value domain + one
    1-row combine."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    cum, _n = value_counts_cum(o, F.col("v"))
    c1 = o.groupBy("v").agg(F.sum("g").cast("bigint").alias("c1"))
    j = cum.join(c1, "v")
    midrank = F.col("cum") - (F.col("cnt") - 1) / F.lit(2.0)
    agg = j.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("cnt").cast("bigint").alias("n"),
        dsum(F.col("c1").cast("double") * midrank).alias("r1"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).cast("bigint").alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    u1 = F.col("r1") - n1d * (F.col("n1") + 1) / F.lit(2.0)
    n2 = F.col("n") - F.col("n1")
    varu = (n1d * n2 / F.lit(12.0)) * (
        (F.col("n") + 1)
        - F.col("tie3").cast("double") / (F.col("n").cast("double") * (F.col("n") - F.lit(1.0)))
    )
    return agg.select(
        F.col("n1").alias("n_a"),
        n2.alias("n_b"),
        F.round(u1, 6).alias("u_a"),
        F.round((F.lit(2.0) * u1 - n1d * n2) / (n1d * n2), 9).alias("cliffs_delta"),
        F.round((u1 - n1d * n2 / F.lit(2.0)) / F.sqrt(varu), 6).alias(
            "z_mann_whitney"
        ),
    )


_SQL_WASSERSTEIN = f"""
WITH ev AS (
  SELECT CAST(floor(value / 10) AS BIGINT) AS g,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
  FROM events WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
),
c AS (
  SELECT g, CAST(sum(a) AS BIGINT) AS ca, CAST(count(*) - sum(a) AS BIGINT) AS cb
  FROM ev GROUP BY g
),
bounds AS (SELECT min(g) AS lo, max(g) AS hi FROM c),
spine AS (SELECT CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS g FROM bounds),
z AS (
  SELECT s.g, COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
  FROM spine s LEFT JOIN c ON s.g = c.g
),
n AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM z),
f AS (
  SELECT g,
         CAST(sum(ca) OVER (ORDER BY g) AS DOUBLE) / (SELECT na FROM n) AS fa,
         CAST(sum(cb) OVER (ORDER BY g) AS DOUBLE) / (SELECT nb FROM n) AS fb
  FROM z
)
SELECT (SELECT na FROM n) AS n_a, (SELECT nb FROM n) AS n_b,
       CAST(count(*) AS BIGINT) AS n_bins,
       round(10.0 * {{NSUM_GAP}}, 6) AS w1
FROM f
""".format(NSUM_GAP=SQL_NSUM.format(x="round(abs(fa - fb), 9)"))


@register(
    "stats_wasserstein_binned",
    oracle=_SQL_WASSERSTEIN,
    tags=("stats", "distribution", "wasserstein", "drift"),
)
def stats_wasserstein_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between the view and
    purchase value distributions on a fixed width-10 grid: W1 =
    Sigma_g |F_a(g) - F_b(g)| * 10, the exact EMD of the binned
    distributions (the CDF-difference integral collapses to a sum when
    mass sits on a regular grid). The transport-metric companion to
    dq_psi_drift (likelihood-ratio binned drift) and stats_ks_test
    (sup-norm): PSI explodes on empty bins, KS sees only the worst bin,
    W1 weights every bin by its distance.

    Exactness: bin counts are exact BIGINTs; each CDF value is an exact
    integer ratio; per-bin gaps round to 9 dp and sum on the nano grid.
    A min..max bin spine zero-fills holes so both CDFs step on the same
    domain (the J4 pattern).

    Scale shape: one pruned fact scan -> width-10 hash agg; everything
    downstream lives on the bin-domain frame, whose cardinality is
    bounded by the VALUE RANGE / 10 — a domain constant, not a data
    volume — so the cumulative window never sees fact-cardinality rows
    at any SF."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("view", "purchase")
        )
        .select(
            F.floor(F.col("value") / 10).cast("bigint").alias("g"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("a"),
        )
    )
    c = ev.groupBy("g").agg(
        F.sum("a").cast("bigint").alias("ca"),
        (F.count(F.lit(1)) - F.sum("a")).cast("bigint").alias("cb"),
    )
    bounds = c.agg(F.min("g").alias("lo"), F.max("g").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("g")
    )
    z = (
        spine.join(c, "g", "left")
        .select(
            "g",
            F.coalesce("ca", F.lit(0)).cast("bigint").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("bigint").alias("cb"),
        )
    )
    n = z.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    wcum = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    f = z.crossJoin(F.broadcast(n)).select(
        "g",
        "na",
        "nb",
        (F.sum("ca").over(wcum).cast("double") / F.col("na")).alias("fa"),
        (F.sum("cb").over(wcum).cast("double") / F.col("nb")).alias("fb"),
    )
    return f.agg(
        F.min("na").alias("n_a"),
        F.min("nb").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(
            F.lit(10.0) * nsum(F.round(F.abs(F.col("fa") - F.col("fb")), 9)),
            6,
        ).alias("w1"),
    )


_COCHRAN_TYPES = ("click", "error", "purchase", "signup", "view")

_SQL_COCHRAN_Q = f"""
WITH m AS (
  SELECT user_id,
         {', '.join(f"max(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS x{i}"
                    for i, t in enumerate(_COCHRAN_TYPES))}
  FROM events GROUP BY user_id
),
r AS (
  SELECT user_id, {' + '.join(f'x{i}' for i in range(len(_COCHRAN_TYPES)))} AS ri,
         {', '.join(f'x{i}' for i in range(len(_COCHRAN_TYPES)))}
  FROM m
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(ri) AS BIGINT) AS grand,
         CAST(sum(ri * ri) AS BIGINT) AS sum_r2,
         {', '.join(f'CAST(sum(x{i}) AS BIGINT) AS c{i}' for i in range(len(_COCHRAN_TYPES)))}
  FROM r
)
SELECT n_users, grand,
       {len(_COCHRAN_TYPES)} AS k,
       CASE WHEN {len(_COCHRAN_TYPES)} * grand - sum_r2 > 0
            THEN round(({len(_COCHRAN_TYPES)} - 1.0)
                 * ({len(_COCHRAN_TYPES)}.0 * ({' + '.join(f'c{i} * c{i}' for i in range(len(_COCHRAN_TYPES)))}) - CAST(grand AS DOUBLE) * grand)
                 / ({len(_COCHRAN_TYPES)}.0 * grand - sum_r2), 9)
       END AS cochran_q
FROM agg
"""


@register(
    "stats_cochran_q",
    oracle=_SQL_COCHRAN_Q,
    tags=("stats", "nonparametric", "repeated-measures"),
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test for equal marginal proportions across k
    correlated binary treatments: per user, did they ever perform each
    of the 5 event types (a repeated-measures binary design — the same
    subjects under every treatment), pooled into
    Q = (k-1)(k Sigma C_j^2 - G^2) / (k G - Sigma R_i^2) ~ chi2(k-1).
    The k-treatment generalization of stats_mcnemar_test, and the
    binary analog of stats_friedman_test. NULL when the denominator
    is 0 (every user all-or-nothing).

    Exactness: every input to Q is an exact BIGINT (row/column totals
    and their squares from one per-user agg + one combine), so the
    single closed-form double expression is identical on both engines.

    Scale shape: one map-side-combined user agg (the fact table's only
    pass), one 1-row combine of integer totals. No window, no sort, no
    join."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"x{i}")
            for i, t in enumerate(_COCHRAN_TYPES)
        ]
    )
    k = len(_COCHRAN_TYPES)
    ri = sum(F.col(f"x{i}") for i in range(k))
    agg = m.select(*[F.col(f"x{i}") for i in range(k)], ri.alias("ri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("ri").cast("bigint").alias("grand"),
        F.sum(F.col("ri") * F.col("ri")).cast("bigint").alias("sum_r2"),
        *[F.sum(f"x{i}").cast("bigint").alias(f"c{i}") for i in range(k)],
    )
    sum_c2 = sum(F.col(f"c{i}") * F.col(f"c{i}") for i in range(k))
    denom = F.lit(float(k)) * F.col("grand") - F.col("sum_r2")
    q = (
        F.lit(k - 1.0)
        * (F.lit(float(k)) * sum_c2 - F.col("grand").cast("double") * F.col("grand"))
        / denom
    )
    return agg.select(
        "n_users",
        "grand",
        F.lit(k).alias("k"),
        F.when(F.lit(k) * F.col("grand") - F.col("sum_r2") > 0, F.round(q, 9)).alias(
            "cochran_q"
        ),
    )


_SQL_ATKINSON = f"""
WITH c AS (
  SELECT c_acctbal AS x FROM customer WHERE c_acctbal > 0
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         {SQL_DAVG.format(x='x')} AS mean_x,
         {SQL_DAVG.format(x='sqrt(x)')} AS mean_sqrt,
         {SQL_DAVG.format(x='round(ln(x), 9)')} AS mean_ln
  FROM c
)
SELECT n, round(mean_x, 6) AS mean_x,
       round(1.0 - (mean_sqrt * mean_sqrt) / mean_x, 9) AS atkinson_eps_half,
       round(1.0 - exp(mean_ln) / mean_x, 9) AS atkinson_eps_one
FROM agg
"""


@register(
    "stats_atkinson_index",
    oracle=_SQL_ATKINSON,
    tags=("stats", "inequality", "welfare"),
)
def stats_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index of positive customer balances at the
    two canonical aversion levels: A(0.5) = 1 - (mean sqrt(x))^2 / mean
    and A(1) = 1 - geomean / mean — the welfare-founded complement to
    the Gini (udf_grouped_agg_gini) and Theil (stats_theil_index)
    entries: Atkinson makes the inequality-aversion parameter explicit
    and is decomposable by subgroup.

    Exactness: all three generalized means are quantized davg over
    exact per-row transforms (ln terms pre-rounded to 9 dp so the
    micro-grid mean of identical doubles is identical); the two index
    expressions then compose from identical doubles.

    Scale shape: one pruned scan, one map-side-combined aggregate of
    three running sums. Nothing else."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    agg = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        davg(F.col("c_acctbal")).alias("mean_x"),
        davg(F.sqrt(F.col("c_acctbal"))).alias("mean_sqrt"),
        davg(F.round(F.log(F.col("c_acctbal")), 9)).alias("mean_ln"),
    )
    return agg.select(
        "n",
        F.round("mean_x", 6).alias("mean_x"),
        F.round(
            F.lit(1.0) - (F.col("mean_sqrt") * F.col("mean_sqrt")) / F.col("mean_x"),
            9,
        ).alias("atkinson_eps_half"),
        F.round(
            F.lit(1.0) - F.exp(F.col("mean_ln")) / F.col("mean_x"), 9
        ).alias("atkinson_eps_one"),
    )


@register(
    "streaming_hll_distinct",
    oracle=f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
{'{}'.format(sql_hll("k", "ev"))},
exact AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct
          FROM ev WHERE k IS NOT NULL)
SELECT m, n_filled, v_empty, raw_est, est, exact_distinct,
       round(abs(est - exact_distinct) / exact_distinct, 6) AS abs_rel_err
FROM hll_out, exact
""",
    tags=("sketch", "cardinality", "hll", "streaming"),
)
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch driven through Structured Streaming — the batch
    twin is ``sketch_hll_cardinality`` (same registers, same estimate,
    same oracle; streaming and batch must agree on static input). The
    per-event register contribution maps over readStream and the
    register table is a streaming groupBy(bucket).max(rho) in complete
    mode with NO watermark — unlike the windowed aggregations, sketch
    state is BOUNDED BY CONSTRUCTION (<= m = 256 rows, forever), which
    is exactly why approximate sketches are the standing answer to
    unbounded-cardinality streaming distinct counts: the exact
    streaming distinct would grow state with every new key. The
    estimate fold and the exact-distinct audit run batch-side on the
    materialized registers."""
    from .streaming import read_events_stream, run_stream_to_memory

    stream = read_events_stream(spark, sf_dir)
    # hll_registers is stream-agnostic: plain select + groupBy/max, so
    # the SAME helper builds the batch and streaming register tables
    regs_stream = hll_registers(stream, F.col("user_id").cast("string"))
    regs = run_stream_to_memory(regs_stream, output_mode="complete")
    sk = hll_estimate(regs)
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    exact = ev.where(F.col("k").isNotNull()).agg(
        F.countDistinct("k").cast("bigint").alias("exact_distinct")
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        "m",
        "n_filled",
        "v_empty",
        "raw_est",
        "est",
        "exact_distinct",
        F.round(
            F.abs(F.col("est") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("abs_rel_err"),
    )


@register(
    "streaming_cms_heavy_hitters",
    oracle=f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
pairs AS ({_cms_union("1 AS one", "ev")}),
cells AS (SELECT d, b, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY d, b),
truth AS (SELECT k, CAST(count(*) AS BIGINT) AS true_n FROM ev GROUP BY k),
probes AS ({_cms_union("k, true_n", "truth")}),
est AS (
  SELECT p.k, min(p.true_n) AS true_n, min(c.c) AS est
  FROM probes p JOIN cells c USING (d, b) GROUP BY p.k
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ev)
SELECT CAST(k AS BIGINT) AS user_id, est, true_n, n_total,
       est >= true_n AS no_underestimate,
       true_n * 64 >= n_total AS true_heavy
FROM est, tot
WHERE est * 64 >= n_total
ORDER BY user_id
""",
    tags=("sketch", "frequency", "streaming", "heavy-hitters"),
)
def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters driven through Structured Streaming — the
    CMS completion of the streaming-sketch pattern streaming_hll_distinct
    established: cms_cells is stream-agnostic
    (explode + groupBy(d, b).count), so the SAME helper builds the batch
    (``sketch_countmin_freq``) and streaming counter tables, and the
    stream's state is BOUNDED BY CONSTRUCTION at d*w = 4x64 = 256
    counter rows forever — the standing answer to heavy-hitter
    monitoring over unbounded-cardinality streams, where the exact
    per-key count grows reducer state with every new key. Batch-side,
    every distinct user probes the streamed sketch and the phi = 1/64
    heavy-hitter gate keeps keys with est >= N/64 — as an integer
    comparison (est * 64 >= n_total), so no division enters the
    differential. Audit columns ride along: the CMS one-sided guarantee
    (no_underestimate, must be all-true) and exact-count heaviness
    (true_heavy; false rows are the sketch's documented phi-fringe
    false positives — over-counts can promote a near-threshold key,
    never demote a true heavy hitter)."""
    from .streaming import read_events_stream, run_stream_to_memory

    stream = read_events_stream(spark, sf_dir)
    cells_stream = cms_cells(
        stream, F.col("user_id").cast("string"), depth=_CMS_D, width=_CMS_W
    )
    cells = run_stream_to_memory(cells_stream, output_mode="complete")
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    truth = ev.groupBy("k").agg(F.count(F.lit(1)).alias("true_n"))
    est = cms_estimate(truth, F.col("k"), cells, depth=_CMS_D, width=_CMS_W)
    total = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est") * 64 >= F.col("n_total"))
        .select(
            F.col("k").cast("bigint").alias("user_id"),
            "est",
            "true_n",
            "n_total",
            (F.col("est") >= F.col("true_n")).alias("no_underestimate"),
            (F.col("true_n") * 64 >= F.col("n_total")).alias("true_heavy"),
        )
        .orderBy("user_id")
    )


_SQL_QDIGEST = r"""
WITH RECURSIVE
b AS (SELECT CAST(greatest(least(floor(value), 1023), 0) AS BIGINT) AS u FROM events WHERE value IS NOT NULL),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS BIGINT) // 64 AS thr FROM b),
leaves AS (SELECT u, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY u),
dense AS (
  SELECT list(coalesce(l.c, 0) ORDER BY t.i) AS cl
  FROM range(0, 1024) t(i) LEFT JOIN leaves l ON l.u = t.i
),
dig AS (
  SELECT 0 AS it, cl, []::STRUCT(level BIGINT, idx BIGINT, cnt BIGINT)[] AS frozen
  FROM dense
  UNION ALL
  SELECT it + 1,
         list_transform(range(0, len(cl) // 2), p ->
           CASE WHEN cl[2*p+1] + cl[2*p+2] <= thr
                THEN cl[2*p+1] + cl[2*p+2] ELSE CAST(0 AS BIGINT) END),
         frozen || list_filter(
           list_transform(range(0, len(cl)), j ->
             {'level': CAST(it AS BIGINT), 'idx': CAST(j AS BIGINT), 'cnt': cl[j+1]}),
           s -> s.cnt > 0 AND cl[(s.idx // 2) * 2 + 1] + cl[(s.idx // 2) * 2 + 2] > thr)
  FROM dig, tot WHERE it < 10
),
fin AS (
  SELECT frozen ||
         (CASE WHEN cl[1] > 0
               THEN [{'level': CAST(10 AS BIGINT), 'idx': CAST(0 AS BIGINT), 'cnt': cl[1]}]
               ELSE []::STRUCT(level BIGINT, idx BIGINT, cnt BIGINT)[] END) AS nodes
  FROM dig WHERE it = 10
),
nd AS (SELECT unnest(nodes) AS s FROM fin),
cum AS (
  SELECT (s.idx + 1) * (CAST(1 AS BIGINT) << s.level) - 1 AS upper,
         sum(s.cnt) OVER (ORDER BY (s.idx + 1) * (CAST(1 AS BIGINT) << s.level) - 1, s.level
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM nd
),
excum AS (SELECT u, sum(c) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING) AS cum FROM leaves),
qs(q, qnum, qden) AS (VALUES (0.25, 1, 4), (0.5, 1, 2), (0.75, 3, 4), (0.9, 9, 10), (0.99, 99, 100)),
est AS (
  SELECT q.q, (q.qnum * t.n + q.qden - 1) // q.qden AS rank_target, t.n, t.thr
  FROM qs q, tot t
)
SELECT e.q, e.rank_target,
       (SELECT min(upper) FROM cum WHERE cum >= e.rank_target) AS est_u,
       (SELECT min(u) FROM excum WHERE cum >= e.rank_target) AS exact_u,
       CAST((SELECT coalesce(max(cum), 0) FROM excum
             WHERE u <= (SELECT min(upper) FROM cum WHERE cum >= e.rank_target))
            AS BIGINT) AS true_cum_le_est,
       (SELECT CAST(count(*) AS BIGINT) FROM nd) AS n_nodes,
       e.thr, e.n
FROM est e ORDER BY e.q
"""



def _qdigest_result(spark: SparkSession, leaves: DataFrame) -> DataFrame:
    """Shared digest build + quantile/audit rows for the batch and
    streaming q-digest entries: collect the domain-bounded histogram
    (<= QD_U = 1024 rows, the k-centroid bounded-driver-state idiom),
    run the integer digest math, return the 5-quantile audit frame."""
    leaf = {int(r["u"]): int(r["c"]) for r in leaves.collect()}
    n = sum(leaf.values())
    if n == 0:
        # all-NULL value column: mirror the oracle exactly (empty CTEs
        # make its est_u/exact_u scalar subqueries NULL, true_cum
        # coalesces to 0, every other column is 0)
        out = [(q, 0, None, None, 0, 0, 0, 0)
               for q in (0.25, 0.5, 0.75, 0.9, 0.99)]
        return spark.createDataFrame(
            out,
            schema=(
                "q double, rank_target bigint, est_u bigint, exact_u bigint, "
                "true_cum_le_est bigint, n_nodes bigint, thr bigint, n bigint"
            ),
        ).orderBy("q")
    nodes, thr = qdigest_build(leaf)
    sorted_u = sorted(leaf)
    out = []
    for q, num, den in (
        (0.25, 1, 4), (0.5, 1, 2), (0.75, 3, 4), (0.9, 9, 10), (0.99, 99, 100)
    ):
        rank = (num * n + den - 1) // den
        est = qdigest_quantile(nodes, rank)
        cum = 0
        exact = QD_U - 1
        for u in sorted_u:
            cum += leaf[u]
            if cum >= rank:
                exact = u
                break
        true_cum = sum(c for u, c in leaf.items() if u <= est)
        out.append((q, rank, est, exact, true_cum, len(nodes), thr, n))
    return spark.createDataFrame(
        out,
        schema=(
            "q double, rank_target bigint, est_u bigint, exact_u bigint, "
            "true_cum_le_est bigint, n_nodes bigint, thr bigint, n bigint"
        ),
    ).orderBy("q")


@register(
    "sketch_qdigest_quantiles",
    oracle=_SQL_QDIGEST,
    tags=("sketch", "quantile", "mergeable"),
)
def sketch_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-digest quantile sketch (Shrivastava et al. 2004) — the QUANTILE
    member completing the mergeable-sketch family (CMS frequency / HLL
    cardinality / Bloom membership / KMV set operations): event values
    quantize onto the dyadic universe [0, 1024), the exact leaf
    histogram compresses bottom-up (each parent absorbs its children
    iff their combined count <= n//sigma, sigma = 64), and quantile
    queries walk the surviving nodes (<= 2*sigma + 1 once
    compression engages — pinned in the fuzz test) in (upper bound,
    level) order. Estimates NEVER undershoot the target rank (every
    counted node's range lies wholly at-or-below its upper bound), and
    overshoot is bounded by levels * thr + the leaf mass at the
    estimate — both audited here against the exact quantile of the
    same quantized domain, for the canonical q in (.25, .5, .75, .9,
    .99). Rank targets are exact integers ((num*n + den - 1) // den),
    so no float enters the differential anywhere.

    100 TB shape: ONE hash aggregate bounded by the 1024-value domain
    (partial agg collapses every partition to <= U rows — the
    CMS/HLL/Bloom constant-exchange story), then pure integer digest
    math on the <= 1024-row summary (bounded driver state, the IVF
    centroid idiom); digests from disjoint corpora merge by adding
    node counts and re-compressing, which is what Spark's own
    approx_percentile cannot give you deterministically. Unlike
    GK/KLL/t-digest, the q-digest build is order-independent and fully
    deterministic, so the DuckDB oracle replays it node-for-node (a
    recursive CTE carrying the (dense-level counts, frozen nodes)
    state one compression level per iteration)."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    leaves = (
        ev.select(
            F.greatest(F.least(F.floor("value"), F.lit(1023)), F.lit(0))
            .cast("bigint").alias("u")
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return _qdigest_result(spark, leaves)


@register(
    "streaming_qdigest_quantiles",
    oracle=_SQL_QDIGEST,
    tags=("sketch", "quantile", "mergeable", "streaming"),
)
def streaming_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q-digest driven through Structured Streaming — third member
    of the streaming-sketch pattern (streaming_hll_distinct,
    streaming_cms_heavy_hitters): the domain-bounded leaf histogram is
    a stream-agnostic groupBy(u).count in complete mode, so the SAME
    quantization feeds batch and stream and the stream's state is
    BOUNDED BY CONSTRUCTION at <= 1024 histogram rows forever — running
    quantiles over an unbounded stream without unbounded sort state
    (the exact streaming quantile would need every value retained).
    Digest build and quantile queries run batch-side on the
    materialized histogram, identical to ``sketch_qdigest_quantiles``
    (same oracle — streaming and batch must agree on static input,
    which IS the differential)."""
    from .streaming import read_events_stream, run_stream_to_memory

    stream = read_events_stream(spark, sf_dir)
    hist_stream = (
        stream.where(F.col("value").isNotNull())
        .select(
            F.greatest(F.least(F.floor("value"), F.lit(1023)), F.lit(0))
            .cast("bigint").alias("u")
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    leaves = run_stream_to_memory(hist_stream, output_mode="complete")
    return _qdigest_result(spark, leaves)

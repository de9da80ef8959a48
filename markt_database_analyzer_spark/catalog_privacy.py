"""Privacy audits and data-quality gates.

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
from .datapipe.hashing import hash60, sql_hash60
from .datapipe.sampling import RESOLUTION, _gate
from .functions.aggregates import CENTS, NANO, qlong, sql_qlong
from .operators.equidepth import value_counts_cum


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
@register(
    "profile_table_stats",
    oracle=f"""
WITH agg AS (
  SELECT count(*) AS n_rows,
  {", ".join(
      f"count({c}) AS nn_{c}, count(DISTINCT {c}) AS nd_{c}, "
      f"min({c}) AS mn_{c}, max({c}) AS mx_{c}" for c in _PROFILE_COLS
  )}
  FROM lineitem
)
{" UNION ALL ".join(
    f"SELECT '{c}' AS col_name, n_rows, n_rows - nn_{c} AS n_nulls, "
    f"nd_{c} AS n_distinct, mn_{c} AS min_value, mx_{c} AS max_value FROM agg"
    for c in _PROFILE_COLS
)}
ORDER BY col_name
""",
    tags=("profiling", "aggregate", "analytics"),
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling (the engine-side `df.describe`):
    count/nulls/distinct/min/max for every numeric lineitem column in a
    SINGLE aggregate over one scan, then an explode of the 1-row result
    into one row per column. The multi-column countDistinct expands the
    agg (Spark's Expand operator) but still reads the table once — the
    difference between profiling in one job and one job per column. At
    100 TB the exact distinct counts swap for approx_count_distinct
    (approx_distinct_parts pattern) without changing the output
    contract."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    one = li.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_value"),
                F.col(f"mx_{c}").alias("max_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("col_name")
    )


@register(
    "dq_constraint_suite",
    oracle="""
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(o_custkey) AS BIGINT) AS n_ck,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_ok,
         min(o_totalprice) AS min_price,
         CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
  FROM orders
),
ri AS (
  -- null keys are a COMPLETENESS failure, not a dangling reference
  SELECT CAST(count(*) AS BIGINT) AS orphans
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
)
SELECT * FROM (
  SELECT 'accepted_status_FOP' AS constraint_name,
         CAST(bad_status AS DOUBLE) AS metric, bad_status = 0 AS passed FROM m
  UNION ALL SELECT 'completeness_o_custkey',
         round(CAST(n_ck AS DOUBLE) / n_rows, 6), n_ck = n_rows FROM m
  UNION ALL SELECT 'min_o_totalprice_nonneg',
         round(min_price, 6), min_price >= 0 FROM m
  UNION ALL SELECT 'ref_integrity_custkey',
         CAST(orphans AS DOUBLE), orphans = 0 FROM ri
  UNION ALL SELECT 'row_count_nonzero',
         CAST(n_rows AS DOUBLE), n_rows > 0 FROM m
  UNION ALL SELECT 'unique_o_orderkey',
         round(CAST(n_ok AS DOUBLE) / n_rows, 6), n_ok = n_rows FROM m
)
ORDER BY constraint_name
""",
    tags=("data-quality", "constraints", "profiling"),
)
def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality verification (the Deequ/
    great-expectations shape): completeness, uniqueness, value-range,
    accepted-values and referential-integrity constraints evaluated as
    ONE multi-aggregate scan plus one anti-join — metrics computed
    together, then pivoted to (constraint, metric, passed) verdict rows
    from a single-row frame. At 100 TB this is exactly how a
    constraint suite must run: N constraints share one pass over the
    fact table instead of N scans, and the RI check is a broadcast
    anti-join against the dimension."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    m = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("n_ck"),
        F.countDistinct("o_orderkey").alias("n_ok"),
        F.min("o_totalprice").alias("min_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("bad_status"),
    )
    ri = (
        orders.select("o_custkey")
        .filter(F.col("o_custkey").isNotNull())
        .join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    row = m.crossJoin(ri)
    checks = F.array(
        F.struct(
            F.lit("accepted_status_FOP").alias("constraint_name"),
            F.col("bad_status").cast("double").alias("metric"),
            (F.col("bad_status") == 0).alias("passed"),
        ),
        F.struct(
            F.lit("completeness_o_custkey").alias("constraint_name"),
            F.round(F.col("n_ck").cast("double") / F.col("n_rows"), 6).alias("metric"),
            (F.col("n_ck") == F.col("n_rows")).alias("passed"),
        ),
        F.struct(
            F.lit("min_o_totalprice_nonneg").alias("constraint_name"),
            F.round(F.col("min_price"), 6).alias("metric"),
            (F.col("min_price") >= 0).alias("passed"),
        ),
        F.struct(
            F.lit("ref_integrity_custkey").alias("constraint_name"),
            F.col("orphans").cast("double").alias("metric"),
            (F.col("orphans") == 0).alias("passed"),
        ),
        F.struct(
            F.lit("row_count_nonzero").alias("constraint_name"),
            F.col("n_rows").cast("double").alias("metric"),
            (F.col("n_rows") > 0).alias("passed"),
        ),
        F.struct(
            F.lit("unique_o_orderkey").alias("constraint_name"),
            F.round(F.col("n_ok").cast("double") / F.col("n_rows"), 6).alias("metric"),
            (F.col("n_ok") == F.col("n_rows")).alias("passed"),
        ),
    )
    return (
        row.select(F.explode(checks).alias("c"))
        .select("c.constraint_name", "c.metric", "c.passed")
        .orderBy("constraint_name")
    )


_PSI_PIVOT = "1998-07-01"
def _sql_psi() -> str:
    return f"""
WITH a AS (SELECT * FROM orders WHERE o_orderdate < DATE '{_PSI_PIVOT}'),
b AS (SELECT * FROM orders WHERE o_orderdate >= DATE '{_PSI_PIVOT}'),
edges AS (
  SELECT quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e FROM a
),
num_a AS (
  SELECT 'o_totalprice' AS feature,
         'd' || lpad(CAST(1 + len(list_filter(e, x -> o_totalprice > x)) AS VARCHAR), 2, '0') AS bucket,
         CAST(count(*) AS BIGINT) AS cnt_a
  FROM a CROSS JOIN edges GROUP BY 2
),
num_b AS (
  SELECT 'd' || lpad(CAST(1 + len(list_filter(e, x -> o_totalprice > x)) AS VARCHAR), 2, '0') AS bucket,
         CAST(count(*) AS BIGINT) AS cnt_b
  FROM b CROSS JOIN edges GROUP BY 1
),
cat_a AS (
  SELECT 'o_orderpriority' AS feature, o_orderpriority AS bucket,
         CAST(count(*) AS BIGINT) AS cnt_a
  FROM a GROUP BY 2
),
cat_b AS (
  SELECT o_orderpriority AS bucket, CAST(count(*) AS BIGINT) AS cnt_b
  FROM b GROUP BY 1
),
joined AS (
  SELECT feature, bucket, cnt_a, COALESCE(num_b.cnt_b, 0) AS cnt_b
  FROM num_a LEFT JOIN num_b USING (bucket)
  UNION ALL
  SELECT feature, bucket, cnt_a, COALESCE(cat_b.cnt_b, 0) AS cnt_b
  FROM cat_a LEFT JOIN cat_b USING (bucket)
),
shares AS (
  SELECT feature, bucket, cnt_a, cnt_b,
         (cnt_a + 1) / CAST(sum(cnt_a) OVER (PARTITION BY feature)
                              + count(*) OVER (PARTITION BY feature) AS DOUBLE) AS pa,
         (cnt_b + 1) / CAST(sum(cnt_b) OVER (PARTITION BY feature)
                              + count(*) OVER (PARTITION BY feature) AS DOUBLE) AS pb
  FROM joined
),
terms AS (
  SELECT feature, bucket, cnt_a, cnt_b,
         round(pa, 9) AS share_a, round(pb, 9) AS share_b,
         round((pb - pa) * round(ln(pb / pa), 9), 9) AS psi_term
  FROM shares
)
SELECT feature, bucket, cnt_a, cnt_b, share_a, share_b, psi_term,
       (CAST(SUM({sql_qlong('psi_term', cast='HUGEINT')})
               OVER (PARTITION BY feature) AS DOUBLE) / 1000000.0) AS psi
FROM terms ORDER BY feature, bucket
"""
@register(
    "dq_psi_drift",
    oracle=_sql_psi(),
    tags=("dq", "drift", "stats"),
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two order snapshots (before /
    after {_PSI_PIVOT}) — the model-monitoring standard for feature
    drift. Numeric features bucket by the BASELINE snapshot's exact
    deciles (edge array broadcast, bucket = 1 + count(edges < v) via a
    row-local array filter); categoricals bucket by value. Add-1
    smoothing keeps empty buckets finite (the smoothed-PSI convention);
    per-feature PSI is a constant-state window over the bucket rows.
    Two scans + two small aggs; buckets never exceed deciles+categories."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderdate") < F.lit(_PSI_PIVOT).cast("date"))
    b = orders.filter(F.col("o_orderdate") >= F.lit(_PSI_PIVOT).cast("date"))
    edges = a.agg(
        F.percentile(
            "o_totalprice", F.lit([i / 10.0 for i in range(1, 10)])
        ).alias("e")
    )

    def num_bucket(df):
        return df.crossJoin(F.broadcast(edges)).select(
            F.concat(
                F.lit("d"),
                F.lpad(
                    (
                        1
                        + F.size(
                            F.filter(F.col("e"), lambda x: F.col("o_totalprice") > x)
                        )
                    ).cast("string"),
                    2,
                    "0",
                ),
            ).alias("bucket")
        )

    num_a = num_bucket(a).groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt_a"))
    num_b = num_bucket(b).groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt_b"))
    cat_a = a.groupBy(F.col("o_orderpriority").alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt_a")
    )
    cat_b = b.groupBy(F.col("o_orderpriority").alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt_b")
    )
    joined = (
        num_a.join(num_b, "bucket", "left")
        .select(
            F.lit("o_totalprice").alias("feature"),
            "bucket",
            "cnt_a",
            F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
        )
        .unionByName(
            cat_a.join(cat_b, "bucket", "left").select(
                F.lit("o_orderpriority").alias("feature"),
                "bucket",
                "cnt_a",
                F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
            )
        )
    )
    wf = Window.partitionBy("feature")
    pa = (F.col("cnt_a") + 1) / (
        F.sum("cnt_a").over(wf) + F.count(F.lit(1)).over(wf)
    ).cast("double")
    pb = (F.col("cnt_b") + 1) / (
        F.sum("cnt_b").over(wf) + F.count(F.lit(1)).over(wf)
    ).cast("double")
    terms = joined.select(
        "feature",
        "bucket",
        "cnt_a",
        "cnt_b",
        F.round(pa, 9).alias("share_a"),
        F.round(pb, 9).alias("share_b"),
        F.round((pb - pa) * F.round(F.log(pb / pa), 9), 9).alias("psi_term"),
    )
    return terms.withColumn(
        "psi",
        F.sum(qlong("psi_term")).over(wf).cast(
            "double"
        )
        / 1000000.0,
    ).orderBy("feature", "bucket")


_FRESH_SLA_MIN = 60.0
_SQL_FRESHNESS = f"""
WITH per_type AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         max(epoch_us(ts)) AS last_us
  FROM events GROUP BY event_type
),
ref AS (SELECT max(last_us) AS now_us FROM per_type)
SELECT event_type, n_events,
       make_timestamp(last_us) AS last_event_ts,
       round((now_us - last_us) / 60000000.0, 6) AS staleness_min,
       ((now_us - last_us) / 60000000.0) > {_FRESH_SLA_MIN} AS violates_sla
FROM per_type CROSS JOIN ref
ORDER BY event_type
"""
@register(
    "dq_freshness_lag",
    oracle=_SQL_FRESHNESS,
    tags=("dq", "freshness", "monitoring"),
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline freshness gate: per-source staleness of the latest event
    against the dataset's own high-water mark (a wall-clock-free
    reference — the comparison every ingestion monitor runs, made
    deterministic for the differential). Exact integer-µs lags; the SLA
    flag trips at {_FRESH_SLA_MIN} minutes. One grouped max + a 1-row
    broadcast — constant state at any scale."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    ref = per_type.agg(F.max("last_us").alias("now_us"))
    lag_min = (F.col("now_us") - F.col("last_us")) / 60000000.0
    return (
        per_type.crossJoin(F.broadcast(ref))
        .select(
            "event_type",
            "n_events",
            F.timestamp_micros("last_us").alias("last_event_ts"),
            F.round(lag_min, 6).alias("staleness_min"),
            (lag_min > _FRESH_SLA_MIN).alias("violates_sla"),
        )
        .orderBy("event_type")
    )


_JSD_SEED = 11
def _sql_jsd() -> str:
    sp = f"({sql_hash60('doc_id::VARCHAR', seed=_JSD_SEED)} % 2)"
    return f"""
WITH s AS (SELECT {sp} AS sp, lang FROM documents),
tot AS (
  SELECT CAST(count(*) FILTER (WHERE sp = 0) AS DOUBLE) AS na,
         CAST(count(*) FILTER (WHERE sp = 1) AS DOUBLE) AS nb
  FROM s
),
c AS (
  SELECT lang,
         CAST(count(*) FILTER (WHERE sp = 0) AS BIGINT) AS ca,
         CAST(count(*) FILTER (WHERE sp = 1) AS BIGINT) AS cb
  FROM s GROUP BY lang
),
terms AS (
  SELECT ca, cb,
         {sql_qlong(
             "CASE WHEN ca > 0 THEN 0.5 * (ca / na) * ln((ca / na) / ((ca / na + cb / nb) / 2))"
             " ELSE 0 END"
             " + CASE WHEN cb > 0 THEN 0.5 * (cb / nb) * ln((cb / nb) / ((ca / na + cb / nb) / 2))"
             " ELSE 0 END",
             NANO,
         )} AS tq
  FROM c, tot
)
SELECT CAST(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
       CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k_b,
       CAST(sum(ca) AS BIGINT) AS n_a,
       CAST(sum(cb) AS BIGINT) AS n_b,
       round(CAST(sum(tq) AS DOUBLE) / 1e9, 9) AS jsd_nats,
       round(CAST(sum(tq) AS DOUBLE) / 1e9 / ln(2), 9) AS jsd_bits
FROM terms
"""
@register(
    "dq_jensen_shannon_drift",
    oracle=_sql_jsd(),
    tags=("data-quality", "drift", "divergence", "stats"),
)
def dq_jensen_shannon_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the language distributions of
    two deterministic halves of the document corpus (md5 hash split on
    doc_id) — the bounded, symmetric sibling of the PSI drift monitor
    (``dq_psi_drift``): JSD = KL(p||m)/2 + KL(q||m)/2 with m=(p+q)/2,
    0 <= JSD <= ln 2, and zero-count categories contribute exactly 0
    instead of PSI's unbounded blow-up. Reported in nats and bits.

    Exactness: category counts are exact bigints; each per-category
    divergence term is nano-quantized before the cross-category sum, so
    the total is an exact integer reduction on both engines (the
    Kaplan-Meier log-term discipline).

    Scale shape: one map-side-combined groupBy over (split, lang) —
    cardinality = 2 x #langs — then a 1-row reduce. No window, no
    driver data. At 100 TB this is a single pass with tiny state."""
    docs = _t(spark, sf_dir, "documents").select(
        F.pmod(
            hash60(F.col("doc_id").cast("string"), seed=_JSD_SEED), F.lit(2)
        ).alias("sp"),
        "lang",
    )
    c = docs.groupBy("lang").agg(
        F.count(F.when(F.col("sp") == 0, 1)).cast("bigint").alias("ca"),
        F.count(F.when(F.col("sp") == 1, 1)).cast("bigint").alias("cb"),
    )
    tot = c.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
    )
    p = F.col("ca") / F.col("na")
    q = F.col("cb") / F.col("nb")
    m = (p + q) / 2
    term = F.when(F.col("ca") > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("cb") > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(F.lit(0.0))
    terms = c.crossJoin(F.broadcast(tot)).select(
        "ca", "cb", qlong(term, NANO).alias("tq")
    )
    return terms.agg(
        F.sum(F.when(F.col("ca") > 0, 1).otherwise(0)).cast("bigint").alias("k_a"),
        F.sum(F.when(F.col("cb") > 0, 1).otherwise(0)).cast("bigint").alias("k_b"),
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.round(F.sum("tq").cast("double") / 1e9, 9).alias("jsd_nats"),
        F.round(F.sum("tq").cast("double") / 1e9 / F.log(F.lit(2.0)), 9).alias(
            "jsd_bits"
        ),
    )


_KANON_K = 5  # the conventional disclosure-risk threshold
_KANON_BAND = 100_000  # acctbal band width in cents (1000 currency units)
def _sql_kanon() -> str:
    return f"""
WITH qid AS (
  SELECT c_nationkey,
         c_mktsegment,
         CAST(floor({sql_qlong('c_acctbal', CENTS)}
                    / {_KANON_BAND}.0) AS BIGINT) AS bal_band
  FROM customer
),
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(count(*) AS BIGINT) AS k
  FROM qid GROUP BY 1, 2, 3
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(count(*) FILTER (WHERE k < {_KANON_K}) AS BIGINT)
         AS classes_below_k,
       CAST(sum(k) FILTER (WHERE k < {_KANON_K}) AS BIGINT)
         AS rows_below_k,
       round(coalesce(sum(k) FILTER (WHERE k < {_KANON_K}), 0)
             / CAST(sum(k) AS DOUBLE), 9) AS at_risk_fraction,
       CAST(count(*) FILTER (WHERE k = 1) AS BIGINT) AS singletons
FROM classes
"""
@register(
    "privacy_k_anonymity_audit",
    oracle=_sql_kanon(),
    tags=("privacy", "k-anonymity", "data-quality"),
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier tuple (nation, market segment, 1000-unit balance
    band): the size distribution of equivalence classes, the minimum k
    (the table's k-anonymity level), and the row mass in classes below
    k=5 — the disclosure-risk readout a release pipeline runs AFTER
    direct-identifier redaction (``text_pii_redact``'s structural
    sibling: quasi-identifiers re-identify via linkage even with PII
    gone; Sweeney's k-anonymity is the standard audit).

    Exactness: the balance band is integer-floor arithmetic on exact
    cents; class sizes and every summary cell are exact BIGINTs from
    one groupBy + one aggregate; the FILTERed sum is coalesced to 0 so
    a fully-anonymous table reads 0.0 risk, not NULL.

    Scale shape: ONE map-side-combined groupBy to the class frame
    (rows = distinct QID tuples, bounded by the attribute-domain
    product, not the table), then a 1-row combine."""
    c = _t(spark, sf_dir, "customer")
    qid = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(qlong("c_acctbal", CENTS) / float(_KANON_BAND))
        .cast("bigint")
        .alias("bal_band"),
    )
    classes = qid.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    below = F.when(F.col("k") < _KANON_K, F.col("k"))
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_k"),
        F.count(F.when(F.col("k") < _KANON_K, 1))
        .cast("bigint")
        .alias("classes_below_k"),
        F.sum(below).cast("bigint").alias("rows_below_k"),
        F.round(
            F.coalesce(F.sum(below), F.lit(0)) / F.sum("k").cast("double"), 9
        ).alias("at_risk_fraction"),
        F.count(F.when(F.col("k") == 1, 1)).cast("bigint").alias("singletons"),
    )


_UNIF_SEED = 0  # the sample_hash_documents gate being audited
def _sql_gate_uniformity() -> str:
    gate = f"({sql_hash60('doc_id::VARCHAR', seed=_UNIF_SEED)} % {RESOLUTION})"
    return f"""
WITH g AS (SELECT {gate} AS v FROM documents),
dom AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
  FROM g GROUP BY v
),
tot AS (SELECT CAST(max(cum) AS DOUBLE) AS n FROM dom),
ks AS (
  SELECT v, n,
         greatest(abs(cum / n - (v + 1.0) / {RESOLUTION}),
                  abs((cum - cnt) / n - CAST(v AS DOUBLE) / {RESOLUTION})) AS d
  FROM dom, tot
)
SELECT CAST(n AS BIGINT) AS n,
       round(max(d), 9) AS ks_stat,
       round(1.3581015157406195 / sqrt(min(n)), 9) AS ks_critical_05,
       CAST(CASE WHEN max(d) <= 1.3581015157406195 / sqrt(min(n))
            THEN 1 ELSE 0 END AS INT) AS uniform_ok
FROM ks GROUP BY n
"""
@register(
    "dq_hash_gate_uniformity",
    oracle=_sql_gate_uniformity(),
    tags=("data-quality", "sampling", "ks", "uniformity"),
)
def dq_hash_gate_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS uniformity audit of the seed-0 md5 hash gate (the
    ``sample_hash_documents`` gate): the whole RNG-free sampling family
    RESTS on ``hash(id) mod R`` being uniform on [0, R) — this entry
    MEASURES it, comparing the gate-value ECDF against the exact
    discrete-uniform CDF (v+1)/R with the sup over both one-sided gaps,
    and reports the asymptotic 5% critical value 1.358/√n next to the
    statistic. A biased gate (e.g. sequential ids under a weak hash)
    fails here before it silently skews every downstream sample.

    Exactness: gate values are exact integers; the ECDF comes from the
    distributed distinct-domain prefix sum (``value_counts_cum`` — the
    _cuts machinery); the critical-value constant is the same decimal
    literal on both engines.

    Scale shape: one map-only gate projection, the range-partitioned
    prefix sum, then a 1-row reduce over the domain frame."""
    docs = _t(spark, sf_dir, "documents").select(
        _gate("doc_id", _UNIF_SEED).alias("v")
    )
    dom, _ = value_counts_cum(docs, F.col("v"))
    tot = dom.agg(F.max("cum").cast("double").alias("n"))
    d = F.greatest(
        F.abs(F.col("cum") / F.col("n") - (F.col("v") + 1.0) / RESOLUTION),
        F.abs(
            (F.col("cum") - F.col("cnt")) / F.col("n")
            - F.col("v").cast("double") / RESOLUTION
        ),
    )
    ks = dom.crossJoin(F.broadcast(tot)).select("v", "n", d.alias("d"))
    crit = F.lit(1.3581015157406195) / F.sqrt(F.min("n"))
    return ks.groupBy(F.col("n").cast("bigint").alias("n")).agg(
        F.round(F.max("d"), 9).alias("ks_stat"),
        F.round(crit, 9).alias("ks_critical_05"),
        (F.max("d") <= crit).cast("int").alias("uniform_ok"),
    )


_LDIV_L = 3  # distinct-l disclosure threshold
_LDIV_BAND = 100_000  # acctbal band width in cents (matches the k-anon audit)
def _sql_ldiversity() -> str:
    return f"""
WITH qid AS (
  SELECT c_nationkey,
         CAST(floor({sql_qlong('c_acctbal', CENTS)}
                    / {_LDIV_BAND}.0) AS BIGINT) AS bal_band,
         c_mktsegment AS sensitive
  FROM customer
),
cell AS (
  SELECT c_nationkey, bal_band, sensitive, CAST(count(*) AS BIGINT) AS c
  FROM qid GROUP BY 1, 2, 3
),
cls_k AS (
  SELECT c_nationkey, bal_band, CAST(sum(c) AS BIGINT) AS k
  FROM cell GROUP BY 1, 2
),
cls AS (
  SELECT cell.c_nationkey, cell.bal_band,
         CAST(max(k) AS BIGINT) AS k,
         CAST(count(*) AS BIGINT) AS distinct_l,
         CAST(sum({sql_qlong('-(c / CAST(k AS DOUBLE)) * ln(c / CAST(k AS DOUBLE))', NANO)}) AS BIGINT) AS h9
  FROM cell JOIN cls_k USING (c_nationkey, bal_band)
  GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(min(distinct_l) AS BIGINT) AS min_distinct_l,
       CAST(count(*) FILTER (WHERE distinct_l < {_LDIV_L}) AS BIGINT)
         AS classes_below_l,
       CAST(sum(k) FILTER (WHERE distinct_l < {_LDIV_L}) AS BIGINT)
         AS rows_below_l,
       round(coalesce(sum(k) FILTER (WHERE distinct_l < {_LDIV_L}), 0)
             / CAST(sum(k) AS DOUBLE), 9) AS at_risk_fraction,
       round(exp(CAST(min(h9) AS DOUBLE) / 1e9), 9) AS min_entropy_l
FROM cls
"""
@register(
    "privacy_l_diversity",
    oracle=_sql_ldiversity(),
    tags=("privacy", "l-diversity", "data-quality"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of the customer table: equivalence classes
    under the quasi-identifier (nation, 1000-unit balance band), with
    market segment as the SENSITIVE attribute — distinct-l (classes
    where every member shares one segment leak it outright even at
    k≥5) and entropy-l (exp of the class's sensitive-value entropy, the
    Machanavajjhala refinement that catches 99%-skewed classes the
    distinct count misses). The audit a release pipeline runs AFTER
    ``privacy_k_anonymity_audit``: k bounds re-identification,
    l bounds attribute disclosure.

    Exactness: cell and class counts are exact BIGINTs; each class
    entropy term −(c/k)·ln(c/k) is an identical closed-form expression
    over exact integer ratios on both engines AND quantizes to the
    bigint nano-grid BEFORE the per-class sum (the catalog's standard
    discipline — a raw double Σ is summation-order sensitive), so the
    class entropies are exact integers; min/exp at the end are
    order-free.

    Scale shape: two map-side-combined groupBys (cells, then classes —
    both bounded by attribute-domain products, never the table), then
    a 1-row combine. No joins, no windows on the Spark side."""
    c = _t(spark, sf_dir, "customer")
    qid = c.select(
        "c_nationkey",
        F.floor(qlong("c_acctbal", CENTS) / float(_LDIV_BAND))
        .cast("bigint")
        .alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    cell = qid.groupBy("c_nationkey", "bal_band", "sensitive").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # k must be ON the cell rows before the entropy terms form (the
    # algebraic rewrite H = ln k − (1/k)Σ c·ln c is exact in real
    # arithmetic but not bit-identical in floats), so both engines
    # compute class totals first and join them back onto the cells.
    ktot = cell.groupBy("c_nationkey", "bal_band").agg(
        F.sum("c").cast("bigint").alias("k")
    )
    p = F.col("c") / F.col("k").cast("double")
    # each −p·ln p term quantizes to the bigint nano-grid BEFORE the sum:
    # a raw double sum is summation-order sensitive.
    cls = (
        cell.join(ktot, ["c_nationkey", "bal_band"])
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.max("k").alias("k"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_l"),
            F.sum(qlong(-p * F.ln(p), NANO))
            .cast("bigint")
            .alias("h9"),
        )
    )
    below = F.col("distinct_l") < _LDIV_L
    return cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("distinct_l").cast("bigint").alias("min_distinct_l"),
        F.count(F.when(below, 1)).cast("bigint").alias("classes_below_l"),
        F.sum(F.when(below, F.col("k"))).cast("bigint").alias("rows_below_l"),
        F.round(
            F.coalesce(F.sum(F.when(below, F.col("k"))), F.lit(0))
            / F.sum("k").cast("double"),
            9,
        ).alias("at_risk_fraction"),
        F.round(F.exp(F.min("h9").cast("double") / 1e9), 9).alias("min_entropy_l"),
    )


_DP_EPS = 1.0  # privacy budget; sensitivity 1 for a per-entity count
_DP_SEED = 23
_TWO60 = 1152921504606846976.0  # 2^60, the hash60 range
def _sql_dp_laplace() -> str:
    from .datapipe.hashing import sql_hash60

    u = f"(({sql_hash60('n_name', seed=_DP_SEED)} + 0.5) / {_TWO60})"
    return f"""
WITH c AS (
  SELECT n.n_name, CAST(count(*) AS BIGINT) AS true_count
  FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
  GROUP BY 1
),
noise AS (
  SELECT n_name, true_count, {u} AS u
  FROM c
)
SELECT n_name, true_count,
       round(true_count
             - (1.0 / {_DP_EPS}) * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
               * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_count,
       round((1.0 / {_DP_EPS}), 6) AS laplace_scale
FROM noise ORDER BY n_name
"""
@register(
    "privacy_dp_laplace_counts",
    oracle=_sql_dp_laplace(),
    tags=("privacy", "differential-privacy", "laplace"),
)
def privacy_dp_laplace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism released counts: customers per nation with
    Laplace(1/ε) noise at ε=1 (sensitivity 1 for a per-entity count) —
    the ε-DP release primitive, with the noise draw DERANDOMIZED the
    way every sampling entry in this catalog is (RNG-free md5 gates):
    u = (hash60(key)+0.5)/2^60 is a uniform in (0,1) derived from the
    release key, and the noise is the exact inverse-CDF transform
    −(1/ε)·sign(u−½)·ln(1−2|u−½|). Deterministic noise is NOT private
    against an adversary who knows the seed — this entry is the AUDIT
    view (true and noisy side by side, the utility-loss readout a DP
    pipeline publishes internally); a production release would swap the
    hash for a secret-keyed PRF and drop true_count, changing no plan
    shape. The +0.5 offset keeps u strictly inside (0,1) so ln never
    sees 0.

    Exactness: counts are exact BIGINTs; u is an exact integer ratio;
    the transform is one closed-form double expression, identical text
    on both engines.

    Scale shape: one broadcast dim join + map-side-combined groupBy to
    the 25-row nation frame; the noise is pure map work."""
    from .datapipe.hashing import hash60

    c = _t(spark, sf_dir, "customer").select("c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    counts = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    )
    u = (hash60(F.col("n_name"), seed=_DP_SEED) + F.lit(0.5)) / F.lit(_TWO60)
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.ln(F.lit(1.0) - 2.0 * F.abs(u - F.lit(0.5)))
    )
    return counts.select(
        "n_name",
        "true_count",
        F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
        F.round(F.lit(1.0 / _DP_EPS), 6).alias("laplace_scale"),
    ).orderBy("n_name")


@register(
    "dq_id_completeness",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(min(event_id) AS BIGINT) AS id_min,
       CAST(max(event_id) AS BIGINT) AS id_max,
       CAST(max(event_id) - min(event_id) + 1 - count(DISTINCT event_id)
            AS BIGINT) AS n_missing,
       CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_dup_rows,
       round(count(DISTINCT event_id)
             / CAST(max(event_id) - min(event_id) + 1 AS DOUBLE), 9)
         AS density
FROM events
""",
    tags=("dq", "completeness", "audit"),
)
def dq_id_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonic-id completeness audit of the event stream: row count
    vs distinct ids (duplicate detection), the id range vs distinct
    count (GAP detection — a CDC/ingest pipeline that dropped a batch
    leaves missing ids), and the resulting density — the first check a
    data-quality suite runs on any sequence-keyed feed, complementing
    ``dq_freshness_lag``'s time axis with the key axis.

    Exactness: every cell is exact BIGINT arithmetic over one
    aggregate; density is one rounded integer ratio.

    Scale shape: ONE aggregation with a count-distinct (Spark expands
    it to a two-stage partial/final plan automatically — map-side
    distinct per partition, then merge); no joins, no windows."""
    return _t(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct(F.col("event_id")).cast("bigint").alias("n_distinct"),
        F.min("event_id").cast("bigint").alias("id_min"),
        F.max("event_id").cast("bigint").alias("id_max"),
        (
            F.max("event_id")
            - F.min("event_id")
            + 1
            - F.count_distinct(F.col("event_id"))
        )
        .cast("bigint")
        .alias("n_missing"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("event_id")))
        .cast("bigint")
        .alias("n_dup_rows"),
        F.round(
            F.count_distinct(F.col("event_id"))
            / (F.max("event_id") - F.min("event_id") + 1).cast("double"),
            9,
        ).alias("density"),
    )


# --------------------------------------------------------------------------
# t-closeness audit (round 9) — completes the k-anon / l-div / t-close triad
# --------------------------------------------------------------------------

_TCLOSE_NUM = 1  # threshold t = _TCLOSE_NUM / _TCLOSE_DEN = 0.2
_TCLOSE_DEN = 5


def _sql_tcloseness() -> str:
    return f"""
WITH qid AS (
  SELECT c_nationkey,
         CAST(floor({sql_qlong('c_acctbal', CENTS)}
                    / {_LDIV_BAND}.0) AS BIGINT) AS bal_band,
         c_mktsegment AS sensitive
  FROM customer
),
cell AS (
  SELECT c_nationkey, bal_band, sensitive, CAST(count(*) AS BIGINT) AS c
  FROM qid GROUP BY 1, 2, 3
),
cls AS (
  SELECT c_nationkey, bal_band, CAST(sum(c) AS BIGINT) AS k
  FROM cell GROUP BY 1, 2
),
gseg AS (SELECT sensitive, CAST(count(*) AS BIGINT) AS cs FROM qid GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qid),
grid AS (
  SELECT cls.c_nationkey, cls.bal_band, cls.k, g.sensitive, g.cs, t.n,
         coalesce(cell.c, 0) AS c0
  FROM cls CROSS JOIN gseg g CROSS JOIN tot t
  LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
                AND cell.bal_band = cls.bal_band
                AND cell.sensitive = g.sensitive
),
percls AS (
  SELECT c_nationkey, bal_band, CAST(max(k) AS BIGINT) AS k,
         CAST(max(n) AS BIGINT) AS n,
         CAST(sum(abs(CAST(c0 AS HUGEINT) * n
                      - CAST(cs AS HUGEINT) * k)) AS HUGEINT) AS num
  FROM grid GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(n) AS BIGINT) AS n_rows,
       round(max(CAST(num AS DOUBLE) / (2.0 * k * n)), 9) AS max_t,
       CAST(count(*) FILTER (WHERE num * {_TCLOSE_DEN}
                                   > CAST(k AS HUGEINT) * n * 2 * {_TCLOSE_NUM})
            AS BIGINT) AS classes_above_t,
       CAST(coalesce(sum(k) FILTER (WHERE num * {_TCLOSE_DEN}
                                          > CAST(k AS HUGEINT) * n * 2 * {_TCLOSE_NUM}), 0)
            AS BIGINT) AS rows_above_t
FROM percls
"""


@register(
    "privacy_t_closeness",
    oracle=_sql_tcloseness(),
    tags=("privacy", "t-closeness", "data-quality"),
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian) completing the
    release triad: ``privacy_k_anonymity_audit`` bounds
    re-identification, ``privacy_l_diversity`` bounds attribute
    disclosure inside a class, and t-closeness bounds what a class
    REVEALS RELATIVE TO THE WHOLE TABLE — the distance between each
    equivalence class's sensitive-value distribution and the global
    one. For the unordered market-segment attribute, the earth-mover
    distance reduces to total variation: t = 0.5 Sigma_s |p_s - q_s|.

    Exactness: p_s = c_s/k and q_s = C_s/N are exact integer ratios,
    so each class's TVD has the EXACT integer numerator Sigma_s
    |c_s*N - C_s*k| over the common denominator kN (Decimal128 /
    HUGEINT — no float subtraction anywhere); the t > 0.2 gate
    cross-multiplies to a pure integer comparison (num*5 > 2kN), and
    only max_t divides, as the identical double expression. Classes
    missing a segment contribute |0 - C_s*k| via the zero-filled
    class x segment grid — both engines build the same grid.

    Scale shape: two map-side-combined groupBys (cells, classes), a
    segment-domain aggregate and a 1-row total both BROADCAST into the
    bounded class x segment grid join, then a classes-sized combine.
    Nothing post-scan grows with the table."""
    c = _t(spark, sf_dir, "customer")
    qid = c.select(
        "c_nationkey",
        F.floor(qlong("c_acctbal", CENTS) / float(_LDIV_BAND))
        .cast("bigint")
        .alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    cell = qid.groupBy("c_nationkey", "bal_band", "sensitive").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cls = cell.groupBy("c_nationkey", "bal_band").agg(
        F.sum("c").cast("bigint").alias("k")
    )
    glob = qid.groupBy("sensitive").agg(F.count(F.lit(1)).cast("bigint").alias("cs"))
    tot = qid.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(
            cell,
            ["c_nationkey", "bal_band", "sensitive"],
            "left",
        )
        .withColumn("c0", F.coalesce(F.col("c"), F.lit(0)))
    )
    num_term = F.abs(
        F.col("c0").cast("decimal(38,0)") * F.col("n")
        - F.col("cs").cast("decimal(38,0)") * F.col("k")
    )
    percls = grid.groupBy("c_nationkey", "bal_band").agg(
        F.max("k").cast("bigint").alias("k"),
        F.max("n").cast("bigint").alias("n"),
        F.sum(num_term).alias("num"),
    )
    above = (
        F.col("num") * F.lit(_TCLOSE_DEN)
        > F.col("k").cast("decimal(38,0)") * F.col("n") * 2 * F.lit(_TCLOSE_NUM)
    )
    return percls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("n").cast("bigint").alias("n_rows"),
        F.round(
            F.max(F.col("num").cast("double") / (2.0 * F.col("k") * F.col("n"))), 9
        ).alias("max_t"),
        F.count(F.when(above, 1)).cast("bigint").alias("classes_above_t"),
        F.coalesce(F.sum(F.when(above, F.col("k"))), F.lit(0))
        .cast("bigint")
        .alias("rows_above_t"),
    )

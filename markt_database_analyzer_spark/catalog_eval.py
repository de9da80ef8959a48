"""Ranking / model-evaluation operators: calibration, lift, agreement.

Consolidated in round 9 from the round-named catalog shards (the
original per-round files are in git history; entry source text is
unchanged). Every entry registers in REGISTRY with a DuckDB oracle
unless documented otherwise; reference parity citations live in the
entry docstrings.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from .catalog import demo_guard, register, _t
from .datapipe import text as tx
from .functions import dsum
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
from .catalog import SQL_DSUM, register, _t
from .operators.equidepth import value_counts_cum
from pyspark.sql import DataFrame, SparkSession
from .catalog_stats import _CAL_BINS, _LR_STOP, _sql_naive_bayes, classify_naive_bayes_langid
from .catalog_text import _BM25_B, _BM25_K1, _BM25_TERMS, _SQL_TOKENS, _tokens


_ATTR_WINDOW_US = 7 * 86400 * 1_000_000
def _sql_attribution() -> str:
    return f"""
WITH w AS (
  SELECT event_id, ts, user_id, event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_us,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type
  FROM events
)
SELECT CASE WHEN lt_us IS NULL OR epoch_us(ts) - lt_us > {_ATTR_WINDOW_US}
            THEN 'direct' ELSE lt_type END AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases
FROM w WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY channel
"""
@register(
    "events_attribution_last_touch",
    oracle=_sql_attribution(),
    tags=("attribution", "window", "marketing"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every purchase is credited to
    the user's most recent non-purchase event within a 7-day lookback,
    else 'direct'. One per-user ordered window (total order
    (ts, event_id)) with ignoreNulls last_value over the
    preceding-exclusive frame — the same single shuffle the
    sessionizer uses; the lookback compare is exact integer
    microseconds. The output is the channel mix a marketing pipeline
    reports."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    np_us = F.when(F.col("event_type") != "purchase", F.unix_micros("ts"))
    np_ty = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    enriched = ev.select(
        "event_id",
        "ts",
        "event_type",
        F.last(np_us, ignorenulls=True).over(w).alias("lt_us"),
        F.last(np_ty, ignorenulls=True).over(w).alias("lt_type"),
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("lt_us").isNull()
                | (F.unix_micros("ts") - F.col("lt_us") > _ATTR_WINDOW_US),
                F.lit("direct"),
            )
            .otherwise(F.col("lt_type"))
            .alias("channel")
        )
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("channel")
    )


_ROC_STOPWORDS = "('the', 'a', 'of', 'and', 'is')"
def _sql_roc() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         round(len(list_filter({toks}, t -> t IN {_ROC_STOPWORDS}))
                 / CAST(len({toks}) AS DOUBLE), 9) AS score
  FROM documents
),
by_score AS (
  SELECT score,
         CAST(sum(label) AS BIGINT) AS tp_here,
         CAST(sum(1 - label) AS BIGINT) AS fp_here
  FROM scored GROUP BY score
),
cum AS (
  SELECT score,
         CAST(sum(tp_here) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
         CAST(sum(fp_here) OVER (ORDER BY score DESC) AS BIGINT) AS fp,
         CAST(sum(tp_here) OVER () AS BIGINT) AS pos,
         CAST(sum(fp_here) OVER () AS BIGINT) AS neg
  FROM by_score
),
segs AS (
  SELECT score, tp, fp, pos, neg,
         (fp - COALESCE(lag(fp) OVER (ORDER BY score DESC), 0))
           * (tp + COALESCE(lag(tp) OVER (ORDER BY score DESC), 0)) AS seg2
  FROM cum
)
SELECT score, tp, fp,
       round(tp / CAST(pos AS DOUBLE), 9) AS tpr,
       round(fp / CAST(neg AS DOUBLE), 9) AS fpr,
       round(CAST(sum(seg2) OVER () AS DOUBLE) / (2.0 * pos * neg), 9) AS auc
FROM segs ORDER BY score DESC
"""
@register(
    "eval_roc_auc",
    oracle=_sql_roc(),
    tags=("eval", "stats", "ml"),
)
def eval_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC curve and AUC for a classifier score (here: English
    stopword ratio predicting lang='en') — the evaluation primitive every
    quality-filter threshold decision needs. All curve math is integer
    (cumulative TP/FP per distinct score, trapezoid area as
    sum((dFP)*(TP_i+TP_{i-1})) / 2PN), so the result is exact and
    engine-identical; the only floats are final ratios. One agg per
    distinct score then O(#distinct) window state — the 100 TB form
    buckets scores to a fixed grid first."""
    docs = _t(spark, sf_dir, "documents")
    ts = tx.tokens("text")
    stop = F.filter(ts, lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.round(F.size(stop) / F.size(ts).cast("double"), 9).alias("score"),
    )
    by_score = scored.groupBy("score").agg(
        F.sum("label").alias("tp_here"),
        F.sum(1 - F.col("label")).alias("fp_here"),
    )
    word = Window.orderBy(F.desc("score"))
    wall = Window.partitionBy(F.lit(1))
    cum = by_score.select(
        "score",
        F.sum("tp_here").over(word).alias("tp"),
        F.sum("fp_here").over(word).alias("fp"),
        F.sum("tp_here").over(wall).alias("pos"),
        F.sum("fp_here").over(wall).alias("neg"),
    )
    seg2 = (F.col("fp") - F.coalesce(F.lag("fp").over(word), F.lit(0))) * (
        F.col("tp") + F.coalesce(F.lag("tp").over(word), F.lit(0))
    )
    return (
        cum.withColumn("seg2", seg2)
        .select(
            "score",
            "tp",
            "fp",
            F.round(F.col("tp") / F.col("pos").cast("double"), 9).alias("tpr"),
            F.round(F.col("fp") / F.col("neg").cast("double"), 9).alias("fpr"),
            F.round(
                F.sum("seg2").over(wall).cast("double")
                / (2.0 * F.col("pos") * F.col("neg")),
                9,
            ).alias("auc"),
        )
        .orderBy(F.desc("score"))
    )


_CF_MIN_CO = 3
_CF_TOPK = 50
_SQL_CF = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
deg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS n FROM baskets GROUP BY p
),
co AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS co
  FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_CF_MIN_CO}
)
SELECT pa, pb, co.co AS co,
       round(co.co / sqrt(CAST(da.n AS DOUBLE) * db.n), 9) AS cosine
FROM co JOIN deg da ON da.p = pa JOIN deg db ON db.p = pb
ORDER BY cosine DESC, pa, pb LIMIT {_CF_TOPK}
"""
@register(
    "cf_item_item_cosine",
    oracle=_SQL_CF,
    tags=("recommend", "similarity", "join"),
)
def cf_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: cosine
    similarity between parts on their co-purchase counts
    (co / sqrt(n_a * n_b)), the classic Amazon-style recommender
    statistic. The basket self-join is an equi-join on the order key —
    cost is sum over orders of |basket|^2, never corpus^2 — and the
    degree table joins in as a broadcast dim. IEEE sqrt and one division
    are correctly-rounded, so the 9 dp cosine is engine-identical.
    At 100 TB the known refinement is capping pathological basket sizes
    (a crawler's giant cart) before the self-join, same as the LSH
    band-cap; ordinary baskets are bounded by business reality."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    deg = baskets.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.select(F.col("o"), F.col("p").alias("pa"))
    b = baskets.select(F.col("o"), F.col("p").alias("pb"))
    co = (
        a.join(b, ["o"])
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _CF_MIN_CO)
    )
    da = deg.select(F.col("p").alias("pa"), F.col("n").alias("na"))
    db = deg.select(F.col("p").alias("pb"), F.col("n").alias("nb"))
    return (
        co.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .select(
            "pa",
            "pb",
            "co",
            F.round(
                F.col("co") / F.sqrt(F.col("na").cast("double") * F.col("nb")), 9
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "pa", "pb")
        .limit(_CF_TOPK)
    )


def _sql_confusion() -> str:
    return f"""
WITH preds AS ({_sql_naive_bayes()}),
classes AS (
  SELECT actual AS cls FROM preds UNION SELECT predicted FROM preds
),
per_class AS (
  SELECT c.cls,
         CAST(sum(CASE WHEN p.actual = c.cls AND p.predicted = c.cls THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN p.predicted = c.cls AND p.actual != c.cls THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN p.actual = c.cls AND p.predicted != c.cls THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM classes c CROSS JOIN preds p
  GROUP BY c.cls
)
SELECT cls, tp, fp, fn,
       round(CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / CAST(tp + fp AS DOUBLE) END, 9) AS precision,
       round(CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / CAST(tp + fn AS DOUBLE) END, 9) AS recall,
       round(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                  ELSE 2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE) END, 9) AS f1
FROM per_class ORDER BY cls
"""
@register(
    "eval_confusion_matrix",
    oracle=_sql_confusion(),
    tags=("eval", "classify", "ml"),
)
def eval_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 over the Naive Bayes language
    classifier's held-out predictions — the evaluation table every
    classifier ships with (F1 in its 2TP/(2TP+FP+FN) form avoids the
    0/0 of undefined precision x recall). Composes the NB entry's plan
    directly (one classifier run, one 5-class aggregate); counts are
    exact integers, metrics integer ratios at 9 dp.

    Scale shape (r11 rewrite): the doc-cardinality predictions reduce to
    the (actual, predicted) CELL GRID first — one map-side-combined agg,
    |classes|^2 cells — and everything after runs on that bounded frame.
    The old form cross-joined classes against a BROADCAST of the full
    prediction frame (sf-proportional — the exact pattern the r11
    broadcast audit bans) and evaluated the classifier subtree twice;
    measured 5.4 s -> ~NB cost at sf0.1, and at 100 TB the difference is
    a driver OOM vs a 25-row grid. The eager localCheckpoint pins the
    grid so classes and the per-class agg share ONE classifier run."""
    preds = classify_naive_bayes_langid(spark, sf_dir)
    cells = (
        preds.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    classes = (
        cells.select(F.col("actual").alias("cls"))
        .union(cells.select("predicted"))
        .distinct()
    )
    joined = classes.crossJoin(F.broadcast(cells))  # |classes| x |classes|^2 grid
    per_class = joined.groupBy("cls").agg(
        F.sum(
            F.when((F.col("actual") == F.col("cls")) & (F.col("predicted") == F.col("cls")), F.col("n")).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when((F.col("predicted") == F.col("cls")) & (F.col("actual") != F.col("cls")), F.col("n")).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when((F.col("actual") == F.col("cls")) & (F.col("predicted") != F.col("cls")), F.col("n")).otherwise(0)
        ).alias("fn"),
    )
    prec = F.when(F.col("tp") + F.col("fp") == 0, 0.0).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, 0.0).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fn")).cast("double")
    )
    f1 = F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, 0.0).otherwise(
        2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double")
    )
    return per_class.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.round(prec, 9).alias("precision"),
        F.round(rec, 9).alias("recall"),
        F.round(f1, 9).alias("f1"),
    ).orderBy("cls")


def _sql_calibration_cuts() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         round(len(list_filter({toks}, t -> t IN {_LR_STOP}))
                 / CAST(len({toks}) AS DOUBLE), 9) AS conf
  FROM documents
),
{sql_cuts_ctes("scored", "conf", _CAL_BINS)},
cl AS (SELECT coalesce(list(c ORDER BY b), []) AS cs FROM cuts),
binned AS (
  SELECT y, conf,
         1 + len(list_filter(cl.cs, x -> conf > x)) AS bin
  FROM scored, cl
),
per_bin AS (
  SELECT CAST(bin AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         round((CAST(SUM(CAST(round(conf * 1000000.0) AS HUGEINT)) AS DOUBLE)
                  / count(*)) / 1000000.0, 9) AS mean_conf,
         round(sum(y) / CAST(count(*) AS DOUBLE), 9) AS frac_pos
  FROM binned GROUP BY 1
),
btot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM per_bin)
SELECT bin, n, mean_conf, frac_pos,
       round(abs(mean_conf - frac_pos), 9) AS gap,
       (CAST(SUM(CAST(round(n * round(abs(mean_conf - frac_pos), 9) * 1000000.0)
                      AS HUGEINT)) OVER () AS DOUBLE) / 1000000.0) / min(nt) OVER () AS ece
FROM per_bin CROSS JOIN btot ORDER BY bin
"""
@register(
    "eval_calibration_bins_cuts",
    oracle=_sql_calibration_cuts(),
    tags=("eval", "stats", "ml", "equidepth", "scale"),
)
def eval_calibration_bins_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE with equal-count bins from exact
    percentile CUTS over the confidence score, replacing
    ``eval_calibration_bins``'s un-partitioned ntile (same scoring, same
    per-bin statistics, same ECE arithmetic — the only contract change
    is tie handling: ties share a bin instead of being split by doc_id).
    The bin boundaries come from the distributed prefix sum over the
    score domain (bounded: conf is a 9dp ratio of small ints) and the
    assignment is a map-only comparison against 9 broadcast literals —
    scan-shaped end to end. Heavy tie mass (many docs sharing a round
    score) makes bins UNEQUAL here by design; mean_conf/frac_pos/ECE
    remain exactly replayable."""
    docs = _t(spark, sf_dir, "documents")
    ts = tx.tokens("text")
    stop = F.filter(ts, lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.round(F.size(stop) / F.size(ts).cast("double"), 9).alias("conf"),
    ).localCheckpoint(eager=True)  # feeds the cut derivation AND the binning
    cuts = equi_depth_cut_points(scored, F.col("conf"), _CAL_BINS)
    binned = scored.withColumn("bin", bucket_by_cuts(F.col("conf"), cuts))
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
                F.sum(F.round(F.col("n") * F.col("gap") * 1000000.0).cast("long"))
                .over(wall)
                .cast("double")
                / 1000000.0
            )
            / F.sum("n").over(wall),
        )
        .orderBy("bin")
    )


_NDCG_SQL = """
WITH ocnt AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1
),
cust AS (
  SELECT c_nationkey, c_custkey, c_acctbal,
         CAST(floor(coalesce(n_orders, 0) / 5.0) AS BIGINT) AS rel0
  FROM customer LEFT JOIN ocnt ON c_custkey = o_custkey
),
graded AS (SELECT c_nationkey, c_custkey, c_acctbal, least(rel0, 4) AS rel FROM cust),
pred AS (
  SELECT c_nationkey, rel,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM graded
),
ideal AS (
  SELECT c_nationkey, rel,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY rel DESC, c_custkey) AS rnk
  FROM graded
),
dcg AS (
  SELECT c_nationkey,
         CAST(sum(CAST(round(1000000000.0 * (pow(2.0, rel) - 1) / log2(rnk + 1)) AS BIGINT)) AS BIGINT) AS dcg_q
  FROM pred WHERE rnk <= 10 GROUP BY 1
),
idcg AS (
  SELECT c_nationkey,
         CAST(sum(CAST(round(1000000000.0 * (pow(2.0, rel) - 1) / log2(rnk + 1)) AS BIGINT)) AS BIGINT) AS idcg_q
  FROM ideal WHERE rnk <= 10 GROUP BY 1
)
SELECT n_name AS nation, CAST(10 AS BIGINT) AS k,
       round(dcg_q / 1000000000.0, 9) AS dcg,
       round(idcg_q / 1000000000.0, 9) AS idcg,
       CASE WHEN idcg_q = 0 THEN 0.0
            ELSE round(CAST(dcg_q AS DOUBLE) / CAST(idcg_q AS DOUBLE), 9) END AS ndcg_at_10
FROM dcg JOIN idcg USING (c_nationkey)
JOIN nation ON n_nationkey = c_nationkey
ORDER BY nation
"""
@register(
    "eval_ndcg_at_k",
    oracle=_NDCG_SQL,
    tags=("eval", "ranking", "ndcg"),
)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query — the standard graded-relevance ranking metric
    (Järvelin & Kekäläinen 2002), evaluated on a deterministic fixture:
    each nation is a query, the "model score" is account balance, and
    graded relevance 0..4 is the capped order count. Complements the
    binary ``eval_roc_auc`` / ``eval_ann_recall_at_k``.

    Per-rank gains ``(2^rel - 1)/log2(rank+1)`` are quantized to the 1e9
    integer grid BEFORE the per-query sum, so the only libm call
    (``log2``) follows the round-at-9dp convention and the sums are
    exact BIGINTs on both engines — no order-dependent float SUM.
    Plan shape: one count aggregate, a broadcast-joined grade, two
    row_number windows PARTITIONED BY the query key, and a per-query
    combine — the natural NDCG shape at 100 TB, where queries are many
    and each query's candidate list is small (partition count grows
    with queries, never a global sort)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    ocnt = orders.groupBy(F.col("o_custkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    graded = (
        cust.join(ocnt, cust["c_custkey"] == ocnt["o_custkey"], "left")
        .select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.least(
                F.floor(F.coalesce(F.col("n_orders"), F.lit(0)) / 5.0).cast("bigint"),
                F.lit(4),
            ).alias("rel"),
        )
    )
    w_pred = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    w_ideal = Window.partitionBy("c_nationkey").orderBy(
        F.desc("rel"), F.col("c_custkey")
    )

    def gains(w) -> DataFrame:
        return (
            graded.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .withColumn(
                "term",
                F.round(
                    F.lit(1000000000.0)
                    * (F.pow(F.lit(2.0), F.col("rel")) - 1)
                    / F.log2(F.col("rnk") + 1)
                ).cast("bigint"),
            )
            .groupBy("c_nationkey")
            .agg(F.sum("term").cast("bigint").alias("g"))
        )

    dcg = gains(w_pred).withColumnRenamed("g", "dcg_q")
    idcg = gains(w_ideal).withColumnRenamed("g", "idcg_q")
    return (
        dcg.join(idcg, "c_nationkey")
        .join(
            F.broadcast(nation),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.lit(10).cast("bigint").alias("k"),
            F.round(F.col("dcg_q") / 1000000000.0, 9).alias("dcg"),
            F.round(F.col("idcg_q") / 1000000000.0, 9).alias("idcg"),
            F.when(F.col("idcg_q") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("dcg_q").cast("double") / F.col("idcg_q").cast("double"), 9
                )
            )
            .alias("ndcg_at_10"),
        )
        .orderBy("nation")
    )


_PR_STOPWORDS = "('the', 'a', 'of', 'and', 'is')"
def _sql_pr_auc() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         round(len(list_filter({toks}, t -> t IN {_PR_STOPWORDS}))
                 / CAST(len({toks}) AS DOUBLE), 9) AS score
  FROM documents
),
by_score AS (
  SELECT score,
         CAST(sum(label) AS BIGINT) AS tp_here,
         CAST(sum(1 - label) AS BIGINT) AS fp_here
  FROM scored GROUP BY score
),
cum AS (
  SELECT score,
         CAST(sum(tp_here) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
         CAST(sum(fp_here) OVER (ORDER BY score DESC) AS BIGINT) AS fp,
         CAST(sum(tp_here) OVER () AS BIGINT) AS pos
  FROM by_score
),
segs AS (
  SELECT score, tp, fp, pos,
         tp - COALESCE(lag(tp) OVER (ORDER BY score DESC), 0) AS dtp
  FROM cum
)
SELECT score, tp, fp,
       round(tp / CAST(tp + fp AS DOUBLE), 9) AS precision,
       round(tp / CAST(pos AS DOUBLE), 9) AS recall,
       round(CAST(sum(CAST(round(1000000000.0 * ((dtp * tp) / CAST(pos * (tp + fp) AS DOUBLE))) AS BIGINT)) OVER () AS DOUBLE)
             / 1000000000.0, 9) AS average_precision
FROM segs ORDER BY score DESC
"""
@register(
    "eval_pr_auc",
    oracle=_sql_pr_auc(),
    tags=("eval", "stats", "ml", "pr-curve"),
)
def eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact precision-recall curve and average precision for the same
    scored fixture as ``eval_roc_auc`` (English stopword ratio
    predicting lang='en') — the class-imbalance-robust companion
    metric: with rare positives, ROC AUC stays optimistic while the PR
    curve collapses, which is why retrieval/filter evaluations report
    AP (step-wise interpolation, the standard estimator:
    AP = Σ_i (R_i − R_{i−1})·P_i over descending thresholds).

    Curve state is integer (cumulative TP/FP per DISTINCT score); each
    AP term is one division of exact integers — ``(ΔTP·TP) /
    (P·(TP+FP))`` — quantized to the 1e9 grid before the sum, so both
    engines add identical BIGINTs. Like the ROC entry, the O(#distinct
    scores) window is the laptop form; the 100 TB form buckets scores
    to a fixed grid first (the score here is already 9-dp-rounded, so
    the domain is bounded by the grid, not the corpus)."""
    docs = _t(spark, sf_dir, "documents")
    ts = tx.tokens("text")
    stop = F.filter(ts, lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.round(F.size(stop) / F.size(ts).cast("double"), 9).alias("score"),
    )
    by_score = scored.groupBy("score").agg(
        F.sum("label").alias("tp_here"),
        F.sum(1 - F.col("label")).alias("fp_here"),
    )
    word = Window.orderBy(F.desc("score"))
    wall = Window.partitionBy(F.lit(1))
    cum = by_score.select(
        "score",
        F.sum("tp_here").over(word).cast("bigint").alias("tp"),
        F.sum("fp_here").over(word).cast("bigint").alias("fp"),
        F.sum("tp_here").over(wall).cast("bigint").alias("pos"),
    )
    dtp = F.col("tp") - F.coalesce(F.lag("tp").over(word), F.lit(0))
    term = F.round(
        F.lit(1000000000.0)
        * (
            (dtp * F.col("tp"))
            / (F.col("pos") * (F.col("tp") + F.col("fp"))).cast("double")
        )
    ).cast("bigint")
    return (
        cum.withColumn("term", term)
        .select(
            "score",
            "tp",
            "fp",
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")).cast("double"), 9).alias(
                "precision"
            ),
            F.round(F.col("tp") / F.col("pos").cast("double"), 9).alias("recall"),
            F.round(
                F.sum("term").over(wall).cast("double") / 1000000000.0, 9
            ).alias("average_precision"),
        )
        .orderBy(F.desc("score"))
    )


_MRR_SQL = """
WITH ocnt AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1
),
graded AS (
  SELECT c_nationkey, c_custkey, c_acctbal,
         least(CAST(floor(coalesce(n_orders, 0) / 5.0) AS BIGINT), 4) AS rel
  FROM customer LEFT JOIN ocnt ON c_custkey = o_custkey
),
pred AS (
  SELECT c_nationkey, rel,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM graded
),
hit AS (
  SELECT c_nationkey, CAST(min(rnk) AS BIGINT) AS first_rel
  FROM pred WHERE rnk <= 10 AND rel >= 3 GROUP BY 1
),
q AS (SELECT DISTINCT c_nationkey FROM graded),
per_q AS (
  SELECT c_nationkey,
         CAST(coalesce(first_rel, 0) AS BIGINT) AS first_relevant_rank,
         CASE WHEN first_rel IS NULL THEN CAST(0 AS BIGINT)
              ELSE CAST(round(1000000000.0 / first_rel) AS BIGINT) END AS rr_q
  FROM q LEFT JOIN hit USING (c_nationkey)
)
SELECT n_name AS nation, first_relevant_rank,
       round(rr_q / 1000000000.0, 9) AS reciprocal_rank,
       round(CAST(sum(rr_q) OVER () AS DOUBLE) / count(*) OVER () / 1000000000.0, 9)
         AS mrr_at_10
FROM per_q JOIN nation ON n_nationkey = c_nationkey
ORDER BY nation
"""
@register(
    "eval_mrr_at_k",
    oracle=_MRR_SQL,
    tags=("eval", "ranking", "mrr"),
)
def eval_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 — mean reciprocal rank of the FIRST relevant result, the
    standard known-item/QA retrieval metric, on the identical fixture as
    ``eval_ndcg_at_k`` (nation = query, account balance = model score)
    with binary relevance rel >= 3; queries whose top-10 has no relevant
    item contribute 0 (rank reported as 0, not NULL, on both engines).

    Each query's reciprocal rank is quantized to the 1e9 integer grid
    before the cross-query mean, so the global MRR is a division of
    exact integers — never an order-dependent float SUM. Plan shape: one
    count aggregate, a per-query row_number window (partition count
    grows with queries), a per-query min, and a query-spine left join so
    zero-hit queries survive; the only global state is the #queries-row
    final window — at 100 TB queries are the parallel unit and this
    stays a per-query pipeline plus one tiny combine."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    ocnt = orders.groupBy(F.col("o_custkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    graded = cust.join(ocnt, cust["c_custkey"] == ocnt["o_custkey"], "left").select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.least(
            F.floor(F.coalesce(F.col("n_orders"), F.lit(0)) / 5.0).cast("bigint"),
            F.lit(4),
        ).alias("rel"),
    )
    w_pred = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    hit = (
        graded.withColumn("rnk", F.row_number().over(w_pred))
        .filter((F.col("rnk") <= 10) & (F.col("rel") >= 3))
        .groupBy("c_nationkey")
        .agg(F.min("rnk").cast("bigint").alias("first_rel"))
    )
    q = graded.select("c_nationkey").distinct()
    per_q = q.join(hit, "c_nationkey", "left").select(
        "c_nationkey",
        F.coalesce(F.col("first_rel"), F.lit(0)).cast("bigint").alias(
            "first_relevant_rank"
        ),
        F.when(F.col("first_rel").isNull(), F.lit(0).cast("bigint"))
        .otherwise(
            F.round(F.lit(1000000000.0) / F.col("first_rel")).cast("bigint")
        )
        .alias("rr_q"),
    )
    wall = Window.partitionBy(F.lit(1))
    return (
        per_q.join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "first_relevant_rank",
            F.round(F.col("rr_q") / 1000000000.0, 9).alias("reciprocal_rank"),
            F.round(
                F.sum("rr_q").over(wall).cast("double")
                / F.count(F.lit(1)).over(wall)
                / 1000000000.0,
                9,
            ).alias("mrr_at_10"),
        )
        .orderBy("nation")
    )


_KAPPA_STOPWORDS = "('the', 'a', 'of', 'and', 'is')"
_KAPPA_THRESHOLD = 0.08
def _sql_kappa() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
         CASE WHEN (CASE WHEN len({toks}) = 0 THEN 0.0
                         ELSE round(len(list_filter({toks}, t -> t IN {_KAPPA_STOPWORDS}))
                                    / CAST(len({toks}) AS DOUBLE), 9)
                    END) >= {_KAPPA_THRESHOLD}
              THEN 1 ELSE 0 END AS pred
  FROM documents
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE pred = 1 AND truth = 1) AS BIGINT) AS tp,
         CAST(count(*) FILTER (WHERE pred = 1 AND truth = 0) AS BIGINT) AS fp,
         CAST(count(*) FILTER (WHERE pred = 0 AND truth = 1) AS BIGINT) AS fn,
         CAST(count(*) FILTER (WHERE pred = 0 AND truth = 0) AS BIGINT) AS tn
  FROM scored
)
SELECT n, tp, fp, fn, tn,
       round((tp + tn) / CAST(n AS DOUBLE), 9) AS po,
       round(((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (CAST(n AS DOUBLE) * n), 9) AS pe,
       round(((tp + tn) / CAST(n AS DOUBLE)
              - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (CAST(n AS DOUBLE) * n))
             / (1 - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (CAST(n AS DOUBLE) * n)), 9)
         AS kappa
FROM c
"""
@register(
    "eval_cohens_kappa",
    oracle=_sql_kappa(),
    tags=("eval", "stats", "agreement"),
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement (Cohen 1960) between
    the thresholded stopword-ratio classifier (the SAME 9-dp-rounded
    score as ``eval_roc_auc``/``eval_pr_auc``, predicted 'en' at ratio
    >= 0.08) and the lang label: kappa = (p_o - p_e)/(1 - p_e), the
    metric that exposes accuracy inflation under class imbalance (on
    this near-chance synthetic fixture kappa sits near 0 while raw
    agreement looks respectable — exactly the case kappa exists for).

    The whole statistic reduces to ONE map-side-combinable aggregation
    producing the four exact BIGINT confusion cells; p_o, p_e, and
    kappa are then identical integer-ratio expressions on both engines
    (marginal products stay within BIGINT at any realistic corpus
    size). The threshold compares the ALREADY-9dp-rounded score, so the
    decision boundary is bit-identical cross-engine. At 100 TB this is
    one scan, one 4-cell combine."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("lang", tx.tokens("text").alias("toks"))
    stop = F.filter(F.col("toks"), lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = base.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("truth"),
        (
            F.when(F.size("toks") == 0, F.lit(0.0)).otherwise(
                F.round(F.size(stop) / F.size("toks").cast("double"), 9)
            )
            >= _KAPPA_THRESHOLD
        ).cast("int").alias("pred"),
    )
    c = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when((F.col("pred") == 1) & (F.col("truth") == 1), 1))
        .cast("bigint")
        .alias("tp"),
        F.count(F.when((F.col("pred") == 1) & (F.col("truth") == 0), 1))
        .cast("bigint")
        .alias("fp"),
        F.count(F.when((F.col("pred") == 0) & (F.col("truth") == 1), 1))
        .cast("bigint")
        .alias("fn"),
        F.count(F.when((F.col("pred") == 0) & (F.col("truth") == 0), 1))
        .cast("bigint")
        .alias("tn"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("tp") + F.col("tn")) / nd
    pe = (
        (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn"))
        + (F.col("fn") + F.col("tn")) * (F.col("fp") + F.col("tn"))
    ) / (nd * F.col("n"))
    return c.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(po, 9).alias("po"),
        F.round(pe, 9).alias("pe"),
        F.round((po - pe) / (1 - pe), 9).alias("kappa"),
    )


_LIFT_STOPWORDS = "('the', 'a', 'of', 'and', 'is')"
def _sql_lift() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         round(len(list_filter({toks}, t -> t IN {_LIFT_STOPWORDS}))
                 / CAST(len({toks}) AS DOUBLE), 9) AS score
  FROM documents
),
dec AS (
  SELECT label,
         CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS decile
  FROM scored
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
       round((CAST(sum(pos) OVER (ORDER BY decile) AS DOUBLE) / sum(n) OVER (ORDER BY decile))
             / (CAST(sum(pos) OVER () AS DOUBLE) / sum(n) OVER ()), 9) AS cum_lift
FROM agg ORDER BY decile
"""
@register(
    "eval_lift_gains_deciles",
    oracle=_sql_lift(),
    tags=("eval", "ranking", "lift", "gains"),
)
def eval_lift_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative-gains table — the campaign-targeting /
    curation-triage view of the ``eval_roc_auc`` scored fixture: rank by
    score, cut into 10 equal-count deciles, and report per-decile lift
    (precision vs base rate) and cumulative gain (share of all positives
    captured by deciles 1..d). The table the ROC curve summarizes away.

    Decile assignment is ``ntile(10)`` over the total order (score
    DESC, doc_id) — the identical standard-SQL ntile split on both
    engines — and every downstream number is a ratio of exact BIGINT
    counts over the 10-row decile frame, so no float ever sums in a
    nondeterministic order. Like the ROC/PR entries, the global-order
    window is the laptop form; the 100 TB form assigns deciles from
    equi-depth score cuts (``operators/equidepth.py``, the ``_cuts``
    family) instead of a global sort; the demo_guard refuses inputs past
    the cap with a pointer to ``eval_lift_gains_deciles_cuts``."""
    docs = demo_guard(
        _t(spark, sf_dir, "documents"),
        "eval_lift_gains_deciles",
        "eval_lift_gains_deciles_cuts",
    )
    base = docs.select("doc_id", "lang", tx.tokens("text").alias("toks"))
    stop = F.filter(F.col("toks"), lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = base.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.round(F.size(stop) / F.size("toks").cast("double"), 9).alias("score"),
    )
    dec = scored.select(
        "label",
        F.ntile(10)
        .over(Window.orderBy(F.desc("score"), F.col("doc_id")))
        .cast("bigint")
        .alias("decile"),
    )
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    word = Window.orderBy("decile")
    wall = Window.partitionBy(F.lit(1))
    base_rate = F.sum("pos").over(wall).cast("double") / F.sum("n").over(wall)
    return agg.select(
        "decile",
        "n",
        "pos",
        F.round((F.col("pos") / F.col("n").cast("double")) / base_rate, 9).alias(
            "lift"
        ),
        F.round(
            F.sum("pos").over(word).cast("double") / F.sum("pos").over(wall), 9
        ).alias("cum_gain"),
        F.round(
            (F.sum("pos").over(word).cast("double") / F.sum("n").over(word))
            / base_rate,
            9,
        ).alias("cum_lift"),
    ).orderBy("decile")


_BRIER_STOPWORDS = "('the', 'a', 'of', 'and', 'is')"
def _sql_brier() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         round(len(list_filter({toks}, t -> t IN {_BRIER_STOPWORDS}))
                 / CAST(len({toks}) AS DOUBLE), 9) AS score
  FROM documents
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS pos,
         CAST(sum(CAST(round(1000000000.0 * (score - label) * (score - label))
                       AS BIGINT)) AS BIGINT) AS bq
  FROM scored
)
SELECT n, pos,
       round(CAST(bq AS DOUBLE) / n / 1000000000.0, 9) AS brier,
       round((pos / CAST(n AS DOUBLE)) * (1 - pos / CAST(n AS DOUBLE)), 9)
         AS brier_ref,
       round(1 - (CAST(bq AS DOUBLE) / n / 1000000000.0)
                 / ((pos / CAST(n AS DOUBLE)) * (1 - pos / CAST(n AS DOUBLE))), 9)
         AS brier_skill
FROM agg
"""
@register(
    "eval_brier_score",
    oracle=_sql_brier(),
    tags=("eval", "stats", "probability", "calibration"),
)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (Brier 1950) — mean squared error of the stopword-
    ratio "probability" against the lang='en' label — with the Brier
    skill score vs the climatology reference p_bar(1 - p_bar) (always
    predicting the base rate): the strictly proper scoring rule that
    penalizes both discrimination AND calibration failures, completing
    the probability-evaluation family (`eval_roc_auc` ranks,
    `eval_calibration_bins` calibrates, Brier scores).

    Each per-row squared error is computed from the 9-dp-rounded score
    (identical double on both engines) and quantized to the 1e9 integer
    grid BEFORE the corpus sum, so the mean is a ratio of exact
    BIGINTs; the reference and skill terms are pure functions of the
    exact (n, positives) pair. ONE map-side-combinable aggregation —
    at 100 TB this is a single scan with a 3-number combine."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("lang", tx.tokens("text").alias("toks"))
    stop = F.filter(F.col("toks"), lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = base.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.round(F.size(stop) / F.size("toks").cast("double"), 9).alias("score"),
    )
    term = F.round(
        F.lit(1000000000.0)
        * (F.col("score") - F.col("label"))
        * (F.col("score") - F.col("label"))
    ).cast("bigint")
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
        F.sum(term).cast("bigint").alias("bq"),
    )
    p = F.col("pos") / F.col("n").cast("double")
    brier = F.col("bq").cast("double") / F.col("n") / 1000000000.0
    ref = p * (1 - p)
    return agg.select(
        "n",
        "pos",
        F.round(brier, 9).alias("brier"),
        F.round(ref, 9).alias("brier_ref"),
        F.round(1 - brier / ref, 9).alias("brier_skill"),
    )


_RBO_P = 0.9
_RBO_DEPTH = 20
# p^(d-1) injected as identical decimal literals on BOTH engines — pow()
# is libm-dependent and a 1-ULP difference could flip a rounding
# boundary; parsing the same literal cannot.
_RBO_WEIGHTS = [repr(_RBO_P ** d) for d in range(_RBO_DEPTH)]
def _sql_rbo() -> str:
    weights = ", ".join(
        f"({d + 1}, {w})" for d, w in enumerate(_RBO_WEIGHTS)
    )
    return f"""
WITH toks AS ({_SQL_TOKENS}),
dl AS (
  SELECT d.doc_id, CAST(coalesce(t.n, 0) AS BIGINT) AS dl
  FROM documents d LEFT JOIN
       (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id) t USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE w IN {_BM25_TERMS!r}
  GROUP BY doc_id, w
),
idf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
),
scored AS (
  SELECT t.doc_id,
         {SQL_DSUM.format(x=f'''
           ln(1.0 + (CAST(s.nd - i.df AS DOUBLE) + 0.5) / (CAST(i.df AS DOUBLE) + 0.5))
           * ((CAST(t.tf AS DOUBLE) * {_BM25_K1 + 1.0}) /
              (CAST(t.tf AS DOUBLE)
               + {_BM25_K1} * (1.0 - {_BM25_B}
                               + {_BM25_B} * (CAST(d.dl AS DOUBLE) / s.avgdl))))''')} AS score,
         CAST(sum(t.tf) AS BIGINT) AS tf_total
  FROM tf t
  JOIN idf i USING (w)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY t.doc_id
),
ra AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
  FROM (SELECT doc_id, score FROM scored
        ORDER BY score DESC, doc_id LIMIT {_RBO_DEPTH})
),
rb AS (
  SELECT doc_id, row_number() OVER (ORDER BY tf_total DESC, doc_id) AS r
  FROM (SELECT doc_id, tf_total FROM scored
        ORDER BY tf_total DESC, doc_id LIMIT {_RBO_DEPTH})
),
m AS (
  SELECT greatest(ra.r, rb.r) AS m
  FROM ra JOIN rb USING (doc_id)
),
spine(d, w) AS (VALUES {weights}),
agreement AS (
  SELECT s.d, s.w,
         CAST((SELECT count(*) FROM m WHERE m.m <= s.d) AS BIGINT) AS ov
  FROM spine s
)
SELECT CAST({_RBO_DEPTH} AS BIGINT) AS depth,
       round({_RBO_P}, 6) AS p,
       max(CASE WHEN d = {_RBO_DEPTH} THEN ov END) AS overlap_at_depth,
       round((1.0 - {_RBO_P})
             * CAST(sum(CAST(round(w * (CAST(ov AS DOUBLE) / d) * 1e9)
                             AS HUGEINT)) AS DOUBLE) / 1e9, 9) AS rbo
FROM agreement
"""
@register(
    "eval_rank_biased_overlap",
    oracle=_sql_rbo(),
    tags=("eval", "search", "ranking", "rbo"),
)
def eval_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010), truncated at depth 20
    with persistence p = 0.9, between the BM25 ranking and a TF-only
    ranking of the SAME query — the top-weighted list-similarity
    measure a ranker A/B comparison reports (Kendall's tau treats
    position 1 like position 20; RBO does not). RBO@D = (1-p) ·
    Σ_{{d=1..D}} p^(d-1) · |A_d ∩ B_d| / d, where A_d/B_d are the two
    depth-d prefixes. Here it isolates exactly what idf + length
    normalization change about pure term-frequency ranking.

    Exactness: both rankings derive from ONE shared scored frame (the
    ``search_bm25_topk`` posting-list machinery, so the corpus is
    scanned once for both rankers); prefix ranks are row_numbers over
    total orders; the geometric weights p^(d-1) are injected as
    IDENTICAL decimal literals on both engines (pow() is
    libm-dependent); each depth's addend is nano-quantized before the
    cross-depth sum.

    Scale shape: posting-list projection before any shuffle, two
    TakeOrdered top-20 cuts, then all RBO algebra on ≤20-row frames
    (the depth spine is a 20-row literal table)."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)
    dl = (
        docs.select("doc_id")
        .join(
            toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("dl")
        )
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    k1, b = _BM25_K1, _BM25_B
    term_score = F.log(
        1.0
        + ((F.col("nd") - F.col("df")).cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    ) * (
        (F.col("tf").cast("double") * F.lit(k1 + 1.0))
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl"))
            )
        )
    )
    scored = (
        tf.join(idf, "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            dsum(term_score).alias("score"),
            F.sum("tf").cast("bigint").alias("tf_total"),
        )
        .localCheckpoint(eager=True)  # feeds both rankings
    )
    wa = Window.orderBy(F.desc("score"), "doc_id")
    wb = Window.orderBy(F.desc("tf_total"), "doc_id")
    ra = (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(_RBO_DEPTH)
        .select("doc_id", F.row_number().over(wa).alias("r"))
    )
    rb = (
        scored.orderBy(F.desc("tf_total"), "doc_id")
        .limit(_RBO_DEPTH)
        .select("doc_id", F.row_number().over(wb).alias("r"))
    )
    m = ra.alias("a").join(rb.alias("b"), "doc_id").select(
        F.greatest(F.col("a.r"), F.col("b.r")).alias("m")
    )
    spine = spark.createDataFrame(
        [(d + 1, float(w)) for d, w in enumerate(_RBO_WEIGHTS)], "d INT, w DOUBLE"
    )
    agreement = (
        F.broadcast(spine)
        .join(m, F.col("m") <= F.col("d"), "left")
        .groupBy("d", "w")
        .agg(F.count("m").cast("bigint").alias("ov"))
    )
    addend = F.round(
        F.col("w") * (F.col("ov").cast("double") / F.col("d")) * 1e9
    ).cast("decimal(38,0)")
    return agreement.agg(
        F.lit(_RBO_DEPTH).cast("bigint").alias("depth"),
        F.round(F.lit(_RBO_P), 6).alias("p"),
        F.max(F.when(F.col("d") == _RBO_DEPTH, F.col("ov"))).alias(
            "overlap_at_depth"
        ),
        F.round(
            (1.0 - F.lit(_RBO_P)) * F.sum(addend).cast("double") / 1e9, 9
        ).alias("rbo"),
    )


_F1_STOPWORDS = "('the', 'a', 'of', 'and', 'is')"  # the ROC/kappa fixture
def _sql_f1_sweep() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         round(len(list_filter({toks}, t -> t IN {_F1_STOPWORDS}))
                 / CAST(len({toks}) AS DOUBLE), 9) AS v
  FROM documents
),
dom AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cumn,
         CAST(sum(sum(y)) OVER (ORDER BY v) AS BIGINT) AS cumpos
  FROM scored GROUP BY v
),
tot AS (
  SELECT CAST(max(cumn) AS BIGINT) AS n, CAST(max(cumpos) AS BIGINT) AS post
  FROM dom
),
cand AS (
  SELECT v AS threshold,
         n - cumn + cnt AS pred_pos,
         post - cumpos + pos AS tp,
         post,
         2.0 * (post - cumpos + pos)
           / CAST((n - cumn + cnt) + post AS DOUBLE) AS f1
  FROM dom, tot
)
SELECT threshold, pred_pos, tp,
       round(CAST(tp AS DOUBLE) / pred_pos, 9) AS precision_at,
       round(CAST(tp AS DOUBLE) / post, 9) AS recall_at,
       round(f1, 9) AS f1
FROM cand ORDER BY f1 DESC, threshold LIMIT 1
"""
@register(
    "eval_f1_threshold_sweep",
    oracle=_sql_f1_sweep(),
    tags=("eval", "ml", "threshold", "scale-path"),
)
def eval_f1_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-F1 operating point for the stopword-ratio classifier (the
    SAME 9-dp score as ``eval_roc_auc`` / ``eval_cohens_kappa``):
    every distinct score value is a candidate threshold (predict
    positive at score >= t); the sweep reports the threshold maximizing
    F1, with precision/recall at that point. ROC ranks, calibration
    checks probabilities, kappa fixes one threshold — this entry
    SELECTS the threshold, the last step before a filter ships
    (`text_quality`-style gates are tuned exactly this way).

    Exactness: candidate statistics are inclusive prefix sums of
    (count, positives) over the ascending distinct-score domain — exact
    integers (predicted-positive = n - cum + cnt, TP = pos_total -
    cumpos + pos) — and F1 uses the division-safe 2TP/(PP + P) identity
    (denominator >= 1 always), so every candidate row is exact until
    one final double ratio; the argmax is a TakeOrdered over the
    (f1 desc, threshold) total order.

    Scale shape: the ``ml_decision_stump_gini`` recipe — the
    distributed distinct-domain prefix sum (``value_counts_cum`` twice:
    unit and label weights; range-repartitioned, partitioned windows,
    broadcast offsets), candidate algebra on the domain-sized frame,
    TakeOrdered argmax. The oracle's global window is the semantic spec
    only."""
    docs = _t(spark, sf_dir, "documents")
    ts = tx.tokens("text")
    stop = F.filter(ts, lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.round(F.size(stop) / F.size(ts).cast("double"), 9).alias("v"),
    ).localCheckpoint(eager=True)  # feeds both prefix sums
    cnt_cum, _ = value_counts_cum(scored, F.col("v"))
    pos_cum, _ = value_counts_cum(scored, F.col("v"), weight=F.col("y"))
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
        F.max("cumpos").cast("bigint").alias("post"),
    )
    pp = F.col("n") - F.col("cum") + F.col("cnt")
    tp = F.col("post") - F.col("cumpos") + F.col("pos")
    cand = dom.crossJoin(F.broadcast(tot)).select(
        F.col("v").alias("threshold"),
        pp.alias("pred_pos"),
        tp.alias("tp"),
        "post",
        (2.0 * tp / (pp + F.col("post")).cast("double")).alias("f1"),
    )
    return (
        cand.select(
            "threshold",
            "pred_pos",
            "tp",
            F.round(F.col("tp").cast("double") / F.col("pred_pos"), 9).alias(
                "precision_at"
            ),
            F.round(F.col("tp").cast("double") / F.col("post"), 9).alias(
                "recall_at"
            ),
            F.round(F.col("f1"), 9).alias("f1"),
        )
        .orderBy(F.desc("f1"), "threshold")
        .limit(1)
    )


# --------------------------------------------------------------------------
# Expected / maximum calibration error (round 9)
# --------------------------------------------------------------------------


def _sql_ece() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         CAST(round(len(list_filter({toks}, t -> t IN ('the','a','of','and','is')))
                      / CAST(len({toks}) AS DOUBLE) * 1e9)
              AS BIGINT) AS s9
  FROM documents
  WHERE len({toks}) > 0
),
b AS (
  SELECT least(9, s9 // 100000000) AS bin,
         CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(label) AS BIGINT) AS pos_b,
         CAST(sum(CAST(s9 AS HUGEINT)) AS HUGEINT) AS conf9_b
  FROM scored GROUP BY 1
)
SELECT CAST(sum(n_b) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_bins_nonempty,
       round(CAST(sum(abs(CAST(pos_b AS HUGEINT) * 1000000000 - conf9_b)) AS DOUBLE)
             / (CAST(sum(n_b) AS DOUBLE) * 1e9), 9) AS ece,
       round(max(CAST(abs(CAST(pos_b AS HUGEINT) * 1000000000 - conf9_b) AS DOUBLE)
                 / n_b) / 1e9, 9) AS mce
FROM b
"""


@register(
    "eval_expected_calibration_error",
    oracle=_sql_ece(),
    tags=("eval", "calibration", "ece"),
)
def eval_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE / MCE of the stopword-ratio English predictor over 10
    fixed-width score bins — the single-number summary a model gate
    thresholds on, complementing ``eval_calibration_bins`` (which
    publishes the full reliability table). ECE = Σ_b (n_b/N)·|acc_b −
    conf_b|, MCE = max_b |acc_b − conf_b|.

    Exactness: scores live on the integer nano-grid (s9 ∈ [0, 1e9]), so
    per-bin |acc−conf| has the EXACT integer numerator |pos_b·1e9 −
    Σs9_b| (Decimal128/HUGEINT — no float subtraction anywhere), and
    ECE folds the n_b weights away algebraically: Σ_b numerator_b /
    (N·1e9). MCE divides each exact numerator by n_b as the identical
    double expression on both engines. Zero-token docs excluded by the
    shared guard.

    Scale shape: one map-side-combined 10-bin groupBy (bin id is a
    codegen integer division — no cuts, no window), then a 1-row
    combine. Nothing here grows with corpus size except the scan."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("lang", tx.tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    stop = F.filter(F.col("toks"), lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = base.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.round(F.size(stop) / F.size("toks").cast("double") * 1e9, 0)
        .cast("bigint")
        .alias("s9"),
    )
    b = scored.groupBy(
        F.least(F.lit(9), F.floor(F.col("s9") / F.lit(100000000))).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("label").cast("bigint").alias("pos_b"),
        F.sum(F.col("s9").cast("decimal(38,0)")).alias("conf9_b"),
    )
    num = F.abs(
        F.col("pos_b").cast("decimal(38,0)") * F.lit(1000000000) - F.col("conf9_b")
    )
    return b.agg(
        F.sum("n_b").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins_nonempty"),
        F.round(
            F.sum(num).cast("double") / (F.sum("n_b").cast("double") * 1e9), 9
        ).alias("ece"),
        F.round(F.max(num.cast("double") / F.col("n_b")) / 1e9, 9).alias("mce"),
    )


# --------------------------------------------------------------------------
# Kendall's W — concordance across independent rankers (round 9)
# --------------------------------------------------------------------------

_KW_SEED = 41
_KW_PANEL = 1000  # fixed judged-panel size (agreement is a panel statistic)


def _sql_kendalls_w() -> str:
    from .datapipe.hashing import sql_hash60

    h = sql_hash60("p_name", seed=_KW_SEED)
    return f"""
WITH panel AS (
  SELECT p_partkey, p_retailprice, p_size, p_name
  FROM part ORDER BY {h}, p_partkey LIMIT {_KW_PANEL}
),
ranks AS (
  SELECT p_partkey,
         row_number() OVER (ORDER BY CAST(round(p_retailprice * 100.0) AS BIGINT) DESC,
                            p_partkey) AS r1,
         row_number() OVER (ORDER BY p_size DESC, p_partkey) AS r2,
         row_number() OVER (ORDER BY length(p_name) DESC, p_partkey) AS r3
  FROM panel
),
d AS (
  SELECT CAST(2 * (r1 + r2 + r3) - 3 * (count(*) OVER () + 1) AS HUGEINT) AS dv
  FROM ranks
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dv * dv) AS HUGEINT) AS s4
  FROM d
)
SELECT n, 3 AS m_rankers,
       CASE WHEN n >= 2 THEN
         round(CAST(s4 AS DOUBLE)
               / (3.0 * CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE)), 9)
       END AS kendalls_w
FROM s
"""


@register(
    "eval_kendalls_w",
    oracle=_sql_kendalls_w(),
    tags=("eval", "agreement", "ranking"),
)
def eval_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W across three independent
    part rankers (retail price, declared size, name length) over a
    FIXED 1000-item judged panel: W = 12·Σ(R_i − m(n+1)/2)² /
    (m²(n³−n)) ∈ [0, 1] — do the judges agree at all? The multi-ranker
    generalization of the pairwise ``eval_rank_biased_overlap``. Ties
    break to a total order by p_partkey in every ranker, so ranks are
    permutations and the tie-correction term vanishes identically on
    both engines.

    Exactness: panel membership is the seeded smallest-hash selection
    (RNG-free, subset-stable); ranks are row_number integers; the
    deviation sum runs on the doubled grid (2R_i − m(n+1) is always
    integral) as a Decimal128/HUGEINT sum of squared integers — no
    float before the single final division, whose operands are the
    same exact integers cast to double on both engines.

    Scale shape: the panel is a TakeOrdered top-1000 by hash (scalable
    global top-k, never a global sort), and every rank window runs on
    the CONSTANT-size panel — agreement is a panel statistic, so the
    plan's window cost does not grow with the corpus."""
    from .datapipe.hashing import hash60

    p = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_retailprice", "p_size", "p_name")
        .orderBy(hash60(F.col("p_name"), seed=_KW_SEED), "p_partkey")
        .limit(_KW_PANEL)
    )
    r1 = Window.orderBy(
        F.desc(F.round(F.col("p_retailprice") * 100.0).cast("bigint")), "p_partkey"
    )
    r2 = Window.orderBy(F.desc("p_size"), "p_partkey")
    r3 = Window.orderBy(F.desc(F.length("p_name")), "p_partkey")
    ranks = p.select(
        "p_partkey",
        F.row_number().over(r1).alias("r1"),
        F.row_number().over(r2).alias("r2"),
        F.row_number().over(r3).alias("r3"),
    )
    n_all = F.count(F.lit(1)).over(Window.partitionBy())
    dev = (2 * (F.col("r1") + F.col("r2") + F.col("r3")) - 3 * (n_all + 1)).cast(
        "decimal(38,0)"
    )
    s = ranks.select(dev.alias("dv")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("dv") * F.col("dv")).alias("s4"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    return s.select(
        "n",
        F.lit(3).alias("m_rankers"),
        # n < 2 leaves n^3 - n = 0: concordance undefined, NULL both engines
        F.when(
            F.col("n") >= 2,
            F.round(
                F.col("s4").cast("double")
                / (3.0 * (nd * nd * nd - nd).cast("double")),
                9,
            ),
        ).alias("kendalls_w"),
    )


# --------------------------------------------------------------------------
# Quadratic weighted kappa (ordinal rater agreement) — round 9
# --------------------------------------------------------------------------


def _sql_qwk() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH rated AS (
  SELECT (CASE WHEN s9 >= 100000000 THEN 1 ELSE 0 END
          + CASE WHEN s9 >= 200000000 THEN 1 ELSE 0 END
          + CASE WHEN s9 >= 300000000 THEN 1 ELSE 0 END) AS ra,
         (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END) AS rb
  FROM (
    SELECT n_chars,
           CAST(round(len(list_filter({toks}, t -> t IN ('the','a','of','and','is')))
                        / CAST(len({toks}) AS DOUBLE) * 1e9)
                AS BIGINT) AS s9
    FROM documents WHERE len({toks}) > 0
  )
),
cells AS (
  SELECT ra, rb, CAST(count(*) AS BIGINT) AS o FROM rated GROUP BY 1, 2
),
ra_t AS (SELECT ra, CAST(count(*) AS BIGINT) AS r FROM rated GROUP BY 1),
rb_t AS (SELECT rb, CAST(count(*) AS BIGINT) AS c FROM rated GROUP BY 1),
num AS (
  SELECT CAST(sum(CAST((ra - rb) * (ra - rb) AS HUGEINT) * o) AS HUGEINT) AS wo,
         CAST(sum(o) AS BIGINT) AS n
  FROM cells
),
den AS (
  SELECT CAST(sum(CAST((a.ra - b.rb) * (a.ra - b.rb) AS HUGEINT) * a.r * b.c)
              AS HUGEINT) AS wrc
  FROM ra_t a CROSS JOIN rb_t b
)
SELECT num.n,
       CASE WHEN den.wrc > 0 THEN
         round(1.0 - CAST(num.n AS DOUBLE) * CAST(num.wo AS DOUBLE)
                     / CAST(den.wrc AS DOUBLE), 9)
       END AS qwk
FROM num CROSS JOIN den
"""


@register(
    "eval_cohens_kappa_weighted",
    oracle=_sql_qwk(),
    tags=("eval", "agreement", "ordinal", "kappa"),
)
def eval_cohens_kappa_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic weighted kappa between two ORDINAL document raters
    (stopword-ratio quality grade 0-3 vs length grade 0-3): QWK = 1 -
    Sigma w_ij O_ij * N / Sigma w_ij r_i c_j with w_ij = (i-j)^2 — the
    ordinal-scale agreement metric (a grade off by one is nearly
    agreement, off by three is not), where the unweighted
    ``eval_cohens_kappa`` treats every disagreement alike. The ML-
    competition standard for graded labels.

    Exactness: grades are integer threshold sums on the nano score
    grid / exact character counts; observed and expected weighted sums
    are Decimal128/HUGEINT integers (the N denominator folds in
    algebraically, so kappa is ONE division of exact integers).
    Zero-token docs excluded by the shared guard.

    Scale shape: one map-side-combined 4x4 cell groupBy plus two
    4-row marginals; the expected grid is the bounded 4x4 cross of
    marginals. Nothing post-scan grows with the corpus."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "n_chars", tx.tokens("text").alias("toks")
    ).filter(F.size("toks") > 0)
    stop = F.filter(F.col("toks"), lambda t: t.isin("the", "a", "of", "and", "is"))
    s9 = (
        F.round(F.size(stop) / F.size("toks").cast("double") * 1e9, 0)
        .cast("bigint")
    )
    grade = lambda c, cuts: sum(  # noqa: E731
        (F.when(c >= F.lit(t), 1).otherwise(0) for t in cuts), F.lit(0)
    )
    rated = base.select(
        grade(s9, (100000000, 200000000, 300000000)).alias("ra"),
        grade(F.col("n_chars"), (200, 400, 800)).alias("rb"),
    )
    cells = rated.groupBy("ra", "rb").agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    ra_t = rated.groupBy("ra").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    rb_t = rated.groupBy("rb").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = ((F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))).cast(
        "decimal(38,0)"
    )
    num = cells.agg(
        F.sum(w * F.col("o")).alias("wo"),
        F.sum("o").cast("bigint").alias("n"),
    )
    den = (
        ra_t.crossJoin(rb_t)
        .agg(F.sum(w * F.col("r") * F.col("c")).alias("wrc"))
    )
    return num.crossJoin(F.broadcast(den)).select(
        "n",
        # wrc = 0 iff both raters are constant: kappa undefined, NULL
        # on both engines (exact integer comparison)
        F.when(
            F.col("wrc") > 0,
            F.round(
                1.0
                - F.col("n").cast("double")
                * F.col("wo").cast("double")
                / F.col("wrc").cast("double"),
                9,
            ),
        ).alias("qwk"),
    )


# --------------------------------------------------------------------------
# AUC with Hanley-McNeil standard error / CI (round 9)
# --------------------------------------------------------------------------


def _sql_auc_ci() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         round(len(list_filter({toks}, t -> t IN ('the','a','of','and','is')))
               / CAST(len({toks}) AS DOUBLE), 9) AS score
  FROM documents WHERE len({toks}) > 0
),
by_score AS (
  SELECT score, CAST(sum(label) AS BIGINT) AS tp_here,
         CAST(sum(1 - label) AS BIGINT) AS fp_here
  FROM scored GROUP BY score
),
cum AS (
  SELECT score,
         sum(tp_here) OVER (ORDER BY score DESC) AS tp,
         sum(fp_here) OVER (ORDER BY score DESC) AS fp,
         sum(tp_here) OVER () AS pos, sum(fp_here) OVER () AS neg
  FROM by_score
),
seg AS (
  SELECT pos, neg,
         (fp - coalesce(lag(fp) OVER (ORDER BY score DESC), 0))
         * (tp + coalesce(lag(tp) OVER (ORDER BY score DESC), 0)) AS seg2
  FROM cum
),
a AS (
  SELECT CAST(min(pos) AS BIGINT) AS pos, CAST(min(neg) AS BIGINT) AS neg,
         CAST(sum(CAST(seg2 AS HUGEINT)) AS HUGEINT) AS s2
  FROM seg
),
f AS (
  SELECT pos, neg,
         CAST(s2 AS DOUBLE) / (2.0 * pos * neg) AS auc
  FROM a
),
se AS (
  SELECT pos, neg, auc,
         sqrt((auc * (1.0 - auc)
               + (pos - 1.0) * (auc / (2.0 - auc) - auc * auc)
               + (neg - 1.0) * (2.0 * auc * auc / (1.0 + auc) - auc * auc))
              / (CAST(pos AS DOUBLE) * neg)) AS se
  FROM f
)
SELECT pos, neg, round(auc, 9) AS auc, round(se, 9) AS se,
       round(greatest(0.0, auc - 1.96 * se), 6) AS ci95_lo,
       round(least(1.0, auc + 1.96 * se), 6) AS ci95_hi
FROM se
"""


@register(
    "eval_auc_hanley_ci",
    oracle=_sql_auc_ci(),
    tags=("eval", "auc", "confidence-interval"),
)
def eval_auc_hanley_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC with the Hanley-McNeil (1982) standard error and 95% CI —
    the uncertainty ``eval_roc_auc`` omits: SE^2 = (A(1-A) +
    (P-1)(Q1-A^2) + (N-1)(Q2-A^2)) / PN with the exponential-model
    Q1 = A/(2-A), Q2 = 2A^2/(1+A). The decision a filter-threshold
    review actually needs is "is this AUC distinguishable from that
    one", which requires the SE, not the point estimate. Zero-token
    docs excluded by the shared guard; z = 1.96 as a shared literal;
    CI clamped to [0, 1] identically via greatest/least.

    Exactness: the trapezoid area numerator is an exact integer
    (Decimal128/HUGEINT sum of integer segments over distinct scores,
    the roc-auc machinery); AUC and SE are identical double
    expressions over (s2, P, N).

    Scale shape: one distinct-score groupBy, cumulative windows over
    score cardinality (never rows — the roc entry's envelope; the
    100 TB form buckets scores to a fixed grid first), 1-row reduce."""
    docs = _t(spark, sf_dir, "documents")
    ts = tx.tokens("text")
    stop = F.filter(ts, lambda t: t.isin("the", "a", "of", "and", "is"))
    scored = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.round(F.size(stop) / F.size(ts).cast("double"), 9).alias("score"),
    ).filter(F.size(ts) > 0)
    by_score = scored.groupBy("score").agg(
        F.sum("label").alias("tp_here"),
        F.sum(1 - F.col("label")).alias("fp_here"),
    )
    word = Window.orderBy(F.desc("score"))
    wall = Window.partitionBy(F.lit(1))
    cum = by_score.select(
        "score",
        F.sum("tp_here").over(word).alias("tp"),
        F.sum("fp_here").over(word).alias("fp"),
        F.sum("tp_here").over(wall).alias("pos"),
        F.sum("fp_here").over(wall).alias("neg"),
    )
    seg2 = (F.col("fp") - F.coalesce(F.lag("fp").over(word), F.lit(0))) * (
        F.col("tp") + F.coalesce(F.lag("tp").over(word), F.lit(0))
    )
    a = cum.select("pos", "neg", seg2.cast("decimal(38,0)").alias("seg2")).agg(
        F.min("pos").cast("bigint").alias("pos"),
        F.min("neg").cast("bigint").alias("neg"),
        F.sum("seg2").alias("s2"),
    )
    auc = F.col("s2").cast("double") / (2.0 * F.col("pos") * F.col("neg"))
    f = a.select("pos", "neg", auc.alias("auc"))
    se = F.sqrt(
        (
            F.col("auc") * (1.0 - F.col("auc"))
            + (F.col("pos") - 1.0) * (F.col("auc") / (2.0 - F.col("auc")) - F.col("auc") * F.col("auc"))
            + (F.col("neg") - 1.0)
            * (2.0 * F.col("auc") * F.col("auc") / (1.0 + F.col("auc")) - F.col("auc") * F.col("auc"))
        )
        / (F.col("pos").cast("double") * F.col("neg"))
    )
    g = f.select("pos", "neg", "auc", se.alias("se"))
    return g.select(
        "pos",
        "neg",
        F.round("auc", 9).alias("auc"),
        F.round("se", 9).alias("se"),
        F.round(F.greatest(F.lit(0.0), F.col("auc") - 1.96 * F.col("se")), 6).alias(
            "ci95_lo"
        ),
        F.round(F.least(F.lit(1.0), F.col("auc") + 1.96 * F.col("se")), 6).alias(
            "ci95_hi"
        ),
    )


# --------------------------------------------------------------------------
# Corpus BLEU over adjacent-id document pairs — round 10
# --------------------------------------------------------------------------

def _sql_bleu() -> str:
    toks = tx.sql_tokens("text")
    big = f"list_transform(range(1, len({toks})), i -> {toks}[i] || ' ' || {toks}[i + 1])"
    return f"""
WITH d AS (SELECT doc_id, {toks} AS t1, {big} AS t2 FROM documents),
pairs AS (
  SELECT c.doc_id AS pid, c.t1 AS c1, c.t2 AS c2, r.t1 AS r1, r.t2 AS r2
  FROM d c JOIN d r ON r.doc_id = c.doc_id + 1
),
cu AS (
  SELECT pid, 1 AS n, unnest(c1) AS g FROM pairs
  UNION ALL SELECT pid, 2, unnest(c2) FROM pairs
),
ru AS (
  SELECT pid, 1 AS n, unnest(r1) AS g FROM pairs
  UNION ALL SELECT pid, 2, unnest(r2) FROM pairs
),
cc AS (SELECT pid, n, g, CAST(count(*) AS BIGINT) AS kc FROM cu GROUP BY 1, 2, 3),
rc AS (SELECT pid, n, g, CAST(count(*) AS BIGINT) AS kr FROM ru GROUP BY 1, 2, 3),
clip AS (
  SELECT cc.n, CAST(sum(least(kc, kr)) AS BIGINT) AS clipped
  FROM cc JOIN rc ON cc.pid = rc.pid AND cc.n = rc.n AND cc.g = rc.g
  GROUP BY cc.n
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(len(c1)) AS BIGINT) AS cand1,
         CAST(sum(len(c2)) AS BIGINT) AS cand2,
         CAST(sum(len(r1)) AS BIGINT) AS ref_len
  FROM pairs
),
p AS (
  SELECT n_pairs, cand1 AS cand_len, ref_len,
         CASE WHEN cand1 = 0 THEN 0.0 ELSE
           CAST(coalesce((SELECT clipped FROM clip WHERE n = 1), 0) AS DOUBLE) / cand1
         END AS p1,
         CASE WHEN cand2 = 0 THEN 0.0 ELSE
           CAST(coalesce((SELECT clipped FROM clip WHERE n = 2), 0) AS DOUBLE) / cand2
         END AS p2
  FROM tot
)
SELECT n_pairs, cand_len, ref_len,
       round(p1, 9) AS p1, round(p2, 9) AS p2,
       CASE WHEN p1 > 0 AND p2 > 0 THEN
         round(CASE WHEN cand_len > ref_len THEN 1.0
                    ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / cand_len) END
               * exp(0.5 * (ln(p1) + ln(p2))), 9)
       ELSE 0.0 END AS bleu2
FROM p
"""


@register(
    "eval_bleu_adjacent_pairs",
    oracle=_sql_bleu(),
    tags=("eval", "bleu", "ngram", "generation"),
)
def eval_bleu_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU-2 (Papineni et al.: clipped modified n-gram
    precision + brevity penalty, uniform 1/2-gram weights) over a
    deterministic candidate/reference pairing (each doc scored against
    the next doc id) — the generation-eval metric a distillation or
    rephrase pipeline runs against references; here the random pairing
    doubles as the metric's floor calibration. The n-gram-overlap
    companion to eval_rank_biased_overlap (rankings) and the kappa
    entries (labels).

    Exactness: every clipped count is sum(least(kc, kr)) of exact
    per-pair BIGINT n-gram counts; p1/p2 are exact integer ratios; the
    brevity penalty and geometric mean compose from identical doubles.
    Zero matches in either order pins BLEU to exactly 0.0 on both
    engines.

    Scale shape: pair-LOCAL clip counting (the ROUGE-L discipline, r13):
    one tokenize pass, then the ``_pair_roles`` two-role union — each
    token array ships at most twice through ONE groupBy(pid) exchange —
    and the per-pair clipped 1/2-gram matches come from two multiset
    Counters intersected inside a batch-vectorized scalar pandas_udf
    (exact integers; bigrams derived in-batch with the same
    space-joined spelling concat_ws produced). The old gram staging
    exploded every token and bigram into a (doc, n, gram) groupBy
    exchange plus a (pid, n, gram) sort-merge join — more shuffled
    bytes than the two-role union, and 20 Exchanges against 5 after.
    One 1-row combine at the end."""
    from collections import Counter

    from .datapipe.util import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id", tx.tokens("text").alias("t1")
    ).localCheckpoint(eager=True)

    def bleu_clips(c: list, r: list) -> list:
        # Sigma_g min(count_c[g], count_r[g]) for 1- and 2-grams — the
        # same exact integers the (pid, n, gram) join summed with
        # least(kc, kr); bigram spelling matches concat_ws(" ", a, b).
        c1, r1 = Counter(c), Counter(r)
        m1 = sum(min(k, r1[g]) for g, k in c1.items() if g in r1)
        c2 = Counter(f"{a} {b}" for a, b in zip(c, c[1:]))
        r2 = Counter(f"{a} {b}" for a, b in zip(r, r[1:]))
        m2 = sum(min(k, r2[g]) for g, k in c2.items() if g in r2)
        return [m1, m2]

    def _clips_batch(cs: pd.Series, rs: pd.Series) -> pd.Series:
        return pd.Series([bleu_clips(list(a), list(b)) for a, b in zip(cs, rs)])

    clips_udf = F.pandas_udf(_clips_batch, "array<long>")
    pair_clips = _pair_roles(
        d.select("doc_id", F.col("t1").alias("t"))
    ).select(clips_udf("c", "r").alias("m"))
    clip_w = pair_clips.agg(
        F.sum(F.element_at("m", 1)).cast("bigint").alias("1"),
        F.sum(F.element_at("m", 2)).cast("bigint").alias("2"),
    )
    # l2 = bigram count = max(|t1| - 1, 0): identical to the old
    # materialized-t2 size (empty array below 2 tokens).
    lens = d.select(
        "doc_id",
        F.size("t1").alias("l1"),
        F.greatest(F.size("t1") - 1, F.lit(0)).alias("l2"),
    )
    pairs = lens.alias("c").join(
        lens.alias("r"), F.col("c.doc_id") + 1 == F.col("r.doc_id")
    )
    tot = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("c.l1").cast("bigint").alias("cand1"),
        F.sum("c.l2").cast("bigint").alias("cand2"),
        F.sum("r.l1").cast("bigint").alias("ref_len"),
    )
    p = tot.crossJoin(F.broadcast(clip_w)).select(
        "n_pairs",
        F.col("cand1").alias("cand_len"),
        "ref_len",
        F.when(F.col("cand1") == 0, F.lit(0.0))
        .otherwise(F.coalesce(F.col("1"), F.lit(0)).cast("double") / F.col("cand1"))
        .alias("p1"),
        # a corpus of single-token docs has NO candidate bigrams at all:
        # p2 pins to 0 (BLEU-2 undefined -> 0) instead of an ANSI /0
        F.when(F.col("cand2") == 0, F.lit(0.0))
        .otherwise(F.coalesce(F.col("2"), F.lit(0)).cast("double") / F.col("cand2"))
        .alias("p2"),
    )
    bp = F.when(F.col("cand_len") > F.col("ref_len"), F.lit(1.0)).otherwise(
        F.exp(1.0 - F.col("ref_len").cast("double") / F.col("cand_len"))
    )
    return p.select(
        "n_pairs",
        "cand_len",
        "ref_len",
        F.round("p1", 9).alias("p1"),
        F.round("p2", 9).alias("p2"),
        F.when(
            (F.col("p1") > 0) & (F.col("p2") > 0),
            F.round(bp * F.exp(0.5 * (F.log("p1") + F.log("p2"))), 9),
        )
        .otherwise(F.lit(0.0))
        .alias("bleu2"),
    )


# --------------------------------------------------------------------------
# chrF (character n-gram F-score) — round 11
# --------------------------------------------------------------------------

def _sql_chrf() -> str:
    return r"""
WITH d AS (
  SELECT doc_id, regexp_replace(text, '\s+', '', 'g') AS cs FROM documents
),
gu AS (
  SELECT doc_id, nn.n AS n,
         unnest(list_transform(
           range(1, greatest(length(cs) - nn.n + 2, 1)),
           i -> substr(cs, i, nn.n))) AS g
  FROM d CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) nn
),
gc AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS k FROM gu GROUP BY 1, 2, 3),
cc AS (
  SELECT doc_id AS pid, n, g, k AS kc FROM gc
  WHERE doc_id + 1 IN (SELECT doc_id FROM d)
),
rc AS (SELECT doc_id - 1 AS pid, n, g, k AS kr FROM gc),
clip AS (
  SELECT cc.n, CAST(sum(least(kc, kr)) AS BIGINT) AS m
  FROM cc JOIN rc ON cc.pid = rc.pid AND cc.n = rc.n AND cc.g = rc.g
  GROUP BY cc.n
),
lens AS (
  SELECT c.doc_id AS pid, length(c.cs) AS lc, length(r.cs) AS lr
  FROM d c JOIN d r ON r.doc_id = c.doc_id + 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(greatest(lc - 0, 0)) AS BIGINT) AS tc1,
         CAST(sum(greatest(lc - 1, 0)) AS BIGINT) AS tc2,
         CAST(sum(greatest(lc - 2, 0)) AS BIGINT) AS tc3,
         CAST(sum(greatest(lr - 0, 0)) AS BIGINT) AS tr1,
         CAST(sum(greatest(lr - 1, 0)) AS BIGINT) AS tr2,
         CAST(sum(greatest(lr - 2, 0)) AS BIGINT) AS tr3
  FROM lens
),
f AS (
  SELECT n_pairs,
         CASE WHEN tc1 = 0 THEN 0.0 ELSE CAST(coalesce((SELECT m FROM clip WHERE n = 1), 0) AS DOUBLE) / tc1 END AS p1,
         CASE WHEN tc2 = 0 THEN 0.0 ELSE CAST(coalesce((SELECT m FROM clip WHERE n = 2), 0) AS DOUBLE) / tc2 END AS p2,
         CASE WHEN tc3 = 0 THEN 0.0 ELSE CAST(coalesce((SELECT m FROM clip WHERE n = 3), 0) AS DOUBLE) / tc3 END AS p3,
         CASE WHEN tr1 = 0 THEN 0.0 ELSE CAST(coalesce((SELECT m FROM clip WHERE n = 1), 0) AS DOUBLE) / tr1 END AS r1,
         CASE WHEN tr2 = 0 THEN 0.0 ELSE CAST(coalesce((SELECT m FROM clip WHERE n = 2), 0) AS DOUBLE) / tr2 END AS r2,
         CASE WHEN tr3 = 0 THEN 0.0 ELSE CAST(coalesce((SELECT m FROM clip WHERE n = 3), 0) AS DOUBLE) / tr3 END AS r3
  FROM tot
),
ff AS (
  SELECT n_pairs,
         CASE WHEN p1 + r1 = 0 THEN 0.0 ELSE 5.0 * p1 * r1 / (4.0 * p1 + r1) END AS f1,
         CASE WHEN p2 + r2 = 0 THEN 0.0 ELSE 5.0 * p2 * r2 / (4.0 * p2 + r2) END AS f2,
         CASE WHEN p3 + r3 = 0 THEN 0.0 ELSE 5.0 * p3 * r3 / (4.0 * p3 + r3) END AS f3
  FROM f
)
SELECT n_pairs,
       round(f1, 9) AS f1, round(f2, 9) AS f2, round(f3, 9) AS f3,
       round((f1 + f2 + f3) / 3.0, 9) AS chrf
FROM ff
"""


@register(
    "eval_chrf_adjacent_pairs",
    oracle=_sql_chrf(),
    tags=("eval", "chrf", "ngram", "generation"),
)
def eval_chrf_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level chrF with beta=2 (Popovic 2015: character n-gram
    precision AND recall, F-beta-combined, here n = 1..3 uniform) over
    the same deterministic candidate/reference pairing as
    eval_bleu_adjacent_pairs — the tokenizer-free generation metric
    (robust to morphology/segmentation where word-BLEU is brittle).
    Whitespace is stripped before gram extraction (the chrF standard).

    Exactness: clipped matches are sums of exact per-pair BIGINT char-
    gram counts; corpus precision/recall are exact integer ratios; every
    F-score composes from identical doubles in the same operation
    order, so the SQL replay is bit-exact (modulo the shared IEEE ops).

    Scale shape: pair-LOCAL clip counting (the ROUGE-L discipline, r13):
    pair formation is the ``_pair_roles`` two-role union — each
    stripped string ships at most twice through ONE groupBy(pid)
    exchange — and the per-pair clipped matches for n = 1..3 come from
    two multiset Counters intersected inside a batch-vectorized scalar
    pandas_udf (exact integers, one Arrow batch per invocation). Staging
    grams instead would explode ~3x the corpus characters into a (doc,
    n, gram) groupBy exchange plus a (pid, n, gram) sort-merge join —
    strictly more shuffled bytes than the two-role string union. Totals
    still come from per-doc LENGTHS (no second gram pass).

    The clip counts are a numpy kernel inside the Arrow batch, not a
    per-pair Python Counter loop. A string is its codepoint sequence
    (utf-32-le buffer — exact, surrogate-free by construction), an
    n-gram is the base-2^21 composition of its n codepoints
    (codepoints < 0x110000 < 2^21, so 3 grams fit int64 with no
    collisions), and the clipped match count is sum(min(counts)) over
    np.intersect1d of the two unique-gram sets — the identical exact
    integers, fuzz-pinned against the Counter form
    (test_r14_optimization), at vectorized speed (measured 5.6x on
    2000-char synthetic docs)."""
    import numpy as np

    from .datapipe.util import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"))
    d = (
        docs.select(
            "doc_id", F.regexp_replace(F.col("text"), r"\s+", "").alias("cs")
        )
        .localCheckpoint(eager=True)
    )

    def _gram_clip(gc: "np.ndarray", gr: "np.ndarray") -> int:
        # Sigma_g min(count_c[g], count_r[g]) — the same exact integers
        # the (pid, n, gram) join summed with least(kc, kr).
        if len(gc) == 0 or len(gr) == 0:
            return 0
        uc, cc = np.unique(gc, return_counts=True)
        ur, cr = np.unique(gr, return_counts=True)
        _, ic, ir = np.intersect1d(uc, ur, assume_unique=True, return_indices=True)
        return int(np.minimum(cc[ic], cr[ir]).sum())

    def _grams(a: "np.ndarray", n: int) -> "np.ndarray":
        if len(a) < n:
            return a[:0]
        g = a[: len(a) - n + 1].copy()
        for k in range(1, n):
            g = g * np.int64(1 << 21) + a[k : len(a) - n + 1 + k]
        return g

    def chrf_clips(c: str, r: str) -> list:
        ca = np.frombuffer(c.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        ra = np.frombuffer(r.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        return [_gram_clip(_grams(ca, n), _grams(ra, n)) for n in (1, 2, 3)]

    def _clips_batch(cs: pd.Series, rs: pd.Series) -> pd.Series:
        return pd.Series([chrf_clips(a, b) for a, b in zip(cs, rs)])

    clips_udf = F.pandas_udf(_clips_batch, "array<long>")
    pair_clips = _pair_roles(
        d.select("doc_id", F.col("cs").alias("t"))
    ).select(clips_udf("c", "r").alias("m"))
    clip_w = pair_clips.agg(
        *[
            F.sum(F.element_at("m", n)).cast("bigint").alias(str(n))
            for n in (1, 2, 3)
        ]
    )
    lens = d.select("doc_id", F.length("cs").alias("L"))
    pairs = lens.alias("c").join(
        lens.alias("r"), F.col("c.doc_id") + 1 == F.col("r.doc_id")
    )
    def _tot(side: str, minus: int, name: str):
        return F.sum(
            F.greatest(F.col(f"{side}.L") - F.lit(minus), F.lit(0))
        ).cast("bigint").alias(name)

    tot = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        _tot("c", 0, "tc1"), _tot("c", 1, "tc2"), _tot("c", 2, "tc3"),
        _tot("r", 0, "tr1"), _tot("r", 1, "tr2"), _tot("r", 2, "tr3"),
    )
    j = tot.crossJoin(F.broadcast(clip_w))

    def _ratio(mcol: str, tcol: str):
        return F.when(F.col(tcol) == 0, F.lit(0.0)).otherwise(
            F.coalesce(F.col(mcol), F.lit(0)).cast("double") / F.col(tcol)
        )

    def _fbeta(p, r):
        return F.when(p + r == 0, F.lit(0.0)).otherwise(
            F.lit(5.0) * p * r / (F.lit(4.0) * p + r)
        )

    f1 = _fbeta(_ratio("1", "tc1"), _ratio("1", "tr1"))
    f2 = _fbeta(_ratio("2", "tc2"), _ratio("2", "tr2"))
    f3 = _fbeta(_ratio("3", "tc3"), _ratio("3", "tr3"))
    return j.select(
        "n_pairs",
        F.round(f1, 9).alias("f1"),
        F.round(f2, 9).alias("f2"),
        F.round(f3, 9).alias("f3"),
        F.round((f1 + f2 + f3) / 3.0, 9).alias("chrf"),
    )


# --------------------------------------------------------------------------
# Krippendorff's alpha (nominal, multi-rater, missing data) — round 11
# --------------------------------------------------------------------------

def _sql_kripp() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH rated AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r1,
         CASE WHEN (CASE WHEN len({toks}) = 0 THEN 0.0
                         ELSE round(len(list_filter({toks}, t -> t IN {_KAPPA_STOPWORDS}))
                                    / CAST(len({toks}) AS DOUBLE), 9)
                    END) >= {_KAPPA_THRESHOLD}
              THEN 1 ELSE 0 END AS r2,
         CASE WHEN doc_id % 5 = 0 THEN NULL
              WHEN length(text) >= 200 THEN 1 ELSE 0 END AS r3
  FROM documents
),
ratings AS (
  SELECT doc_id, unnest([r1, r2, r3]) AS v FROM rated
),
units AS (
  SELECT doc_id,
         CAST(count(v) AS BIGINT) AS m,
         CAST(count(*) FILTER (WHERE v = 0) AS BIGINT) AS n0,
         CAST(count(*) FILTER (WHERE v = 1) AS BIGINT) AS n1
  FROM ratings GROUP BY doc_id HAVING count(v) >= 2
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_units,
         CAST(sum(m) AS BIGINT) AS n,
         CAST(sum(n0) AS BIGINT) AS t0,
         CAST(sum(n1) AS BIGINT) AS t1,
         sum(2.0 * n0 * n1 / (m - 1)) AS do_num
  FROM units
)
SELECT n_units, n, t0, t1,
       round(do_num / n, 9) AS d_obs,
       round(2.0 * t0 * t1 / (CAST(n AS DOUBLE) * (n - 1)), 9) AS d_exp,
       CASE WHEN t0 = 0 OR t1 = 0 THEN 1.0
            ELSE round(1.0 - (do_num / n)
                       / (2.0 * t0 * t1 / (CAST(n AS DOUBLE) * (n - 1))), 9)
       END AS alpha
FROM agg
"""


@register(
    "eval_krippendorff_alpha",
    oracle=_sql_kripp(),
    tags=("eval", "stats", "agreement", "missing-data"),
)
def eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal scale) — the agreement coefficient
    that generalizes the kappa family to ANY number of raters WITH
    missing ratings (Krippendorff 2004): alpha = 1 - D_obs/D_exp over
    three deterministic binary raters (the lang label, the kappa entry's
    thresholded stopword-ratio classifier, and a length>=200 heuristic
    that ABSTAINS on every doc_id % 5 == 0 — real missingness, the case
    Cohen's kappa cannot handle). Units with fewer than two ratings drop
    out, per the definition. The stopword-ratio rater guards zero-token
    documents to ratio 0 on BOTH engines (unguarded, Spark's ANSI mode
    throws DIVIDE_BY_ZERO while the oracle's CASE silently maps such
    docs to r2=0 — a latent differential divergence).

    Exactness: every per-unit disagreement term 2*n0*n1/(m-1) has m-1 in
    {1, 2}, so each is an exactly-representable dyadic rational and the
    sum is order-independent; totals are BIGINTs and both engines
    compose the same doubles in the same order. Degenerate all-one-value
    corpora pin alpha to exactly 1.0 on both engines (D_exp = 0 guard).

    Scale shape: one scan -> per-doc rating triple (pure row-local
    expressions) -> explode of a 3-element array (bounded fan-out, not
    data-dependent) -> map-side-combined per-doc counts -> one 5-cell
    combine. No joins, no windows; at 100 TB this is scan-bound."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", F.length("text").alias("tlen"), tx.tokens("text").alias("toks")
    )
    stop = F.filter(F.col("toks"), lambda t: t.isin("the", "a", "of", "and", "is"))
    rated = base.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("r1"),
        (
            F.when(F.size("toks") == 0, F.lit(0.0)).otherwise(
                F.round(F.size(stop) / F.size("toks").cast("double"), 9)
            )
            >= _KAPPA_THRESHOLD
        ).cast("int").alias("r2"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("int"))
        .otherwise((F.col("tlen") >= 200).cast("int"))
        .alias("r3"),
    )
    ratings = rated.select(
        "doc_id", F.explode(F.array("r1", "r2", "r3")).alias("v")
    )
    units = (
        ratings.groupBy("doc_id")
        .agg(
            F.count("v").cast("bigint").alias("m"),
            F.count(F.when(F.col("v") == 0, 1)).cast("bigint").alias("n0"),
            F.count(F.when(F.col("v") == 1, 1)).cast("bigint").alias("n1"),
        )
        .filter(F.col("m") >= 2)
    )
    agg = units.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum("n0").cast("bigint").alias("t0"),
        F.sum("n1").cast("bigint").alias("t1"),
        F.sum(
            F.lit(2.0) * F.col("n0") * F.col("n1") / (F.col("m") - 1)
        ).alias("do_num"),
    )
    nd = F.col("n").cast("double")
    d_obs = F.col("do_num") / F.col("n")
    d_exp = F.lit(2.0) * F.col("t0") * F.col("t1") / (nd * (F.col("n") - 1))
    return agg.select(
        "n_units",
        "n",
        "t0",
        "t1",
        F.round(d_obs, 9).alias("d_obs"),
        F.round(d_exp, 9).alias("d_exp"),
        F.when((F.col("t0") == 0) | (F.col("t1") == 0), F.lit(1.0))
        .otherwise(F.round(F.lit(1.0) - d_obs / d_exp, 9))
        .alias("alpha"),
    )


# --------------------------------------------------------------------------
# Token-level F1 (SQuAD-style) over adjacent pairs — round 11
# --------------------------------------------------------------------------

def _sql_token_f1() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH d AS (SELECT doc_id, {toks} AS t FROM documents),
gu AS (SELECT doc_id, unnest(t) AS g FROM d),
gc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS k FROM gu GROUP BY 1, 2),
cc AS (
  SELECT doc_id AS pid, g, k AS kc FROM gc
  WHERE doc_id + 1 IN (SELECT doc_id FROM d)
),
rc AS (SELECT doc_id - 1 AS pid, g, k AS kr FROM gc),
clip AS (
  SELECT cc.pid, CAST(sum(least(kc, kr)) AS BIGINT) AS m
  FROM cc JOIN rc ON cc.pid = rc.pid AND cc.g = rc.g
  GROUP BY cc.pid
),
pairs AS (
  SELECT c.doc_id AS pid, len(c.t) AS lc, len(r.t) AS lr,
         coalesce(clip.m, 0) AS m
  FROM d c JOIN d r ON r.doc_id = c.doc_id + 1
  LEFT JOIN clip ON clip.pid = c.doc_id
),
scored AS (
  SELECT pid,
         CASE WHEN lc = 0 THEN 0.0 ELSE CAST(m AS DOUBLE) / lc END AS p,
         CASE WHEN lr = 0 THEN 0.0 ELSE CAST(m AS DOUBLE) / lr END AS r
  FROM pairs
),
f AS (
  SELECT pid, p, r,
         CASE WHEN p + r = 0 THEN 0.0 ELSE 2.0 * p * r / (p + r) END AS f1
  FROM scored
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round({SQL_DAVG.format(x='p')}, 9) AS mean_precision,
       round({SQL_DAVG.format(x='r')}, 9) AS mean_recall,
       round({SQL_DAVG.format(x='f1')}, 9) AS mean_f1
FROM f
"""


@register(
    "eval_token_f1_adjacent_pairs",
    oracle=_sql_token_f1(),
    tags=("eval", "f1", "token", "generation"),
)
def eval_token_f1_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQuAD-style token F1 (Rajpurkar et al. 2016: per-pair multiset
    token overlap -> precision/recall -> harmonic mean, MACRO-averaged
    over pairs) over the same deterministic candidate/reference pairing
    as the BLEU and chrF entries — the third member of the generation-
    eval family (BLEU: order-sensitive n-gram precision; chrF:
    character-level F; token F1: the extractive-QA standard where each
    pair's score counts equally regardless of length).

    Exactness: per-pair overlap m is an exact BIGINT clip sum; p/r/f1
    compose from identical doubles per pair; the MACRO mean goes through
    davg's micro-unit quantization so the cross-pair sum is order-free
    on both engines. Zero-token sides pin p/r to 0; p+r=0 pins f1 to 0.

    Scale shape: the BLEU staging once more — token counts computed ONCE
    PER DOC (map-side-combined (doc, token) agg) and reused for both
    pair roles via (pid, token) equi-joins; the per-pair clip groups on
    pid; lengths come via the skinny lens self-join; one 1-row combine.
    Token arrays never ship through the pair join."""
    from .datapipe.util import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"))
    d = docs.select("doc_id", tx.tokens("text").alias("t")).localCheckpoint(eager=True)
    gc = (
        d.select("doc_id", F.explode("t").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    ids = d.select(F.col("doc_id").alias("succ_id"))
    cc = gc.join(ids, gc.doc_id + 1 == ids.succ_id, "left_semi").select(
        F.col("doc_id").alias("pid"), "g", F.col("k").alias("kc")
    )
    rc = gc.select((F.col("doc_id") - 1).alias("pid"), "g", F.col("k").alias("kr"))
    clip = (
        cc.join(rc, ["pid", "g"])
        .groupBy("pid")
        .agg(F.sum(F.least("kc", "kr")).cast("bigint").alias("m"))
    )
    lens = d.select("doc_id", F.size("t").alias("L"))
    pairs = (
        lens.alias("c")
        .join(lens.alias("r"), F.col("c.doc_id") + 1 == F.col("r.doc_id"))
        .select(
            F.col("c.doc_id").alias("pid"),
            F.col("c.L").alias("lc"),
            F.col("r.L").alias("lr"),
        )
        .join(clip, "pid", "left")
        .withColumn("m", F.coalesce(F.col("m"), F.lit(0)))
    )
    p = F.when(F.col("lc") == 0, F.lit(0.0)).otherwise(
        F.col("m").cast("double") / F.col("lc")
    )
    r = F.when(F.col("lr") == 0, F.lit(0.0)).otherwise(
        F.col("m").cast("double") / F.col("lr")
    )
    scored = pairs.select(p.alias("p"), r.alias("r"))
    f1 = F.when(F.col("p") + F.col("r") == 0, F.lit(0.0)).otherwise(
        F.lit(2.0) * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))
    )
    f = scored.select("p", "r", f1.alias("f1"))
    return f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(davg("p"), 9).alias("mean_precision"),
        F.round(davg("r"), 9).alias("mean_recall"),
        F.round(davg("f1"), 9).alias("mean_f1"),
    )


# --------------------------------------------------------------------------
# ROUGE-L (LCS F1) over adjacent pairs — round 12
# --------------------------------------------------------------------------

def _sql_rouge_l() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH RECURSIVE docs AS (
  SELECT doc_id, {toks} AS t FROM documents
),
pairs AS (
  SELECT c.doc_id AS pid, c.t AS c, r.t AS r, len(c.t) AS lc, len(r.t) AS lr
  FROM docs c JOIN docs r ON r.doc_id = c.doc_id + 1
),
dp AS (
  -- Anti-diagonal wavefront LCS: diagonal d of the DP grid depends only on
  -- diagonals d-1 (up / left) and d-2 (diag), so every cell of a diagonal is
  -- independently computable — list_transform needs no sequential inner scan.
  -- Diagonal d is a list of lc+1 cells; position i+1 holds DP[i][d-i]
  -- (LCS of the first i candidate vs first d-i reference tokens), -1 when
  -- d-i is out of [0, lr] (never read by valid cells).
  SELECT pid, c, r, lc, lr, CAST(1 AS BIGINT) AS dg,
         list_transform(range(0, lc + 1),
           i -> CASE WHEN i = 0 THEN (CASE WHEN lr >= 1 THEN 0 ELSE -1 END)
                     WHEN i = 1 THEN 0 ELSE -1 END) AS prev,
         list_transform(range(0, lc + 1),
           i -> CASE WHEN i = 0 THEN 0 ELSE -1 END) AS prevprev
  FROM pairs WHERE lc >= 1 AND lr >= 1
  UNION ALL
  SELECT pid, c, r, lc, lr, dg + 1,
         list_transform(range(0, lc + 1), i ->
           CASE WHEN dg + 1 - i < 0 OR dg + 1 - i > lr THEN -1
                WHEN i = 0 OR dg + 1 - i = 0 THEN 0
                ELSE greatest(prev[i + 1], prev[i],
                              prevprev[i]
                              + (CASE WHEN c[i] = r[dg + 1 - i] THEN 1 ELSE 0 END))
           END),
         prev
  FROM dp WHERE dg < lc + lr
),
lcs AS (
  SELECT pid, lc, lr, prev[lc + 1] AS l FROM dp WHERE dg = lc + lr
  UNION ALL
  SELECT pid, lc, lr, 0 AS l FROM pairs WHERE lc = 0 OR lr = 0
),
scored AS (
  SELECT l,
         CASE WHEN lc = 0 THEN 0.0 ELSE CAST(l AS DOUBLE) / lc END AS p,
         CASE WHEN lr = 0 THEN 0.0 ELSE CAST(l AS DOUBLE) / lr END AS r
  FROM lcs
),
f AS (
  SELECT l, p, r,
         CASE WHEN p + r = 0 THEN 0.0 ELSE 2.0 * p * r / (p + r) END AS f1
  FROM scored
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(l) AS BIGINT) AS lcs_total,
       round({SQL_DAVG.format(x='p')}, 9) AS mean_precision,
       round({SQL_DAVG.format(x='r')}, 9) AS mean_recall,
       round({SQL_DAVG.format(x='f1')}, 9) AS mean_f1
FROM f
"""


def lcs_length(cand: list, ref: list) -> int:
    """Exact LCS length via the numpy row DP. Uses the max-of-three LCS
    recurrence DP[i][j] = max(DP[i-1][j-1]+m, DP[i-1][j], DP[i][j-1]);
    with tmp[j] = max(old[j], old[j-1]+m) the row update reduces to a
    prefix max (DP rows are monotone), so the inner loop is a single
    ``np.maximum.accumulate`` — no per-cell Python."""
    import numpy as np
    import pandas as pd

    lc, lr = len(cand), len(ref)
    if lc == 0 or lr == 0:
        return 0
    codes, _ = pd.factorize(np.concatenate([np.asarray(cand, dtype=object),
                                            np.asarray(ref, dtype=object)]))
    c_ids, r_ids = codes[:lc], codes[lc:]
    old = np.zeros(lr + 1, dtype=np.int64)
    for cid in c_ids:
        tmp = np.maximum(old[1:], old[:-1] + (r_ids == cid))
        old[1:] = np.maximum.accumulate(tmp)
    return int(old[-1])


def _pair_roles(d: DataFrame) -> DataFrame:
    """Adjacent-pair formation for the sequence-DP metrics: a two-role
    union (each doc ships at most twice — once as candidate pid, once as
    reference pid-1) into ONE groupBy(pid) exchange; the conditional max
    picks each role's single array (Spark arrays are orderable), edge
    pids missing a role drop out. Returns (pid, c, r)."""
    cand = d.select(F.col("doc_id").alias("pid"), F.lit(0).alias("role"), "t")
    ref = d.select((F.col("doc_id") - 1).alias("pid"), F.lit(1).alias("role"), "t")
    return (
        cand.unionByName(ref)
        .groupBy("pid")
        .agg(
            F.max(F.when(F.col("role") == 0, F.col("t"))).alias("c"),
            F.max(F.when(F.col("role") == 1, F.col("t"))).alias("r"),
        )
        .where(F.col("c").isNotNull() & F.col("r").isNotNull())
    )


def _batch_dp_udf(dp):
    """Batch-vectorized scalar pandas_udf wrapping a per-pair integer DP:
    one Arrow batch per invocation — NOT per-pair applyInPandas, which
    was measured spending ~3x the time building one pandas frame per
    2-row group. Created lazily (pandas_udf parses its return
    type against the active session, so module import must not build
    it)."""
    def run(c: pd.Series, r: pd.Series) -> pd.Series:
        return pd.Series(
            [dp(list(a), list(b)) for a, b in zip(c, r)], dtype="int64"
        )

    return F.pandas_udf(run, "long")


@register(
    "eval_rouge_l_adjacent_pairs",
    oracle=_sql_rouge_l(),
    tags=("eval", "rouge", "lcs", "generation"),
)
def eval_rouge_l_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (Lin 2004): LCS-based precision/recall/F1 per pair,
    MACRO-averaged — the fourth generation-eval metric next to BLEU-2
    (order-sensitive n-gram precision), chrF-2 (character F), and token
    F1 (order-free multiset overlap). LCS rewards in-order coverage
    without requiring contiguity, the property the other three miss.
    Whole-doc sentence-level variant, beta=1 (harmonic mean).

    Exactness: the LCS length is an exact integer DP on both engines —
    Spark runs the numpy prefix-max row DP (``lcs_length``), the oracle
    replays the SAME grid as an anti-diagonal wavefront recursive CTE
    (diagonal d depends only on d-1/d-2, so each cell is independent and
    list_transform needs no sequential scan). p/r/f1 then compose from
    identical doubles per pair and the macro mean goes through davg's
    micro-unit quantization. Zero-token sides pin p/r (and f1) to 0.

    Scale shape: UNLIKE the BLEU/chrF/F1 staging, LCS is order-sensitive
    — the two token SEQUENCES must be co-located, so per-doc gram-count
    staging cannot apply. Pair formation is ``_pair_roles``: a two-role
    union (each doc ships at most twice) into ONE groupBy(pid) shuffle
    whose conditional-max agg is a plain JVM hash aggregate; the
    O(lc*lr) DP then runs in a batch-vectorized scalar pandas_udf (one
    Arrow batch per invocation — NOT per-group applyInPandas, which was
    measured spending 3x the time building a pandas frame per 2-row
    group). No skew is possible by construction; at 100 TB the
    cost is one linear shuffle of the token arrays plus CPU bounded by
    doc-length^2, the inherent cost of sequence-level DP."""
    from .datapipe.util import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"))
    d = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    tx.tokens("text").alias("t"))
    pairs = _pair_roles(d).select(
        _batch_dp_udf(lcs_length)("c", "r").alias("l"),
        F.size("c").alias("lc"),
        F.size("r").alias("lr"),
    )
    p = F.when(F.col("lc") == 0, F.lit(0.0)).otherwise(
        F.col("l").cast("double") / F.col("lc")
    )
    r = F.when(F.col("lr") == 0, F.lit(0.0)).otherwise(
        F.col("l").cast("double") / F.col("lr")
    )
    scored = pairs.select("l", p.alias("p"), r.alias("r"))
    f1 = F.when(F.col("p") + F.col("r") == 0, F.lit(0.0)).otherwise(
        F.lit(2.0) * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))
    )
    f = scored.select("l", "p", "r", f1.alias("f1"))
    return f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("l").cast("bigint").alias("lcs_total"),
        F.round(davg("p"), 9).alias("mean_precision"),
        F.round(davg("r"), 9).alias("mean_recall"),
        F.round(davg("f1"), 9).alias("mean_f1"),
    )


# --------------------------------------------------------------------------
# Word error rate (Levenshtein) over adjacent pairs — round 12
# --------------------------------------------------------------------------

_WER_SENT = 1 << 30  # out-of-range sentinel for the min-based wavefront


def _sql_wer() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH RECURSIVE docs AS (
  SELECT doc_id, {toks} AS t FROM documents
),
pairs AS (
  SELECT c.doc_id AS pid, c.t AS c, r.t AS r, len(c.t) AS lc, len(r.t) AS lr
  FROM docs c JOIN docs r ON r.doc_id = c.doc_id + 1
),
dp AS (
  -- The ROUGE-L wavefront (see _sql_rouge_l) with least() in place of
  -- greatest(): edit distance has the same (i-1,j)/(i,j-1)/(i-1,j-1)
  -- dependency cone, so diagonal d again needs only diagonals d-1/d-2.
  -- Boundaries are D[i][0] = i / D[0][j] = j; out-of-range cells carry
  -- a large sentinel (never read by valid cells).
  SELECT pid, c, r, lc, lr, CAST(1 AS BIGINT) AS dg,
         list_transform(range(0, lc + 1),
           i -> CASE WHEN i = 0 THEN (CASE WHEN lr >= 1 THEN 1 ELSE {_WER_SENT} END)
                     WHEN i = 1 THEN 1 ELSE {_WER_SENT} END) AS prev,
         list_transform(range(0, lc + 1),
           i -> CASE WHEN i = 0 THEN 0 ELSE {_WER_SENT} END) AS prevprev
  FROM pairs WHERE lc >= 1 AND lr >= 1
  UNION ALL
  SELECT pid, c, r, lc, lr, dg + 1,
         list_transform(range(0, lc + 1), i ->
           CASE WHEN dg + 1 - i < 0 OR dg + 1 - i > lr THEN {_WER_SENT}
                WHEN i = 0 THEN dg + 1
                WHEN dg + 1 - i = 0 THEN i
                ELSE least(prev[i + 1] + 1, prev[i] + 1,
                           prevprev[i]
                           + (CASE WHEN c[i] = r[dg + 1 - i] THEN 0 ELSE 1 END))
           END),
         prev
  FROM dp WHERE dg < lc + lr
),
dist AS (
  SELECT pid, lr, prev[lc + 1] AS d FROM dp WHERE dg = lc + lr
  UNION ALL
  SELECT pid, lr, greatest(lc, lr) AS d FROM pairs WHERE lc = 0 OR lr = 0
),
scored AS (
  SELECT d, lr,
         CASE WHEN lr = 0 THEN NULL
              ELSE CAST(d AS DOUBLE) / lr END AS wer
  FROM dist
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) FILTER (WHERE lr = 0) AS BIGINT) AS n_undefined,
       CAST(sum(d) FILTER (WHERE lr > 0) AS BIGINT) AS edits_total,
       CAST(sum(lr) AS BIGINT) AS ref_tokens_total,
       CASE WHEN sum(lr) = 0 THEN NULL
            ELSE round(CAST(sum(d) FILTER (WHERE lr > 0) AS DOUBLE) / sum(lr), 9)
       END AS micro_wer,
       round({SQL_DAVG.format(x='wer')}, 9) AS mean_wer
FROM scored
"""


def edit_distance(cand: list, ref: list) -> int:
    """Exact token-level Levenshtein distance via the numpy row DP. The
    insertion term D[i][j-1]+1 is a prefix dependency; unrolling it gives
    D[i][j] = j + min_{{k<=j}}(tmp[k] - k) with tmp[0] = i and
    tmp[j] = min(sub, del), so the inner loop is a single
    ``np.minimum.accumulate`` over (tmp - index) — no per-cell Python."""
    import numpy as np
    import pandas as pd

    lc, lr = len(cand), len(ref)
    if lc == 0 or lr == 0:
        return max(lc, lr)
    codes, _ = pd.factorize(np.concatenate([np.asarray(cand, dtype=object),
                                            np.asarray(ref, dtype=object)]))
    c_ids, r_ids = codes[:lc], codes[lc:]
    idx = np.arange(lr + 1, dtype=np.int64)
    old = idx.copy()
    tmp = np.empty(lr + 1, dtype=np.int64)
    for i, cid in enumerate(c_ids, 1):
        tmp[0] = i
        np.minimum(old[:-1] + (r_ids != cid), old[1:] + 1, out=tmp[1:])
        old = idx + np.minimum.accumulate(tmp - idx)
    return int(old[-1])





@register(
    "eval_wer_adjacent_pairs",
    oracle=_sql_wer(),
    tags=("eval", "wer", "levenshtein", "generation"),
)
def eval_wer_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word error rate — token-level Levenshtein distance / reference
    length, the ASR/translation error standard — over the same adjacent
    candidate/reference pairing as BLEU/chrF/token-F1/ROUGE-L. Reports
    both the MICRO rate (total edits / total reference tokens, the
    corpus WER convention) and the MACRO mean of per-pair rates;
    zero-reference pairs are undefined (counted in n_undefined, NULL in
    both rates' inputs — davg excludes them identically on both
    engines).

    Exactness: the distance is an exact integer DP on both engines —
    Spark runs the numpy minimum.accumulate row DP (``edit_distance``),
    the oracle replays the SAME grid as the ROUGE-L anti-diagonal
    wavefront CTE with least() in place of greatest() (identical
    dependency cone, D[i][0]=i / D[0][j]=j boundaries, large sentinel
    for out-of-range). Empty-side pairs pin to max(lc, lr) exactly.

    Scale shape: identical to ROUGE-L — sequences must be co-located
    (edit distance is order-sensitive), so ``_pair_roles`` ships each
    doc at most twice into ONE groupBy(pid) JVM hash aggregate; the
    O(lc*lr) DP runs in the batch-vectorized scalar pandas_udf (one
    Arrow batch per invocation), CPU bounded by doc-length^2."""
    from .datapipe.util import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"))
    d = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    tx.tokens("text").alias("t"))
    pairs = _pair_roles(d).select(
        _batch_dp_udf(edit_distance)("c", "r").alias("d"),
        F.size("r").alias("lr"),
    )
    wer = F.when(F.col("lr") == 0, F.lit(None).cast("double")).otherwise(
        F.col("d").cast("double") / F.col("lr")
    )
    scored = pairs.select("d", "lr", wer.alias("wer"))
    edits = F.sum(F.when(F.col("lr") > 0, F.col("d"))).cast("bigint")
    ref_total = F.sum("lr").cast("bigint")
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count(F.when(F.col("lr") == 0, 1)).cast("bigint").alias("n_undefined"),
        edits.alias("edits_total"),
        ref_total.alias("ref_tokens_total"),
        F.when(F.sum("lr") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.sum(F.when(F.col("lr") > 0, F.col("d"))).cast("double")
                / F.sum("lr"),
                9,
            )
        )
        .alias("micro_wer"),
        F.round(davg("wer"), 9).alias("mean_wer"),
    )


def _sql_smith_waterman() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH RECURSIVE docs AS (
  SELECT doc_id, {toks} AS t FROM documents
),
pairs AS (
  SELECT c.doc_id AS pid, c.t AS c, r.t AS r, len(c.t) AS lc, len(r.t) AS lr
  FROM docs c JOIN docs r ON r.doc_id = c.doc_id + 1
),
dp AS (
  -- Same anti-diagonal wavefront as the ROUGE-L/WER oracles, with the
  -- Smith-Waterman LOCAL recurrence: H = greatest(0, diag + s, up - 1,
  -- left - 1), s = +2 match / -1 mismatch. Position i+1 of diagonal dg
  -- holds H[i][dg-i]; -1 marks out-of-range (every valid cell's cone is
  -- in-range, so sentinels are never read through the +s path either:
  -- H[i-1][j-1] exists whenever H[i][j] does).
  SELECT pid, c, r, lc, lr, CAST(1 AS BIGINT) AS dg,
         list_transform(range(0, lc + 1),
           i -> CASE WHEN i = 0 THEN (CASE WHEN lr >= 1 THEN 0 ELSE -1 END)
                     WHEN i = 1 THEN 0 ELSE -1 END) AS prev,
         list_transform(range(0, lc + 1),
           i -> CASE WHEN i = 0 THEN 0 ELSE -1 END) AS prevprev
  FROM pairs WHERE lc >= 1 AND lr >= 1
  UNION ALL
  SELECT pid, c, r, lc, lr, dg + 1,
         list_transform(range(0, lc + 1), i ->
           CASE WHEN dg + 1 - i < 0 OR dg + 1 - i > lr THEN -1
                WHEN i = 0 OR dg + 1 - i = 0 THEN 0
                ELSE greatest(0,
                              prev[i + 1] - 1, prev[i] - 1,
                              prevprev[i]
                              + (CASE WHEN c[i] = r[dg + 1 - i] THEN 2 ELSE -1 END))
           END),
         prev
  FROM dp WHERE dg < lc + lr
),
-- every recursion row carries its diagonal in `prev`: the LOCAL optimum
-- is the max cell over ALL diagonals, no best-carrying needed
sw AS (
  SELECT pid, lc, lr, max(list_aggregate(prev, 'max')) AS s
  FROM dp GROUP BY pid, lc, lr
  UNION ALL
  SELECT pid, lc, lr, 0 AS s FROM pairs WHERE lc = 0 OR lr = 0
),
scored AS (
  SELECT s, lc, lr,
         CASE WHEN lc = 0 OR lr = 0 THEN NULL
              ELSE CAST(s AS DOUBLE) / (2 * least(lc, lr)) END AS norm
  FROM sw
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) FILTER (WHERE lc = 0 OR lr = 0) AS BIGINT) AS n_undefined,
       CAST(sum(s) FILTER (WHERE lc > 0 AND lr > 0) AS BIGINT) AS sw_total,
       round({SQL_DAVG.format(x='norm')}, 9) AS mean_norm,
       round(max(norm), 9) AS max_norm
FROM scored
"""


def smith_waterman_score(cand: list, ref: list) -> int:
    """Exact Smith-Waterman local-alignment score (match +2, mismatch
    -1, gap -1) via the numpy row DP. The left-gap chain H[i][j-1]-1 is
    the same prefix dependency the WER kernel unrolls: with tmp[j] =
    max(0, diag + s, up - 1), H[i][j] = max_(k<=j) (tmp[k] - (j-k)) =
    ``np.maximum.accumulate(tmp + idx) - idx`` — every term includes
    tmp[j] >= 0, so the local clamp needs no second pass. The score is
    the max cell over the whole grid."""
    import numpy as np
    import pandas as pd

    lc, lr = len(cand), len(ref)
    if lc == 0 or lr == 0:
        return 0
    codes, _ = pd.factorize(np.concatenate([np.asarray(cand, dtype=object),
                                            np.asarray(ref, dtype=object)]))
    c_ids, r_ids = codes[:lc], codes[lc:]
    old = np.zeros(lr + 1, dtype=np.int64)
    idx1 = np.arange(1, lr + 1, dtype=np.int64)
    best = 0
    for cid in c_ids:
        s = np.where(r_ids == cid, 2, -1)
        tmp = np.maximum(0, np.maximum(old[:-1] + s, old[1:] - 1))
        row = np.maximum.accumulate(tmp + idx1) - idx1
        best = max(best, int(row.max()))
        old = np.concatenate(([0], row))
    return best


@register(
    "eval_smith_waterman_pairs",
    oracle=_sql_smith_waterman(),
    tags=("eval", "alignment", "smith-waterman", "generation"),
)
def eval_smith_waterman_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smith-Waterman LOCAL alignment (Smith & Waterman 1981; match +2,
    mismatch -1, gap -1) over the adjacent candidate/reference pairing —
    completes the sequence-DP family's coverage of the alignment
    taxonomy: ROUGE-L's LCS is global-subsequence, WER's Levenshtein is
    global-distance, and this is the LOCAL member (the best-scoring
    aligned REGION, zero-clamped so unrelated flanks cost nothing) —
    the right shape for detecting a contaminated or quoted span buried
    inside otherwise-unrelated documents, where the global metrics
    drown the signal in the flanks. Normalized per pair by the maximum
    attainable score 2*min(lc, lr); zero-token sides undefined (NULL
    norm, counted in n_undefined, WER's convention).

    Exactness: an exact integer DP on both engines — Spark runs the
    numpy prefix-max row kernel (``smith_waterman_score``: the left-gap
    chain unrolls into one np.maximum.accumulate exactly like the WER
    insertion chain, and the 0-clamp lives inside tmp so no second
    pass), the oracle replays the SAME grid as the anti-diagonal
    wavefront recursive CTE with the zero-clamped local recurrence; the
    local optimum is the max cell over ALL diagonals, which the oracle
    reads directly off the recursion rows (each carries its diagonal) —
    no best-carrying state. Ratios are single exact divisions composed
    identically; the macro mean goes through davg's quantization.

    Scale shape: identical to ROUGE-L/WER — sequences co-located via
    ``_pair_roles`` (each doc ships <= 2x into ONE groupBy(pid) JVM
    conditional-max agg), the O(lc*lr) kernel runs in the
    batch-vectorized scalar pandas_udf, CPU bounded by doc-length^2."""
    from .datapipe.util import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"))
    d = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    tx.tokens("text").alias("t"))
    pairs = _pair_roles(d).select(
        _batch_dp_udf(smith_waterman_score)("c", "r").alias("s"),
        F.size("c").alias("lc"),
        F.size("r").alias("lr"),
    )
    norm = F.when(
        (F.col("lc") == 0) | (F.col("lr") == 0), F.lit(None).cast("double")
    ).otherwise(
        F.col("s").cast("double") / (2 * F.least("lc", "lr"))
    )
    scored = pairs.select("s", "lc", "lr", norm.alias("norm"))
    defined = (F.col("lc") > 0) & (F.col("lr") > 0)
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count(F.when(~defined, 1)).cast("bigint").alias("n_undefined"),
        F.sum(F.when(defined, F.col("s"))).cast("bigint").alias("sw_total"),
        F.round(davg("norm"), 9).alias("mean_norm"),
        F.round(F.max("norm"), 9).alias("max_norm"),
    )

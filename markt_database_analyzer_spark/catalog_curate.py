"""Round-2 curation catalog: cluster-level dedup resolution, corpus
rebalancing, vocabulary statistics, cross-corpus dedup, PII redaction,
paragraph dedup, and classic TPC-H-shaped anchors — same (Spark program,
DuckDB oracle) contract as ``catalog``.

These extend the Phase-4 datapipe surface (catalog_ext) with the
*decision* layer a production curation run needs: LSH gives pairs, this
module turns them into per-document keep/drop verdicts; sampling gives a
single gate, this module gives per-language rebalancing; etc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import SQL_COS, SQL_DAVG, SQL_DSUM, demo_guard, register, _t
from .catalog_ext import _sql_minhash_lsh
from .datapipe import clustering as cl
from .datapipe import dedup as dd
from .datapipe import sampling as smp
from .datapipe import similarity as sim
from .datapipe import text as tx
from .datapipe.util import fan_out
from .functions import davg, dsum

# --------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components over LSH pairs)
# --------------------------------------------------------------------------

def _sql_cluster_resolve() -> str:
    # The MinHash-LSH pair SQL (already differential-green as
    # dedup_minhash_lsh) becomes the edge list of a recursive
    # transitive-closure walk; min reachable id = cluster id = survivor.
    lsh = _sql_minhash_lsh()
    return f"""
WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({lsh}) lsh),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
walk(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.lab FROM edges e JOIN walk w ON w.id = e.dst
),
comp AS (SELECT id, min(lab) AS cluster_id FROM walk GROUP BY id),
sized AS (
  SELECT c.id, c.cluster_id, s.cluster_size
  FROM comp c JOIN (
    SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1
  ) s USING (cluster_id)
)
SELECT d.doc_id AS doc_id,
       coalesce(s.cluster_id, d.doc_id) AS cluster_id,
       coalesce(s.cluster_size, 1::BIGINT) AS cluster_size,
       (d.doc_id = coalesce(s.cluster_id, d.doc_id)) AS keep
FROM documents d LEFT JOIN sized s ON d.doc_id = s.id
ORDER BY doc_id
"""


@register(
    "dedup_cluster_resolve",
    oracle=_sql_cluster_resolve(),
    tags=("dedup", "clustering", "connected-components"),
)
def dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters → one survivor per cluster.

    MinHash-LSH candidate pairs (the dedup_minhash_lsh plan) are resolved
    into connected components by iterative min-label propagation
    (datapipe.clustering) — each round one (int64,int64) shuffle, lineage
    cut per round, convergence counted; the component map (tiny: only docs
    that banded together) broadcasts back onto the corpus for the final
    keep/drop verdict. Reference analog: the keep-first dedup of
    analyse.py:372 generalized to fuzzy keys."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_neardup_pairs(docs, "text", "doc_id", num_hashes=16, bands=4)
    out = cl.resolve_duplicate_clusters(docs, pairs, id_col="doc_id")
    return out.sortWithinPartitions("doc_id")


# --------------------------------------------------------------------------
# Corpus rebalancing: per-language stratified sampling
# --------------------------------------------------------------------------

_STRATA = {"en": 0.3, "de": 1.0, "fr": 0.5, "es": 0.5, "zh": 0.25}


@register(
    "sample_stratified_lang",
    oracle=f"""
SELECT lang, count(*) AS n_kept, min(doc_id) AS first_doc
FROM documents
WHERE {smp.sql_stratified_gate('doc_id', 'lang', _STRATA, seed=3)}
GROUP BY lang ORDER BY lang
""",
    tags=("sampling", "stratified"),
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language rebalancing: per-stratum deterministic hash gates (keep 30%
    of English, all German, …). Map-only filter fused into the scan; each
    stratum's sample is independent (gate hashes stratum~id)."""
    docs = _t(spark, sf_dir, "documents")
    kept = smp.stratified_sample(docs, "doc_id", "lang", _STRATA, seed=3)
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("first_doc"))
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Global vocabulary statistics (Zipf head)
# --------------------------------------------------------------------------

@register(
    "vocab_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT unnest({tx.sql_tokens('text')}) AS term FROM documents
),
counts AS (SELECT term, count(*) AS n FROM tok GROUP BY term)
SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rank
FROM counts ORDER BY n DESC, term LIMIT 100
""",
    tags=("text", "vocab"),
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global top-100 vocabulary (the Zipf head every tokenizer /
    quality audit wants). explode → map-side-combined count → TakeOrdered
    top-k (orderBy+limit compiles to TakeOrderedAndProject — no global
    sort); the rank window runs on the 100 surviving rows only."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(tx.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(100)
    )
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return counts.withColumn("rank", F.row_number().over(w))


# --------------------------------------------------------------------------
# Cross-corpus dedup (incoming batch vs existing corpus)
# --------------------------------------------------------------------------

@register(
    "dedup_cross_corpus",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, source, {tx.sql_fingerprint_tokenset('text')} AS fp,
         CAST(substring(source, 4) AS INT) >= 10 AS incoming
  FROM documents
),
existing AS (SELECT DISTINCT fp FROM fp WHERE NOT incoming)
SELECT f.doc_id, f.source, (e.fp IS NOT NULL) AS dup_of_existing
FROM fp f LEFT JOIN existing e ON f.fp = e.fp
WHERE f.incoming
ORDER BY f.doc_id
""",
    tags=("dedup", "cross-corpus"),
)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: an incoming batch (sources src10+) checked
    against the existing corpus (src0–src9) on the order-insensitive
    token-set fingerprint. Left join on the 60-bit fingerprint — both sides
    shuffle 8-byte keys, never text; at 100 TB the existing side is a
    bucketed fingerprint index so the probe is shuffle-free."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        tx.fingerprint_tokenset("text").alias("fp"),
        (F.substring("source", 4, 10).cast("int") >= 10).alias("incoming"),
    )
    existing = fp.filter(~F.col("incoming")).select("fp").distinct()
    return (
        fp.filter(F.col("incoming"))
        .join(existing.withColumnRenamed("fp", "efp"), F.col("fp") == F.col("efp"), "left")
        .select("doc_id", "source", F.col("efp").isNotNull().alias("dup_of_existing"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Deterministic synthetic PII injection (the corpus is synthetic and
# PII-free, so the operator would otherwise be untested on real matches):
# every 7th doc gets an email + IP + phone derived from its doc_id —
# identical expressions on both engines, so the differential still bites.
_SQL_INJECT = (
    "(CASE WHEN doc_id % 7 = 0 THEN text || ' reach user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com or 10.1.' || CAST(doc_id % 250 AS VARCHAR)"
    " || '.7 tel 555-123-4567' ELSE text END)"
)


def _inject_pii() -> F.Column:
    return F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 10.1."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(".7 tel 555-123-4567"),
        ),
    ).otherwise(F.col("text"))


def _sql_pii_redact_entry() -> str:
    counts = tx.sql_pii_counts("text")
    cols = ",\n       ".join(f"{sql} AS {name}" for name, sql in counts.items())
    return f"""
WITH inj AS (SELECT doc_id, {_SQL_INJECT} AS text FROM documents)
SELECT doc_id,
       {cols},
       md5({tx.sql_pii_redact('text')}) AS redacted_md5
FROM inj ORDER BY doc_id
"""


@register(
    "text_pii_redact",
    oracle=_sql_pii_redact_entry(),
    tags=("text", "pii", "redaction"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails, IPv4, phone numbers): per-kind match counts +
    md5 of the redacted text. Row-local regexp work, whole-stage codegen,
    patterns constrained to the Java-regex ∩ RE2 common subset so the
    operator is engine-portable. Map-only at any scale."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    inj = docs.select("doc_id", _inject_pii().alias("text"))
    counts = tx.pii_counts("text")
    return inj.select(
        "doc_id",
        *[c.alias(name) for name, c in counts.items()],
        F.md5(tx.pii_redact("text")).alias("redacted_md5"),
    ).sortWithinPartitions("doc_id")


# --------------------------------------------------------------------------
# Paragraph-level dedup (explode → global keep-first → reassemble)
# --------------------------------------------------------------------------

_PARA_TOKENS = 15  # synthetic corpus has no newlines; 15-token chunks play
                   # the role of paragraphs (the operator shape is identical)


def _sql_dedup_paragraphs() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
para AS (
  SELECT doc_id, g AS pos,
         array_to_string(toks[(g * {_PARA_TOKENS} + 1):((g + 1) * {_PARA_TOKENS})], ' ') AS para
  FROM t, unnest(generate_series(0, CAST(ceil(len(toks) / {_PARA_TOKENS}.0) AS INT) - 1)) AS u(g)
),
ranked AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM para
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_paras,
         count(*) FILTER (WHERE rn = 1) AS n_kept,
         coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '') AS clean_text
  FROM ranked GROUP BY doc_id
)
SELECT doc_id, n_paras, n_kept, md5(clean_text) AS clean_md5
FROM rebuilt ORDER BY doc_id
"""


@register(
    "dedup_paragraphs",
    oracle=_sql_dedup_paragraphs(),
    tags=("dedup", "paragraph"),
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup: split each doc into paragraphs, keep
    only the globally-first occurrence of each paragraph (by doc_id, pos),
    reassemble the surviving text in order. The classic boilerplate-removal
    pass (headers/footers repeated across a crawl vanish everywhere but
    their first sighting). Shuffle keys are (paragraph-hash) and (doc_id) —
    at scale the window runs over the 60-bit paragraph hash, never full
    text; the rebuild is a map-side-combinable sort_array(collect_list)."""
    docs = _t(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    n_paras = F.ceil(F.size(toks) / F.lit(_PARA_TOKENS)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda g: F.array_join(F.slice(toks, g * _PARA_TOKENS + 1, _PARA_TOKENS), " "),
    )
    exploded = (
        fan_out(docs)
        .filter(F.size(toks) > 0)
        .select("doc_id", F.posexplode(paras).alias("pos", "para"))
    )
    w = Window.partitionBy("para").orderBy("doc_id", "pos")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("rn") == 1, F.struct("pos", "para"))
                            )
                        ),
                        lambda s: s["para"],
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
        .sortWithinPartitions("doc_id")
    )


# --------------------------------------------------------------------------
# Outlier flagging: per-group z-score
# --------------------------------------------------------------------------

@register(
    "events_anomaly_zscore",
    oracle=f"""
WITH stats AS (
  SELECT event_type,
         {SQL_DAVG.format(x='value')} AS mean_v,
         {SQL_DSUM.format(x='value * value')} AS sumsq,
         count(value) AS n
  FROM events GROUP BY event_type
),
flagged AS (
  SELECT e.event_id, e.event_type, e.value,
         round((e.value - s.mean_v)
               / sqrt((s.sumsq - s.n * s.mean_v * s.mean_v) / (s.n - 1)), 9) AS z
  FROM events e JOIN stats s USING (event_type)
)
SELECT event_id, event_type, value, z FROM flagged
WHERE abs(z) > 3.0 ORDER BY event_id
""",
    tags=("stats", "anomaly"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier flagging (|z| > 3). Mean and variance
    come from micro-unit-quantized sums (dsum/davg) so both engines compute
    bit-identical doubles regardless of partitioning; the tiny per-type
    stats frame broadcasts back onto the stream. Two passes over events —
    at scale the stats pass is a map-side-combined agg over ~10 groups."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        davg(F.col("value")).alias("mean_v"),
        dsum(F.col("value") * F.col("value")).alias("sumsq"),
        F.count("value").alias("n"),
    )
    z = (F.col("value") - F.col("mean_v")) / F.sqrt(
        (F.col("sumsq") - F.col("n") * F.col("mean_v") * F.col("mean_v"))
        / (F.col("n") - F.lit(1))
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round(z, 9))
        .filter(F.abs(F.col("z")) > 3.0)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Embedding near-dup via signed-random-projection LSH
# --------------------------------------------------------------------------

@register(
    "similarity_srp_lsh_pairs",
    oracle=sim.sql_srp_neardup_pairs(dim=64, min_cos=0.4),
    tags=("similarity", "lsh", "srp"),
)
def similarity_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup pairs over embeddings: 16 deterministic ±1
    projections → 4 bands of 4 sign bits → band equi-join candidates →
    exact-cosine verify (>= 0.4; the synthetic corpus tops out at
    cos 0.51). The third ANN family next to IVF and cell-blocking:
    data-independent (no training pass), so it works on a cold corpus.
    Band joins shuffle (vid, band, code) rows only; vectors are fetched
    for the deduped candidate set alone.

    The fixed 4-bit bands make random-pair candidates Θ(n²·2⁻⁴) — the
    measured 13.1×-wall-at-10× demo geometry — so a tight demo_guard
    (20k rows ≈ 100M raw band collisions worst-case) refuses larger
    corpora with a pointer to ``similarity_srp_lsh_sized``, whose
    corpus-sized bands keep candidates linear."""
    emb = demo_guard(
        _t(spark, sf_dir, "embeddings"),
        "similarity_srp_lsh_pairs",
        "similarity_srp_lsh_sized",
        cap=20_000,
    )
    pairs = sim.srp_neardup_pairs(emb, "vec_id", "embedding", dim=64, min_cos=0.4)
    return pairs.repartition(1).sortWithinPartitions("id_a", "id_b")


# --------------------------------------------------------------------------
# TPC-H-shaped anchors (date ranges adapted to the testdata's 1995–2001)
# --------------------------------------------------------------------------

@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {SQL_DSUM.format(x='l_quantity')} AS sum_qty,
       {SQL_DSUM.format(x='l_extendedprice')} AS sum_base_price,
       {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {SQL_DAVG.format(x='l_quantity')} AS avg_qty,
       {SQL_DAVG.format(x='l_extendedprice')} AS avg_price,
       {SQL_DAVG.format(x='l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("tpch", "aggregate"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical wide-aggregate scan. One pruned scan,
    one map-side-combined hash agg over a 6-group key — the whole query is
    a single WholeStageCodegen span + one tiny shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-09-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
SELECT o_orderkey,
       {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, o_orderkey
LIMIT 10
""",
    tags=("tpch", "join"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → top-N by
    aggregate. The customer side is filtered then broadcast; orderBy+limit
    compiles to TakeOrderedAndProject (no global sort of the aggregate)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1997-03-15"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1997-03-15"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "o_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
SELECT n_name,
       {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    tags=("tpch", "join"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the 6-table snowflake join. region→nation→supplier
    and customer are all broadcast dims; lineitem⋈orders is the only
    shuffle join, and AQE is free to reorder it. The c_nationkey =
    s_nationkey 'local supplier' predicate rides the supplier broadcast."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem")
    nat_asia = nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    supp_asia = supplier.join(
        F.broadcast(nat_asia), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp_asia,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "tpch_q6_revenue_forecast",
    oracle=f"""
SELECT {SQL_DSUM.format(x='l_extendedprice * l_discount')} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("tpch", "scan"),
)
def tpch_q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filtered-scan aggregate — the predicate-pushdown
    litmus test. All four predicates reach the parquet reader (PushedFilters
    pinned in test_plan_properties); no shuffle at all beyond the final
    single-row reduce."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("tpch", "semijoin"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join whose
    condition mixes an equi key (orderkey) with a cross-table inequality
    (l_shipdate > o_orderdate). Spark keeps the equi part as the hash key
    and evaluates the inequality as a residual filter inside the join —
    no theta-join blowup. Both sides are fact tables at scale, so no
    broadcast hint: the shuffle semi-join on orderkey is the right plan
    and AQE may still demote it to broadcast at toy SF."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {SQL_DSUM.format(x='volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    tags=("tpch", "join"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension (nation) joined twice under two
    roles plus an OR'd pair predicate. Both nation roles are pre-filtered
    to the two names of interest BEFORE joining, so each broadcast carries
    ≤2 rows and the OR collapses to a residual filter on two tiny joined
    columns — never a filter over the full fact×nation² space. The only
    shuffle join is lineitem⋈orders; the nation roles ride broadcasts,
    and the customer/supplier legs carry NO hint (sf-proportional
    frames): AQE broadcasts them at bench SF and shuffles on
    custkey/suppkey at 100 TB — the planner's runtime decision."""
    pair = ("NATION_3", "NATION_7")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    )
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("tpch", "outerjoin"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with a non-key predicate INSIDE
    the join condition (null-extending, not filtering), then two stacked
    aggregations. customer and orders are both fact-sized at scale, so no
    broadcast: the shuffle join partitions on custkey and the first
    groupBy reuses that exact partitioning — Catalyst elides the second
    exchange (one shuffle for join+agg, one tiny one for the count-of-
    counts)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q16_supplier_cnt_by_parttype",
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'ECONOMY'
  AND p_size IN (1, 14, 23, 45, 19, 3, 36, 9)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    tags=("tpch", "antijoin"),
)
def tpch_q16_supplier_cnt_by_parttype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp bridged via lineitem): NOT IN over a
    non-null subquery decorrelated to a LEFT ANTI join against the tiny
    excluded-supplier set (broadcast), part filters pushed to the part
    scan before its broadcast, then COUNT(DISTINCT) per 3-part key —
    Spark expands it to a two-phase agg (partial distinct map-side), no
    extra shuffle beyond the group key's."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 14, 23, 45, 19, 3, 36, 9)
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q18_large_volume_customer",
    oracle=f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       {SQL_DSUM.format(x='l_quantity')} AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING {SQL_DSUM.format(x='l_quantity')} > 300.0
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
""",
    tags=("tpch", "semijoin", "aggregate"),
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-filter subquery driving the outer
    join (large orders only). The HAVING threshold is evaluated on the
    same micro-quantized sum (dsum) on both engines so the >300 boundary
    is bit-stable. The pre-aggregated big-order spine (orderkey, sum_qty)
    replaces the classic IN-subquery re-scan: lineitem is aggregated
    ONCE, the survivors join orders on orderkey (the orders shuffle key
    it already has), and customer arrives by join — broadcast-eligible
    at toy SF via AQE, shuffle at 100 TB; plan shape identical."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300.0)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Fixed-size per-group sampling (deterministic "reservoir")
# --------------------------------------------------------------------------

@register(
    "sample_k_per_group",
    oracle=f"""
SELECT lang, doc_id, pos FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {smp.sql_gate('doc_id', seed=4)}, doc_id
         ) AS pos
  FROM documents
) WHERE pos <= 5 ORDER BY lang, pos
""",
    tags=("sampling", "per-group"),
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group sampling: keep the k rows with the SMALLEST
    deterministic hash gate per group — the RNG-free reservoir-sample
    analog. Unlike rate gates, group sizes are fixed (k) regardless of
    group skew; like them, it's reproducible anywhere and subset-stable
    in k. One shuffle on the group key; rank via window (at 100 TB the
    same result comes from groupBy + min_by(k) map-side combine)."""
    docs = _t(spark, sf_dir, "documents")
    gate = smp._gate("doc_id", seed=4)
    w = Window.partitionBy("lang").orderBy(gate.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= 5)
        .select("lang", "doc_id", "pos")
        .orderBy("lang", "pos")
    )


# --------------------------------------------------------------------------
# Blocklist filtering (anti-join)
# --------------------------------------------------------------------------

_BLOCKED_SOURCES = ("src3", "src7", "src12", "src18")


@register(
    "filter_blocklist_sources",
    oracle=f"""
SELECT source, count(*) AS n_docs, min(doc_id) AS first_doc
FROM documents
WHERE source NOT IN ({", ".join(repr(s) for s in _BLOCKED_SOURCES)})
GROUP BY source ORDER BY source
""",
    tags=("filter", "blocklist"),
)
def filter_blocklist_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source blocklisting as a LEFT ANTI join against a (small)
    blocklist frame — the shape that scales to million-entry blocklists
    where an IN-list literal can't: the blocklist broadcasts, the corpus
    never shuffles. (The oracle uses NOT IN; same semantics for non-null
    keys.)"""
    docs = _t(spark, sf_dir, "documents")
    block = spark.createDataFrame([(s,) for s in _BLOCKED_SOURCES], "source: string")
    return (
        docs.join(F.broadcast(block), "source", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Quantile-gated quality filtering
# --------------------------------------------------------------------------

@register(
    "filter_quality_quantile",
    oracle=f"""
WITH q AS (
  SELECT doc_id, lang, round({tx.sql_quality_score('text', tx.sql_tokens('text'))}, 9) AS q
  FROM documents
),
thr AS (SELECT round(quantile_cont(q, 0.25), 9) AS thr FROM q)
SELECT lang, count(*) AS n_kept, min(thr) AS threshold
FROM q, thr WHERE q >= thr
GROUP BY lang ORDER BY lang
""",
    tags=("text", "quality", "quantile"),
)
def filter_quality_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop the bottom quality quartile: exact 25th-percentile threshold
    (linear interpolation — identical in Spark `percentile` and DuckDB
    `quantile_cont` on DOUBLE, both rounded to the shared 9-dp grid) then
    a broadcast 1-row threshold join. At 100 TB swap the exact percentile
    for `approx_percentile` (t-digest sketch, map-side combinable) — the
    gate shape is unchanged; the exact form here is what makes the entry
    differential-testable."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "lang", F.round(tx.quality_score("text"), 9).alias("q")
    )
    thr = q.agg(F.round(F.percentile("q", F.lit(0.25)), 9).alias("thr"))
    return (
        q.crossJoin(F.broadcast(thr))
        .filter(F.col("q") >= F.col("thr"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("thr").alias("threshold"))
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Streaming curation gate (map-only ops run unchanged on streams)
# --------------------------------------------------------------------------

@register(
    "streaming_curation_gate",
    oracle=f"""
SELECT doc_id, lang,
       len(regexp_extract_all({_SQL_INJECT}, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
       md5({tx.sql_pii_redact(_SQL_INJECT)}) AS redacted_md5
FROM documents
WHERE {smp.sql_stratified_gate('doc_id', 'lang', _STRATA, seed=3)}
ORDER BY doc_id
""",
    tags=("streaming", "curation", "pii"),
)
def streaming_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingestion-time curation gate: stratified sampling + PII
    redaction applied to a document STREAM. Both operators are row-local
    projections/filters, so the streaming plan is stateless (append mode,
    no watermark, no state store) and byte-identical in semantics to the
    batch form — which is exactly the property the oracle checks. This is
    the shape a 100 TB/day ingest runs: gates fused into the stream scan,
    dedup/clustering downstream on the gated survivors."""
    from .streaming import read_documents_stream, run_stream_to_memory

    docs = read_documents_stream(spark, sf_dir)
    gated = smp.stratified_sample(docs, "doc_id", "lang", _STRATA, seed=3)
    inj = gated.select("doc_id", "lang", _inject_pii().alias("text"))
    out = inj.select(
        "doc_id",
        "lang",
        tx.pii_counts("text")["n_email"].alias("n_email"),
        F.md5(tx.pii_redact("text")).alias("redacted_md5"),
    )
    return run_stream_to_memory(out, output_mode="append", state_partitions=None).orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# Composed curation pipeline over the r2 decision layer
# --------------------------------------------------------------------------

def _sql_pipeline_curate() -> str:
    blocked = ", ".join(repr(s) for s in _BLOCKED_SOURCES)
    gate = smp.sql_stratified_gate("doc_id", "lang", _STRATA, seed=3)
    lsh = _sql_minhash_lsh(base="gated")
    return f"""
WITH RECURSIVE gated AS (
  SELECT doc_id, text, lang FROM documents
  WHERE source NOT IN ({blocked}) AND {gate}
),
pairs AS (SELECT id_a, id_b FROM ({lsh}) lsh),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
walk(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.lab FROM edges e JOIN walk w ON w.id = e.dst
),
comp AS (SELECT id, min(lab) AS cluster_id FROM walk GROUP BY id),
verdict AS (
  SELECT g.doc_id, g.lang,
         (g.doc_id = coalesce(c.cluster_id, g.doc_id)) AS keep
  FROM gated g LEFT JOIN comp c ON g.doc_id = c.id
)
SELECT lang,
       count(*) FILTER (WHERE keep) AS n_kept,
       count(*) FILTER (WHERE NOT keep) AS n_neardup_dropped
FROM verdict GROUP BY lang ORDER BY lang
"""


@register(
    "pipeline_curate_full",
    oracle=_sql_pipeline_curate(),
    tags=("pipeline", "curation", "clustering"),
)
def pipeline_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r2 decision layer composed end-to-end: blocklist anti-join →
    stratified language gate (both fused into the scan) → MinHash-LSH
    pairs on the gated survivors → connected-components cluster resolution
    → per-language keep/drop summary. The expensive stages (signatures,
    band joins, CC rounds) run on the post-gate corpus only — gate early,
    cluster late is the 100 TB ordering. Each stage is the operator its
    own catalog entry tests in isolation."""
    docs = _t(spark, sf_dir, "documents")
    block = spark.createDataFrame([(s,) for s in _BLOCKED_SOURCES], "source: string")
    gated = smp.stratified_sample(
        docs.join(F.broadcast(block), "source", "left_anti"),
        "doc_id", "lang", _STRATA, seed=3,
    )
    pairs = dd.minhash_neardup_pairs(gated, "text", "doc_id", num_hashes=16, bands=4)
    resolved = cl.resolve_duplicate_clusters(gated, pairs, id_col="doc_id")
    return (
        gated.select("doc_id", "lang")
        .join(resolved.select("doc_id", "keep"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
            F.count(F.when(~F.col("keep"), 1)).alias("n_neardup_dropped"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS) — selection + inverted-index pairs
# --------------------------------------------------------------------------

def _sql_winnow_select() -> str:
    from .datapipe.hashing import sql_hash60

    rel = tx.sql_winnow_fp_relation(k=3, w=4)
    digest = sql_hash60("array_to_string(fp, ',')")
    return f"""
SELECT doc_id,
       CAST(len(fp) AS BIGINT) AS n_fingerprints,
       {digest} AS fp_digest
FROM {rel} winnowed
ORDER BY doc_id
"""


@register(
    "text_winnowing_fingerprints",
    oracle=_sql_winnow_select(),
    tags=("text", "fingerprint", "dedup"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint selection (rolling-hash k-gram
    minima over a sliding window — Schleimer/Wilkerson/Aiken SIGMOD'03).
    Returns the set size and an order-stable digest of the selected
    hashes; entirely row-local array math, no shuffle before the output
    sort. The guarantee under test: density ≈ 2/(w+1) of the shingle
    count, and the digest is deterministic across engines."""
    from .datapipe.hashing import hash60

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return (
        tx.winnow_fp_frame(docs, "text", "doc_id", k=3, w=4)
        .select(
            "doc_id",
            F.size("fp").cast("bigint").alias("n_fingerprints"),
            hash60(
                F.concat_ws(",", F.transform("fp", lambda h: h.cast("string")))
            ).alias("fp_digest"),
        )
        .sortWithinPartitions("doc_id")
    )


@register(
    "dedup_winnowing_pairs",
    oracle=dd.sql_winnowing_neardup_pairs(k=3, w=4, min_shared=2, max_df=50),
    tags=("dedup", "fingerprint", "pairs"),
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs sharing ≥2 winnowing fingerprints — the MOSS
    inverted-index join. Fourth candidate-generation family next to
    MinHash-LSH (Jaccard), SimHash (cosine-ish bit space), and shingle
    contamination: winnowing guarantees any shared run of w+k-1 tokens
    surfaces, so it catches PARTIAL overlap (quotes, boilerplate splices)
    that whole-doc signatures dilute. Shuffle keys are 8-byte hashes
    end-to-end; the max_df=50 posting cap bounds pair fan-out before the
    self-join."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    pairs = dd.winnowing_neardup_pairs(
        docs, "text", "doc_id", k=3, w=4, min_shared=2, max_df=50
    )
    return pairs.repartition(1).sortWithinPartitions("id_a", "id_b")


# --------------------------------------------------------------------------
# Bigram-LM quality scoring (KenLM-style perplexity filter, Spark-native)
# --------------------------------------------------------------------------

@register(
    "text_bigram_logprob",
    oracle=None,  # set below — needs the lm module import
    tags=("text", "lm", "quality"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-probability under an add-α bigram
    model trained on the corpus itself — the CCNet/Gopher-style LM
    quality gate with the KenLM role played by Spark aggregations: the
    'model' is a hashed (bigram → count) DataFrame, scoring is a join
    on the same 8-byte keys the count build shuffled on, and the
    vocabulary size rides a broadcast 1-row aggregate. High-NLL docs
    are the distributional outliers a curation gate drops."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    from .datapipe import lm

    return lm.bigram_logprob_scores(docs, "text", "doc_id", alpha=0.5).sortWithinPartitions("doc_id")


def _set_lm_oracle() -> None:
    import dataclasses

    from .catalog import REGISTRY
    from .datapipe import lm

    REGISTRY["text_bigram_logprob"] = dataclasses.replace(
        REGISTRY["text_bigram_logprob"], oracle=lm.sql_bigram_logprob_scores(alpha=0.5)
    )


_set_lm_oracle()


# --------------------------------------------------------------------------
# SemDeDup: semantic dedup over learned k-means cells (Abbas et al. 2023)
# --------------------------------------------------------------------------

def _sql_semdedup(k: int = 10, iters: int = 3, min_cos: float = 0.95) -> str:
    from .catalog_ext import _sql_kmeans_ctes

    kmeans, final_assign, _ = _sql_kmeans_ctes(k=k, iters=iters)
    cos = SQL_COS.format(a="a.vec", b="b.vec")
    return f"""
WITH RECURSIVE corpus AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
{kmeans},
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos
    FROM {final_assign} a JOIN {final_assign} b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
  ) WHERE cos >= {min_cos}
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
walk(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.lab FROM edges e JOIN walk w ON w.id = e.dst
),
comp AS (SELECT id, min(lab) AS cluster_id FROM walk GROUP BY id),
sized AS (
  SELECT c.id, c.cluster_id, s.cluster_size
  FROM comp c JOIN (
    SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1
  ) s USING (cluster_id)
)
SELECT e.vec_id,
       coalesce(s.cluster_id, e.vec_id) AS cluster_id,
       coalesce(s.cluster_size, 1::BIGINT) AS cluster_size,
       (e.vec_id = coalesce(s.cluster_id, e.vec_id)) AS keep
FROM embeddings e LEFT JOIN sized s ON e.vec_id = s.id
ORDER BY e.vec_id
"""


@register(
    "semdedup_prune",
    oracle=_sql_semdedup(),
    tags=("curation", "dedup", "embedding", "kmeans"),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: prune semantic duplicates — cluster embeddings with the
    learned k-means quantizer, score cosine pairs ONLY within a cell,
    resolve the pair graph to components, keep one representative (min
    id) per component. The published recipe composes three pieces this
    catalog already differential-tests independently (kmeans_cells /
    embedding_neardup_pairs / resolve_duplicate_clusters); this entry
    pins the composition end-to-end. Scale: the corpus shuffles once per
    Lloyd round (centroid means) and once for the cell-blocked pair
    generation; pair scoring is quadratic only within a cell — the
    k-means blocking is exactly what bounds it — and the component walk
    moves 16-byte (id, label) pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = sim.kmeans_cells(emb, k=10, iters=3)
    pairs = sim.embedding_neardup_pairs(
        assigned, min_cos=0.95, id_col="vec_id", vec_col="embedding", cell_col="cell"
    )
    verdicts = cl.resolve_duplicate_clusters(emb, pairs, id_col="vec_id")
    return verdicts.select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "cluster_size", "keep"
    ).sortWithinPartitions("vec_id")


# --------------------------------------------------------------------------
# DSIR: importance resampling toward a target domain (Xie et al. 2023)
# --------------------------------------------------------------------------

@register(
    "sample_dsir_importance",
    oracle=None,  # set below — needs the lm module import
    tags=("curation", "sampling", "lm"),
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR: select raw-pool documents whose hashed-n-gram distribution
    looks most like a target domain (here: the 'src0' source plays the
    in-domain corpus), by importance weight under two add-1-smoothed
    hashed bag-of-ngrams models, with deterministic (md5-derived) Gumbel
    top-k resampling. See datapipe.lm.dsir_importance for the scale
    story; the whole pipeline shuffles 8-byte bucket ids and joins the
    candidates against a broadcast ≤4096-row log-ratio table."""
    from .datapipe import lm

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return lm.dsir_importance(
        docs,
        target_pred=F.col("source") == "src0",
        text_col="text",
        id_col="doc_id",
        n_buckets=4096,
        top_n=100,
    ).sortWithinPartitions("doc_id")


def _set_dsir_oracle() -> None:
    import dataclasses

    from .catalog import REGISTRY
    from .datapipe import lm

    REGISTRY["sample_dsir_importance"] = dataclasses.replace(
        REGISTRY["sample_dsir_importance"],
        oracle=lm.sql_dsir_importance("source = 'src0'", n_buckets=4096, top_n=100),
    )


_set_dsir_oracle()


# --------------------------------------------------------------------------
# Stream-stream interval join (funnel attribution)
# --------------------------------------------------------------------------

@register(
    "streaming_interval_join",
    oracle="""
SELECT l.user_id,
       l.event_id AS l_event_id,
       r.event_id AS r_event_id,
       (epoch_us(r.ts) - epoch_us(l.ts)) / 60000000.0 AS lag_minutes
FROM events l
JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'view' AND r.event_type = 'purchase'
 AND r.ts >= l.ts
 AND r.ts <= l.ts + INTERVAL 30 MINUTE
ORDER BY l.user_id, l_event_id, r_event_id
""",
    tags=("streaming", "join", "watermark"),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join driven end-to-end: each user's view
    events pair with their purchases within the following 30 minutes —
    the funnel/attribution shape, and the last Structured Streaming join
    kind the catalog was missing. Watermarks on BOTH sides plus the
    two-sided time bound let Spark expire join state (see
    streaming.interval_self_join); the oracle is the equivalent batch
    self-join on static input."""
    from .streaming import interval_self_join, read_events_stream, run_stream_to_memory

    stream = interval_self_join(read_events_stream(spark, sf_dir))
    return run_stream_to_memory(stream, output_mode="append").orderBy(
        "user_id", "l_event_id", "r_event_id"
    )


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021)
# --------------------------------------------------------------------------

def _sql_gopher() -> str:
    rules = tx.sql_gopher_rules("text", min_words=20, max_words=100_000)
    return f"""
SELECT doc_id,{rules},
       (rule_word_count AND rule_mean_word_len AND rule_alpha_words
        AND rule_symbol_ratio AND rule_stopwords) AS keep
FROM (SELECT doc_id, text, {tx.sql_tokens('text')} AS toks FROM documents)
ORDER BY doc_id
"""


@register(
    "text_gopher_rules",
    oracle=_sql_gopher(),
    tags=("text", "quality", "curation"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter rule set (the published heuristic gate:
    word-count bounds, mean word length 3-10, ≥80% alphabetic words,
    symbol-to-word ratio, ≥2 distinct stopwords) as named boolean
    columns plus their measured inputs, with `keep` = AND of rules. A
    production gate filters on `keep`; the entry emits every rule so a
    curation run can audit WHICH rule rejected a document — the
    difference between a filter and a diagnosable filter. Entirely
    row-local expressions in whole-stage codegen; thresholds tuned only
    where the corpus makes the published value degenerate (min_words 20:
    the synthetic docs are 30-60 words)."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    out = docs.select(
        "doc_id", *tx.gopher_rules("text", min_words=20, max_words=100_000)
    )
    keep = (
        F.col("rule_word_count")
        & F.col("rule_mean_word_len")
        & F.col("rule_alpha_words")
        & F.col("rule_symbol_ratio")
        & F.col("rule_stopwords")
    )
    return out.withColumn("keep", keep).sortWithinPartitions("doc_id")


# --------------------------------------------------------------------------
# Temperature-based corpus rebalancing (multilingual α-sampling)
# --------------------------------------------------------------------------

@register(
    "sample_temperature_mix",
    oracle=smp.sql_temperature_mix("source", "doc_id", alpha=0.5, seed=11),
    tags=("sampling", "curation", "mixing"),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing: keep each source with probability ∝ n^α
    (α=0.5), the published multilingual rebalancing rule — big sources
    flatten, tail sources survive. Rates derive from one map-side agg
    over ≤|sources| rows; the gate is the module's deterministic md5
    scheme, so the sample is subset-stable and engine-reproducible.
    Output: per-source kept counts with the applied rate."""
    docs = _t(spark, sf_dir, "documents")
    kept = smp.temperature_mix(docs, "doc_id", "source", alpha=0.5, seed=11)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.any_value("rate").alias("rate"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Composed quality pipeline: rules → LM gate → dedup → temperature mix
# --------------------------------------------------------------------------

def _sql_pipeline_quality() -> str:
    from .datapipe import lm
    from .datapipe.hashing import sql_hash60
    from .datapipe.sampling import RESOLUTION

    rules = tx.sql_gopher_rules("text", min_words=20, max_words=100_000)
    lm_scores = lm.sql_bigram_logprob_scores(alpha=0.5, table="g1")
    gate = sql_hash60("(source || '~' || CAST(doc_id AS VARCHAR))", seed=11)
    return f"""
WITH g1 AS (
  SELECT doc_id, lang, source, text FROM (
    SELECT doc_id, lang, source, text,{rules}
    FROM (SELECT doc_id, lang, source, text, {tx.sql_tokens('text')} AS toks FROM documents)
  ) WHERE rule_word_count AND rule_mean_word_len AND rule_alpha_words
      AND rule_symbol_ratio AND rule_stopwords
),
lm_scores AS ({lm_scores}),
thr AS (SELECT quantile_cont(avg_neg_logp, 0.9) AS thr FROM lm_scores),
g2 AS (
  SELECT g1.doc_id, g1.lang, g1.source, g1.text
  FROM g1 JOIN lm_scores s ON g1.doc_id = s.doc_id, thr
  WHERE s.avg_neg_logp IS NOT NULL AND s.avg_neg_logp <= thr.thr
),
g3 AS (
  SELECT doc_id, lang, source FROM (
    SELECT g2.*, (doc_id = min(doc_id) OVER (PARTITION BY {sql_hash60('text')})) AS keep
    FROM g2
  ) WHERE keep
),
counts AS (SELECT source AS src, count(*) AS n_source FROM g3 GROUP BY 1),
rates AS (
  SELECT src,
         round(least(1.0,
           (min(n_source / (pow(n_source, 0.5) / sum_pw)) OVER ()
            * (pow(n_source, 0.5) / sum_pw)) / n_source), 9) AS rate
  FROM (SELECT src, n_source, sum(pow(n_source, 0.5)) OVER () AS sum_pw FROM counts)
),
g4 AS (
  SELECT g3.* FROM g3 JOIN rates r ON g3.source = r.src
  WHERE ({gate} % {RESOLUTION}) < CAST(floor(r.rate * {RESOLUTION}) AS BIGINT)
),
i AS (SELECT lang, count(*) AS n_input FROM documents GROUP BY 1),
c1 AS (SELECT lang, count(*) AS n_rules FROM g1 GROUP BY 1),
c2 AS (SELECT lang, count(*) AS n_lm FROM g2 GROUP BY 1),
c3 AS (SELECT lang, count(*) AS n_dedup FROM g3 GROUP BY 1),
c4 AS (SELECT lang, count(*) AS n_final FROM g4 GROUP BY 1)
SELECT i.lang, i.n_input,
       coalesce(c1.n_rules, 0) AS n_rules,
       coalesce(c2.n_lm, 0) AS n_lm,
       coalesce(c3.n_dedup, 0) AS n_dedup,
       coalesce(c4.n_final, 0) AS n_final
FROM i LEFT JOIN c1 USING (lang) LEFT JOIN c2 USING (lang)
       LEFT JOIN c3 USING (lang) LEFT JOIN c4 USING (lang)
ORDER BY lang
"""


@register(
    "pipeline_quality_curate",
    oracle=_sql_pipeline_quality(),
    tags=("pipeline", "curation", "lm", "quality"),
)
def pipeline_quality_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern pretraining-data recipe composed end-to-end (the
    FineWeb/RedPajama stage ordering): Gopher heuristic rules → bigram-LM
    perplexity gate at the p90 threshold (model trained on the rule
    survivors — garbage never pollutes the counts) → exact dedup
    keep-first → temperature (α=0.5) source rebalancing, reported as a
    per-language funnel. Stage order is the 100 TB ordering: the cheap
    row-local rules run in the scan, the LM model is built only over
    survivors, dedup shuffles 8-byte hashes of the doubly-gated corpus,
    and the mix gate is map-only. Every stage is the operator its own
    catalog entry differential-tests in isolation."""
    from pyspark.storagelevel import StorageLevel

    from .datapipe import lm
    from .datapipe.hashing import hash60

    docs = fan_out(_t(spark, sf_dir, "documents"))
    base_cols = ["doc_id", "lang", "source", "text"]
    # Every funnel stage feeds (a) the next stage and (b) its own
    # per-language count — and the LM stage references g1 several more
    # times internally (train counts + score pass + threshold). Without
    # persistence Catalyst re-expands each stage per consumer (the
    # Gopher rules would run ~4x and the LM build twice). One
    # MEMORY_AND_DISK pin per stage evaluates each exactly once — the
    # minhash_neardup_pairs shingle-projection discipline; at 100 TB the
    # same barrier is a parquet checkpoint. Cache lifetime: pins are
    # released by the harness (tools/check_oracle.py unpersists all
    # blocks between entries; tests clearCache) — a long-lived library
    # session composing many entries should wrap calls in its own
    # unpersist scope, as with MLlib model frames.
    g1 = (
        docs.select(*base_cols, *tx.gopher_rules("text", min_words=20, max_words=100_000))
        .filter(
            F.col("rule_word_count")
            & F.col("rule_mean_word_len")
            & F.col("rule_alpha_words")
            & F.col("rule_symbol_ratio")
            & F.col("rule_stopwords")
        )
        .select(*base_cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    scores = lm.bigram_logprob_scores(g1, "text", "doc_id", alpha=0.5).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    thr = scores.agg(F.percentile("avg_neg_logp", F.lit(0.9)).alias("thr"))
    g2 = (
        g1.join(
            scores.filter(F.col("avg_neg_logp").isNotNull()).select("doc_id", "avg_neg_logp"),
            "doc_id",
        )
        .crossJoin(F.broadcast(thr))
        .filter(F.col("avg_neg_logp") <= F.col("thr"))
        .select(*base_cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w = Window.partitionBy("h")
    g3 = (
        g2.withColumn("h", hash60(F.col("text")))
        .withColumn("minid", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("minid"))
        .select("doc_id", "lang", "source")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    g4 = smp.temperature_mix(g3, "doc_id", "source", alpha=0.5, seed=11)

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("lang").agg(F.count(F.lit(1)).alias(name))

    out = (
        cnt(docs, "n_input")
        .join(cnt(g1, "n_rules"), "lang", "left")
        .join(cnt(g2, "n_lm"), "lang", "left")
        .join(cnt(g3, "n_dedup"), "lang", "left")
        .join(cnt(g4, "n_final"), "lang", "left")
    )
    return out.select(
        "lang",
        "n_input",
        *[F.coalesce(c, F.lit(0)).alias(c) for c in ("n_rules", "n_lm", "n_dedup", "n_final")],
    ).orderBy("lang")


# --------------------------------------------------------------------------
# Exact-substring span dedup (Lee et al. 2022 shape)
# --------------------------------------------------------------------------

@register(
    "dedup_substring_spans",
    oracle=dd.sql_substring_dup_spans(k=10),
    tags=("dedup", "substring", "spans"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication audit: per-document fraction of token
    positions covered by a 10-token run that also appears in another
    document — the "Deduplicating Training Data Makes Language Models
    Better" signal, which trims boilerplate SPANS instead of dropping
    whole documents (whole-doc methods dilute partial overlap; this is
    the complement to winnowing's candidate pairs). Positional k-gram
    hashing plays the suffix-array role: the inverted index shuffles
    (doc, hash) int pairs, the interval-union sweep is row-local."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return dd.substring_dup_spans(docs, "text", "doc_id", k=10).sortWithinPartitions("doc_id")

"""Training-data pipeline entries: dedup, similarity, multimodal, CDC.

Consolidated in round 9 from the round-named catalog shards (the
original per-round files are in git history; entry source text is
unchanged). Every entry registers in REGISTRY with a DuckDB oracle
unless documented otherwise; reference parity citations live in the
entry docstrings.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .catalog import SQL_COS, _FUZZY_SN_WINDOW, _t, fuzzy_block_candidates, register
from .datapipe import clustering as cl
from .datapipe import dedup as dd
from .datapipe import similarity as sim
from .datapipe import text as tx
from .datapipe.hashing import hash60, sql_hash60
from .datapipe.util import fan_out
from .functions.aggregates import NANO, SQL_DAVG, SQL_DSUM, davg, dsum, qlong, sql_qlong


def _messy_url_spark() -> F.Column:
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.ORG"),
        F.when(d % 11 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/d/"),
        (d % 20).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit("?utm_campaign=x&gclid="), d.cast("string"))).otherwise(F.lit("")),
        F.when(d % 6 == 0, F.concat(F.lit("#s"), (d % 3).cast("string"))).otherwise(F.lit("")),
    )
_MESSY_URL_SQL = """(
  CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END
  || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
  || source || '.Example.ORG'
  || CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END
  || '/d/' || CAST(doc_id % 20 AS VARCHAR)
  || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN '?utm_campaign=x&gclid=' || CAST(doc_id AS VARCHAR) ELSE '' END
  || CASE WHEN doc_id % 6 = 0 THEN '#s' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END
)"""
@register(
    "dedup_url_canonical",
    oracle=f"""
WITH urls AS (
  SELECT doc_id, {tx.sql_canonical_url(_MESSY_URL_SQL)} AS canon
  FROM documents
)
SELECT canon, count(*) AS n_variants, min(doc_id) AS survivor
FROM urls GROUP BY canon ORDER BY canon
""",
    tags=("dedup", "url", "text"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonical dedup (the CommonCrawl-style pre-content pass):
    canonicalize scheme/www/port/tracking-params/fragment/trailing-slash
    variants (datapipe.text.canonical_url — pure row-local regex in the
    Java∩RE2 subset) and keep the lowest doc_id per canonical key.
    Map-only until the group-by on the canonical string; at 100 TB the
    shuffle key is the canonical URL (bounded bytes/row), never the
    document body, and the same hash-groupBy scales as exact dedup
    (datapipe/dedup.py:66 pattern)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", tx.canonical_url(_messy_url_spark()).alias("canon"))
        .groupBy("canon")
        .agg(F.count(F.lit(1)).alias("n_variants"), F.min("doc_id").alias("survivor"))
        .orderBy("canon")
    )


@register(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
""",
    tags=("streaming", "dedup", "state", "watermark"),
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of streaming dedup for UNBOUNDED key domains:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    event-time watermark passes it, so state is bounded by (key arrival
    rate x watermark delay), not the lifetime key count —
    ``streaming_dedup_distinct_pairs`` (plain dropDuplicates) by contrast
    grows state forever. The 30-day delay covers the fixture's full span,
    so the emitted set equals batch DISTINCT and the entry stays in the
    hash-differential gate; in production the delay is the dedup horizon
    SLA. Cites the reference's append-only monitor-log model
    (analyse.py:63-65) — ingestion-time dedup of re-scraped rows."""
    from .streaming import read_events_stream, run_stream_to_memory

    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream_to_memory(stream, output_mode="append").sortWithinPartitions(
        "user_id", "event_type"
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
WITH snap_a AS (
  SELECT o_orderkey, o_totalprice AS price
  FROM orders WHERE o_orderkey % 10 != 3
),
snap_b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 10 != 0
)
SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN a.o_orderkey IS NULL THEN 'I'
            WHEN b.o_orderkey IS NULL THEN 'D'
            ELSE 'U' END AS op,
       a.price AS old_price, b.price AS new_price
FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL OR a.price != b.price
ORDER BY o_orderkey
""",
    tags=("cdc", "join", "changelog"),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog extraction between two keyed snapshots — the
    engine-side form of SCD/merge pipelines: FULL OUTER join on the key,
    classify INSERT (new side only) / DELETE (old side only) / UPDATE
    (both, payload differs), drop unchanged rows. Snapshots are derived
    deterministically from orders (old drops %10==3 keys, new drops
    %10==0 and bumps %7 prices) so both engines replay the same fixture.
    At 100 TB: one co-partitioned shuffle on the key (bucketed snapshots
    make it exchange-free — sources/sinks.py write_bucketed), and the
    changelog is the only output that moves downstream."""
    orders = _t(spark, sf_dir, "orders")
    snap_a = (
        orders.filter(F.col("o_orderkey") % 10 != 3)
        .select("o_orderkey", F.col("o_totalprice").alias("price"))
    )
    snap_b = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        # +100.0 is exact in binary64 (a 2-dp rounding of a product
        # would hit Spark's decimal-string HALF_UP vs DuckDB's binary
        # rounding divergence)
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    a = snap_a.alias("a")
    b = snap_b.alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    return (
        joined.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
            F.when(F.col("a.o_orderkey").isNull(), F.lit("I"))
            .when(F.col("b.o_orderkey").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("a.price").alias("old_price"),
            F.col("b.price").alias("new_price"),
        )
        .filter(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .sortWithinPartitions("o_orderkey")
    )


@register(
    "join_set_similarity_prefix",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_distinct({tx.sql_tokens('text')}) AS ts
  FROM documents WHERE doc_id % 5 = 0
),
dfx AS (
  SELECT tok, count(*) AS df FROM (SELECT doc_id, unnest(ts) AS tok FROM toks)
  GROUP BY tok
),
exploded AS (
  SELECT doc_id, unnest(ts) AS tok FROM toks
),
ordered AS (
  SELECT e.doc_id, list(e.tok ORDER BY d.df, e.tok) AS ts
  FROM exploded e JOIN dfx d ON e.tok = d.tok
  GROUP BY e.doc_id
),
prefixed AS (
  SELECT doc_id, ts, len(ts) AS n,
         list_slice(ts, 1, len(ts) - ((9 * len(ts) + 9) // 10) + 1) AS prefix
  FROM ordered
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, unnest(prefix) AS tok FROM prefixed) a
  JOIN (SELECT doc_id, unnest(prefix) AS tok FROM prefixed) b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b,
         len(list_intersect(ta.ts, tb.ts)) AS inter,
         ta.n + tb.n - len(list_intersect(ta.ts, tb.ts)) AS uni
  FROM cand
  JOIN prefixed ta ON id_a = ta.doc_id
  JOIN prefixed tb ON id_b = tb.doc_id
)
SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / uni, 9) AS jaccard
FROM verified
WHERE inter * 10 >= 9 * uni
ORDER BY id_a, id_b
""",
    tags=("similarity", "join", "dedup", "prefix-filter"),
)
def join_set_similarity_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (token-set Jaccard >= 0.9) with the
    AllPairs/PPJoin prefix filter: order each document's distinct tokens
    by GLOBAL document frequency (rarest first — the order that makes
    prefixes selective), keep only the first n - ceil(t*n) + 1 tokens,
    and candidate pairs must share a PREFIX token (theorem: any pair
    above threshold must). The candidate join shuffles (token, doc_id)
    pairs of rare tokens only; the exact Jaccard verify runs on the
    candidate set alone, and the threshold compare is integer
    (inter*10 >= 6*uni) — no float boundary. The prefix-length ceil is
    integer-exact ((6n+9)//10) on both engines. This is the exact
    counterpart of the probabilistic MinHash entry: same output
    contract, no recall loss, for thresholds where prefixes stay
    selective."""
    # 1/5 deterministic sample: the synthetic corpus is pathologically
    # self-similar (tiny shared vocabulary), which defeats ANY candidate
    # filter — at full sf0.1 the >=0.9 pair set alone is ~1M pairs. The
    # operator contract is the filtered-join algebra; the sample bounds
    # the quadratic verify on this corpus (dedup_ngram_jaccard_sample
    # precedent). On realistic corpora the filter, not a sample, is
    # what bounds candidates.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = docs.select("doc_id", F.array_distinct(tx.tokens("text")).alias("ts"))
    dfx = (
        toks.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # order tokens rarest-first: join each token to its df, sort by
    # (df, token) via struct sort, project the token back out
    exploded = toks.select("doc_id", F.explode("ts").alias("tok")).join(
        dfx, "tok"
    )
    ordered = exploded.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("df").alias("d"), F.col("tok").alias("t")))),
            lambda s: s["t"],
        ).alias("ts")
    )
    n = F.size("ts")
    prefix_len = n - ((F.lit(9) * n + 9).cast("long") / 10).cast("int") + 1
    # Persisted: both candidate-join sides and nothing else consume this
    # frame; without persist the df-join + sort-agg subtree runs twice
    # (the shingle-projection precedent at catalog_ext.py:116). Constant
    # bytes/doc (ids + bounded token arrays), MEMORY_AND_DISK spills.
    prefixed = ordered.select(
        "doc_id", "ts", n.alias("n"), F.slice("ts", 1, prefix_len).alias("prefix")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Cost discipline, measured at sf0.1 (1k docs / 31-token vocab / 141k
    # candidate pairs / ~1M raw prefix collisions):
    #  - the candidate join must carry IDS ONLY. Shipping the token
    #    arrays through it shuffles ~500 MB of duplicate matches (every
    #    pair collides on up to prefix_len^2 tokens) — 5.5s.
    #  - the Jaccard compare must not sit where Catalyst can sink it
    #    into the candidate join condition: there array_intersect is
    #    re-evaluated per collision probe, interpreted — 45s.
    #  - the verify arrays come from `toks`, NOT `prefixed`: the
    #    df-rarest-first ORDERING only matters for prefix selection, and
    #    re-deriving plain token sets is one pruned scan (no df join, no
    #    sort agg), broadcast (<= corpus-distinct sets) onto the 141k
    #    deduped pairs — intersect runs once per pair, in codegen.
    pa = prefixed.select(
        F.col("doc_id").alias("id_a"), F.col("n").alias("na"),
        F.explode("prefix").alias("tok"),
    )
    pb = prefixed.select(
        F.col("doc_id").alias("id_b"), F.col("n").alias("nb"),
        F.explode("prefix").alias("tok"),
    )
    # PPJoin length filter, applied INSIDE the candidate join: J >= 0.9
    # implies 9*max(|a|,|b|) <= 10*min(|a|,|b|), so size-mismatched pairs
    # are pruned before the dedup/verify. Lossless for the >= t output
    # set (J <= min/max), hence the oracle is unchanged.
    cand = (
        pa.join(
            pb,
            (pa["tok"] == pb["tok"])
            & (pa["id_a"] < pb["id_b"])
            & (pa["na"] * 10 >= pb["nb"] * 9)
            & (pb["nb"] * 10 >= pa["na"] * 9),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ts_a"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    uni = F.size("ts_a") + F.size("ts_b") - inter
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            uni.alias("uni"),
        )
        .filter(F.col("inter") * 10 >= F.lit(9) * F.col("uni"))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter").cast("double") / F.col("uni"), 9).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


_INCR_CUTOFF = "1999-01-01"
@register(
    "agg_incremental_maintenance",
    oracle=f"""
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       {SQL_DSUM.format(x="o_totalprice")} AS revenue
FROM orders GROUP BY 1 ORDER BY 1
""",
    tags=("incremental", "materialized-view", "aggregate"),
)
def agg_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view delta maintenance: the pre-cutoff snapshot
    aggregate is MERGED with the post-cutoff delta aggregate (union of
    partial states + one re-agg) instead of recomputing from raw rows —
    the incremental-view-maintenance identity for distributive
    aggregates (sum/count merge; avg derives). At 100 TB this is the
    operation a nightly refresh actually runs: the delta scan touches
    one day's partition, the merge touches group-cardinality rows. The
    oracle is the FULL recompute over all rows — the driver's hash match
    proves merge(old, delta) == recompute, which the micro-unit grid
    makes exact (partial sums are 1e-6 multiples, so re-quantization is
    lossless)."""
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"), "o_totalprice", "o_orderdate"
    )
    cutoff = F.lit(_INCR_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("priority").agg(
            F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice")).alias("revenue")
        )

    snapshot = partial(base.filter(F.col("o_orderdate") < cutoff))
    delta = partial(base.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        snapshot.unionByName(delta)
        .groupBy("priority")
        .agg(F.sum("n").alias("n"), dsum(F.col("revenue")).alias("revenue"))
    )
    return merged.orderBy("priority")


@register(
    "embeddings_standardize_dims",
    oracle=f"""
WITH flat AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
agg AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n,
         {SQL_DSUM.format(x='x')} AS sx,
         {SQL_DSUM.format(x='x * x')} AS sxx,
         min(x) AS x_min, max(x) AS x_max
  FROM flat GROUP BY dim
)
SELECT dim, n,
       round(sx / n, 6) AS mean,
       round(sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)), 6) AS std,
       x_min, x_max
FROM agg ORDER BY dim
""",
    tags=("embeddings", "ml-preprocessing", "standardize"),
)
def embeddings_standardize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization statistics for the embedding
    column — the fit half of a z-score scaler (mean/std/min/max per
    dimension), computed in ONE pass via posexplode + hash agg on the
    dimension index. The stats frame is dims-sized (64 rows) and would
    broadcast back for the map-only transform half at any corpus scale;
    variance uses the E[x^2]-E[x]^2 identity on micro-unit-quantized
    sums so the result is partitioning- and engine-independent. This is
    the MLlib StandardScaler contract expressed relationally."""
    flat = _t(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("pos", "xf")
    ).select((F.col("pos") + 1).alias("dim"), F.col("xf").cast("double").alias("x"))
    agg = flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
    )
    mean = F.col("sx") / F.col("n")
    var = F.col("sxx") / F.col("n") - mean * mean
    return agg.select(
        "dim",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std"),
        "x_min",
        "x_max",
    ).orderBy("dim")


@register(
    "streaming_foreachbatch_upsert",
    oracle=f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       {SQL_DSUM.format(x="value")} AS total
FROM events GROUP BY 1 ORDER BY 1
""",
    tags=("streaming", "foreachbatch", "upsert"),
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch merge-upsert sink (streaming/jobs.py
    run_foreachbatch_upsert): the events stream is chopped into 4
    micro-batches (maxFilesPerTrigger=1) and each batch's partial
    (n, total) aggregate is MERGED into a versioned parquet state store
    — the production sink pattern for targets without native streaming
    support. Distributive aggregates merge exactly on the micro-unit
    grid, so the final upserted state equals the one-shot batch GROUP
    BY the oracle runs, no matter how the stream was batched. Each
    batch writes its own state version (idempotent replay; a retried
    batch overwrites itself)."""
    from .streaming.jobs import run_foreachbatch_upsert

    work = tempfile.mkdtemp(prefix="mda_upsert_")
    out = run_foreachbatch_upsert(spark, sf_dir, work)
    return out.orderBy("event_type")


@register(
    "pipeline_analytics_daily",
    oracle=f"""
WITH ev AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active,
         {SQL_DAVG.format(x='value')} AS avg_value
  FROM events GROUP BY 1
),
od AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         CAST(count(*) AS BIGINT) AS n_orders,
         {SQL_DSUM.format(x='o_totalprice')} AS revenue
  FROM orders GROUP BY 1
)
SELECT coalesce(ev.day, od.day) AS day,
       coalesce(ev.n_events, CAST(0 AS BIGINT)) AS n_events,
       coalesce(ev.n_active, CAST(0 AS BIGINT)) AS n_active,
       ev.avg_value,
       coalesce(od.n_orders, CAST(0 AS BIGINT)) AS n_orders,
       coalesce(od.revenue, 0.0) AS revenue
FROM ev FULL OUTER JOIN od ON ev.day = od.day
ORDER BY day
""",
    tags=("pipeline", "kpi", "composed"),
)
def pipeline_analytics_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-KPI dashboard frame as ONE lazy plan over two fact
    tables: event volume / distinct actives / mean value from events,
    order count / revenue from orders, stitched with a full outer join
    on the day (zero-filled counts, null-kept averages — the reference's
    spine-join discipline, analyse.py:214-224, across two sources).
    Each side collapses to days-cardinality before the join, so the
    stitch is trivially broadcastable; this is the composed-report
    pattern every reference analysis ends with, generalized to
    multiple facts."""
    ev = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_active"),
            davg(F.col("value")).alias("avg_value"),
        )
    )
    od = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )
    return (
        ev.join(od, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_events", F.lit(0).cast("bigint")).alias("n_events"),
            F.coalesce("n_active", F.lit(0).cast("bigint")).alias("n_active"),
            "avg_value",
            F.coalesce("n_orders", F.lit(0).cast("bigint")).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
        .sortWithinPartitions("day")
    )


_FUZZY_PAIRS_SQL = f"""
WITH pp AS (
  SELECT p_partkey, p_name, p_size, string_split(p_name, ' ')[2] AS blk,
         row_number() OVER (PARTITION BY string_split(p_name, ' ')[2], p_size
                            ORDER BY p_partkey) AS rnk
  FROM part
)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
FROM pp a JOIN pp b
  ON a.blk = b.blk AND a.p_size = b.p_size
 AND b.rnk - a.rnk BETWEEN 1 AND {_FUZZY_SN_WINDOW}
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
"""
@register(
    "er_fuzzy_canonicalize",
    oracle=f"""
WITH RECURSIVE fpairs AS ({_FUZZY_PAIRS_SQL}),
edges AS (SELECT id_a AS src, id_b AS dst FROM fpairs
          UNION SELECT id_b, id_a FROM fpairs),
walk(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.lab FROM edges e JOIN walk w ON w.id = e.dst
),
comp AS (SELECT id, min(lab) AS cluster_id FROM walk GROUP BY id),
sized AS (
  SELECT c.id, c.cluster_id, s.cluster_size
  FROM comp c JOIN (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM comp GROUP BY 1
  ) s USING (cluster_id)
)
SELECT p.p_partkey AS doc_id,
       coalesce(s.cluster_id, p.p_partkey) AS cluster_id,
       coalesce(s.cluster_size, CAST(1 AS BIGINT)) AS cluster_size,
       (p.p_partkey = coalesce(s.cluster_id, p.p_partkey)) AS keep
FROM part p LEFT JOIN sized s ON p.p_partkey = s.id
ORDER BY doc_id
""",
    tags=("entity-resolution", "connected-components", "fuzzy"),
)
def er_fuzzy_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end: blocked edit-distance matching
    (the join_fuzzy_blocked candidate generator) → connected components
    over the match graph (iterative min-label propagation,
    datapipe.clustering — the same resolver the LSH dedup pipeline
    uses) → one canonical survivor per cluster (minimum key). The
    component frame covers only matched entities, so it broadcasts back
    onto the full catalog. The oracle walks the identical match graph
    with DuckDB's recursive transitive closure — two genuinely
    independent connected-components implementations agreeing on every
    cluster id and size. Candidate matching uses the shared
    sorted-neighborhood-capped generator (catalog_text.py
    fuzzy_block_candidates, W=20) since r4 — O(n*W)
    verify work; output unchanged at fixture scale (max block 13)."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_size",
        F.split(F.col("p_name"), " ").getItem(1).alias("blk"),
    )
    pairs = fuzzy_block_candidates(p).select(
        F.col("a_key").alias("id_a"), F.col("b_key").alias("id_b")
    )
    out = cl.resolve_duplicate_clusters(
        p.select("p_partkey"), pairs, id_col="p_partkey"
    )
    return out.sortWithinPartitions("doc_id")


def _sql_silhouette() -> str:
    return f"""
WITH x AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS xd
  FROM embeddings
),
cent AS (
  SELECT label AS clabel, dim, {SQL_DAVG.format(x='xd')} AS cd
  FROM x GROUP BY label, dim
),
cnorm AS (
  SELECT clabel,
         CAST(sum({sql_qlong('cd * cd', NANO)}) AS BIGINT) AS cq
  FROM cent GROUP BY clabel
),
vnorm AS (
  SELECT vec_id,
         CAST(sum({sql_qlong('xd * xd', NANO)}) AS BIGINT) AS xq
  FROM x GROUP BY vec_id
),
dots AS (
  SELECT x.vec_id, x.label, c.clabel,
         CAST(sum({sql_qlong('x.xd * c.cd', NANO)}) AS BIGINT) AS dq
  FROM x JOIN cent c USING (dim)
  GROUP BY x.vec_id, x.label, c.clabel
),
dist AS (
  SELECT d.vec_id, d.label, d.clabel,
         1.0 - (CAST(d.dq AS DOUBLE) / 1e9)
               / (sqrt(CAST(v.xq AS DOUBLE) / 1e9) * sqrt(CAST(c.cq AS DOUBLE) / 1e9))
           AS cdist
  FROM dots d JOIN vnorm v USING (vec_id) JOIN cnorm c USING (clabel)
),
ab AS (
  SELECT vec_id, label,
         min(cdist) FILTER (WHERE clabel = label) AS a,
         min(cdist) FILTER (WHERE clabel <> label) AS b
  FROM dist GROUP BY vec_id, label
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round({SQL_DAVG.format(x='(b - a) / greatest(a, b)')}, 6) AS mean_silhouette
FROM ab GROUP BY label ORDER BY label
"""
@register(
    "embeddings_silhouette_simplified",
    oracle=_sql_silhouette(),
    tags=("embeddings", "clustering", "quality"),
)
def embeddings_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette score per label over the embeddings table —
    the standard clustering-quality metric with centroid distances in
    place of the O(n²) pairwise form (the only version that exists at
    scale): a = cosine distance to the own-label centroid, b = min
    distance to any other centroid, s = (b-a)/max(a,b). Centroids are a
    (labels × dims) frame built from one posexplode aggregation and
    joined back broadcast; every dot-product term is quantized to
    nano-units so distances are ratios of exact integers. At 100 TB the
    per-vector work is corpus × k × dims with the centroid side
    broadcast — embarrassingly parallel, no all-pairs anywhere."""
    x = (
        _t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.posexplode("embedding").alias("dim0", "xf"),
        )
        .select(
            "vec_id",
            "label",
            (F.col("dim0") + 1).alias("dim"),
            F.col("xf").cast("double").alias("xd"),
        )
    )
    cent = x.groupBy(F.col("label").alias("clabel"), "dim").agg(
        davg("xd").alias("cd")
    )
    cnorm = cent.groupBy("clabel").agg(
        F.sum(qlong(F.col("cd") * F.col("cd"), NANO)).alias("cq")
    )
    vnorm = x.groupBy("vec_id").agg(
        F.sum(qlong(F.col("xd") * F.col("xd"), NANO)).alias("xq")
    )
    dots = (
        x.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(qlong(F.col("xd") * F.col("cd"), NANO)).alias("dq")
        )
    )
    dist = (
        dots.join(vnorm, "vec_id")
        .join(F.broadcast(cnorm), "clabel")
        .select(
            "vec_id",
            "label",
            "clabel",
            (
                F.lit(1.0)
                - (F.col("dq").cast("double") / 1e9)
                / (
                    F.sqrt(F.col("xq").cast("double") / 1e9)
                    * F.sqrt(F.col("cq").cast("double") / 1e9)
                )
            ).alias("cdist"),
        )
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("cdist"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("cdist"))).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        ab.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(davg(s), 6).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


def _sql_minhash_estimate() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(dd.MINHASH_HASHES)
    )
    return f"""
WITH {dd.sql_minhash_ctes("documents")}
SELECT c.id_a, c.id_b,
       ({agree}) / {dd.MINHASH_HASHES}.0 AS est_jaccard,
       len(list_intersect(sa.sh, sb.sh))::DOUBLE
         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::DOUBLE
         AS exact_jaccard,
       abs(({agree}) / {dd.MINHASH_HASHES}.0
           - len(list_intersect(sa.sh, sb.sh))::DOUBLE
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::DOUBLE)
         AS abs_err
FROM cand c JOIN sig sa ON c.id_a = sa.doc_id JOIN sig sb ON c.id_b = sb.doc_id
ORDER BY id_a, id_b
"""
@register(
    "dedup_minhash_jaccard_estimate",
    oracle=_sql_minhash_estimate(),
    tags=("dedup", "minhash", "sketch-accuracy"),
)
def dedup_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash accuracy audit: for every LSH candidate pair, the
    signature-agreement Jaccard estimate (matching components / k — the
    unbiased MinHash estimator) next to the exact shingle Jaccard and
    the absolute error. This is the operator a curation team runs before
    trusting a signature-only dedup at 100 TB, where exact verification
    is affordable only on the banded candidates (exactly where this
    computes it). Estimate and truth are both engine-portable integers
    (agreement count, |∩|, |∪|) over the identical K-M family, so the
    differential pins the estimator itself, not just its bound."""
    docs = _t(spark, sf_dir, "documents")
    # the shingle projection feeds THREE consumers (banding, signatures,
    # exact verify) and the signature table TWO joins — materialize both
    # (the dedup.py persist discipline; ints only, constant bytes/doc)
    sh = dd.shingle_projection(docs, "text", "doc_id").localCheckpoint(eager=True)
    cand = dd.minhash_lsh_candidates(docs, "text", "doc_id", shingled=sh)
    sig = dd.km_signatures(sh).localCheckpoint(eager=True)
    est = (
        cand.join(
            sig.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
        )
        .join(
            sig.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
        )
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda v: v
                )
            )
            / F.lit(float(dd.MINHASH_HASHES)),
        )
        .select("id_a", "id_b", "est_jaccard")
    )
    exact = dd.jaccard_pairs(docs, cand, "text", "doc_id", shingled=sh).withColumnRenamed(
        "jaccard", "exact_jaccard"
    )
    return (
        est.join(exact, ["id_a", "id_b"])
        .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("exact_jaccard")))
        .orderBy("id_a", "id_b")
    )


def _sql_multimodal_pairs() -> str:
    ntok = "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t != ''))"
    return f"""
WITH p AS (
  SELECT d.doc_id, e.label,
         CAST({ntok} AS INT) AS n_tokens,
         CAST(list_sum(list_transform(e.embedding,
              v -> {sql_qlong('CAST(v AS DOUBLE) * CAST(v AS DOUBLE)', NANO)}))
            AS BIGINT) AS norm_q
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE {ntok} >= 20
),
b AS (
  SELECT *, CASE WHEN n_tokens <= 32 THEN 32 WHEN n_tokens <= 64 THEN 64
                 WHEN n_tokens <= 128 THEN 128 ELSE 256 END AS bucket
  FROM p
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY bucket
                               ORDER BY n_tokens DESC, doc_id) AS rk
  FROM b
)
SELECT doc_id, label, n_tokens,
       round(sqrt(CAST(norm_q AS DOUBLE) / 1e9), 6) AS emb_norm,
       bucket,
       CAST((rk - 1) // 8 AS BIGINT) AS batch_id,
       CAST((rk - 1) % 8 AS BIGINT) AS slot
FROM r ORDER BY doc_id
"""
@register(
    "pipeline_multimodal_pairs",
    oracle=_sql_multimodal_pairs(),
    tags=("multimodal", "pipeline", "packing"),
)
def pipeline_multimodal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style paired-dataset build: join captions (documents) to
    their embedding rows 1:1, gate on a minimum caption length, audit
    the embedding norm (nano-quantized exact integer), and pack the
    surviving pairs into fixed-size batches within power-of-two length
    buckets (the pad-efficiency layout from pack_sequences_bucketed,
    8 pairs/batch). One broadcast-joinable dimension (embeddings at
    doc granularity co-keyed with documents — at 100 TB this is the
    bucketed co-located join, both tables bucketed by doc_id), one
    window per bucket over rank only. The multimodal story's
    text-side twin of the binary decode plumbing in
    datapipe/multimodal.py."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    ntok = F.size(tx.tokens("text"))
    p = (
        docs.join(emb, docs["doc_id"] == emb["vec_id"])
        .select(
            "doc_id",
            "label",
            ntok.cast("int").alias("n_tokens"),
            F.aggregate(
                F.transform(
                    "embedding",
                    lambda v: qlong(v.cast("double") * v.cast("double"), NANO),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, t: acc + t,
            ).alias("norm_q"),
        )
        .filter(F.col("n_tokens") >= 20)
    )
    b = p.withColumn(
        "bucket",
        F.when(F.col("n_tokens") <= 32, 32)
        .when(F.col("n_tokens") <= 64, 64)
        .when(F.col("n_tokens") <= 128, 128)
        .otherwise(256),
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("n_tokens"), "doc_id")
    r = b.withColumn("rk", F.row_number().over(w))
    return r.select(
        "doc_id",
        "label",
        "n_tokens",
        F.round(F.sqrt(F.col("norm_q").cast("double") / 1e9), 6).alias("emb_norm"),
        "bucket",
        F.floor((F.col("rk") - 1) / 8).alias("batch_id"),
        ((F.col("rk") - 1) % 8).cast("bigint").alias("slot"),
    ).sortWithinPartitions("doc_id")


_MAGICS = [  # (selector, hex header, mime)
    (0, "89504E470D0A1A0A", "image/png"),
    (1, "FFD8FFE0", "image/jpeg"),
    (2, "52494646AAAAAAAA57415645", "audio/wav"),  # RIFF....WAVE
    (3, "474946383961", "image/gif"),
]
def _sql_mime_sniff() -> str:
    hdr = "CASE " + " ".join(
        f"WHEN doc_id % 5 = {s} THEN unhex('{h}')" for s, h, _ in _MAGICS
    ) + " ELSE unhex('') END"
    sniff = (
        "CASE WHEN starts_with(hx, '89504E470D0A1A0A') THEN 'image/png' "
        "WHEN starts_with(hx, 'FFD8FF') THEN 'image/jpeg' "
        "WHEN starts_with(hx, '52494646') AND substr(hx, 17, 8) = '57415645' THEN 'audio/wav' "
        "WHEN starts_with(hx, '474946383961') THEN 'image/gif' "
        "ELSE 'application/octet-stream' END"
    )
    return f"""
WITH payloads AS (
  SELECT doc_id, ({hdr} || encode(text)) AS payload FROM documents
),
sniffed AS (
  SELECT doc_id,
         upper(left(hex(payload), 24)) AS hx,
         CAST(octet_length(payload) AS BIGINT) AS n_bytes
  FROM payloads
)
SELECT doc_id, {sniff} AS mime, n_bytes
FROM sniffed ORDER BY doc_id
"""
@register(
    "multimodal_mime_sniff",
    oracle=_sql_mime_sniff(),
    tags=("multimodal", "binary", "dq"),
)
def multimodal_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type sniffing over an opaque binary column: compare the
    payload's leading bytes against the PNG/JPEG/RIFF-WAVE/GIF magic
    numbers — what an ingest gate runs before routing media to decoders
    (datapipe.multimodal). The Spark side slices the FIRST 12 bytes
    before hexing (the scale-correct order: never hex a whole video);
    the oracle hexes then trims — same value, small fixtures. Row-local
    expressions only; at 100 TB this is a map-only pass."""
    docs = _t(spark, sf_dir, "documents")
    hdr = F.when(F.lit(False), F.unhex(F.lit("")))
    for s, h, _ in _MAGICS:
        hdr = hdr.when(F.col("doc_id") % 5 == s, F.unhex(F.lit(h)))
    payload = F.concat(
        hdr.otherwise(F.unhex(F.lit(""))), F.encode(F.col("text"), "UTF-8")
    )
    p = docs.select(
        "doc_id",
        F.upper(F.hex(F.substring(payload, 1, 12))).alias("hx"),
        F.length(payload).cast("bigint").alias("n_bytes"),
    )
    mime = (
        F.when(F.col("hx").startswith("89504E470D0A1A0A"), "image/png")
        .when(F.col("hx").startswith("FFD8FF"), "image/jpeg")
        .when(
            F.col("hx").startswith("52494646")
            & (F.substring("hx", 17, 8) == "57415645"),
            "audio/wav",
        )
        .when(F.col("hx").startswith("474946383961"), "image/gif")
        .otherwise("application/octet-stream")
    )
    return p.select("doc_id", mime.alias("mime"), "n_bytes").sortWithinPartitions("doc_id")


_SRP_SIZED_N_SF001 = 500  # embeddings rows at sf0.01 — the oracle's corpus
@register(
    "similarity_srp_lsh_sized",
    oracle=sim.sql_srp_neardup_pairs(
        min_cos=0.4,
        bits=sim.srp_sizing(_SRP_SIZED_N_SF001)[0] * sim.srp_sizing(_SRP_SIZED_N_SF001)[1],
        bands=sim.srp_sizing(_SRP_SIZED_N_SF001)[1],
    ),
    tags=("similarity", "lsh", "srp", "scale", "oracle-sf0.01"),
)
def similarity_srp_lsh_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP near-dup pairs with CORPUS-SIZED band geometry: bits per band
    r = max(8, ceil(log2 n)) so the per-band random collision rate
    2^-r <= 1/n and expected random candidates are <= bands*n/2 —
    LINEAR in the corpus (``srp_sizing``). The fixed-width sibling
    (``similarity_srp_lsh_pairs``, 4-bit bands) admits ~6% of RANDOM
    pairs per band and was measured quadratic at 10x (57x shuffle); it
    stays registered as the correctness pin for
    the banding algebra while this entry carries the scale contract.
    Same verify step (exact cosine >= 0.4), same md5-derived projection
    family — the sized geometry just takes a longer prefix of it. The
    oracle is rendered for sf0.01's corpus (n=500 -> r=9, 16 bands);
    the Spark side derives the same geometry from a runtime count() —
    at the oracle SF the two MUST coincide, so the count is asserted
    there: a regenerated fixture with a different row count would
    otherwise surface as a confusing value diff instead of a loud
    geometry error."""
    import os

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    if os.path.basename(sf_dir.rstrip("/")) == "sf0.01":
        assert n == _SRP_SIZED_N_SF001, (
            f"sf0.01 embeddings has {n} rows but the registered oracle was "
            f"rendered for n={_SRP_SIZED_N_SF001} (srp_sizing geometry "
            f"{sim.srp_sizing(_SRP_SIZED_N_SF001)} vs {sim.srp_sizing(n)}); "
            "re-render the oracle against the new fixture count"
        )
    pairs = sim.srp_neardup_pairs_sized(emb, "vec_id", "embedding", min_cos=0.4, n=n)
    return pairs.repartition(1).sortWithinPartitions("id_a", "id_b")


_ANN_RECALL_SQL = f"""
WITH corpus AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {SQL_COS.format(a='q.qvec', b='e.vec')} DESC, e.vec_id) AS rank
    FROM corpus e CROSS JOIN q WHERE e.vec_id != q.query_id
  ) WHERE rank <= 10
),
dims AS (
  SELECT label AS cell, unnest(generate_series(1, 64)) AS pos, unnest(vec) AS v
  FROM corpus
),
cent_dims AS (
  SELECT cell, pos,
         {SQL_DAVG.format(x='v')} AS cv
  FROM dims GROUP BY cell, pos
),
cents AS (SELECT cell, list(cv ORDER BY pos) AS centroid FROM cent_dims GROUP BY cell),
probed AS (
  SELECT query_id, qvec, cell FROM (
    SELECT q.query_id, q.qvec, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {SQL_COS.format(a='q.qvec', b='c.centroid')} DESC, c.cell) AS crank
    FROM q CROSS JOIN cents c
  ) WHERE crank <= 2
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.query_id
             ORDER BY {SQL_COS.format(a='p.qvec', b='e.vec')} DESC, e.vec_id) AS rank
    FROM corpus e JOIN probed p ON e.label = p.cell
    WHERE e.vec_id != p.query_id
  ) WHERE rank <= 10
)
SELECT b.query_id,
       CAST(10 AS BIGINT) AS k,
       CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
       round(count(i.neighbor_id) / 10.0, 9) AS recall
FROM brute b
LEFT JOIN ivf i
  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
GROUP BY b.query_id
ORDER BY b.query_id
"""
@register(
    "eval_ann_recall_at_k",
    oracle=_ANN_RECALL_SQL,
    tags=("similarity", "ann", "eval", "recall"),
)
def eval_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF index (nprobe=2) against exact brute-force
    ground truth, per query — the standard ANN quality metric (as
    published with every IVF/PQ system; Johnson et al., "Billion-scale
    similarity search with GPUs"). Both rankings break cosine ties by
    neighbor id, so the metric is deterministic.

    100 TB story: ground truth is only ever computed for a SAMPLED
    query set (here the 5-query eval panel shared with
    ``similarity_bruteforce_topk``), so the exact pass costs
    |queries| x corpus — a bounded eval job, not a production path —
    while the IVF side scores only the probed cells. The recall join
    itself is (|queries| x k) rows: driver-free, broadcast-sized."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = sim.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ivf = (
        sim.ivf_topk(emb, queries, k=10, nprobe=2)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        brute.join(F.broadcast(ivf), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.lit(10).cast("bigint").alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(10.0), 9
            ).alias("recall"),
        )
        .orderBy("query_id")
    )

_TRUNC_DIMS = 16
_TRUNC_RECALL_SQL = f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5),
full_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {SQL_COS.format(a='q.qvec', b='e.vec')} DESC, e.vec_id) AS rank
    FROM corpus e CROSS JOIN q WHERE e.vec_id != q.query_id
  ) WHERE rank <= 10
),
trunc_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {SQL_COS.format(a=f'list_slice(q.qvec, 1, {_TRUNC_DIMS})', b=f'list_slice(e.vec, 1, {_TRUNC_DIMS})')} DESC, e.vec_id) AS rank
    FROM corpus e CROSS JOIN q WHERE e.vec_id != q.query_id
  ) WHERE rank <= 10
)
SELECT f.query_id,
       CAST({_TRUNC_DIMS} AS BIGINT) AS dims,
       CAST(count(t.neighbor_id) AS BIGINT) AS n_hits,
       round(count(t.neighbor_id) / 10.0, 9) AS recall
FROM full_rank f
LEFT JOIN trunc_rank t
  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
GROUP BY f.query_id
ORDER BY f.query_id
"""
@register(
    "embeddings_truncate_recall",
    oracle=_TRUNC_RECALL_SQL,
    tags=("similarity", "embedding", "eval", "mrl"),
)
def embeddings_truncate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of TRUNCATED-dimension cosine ranking (first
    16 of 64 dims) against the full-dimension ground truth —
    the storage/compute trade-off eval behind Matryoshka-style embedding
    truncation (Kusupati et al. 2022): 4x smaller vectors, measured
    quality loss. Same sampled 5-query panel and deterministic
    tie-breaks as ``eval_ann_recall_at_k``; both rankings are exact, so
    the number isolates what truncation alone costs. At 100 TB the
    truncated ranking is the production candidate stage (4x less IO and
    FLOPs per comparison) with full-dim re-scoring on its top
    candidates."""
    emb = _t(spark, sf_dir, "embeddings")
    tr = emb.withColumn("emb_t", F.slice(F.col("embedding"), 1, _TRUNC_DIMS))
    queries = tr.filter(F.col("vec_id") < 5)
    full_rank = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10).select(
        "query_id", "neighbor_id"
    )
    trunc_rank = (
        sim.brute_force_topk(tr, queries, k=10, vec_col="emb_t")
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        full_rank.join(F.broadcast(trunc_rank), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.lit(_TRUNC_DIMS).cast("bigint").alias("dims"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(10.0), 9
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


_MC_MIN_CONTAIN = 0.5  # keep a pair when either direction reaches it
def _sql_minhash_containment() -> str:
    return f"""
WITH {dd.sql_minhash_ctes("documents")},
scored AS (
  SELECT c.id_a, c.id_b,
         round(len(list_intersect(sa.sh, sb.sh)) / CAST(len(sa.sh) AS DOUBLE), 9) AS contain_a,
         round(len(list_intersect(sa.sh, sb.sh)) / CAST(len(sb.sh) AS DOUBLE), 9) AS contain_b
  FROM cand c JOIN sh sa ON c.id_a = sa.doc_id JOIN sh sb ON c.id_b = sb.doc_id
)
SELECT id_a, id_b, contain_a, contain_b
FROM scored WHERE greatest(contain_a, contain_b) >= {_MC_MIN_CONTAIN}
ORDER BY id_a, id_b
"""
@register(
    "dedup_minhash_containment",
    oracle=_sql_minhash_containment(),
    tags=("dedup", "minhash", "lsh", "containment"),
)
def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment |A∩B|/|A| on MinHash-LSH candidate
    pairs — catches a short document embedded inside a longer one
    (boilerplate, quotations, page-in-crawl duplication), which
    symmetric Jaccard misses: a 50-shingle doc fully contained in a
    5000-shingle doc has Jaccard ~0.01 but containment 1.0 (Broder 1997
    distinguishes resemblance vs containment). Same 16-hash / 4-band
    candidate generator as ``dedup_minhash_lsh`` (signatures shuffle,
    never text; note the standard caveat that MinHash banding is tuned
    for resemblance — production containment recall uses more bands or
    one-sided sketches); verification is exact set intersection on the
    candidate set only. Keeps pairs where either direction >= 0.5."""
    docs = _t(spark, sf_dir, "documents")
    sh = dd.shingle_projection(docs, "text", "doc_id").localCheckpoint(eager=True)
    cand = dd.minhash_lsh_candidates(docs, "text", "doc_id", shingled=sh)
    scored = (
        cand.join(
            sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(
            sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_inter") / F.size("sh_a").cast("double"), 9).alias(
                "contain_a"
            ),
            F.round(F.col("n_inter") / F.size("sh_b").cast("double"), 9).alias(
                "contain_b"
            ),
        )
        .filter(F.greatest(F.col("contain_a"), F.col("contain_b")) >= _MC_MIN_CONTAIN)
    )
    return scored.repartition(1).sortWithinPartitions("id_a", "id_b")


_CDC_FIXTURE = """
snap_a AS (
  SELECT o_orderkey, o_totalprice AS price
  FROM orders WHERE o_orderkey % 10 != 3
),
snap_b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 10 != 0
),
changes AS (
  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         CASE WHEN a.o_orderkey IS NULL THEN 'I'
              WHEN b.o_orderkey IS NULL THEN 'D'
              ELSE 'U' END AS op,
         b.price AS new_price
  FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
  WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL OR a.price != b.price
)
"""
@register(
    "cdc_apply_changes",
    oracle=f"""
WITH {_CDC_FIXTURE}
SELECT coalesce(s.o_orderkey, c.o_orderkey) AS o_orderkey,
       coalesce(c.new_price, s.price) AS price
FROM snap_a s FULL OUTER JOIN changes c USING (o_orderkey)
WHERE c.op IS NULL OR c.op != 'D'
ORDER BY o_orderkey
""",
    tags=("cdc", "merge", "upsert", "changelog"),
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style changelog application — the inverse of
    ``cdc_snapshot_diff``: apply an I/U/D changelog to the old snapshot
    (WHEN MATCHED AND op='D' THEN DELETE / op='U' THEN UPDATE / WHEN NOT
    MATCHED THEN INSERT) as ONE full-outer join plus a row-local
    coalesce — the engine shape under every lakehouse MERGE INTO. The
    changelog is derived from the same deterministic fixture as the
    diff entry, so the output must reconstruct the new snapshot
    bit-for-bit (pinned by test: apply(diff(a, b), a) == b). At 100 TB:
    one co-partitioned shuffle on the key; bucketed snapshots make it
    exchange-free, and only the changelog moves between stages."""
    orders = _t(spark, sf_dir, "orders")
    snap_a = orders.filter(F.col("o_orderkey") % 10 != 3).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    snap_b = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    changes = (
        a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
        .filter(
            F.col("a.o_orderkey").isNull()
            | F.col("b.o_orderkey").isNull()
            | (F.col("a.price") != F.col("b.price"))
        )
        .select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
            F.when(F.col("a.o_orderkey").isNull(), F.lit("I"))
            .when(F.col("b.o_orderkey").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("b.price").alias("new_price"),
        )
    )
    s, c = snap_a.alias("s"), changes.alias("c")
    return (
        s.join(c, F.col("s.o_orderkey") == F.col("c.o_orderkey"), "full_outer")
        .filter(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            F.coalesce(F.col("s.o_orderkey"), F.col("c.o_orderkey")).alias("o_orderkey"),
            F.coalesce(F.col("c.new_price"), F.col("s.price")).alias("price"),
        )
        .sortWithinPartitions("o_orderkey")
    )


_MS_SUBVECS = 8
_MS_DIMS = 8
_MS_TOPK = 5
def _sql_maxsim() -> str:
    n, d, k = _MS_SUBVECS, _MS_DIMS, _MS_TOPK
    return f"""
WITH sub AS (
  SELECT vec_id,
         list_transform(range(0, {n}),
                        i -> list_slice(embedding::DOUBLE[], i * {d} + 1, i * {d} + {d})) AS sv
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, sv AS qsv FROM sub WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, d.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(q.qsv, qv ->
           {sql_qlong('list_max(list_transform(d.sv, dv -> round(list_inner_product(qv, dv), 9)))', NANO)}
         )) AS BIGINT) AS score_q
  FROM sub d CROSS JOIN q WHERE d.vec_id != q.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       round(score_q / 1000000000.0, 9) AS maxsim
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_q DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {k}
ORDER BY query_id, rank
"""
@register(
    "similarity_maxsim_late_interaction",
    oracle=_sql_maxsim(),
    tags=("similarity", "retrieval", "maxsim", "multi-vector"),
)
def similarity_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020):
    each 64-dim embedding is treated as 8 "token vectors" of 8 dims, and
    score(q, d) = Σ_i max_j <q_i, d_j> — MaxSim, the scoring rule behind
    multi-vector retrievers. Top-5 per query over the shared 5-query
    eval panel, ties broken by neighbor id.

    Determinism: each sub-vector dot is a sequential zip_with/aggregate
    fold (IEEE-identical to DuckDB ``list_inner_product``), rounded at
    9 dp; each per-query-token maximum is quantized to the 1e9 integer
    grid BEFORE the 8-term sum, so the score is an exact BIGINT on both
    engines. Plan shape: the sub-vector split is a row-local projection
    evaluated ONCE per row (plain column references inside the HOF
    lambdas — no re-derivation), queries broadcast against the fanned-out
    corpus, score entirely JVM-side in one pass, then the usual
    per-query top-k window. At 100 TB the corpus side stays
    embarrassingly parallel (map-only scoring + per-query k rows into
    the shuffle); production systems front this exact scorer with an
    ANN candidate stage (the ``similarity_ivf_*`` entries here)."""
    emb = _t(spark, sf_dir, "embeddings")
    sub = F.transform(
        F.sequence(F.lit(0), F.lit(_MS_SUBVECS - 1)),
        lambda i: F.slice(
            F.col("embedding").cast("array<double>"), i * _MS_DIMS + 1, _MS_DIMS
        ),
    )
    d = fan_out(emb.select(F.col("vec_id").alias("neighbor_id"), sub.alias("dsv")))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), sub.alias("qsv")
    )

    def dot(qv, dv):
        return F.aggregate(
            F.zip_with(qv, dv, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    score = F.aggregate(
        F.transform(
            F.col("qsv"),
            lambda qv: qlong(
                F.array_max(F.transform(F.col("dsv"), lambda dv: F.round(dot(qv, dv), 9))),
                NANO,
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = d.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", score.alias("score_q"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _MS_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("score_q") / 1000000000.0, 9).alias("maxsim"),
        )
        .orderBy("query_id", "rank")
    )


_LSHR_SAMPLE = 200  # doc_id < 200: all-pairs truth stays bounded
def _sql_lsh_recall() -> str:
    jac = (
        "len(list_intersect(sa.sh, sb.sh))::DOUBLE"
        " / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::DOUBLE"
    )
    return f"""
WITH sample AS (SELECT doc_id, text FROM documents WHERE doc_id < {_LSHR_SAMPLE}),
{dd.sql_minhash_ctes("sample")},
truth AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b
  FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
  WHERE {jac} >= {dd.MIN_JACCARD}
),
m AS (
  SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS true_pairs,
         CAST((SELECT count(*) FROM cand) AS BIGINT) AS candidate_pairs,
         CAST((SELECT count(*) FROM truth t JOIN cand c
               ON t.id_a = c.id_a AND t.id_b = c.id_b) AS BIGINT) AS caught
)
SELECT CAST({_LSHR_SAMPLE} AS BIGINT) AS sample_docs,
       true_pairs, candidate_pairs, caught,
       CASE WHEN true_pairs = 0 THEN NULL
            ELSE round(caught / CAST(true_pairs AS DOUBLE), 9) END AS recall,
       CASE WHEN candidate_pairs = 0 THEN NULL
            ELSE round(caught / CAST(candidate_pairs AS DOUBLE), 9) END
         AS candidate_precision
FROM m
"""
@register(
    "dedup_lsh_recall_eval",
    oracle=_sql_lsh_recall(),
    tags=("dedup", "lsh", "eval", "recall"),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash(16)+LSH(4-band) CANDIDATE stage against
    exact all-pairs 3-gram Jaccard ground truth (J >= 0.5) on a 200-doc
    sample — the measurement every banded-LSH deployment owes itself:
    banding trades recall for the equi-join shape (at J = 0.5 the
    16/4 configuration's collision probability is 1−(1−0.5⁴)⁴ ≈ 23%
    per theory; seeded near-exact duplicates collide at ~1), and this
    entry reports the realized recall and candidate precision side by
    side. The production LSH entries stay as-is; this GRADES them.

    Scale shape: ground truth is all-pairs BY DEFINITION, so it runs
    on an explicit bounded sample (the ``dedup_ngram_jaccard_sample``
    contract — at scale you grade on a sample, never the corpus); the
    candidate side is the standard banded equi-join on the same
    sample; all three counts are exact BIGINTs from equi-joins on
    (id_a, id_b).

    Exactness: same shingle/KM-hash/band-hash machinery as
    ``dedup_minhash_lsh`` (bit-identical cross-engine md5 paths);
    recall/precision are integer ratios."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _LSHR_SAMPLE)
    sh = docs.select("doc_id", dd.shingles("text").alias("sh")).localCheckpoint(
        eager=True
    )  # feeds truth AND the LSH branch
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    jac = inter / (F.size("sha") + F.size("shb") - inter)
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(jac >= dd.MIN_JACCARD)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    cand = (
        dd.minhash_lsh_candidates(
            docs, "text", "doc_id", shingled=sh.select(F.col("doc_id").alias("doc"), "sh")
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    tc = truth.agg(F.count(F.lit(1)).cast("bigint").alias("true_pairs"))
    cc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("candidate_pairs"))
    hit = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("caught")
    )
    m = tc.crossJoin(F.broadcast(cc)).crossJoin(F.broadcast(hit))
    return m.select(
        F.lit(_LSHR_SAMPLE).cast("bigint").alias("sample_docs"),
        "true_pairs",
        "candidate_pairs",
        "caught",
        # sample windows with zero ground-truth pairs (possible at SFs
        # where the seeded dups fall outside the sample) read NULL, not
        # a division error — matching the oracle's CASE
        F.round(
            F.try_divide(F.col("caught"), F.col("true_pairs").cast("double")), 9
        ).alias("recall"),
        F.round(
            F.try_divide(
                F.col("caught"), F.col("candidate_pairs").cast("double")
            ),
            9,
        ).alias("candidate_precision"),
    )


_NORM_BINS = 10
def _sql_norm_hist() -> str:
    return f"""
WITH n AS (
  SELECT vec_id,
         sqrt(list_aggregate(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
),
b AS (
  SELECT CAST(least(floor(nrm / 0.5), {_NORM_BINS - 1}) AS BIGINT) AS bin,
         nrm
  FROM n
)
SELECT bin,
       round(bin * 0.5, 1) AS lo,
       round((bin + 1) * 0.5, 1) AS hi,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(min(nrm), 9) AS min_norm,
       round(max(nrm), 9) AS max_norm
FROM b GROUP BY bin ORDER BY bin
"""
@register(
    "embeddings_norm_histogram",
    oracle=_sql_norm_hist(),
    tags=("embeddings", "quality", "histogram", "datapipe"),
)
def embeddings_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm histogram of the embedding corpus (0.5-wide bins, last
    bin open) — the vector-quality audit run before ANN indexing:
    un-normalized embeddings break cosine≈dot shortcuts, near-zero
    norms flag dead encoder outputs, and a bimodal histogram flags a
    mixed-encoder corpus. The norm is a JVM-side array fold
    (transform + aggregate — no UDF, no explode: the row count stays
    the vector count, not vectors × dims).

    Exactness: float32 components widen to double BEFORE squaring on
    both engines; the fold order is index order on both (Spark
    aggregate, DuckDB list_aggregate), so the sum is the same double;
    bin ids are integer floors of identical doubles.

    Scale shape: pure map work into a map-side-combined groupBy on a
    10-row bin domain."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = emb.select(F.sqrt(sq).alias("nrm"))
    b = n.select(
        F.least(F.floor(F.col("nrm") / 0.5), F.lit(_NORM_BINS - 1))
        .cast("bigint")
        .alias("bin"),
        "nrm",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.min("nrm"), 9).alias("min_norm"),
            F.round(F.max("nrm"), 9).alias("max_norm"),
        )
        .select(
            "bin",
            F.round(F.col("bin") * 0.5, 1).alias("lo"),
            F.round((F.col("bin") + 1) * 0.5, 1).alias("hi"),
            "n_vecs",
            "min_norm",
            "max_norm",
        )
        .orderBy("bin")
    )


_COS_SAMPLE_N = 400  # FIXED panel size (volume-invariant by construction)
_COS_SEED = 37
_COS_BINS = 20  # width-0.1 bins over [-1, 1]
def _sql_cosine_hist() -> str:
    h = sql_hash60("vec_id::VARCHAR", seed=_COS_SEED)
    return f"""
WITH ranked AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY {h}, vec_id) AS r
  FROM embeddings
),
s AS (
  SELECT vec_id, embedding FROM ranked WHERE r <= {_COS_SAMPLE_N}
),
n AS (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM s
),
p AS (
  SELECT list_aggregate(list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
           'sum') / (a.nrm * b.nrm) AS cosv
  FROM n a JOIN n b ON a.vec_id < b.vec_id
),
b AS (
  SELECT CAST(least(floor((cosv + 1.0) / 0.1), {_COS_BINS - 1}) AS BIGINT)
           AS bin
  FROM p
)
SELECT bin,
       round(bin * 0.1 - 1.0, 1) AS lo,
       round((bin + 1) * 0.1 - 1.0, 1) AS hi,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM b GROUP BY bin ORDER BY bin
"""
@register(
    "similarity_cosine_hist_sample",
    oracle=_sql_cosine_hist(),
    tags=("similarity", "audit", "histogram", "sample"),
)
def similarity_cosine_hist_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution over a FIXED 400-vector panel (the
    corpus's smallest seeded-md5 hashes — a deterministic uniform
    sample whose SIZE does not grow with the corpus), width-0.1 bins —
    the threshold-calibration audit run BEFORE committing an
    LSH/near-dup cutoff: the histogram shows where the random-pair
    mass sits (near 0 for healthy encoders) and whether a near-dup
    mode exists above the intended threshold. Exact all-pairs on a
    bounded sample IS the operator (the dedup_ngram_jaccard_sample /
    dedup_lsh_recall_eval precedent); the corpus-sized path is the
    banded LSH family this audit parameterizes. (The first cut used a
    hash%5 RATE gate — that keeps a fraction, not a size, and the
    pair count grew 100× at 10× data; the fixed panel is
    volume-invariant by construction.)

    Exactness: the panel is the smallest-(hash, vec_id) prefix — a
    total order both engines rank identically; dot products fold in
    index order with float32→double widening; bin ids are integer
    floors of identical doubles.

    Scale shape: panel selection is a TakeOrdered(400) (map-side
    partial top-k, no global sort in Spark; the oracle's window is
    the semantic spec); the pair join is 400², constant forever; the
    histogram combine is map-side over a 20-bin domain."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    s = emb.orderBy(
        hash60(F.col("vec_id").cast("string"), seed=_COS_SEED), "vec_id"
    ).limit(_COS_SAMPLE_N)
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = s.select("vec_id", "embedding", F.sqrt(sq).alias("nrm")).localCheckpoint(
        eager=True
    )
    a = n.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("ea"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("eb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(F.broadcast(b), F.col("ida") < F.col("idb")).select(
        (dot / (F.col("na") * F.col("nb"))).alias("cosv")
    )
    return (
        pairs.select(
            F.least(F.floor((F.col("cosv") + 1.0) / 0.1), F.lit(_COS_BINS - 1))
            .cast("bigint")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "bin",
            F.round(F.col("bin") * 0.1 - 1.0, 1).alias("lo"),
            F.round((F.col("bin") + 1) * 0.1 - 1.0, 1).alias("hi"),
            "n_pairs",
        )
        .orderBy("bin")
    )


@register(
    "multimodal_payload_dedup",
    oracle="""
WITH p AS (
  SELECT md5(text) AS content_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
),
cl AS (
  SELECT content_id, CAST(count(*) AS BIGINT) AS copies,
         CAST(max(n_bytes) AS BIGINT) AS n_bytes
  FROM p GROUP BY 1
)
SELECT CAST(sum(copies) AS BIGINT) AS n_payloads,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(count(*) FILTER (WHERE copies > 1) AS BIGINT) AS dup_clusters,
       CAST(max(copies) AS BIGINT) AS max_copies,
       CAST(sum(copies * n_bytes) AS BIGINT) AS bytes_total,
       CAST(sum((copies - 1) * n_bytes) AS BIGINT) AS bytes_redundant,
       round(sum((copies - 1) * n_bytes)
             / CAST(sum(copies * n_bytes) AS DOUBLE), 9) AS dedup_ratio
FROM cl
""",
    tags=("multimodal", "dedup", "storage", "datapipe"),
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup accounting over opaque binary payloads (the
    documents' bytes standing in for media blobs, as everywhere in the
    multimodal family): cluster by md5 content id and report the
    STORAGE ledger — distinct payloads, duplicate clusters, total vs
    redundant bytes, and the dedup ratio — the numbers that size a
    content-addressed blob store before ingesting a crawl's media.
    ``dedup_exact_groups`` picks winners; this entry prices the
    duplication. The hash is computed on the payload bytes (md5 of the
    UTF-8 encoding = DuckDB's md5 of the VARCHAR), so the text itself
    never shuffles — 16-byte ids and byte counts do.

    Exactness: every cell is exact BIGINT arithmetic; the ratio is one
    rounded integer quotient.

    Scale shape: map to (content_id, n_bytes), ONE map-side-combined
    groupBy on the hash, one 1-row combine."""
    from .datapipe.multimodal import to_payload

    d = _t(spark, sf_dir, "documents").select(
        F.md5(to_payload("text")).alias("content_id"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )
    cl = d.groupBy("content_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("copies"),
        F.max("n_bytes").cast("bigint").alias("n_bytes"),
    )
    return cl.agg(
        F.sum("copies").cast("bigint").alias("n_payloads"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.count(F.when(F.col("copies") > 1, 1)).cast("bigint").alias("dup_clusters"),
        F.max("copies").cast("bigint").alias("max_copies"),
        F.sum(F.col("copies") * F.col("n_bytes")).cast("bigint").alias("bytes_total"),
        F.sum((F.col("copies") - 1) * F.col("n_bytes"))
        .cast("bigint")
        .alias("bytes_redundant"),
        F.round(
            F.sum((F.col("copies") - 1) * F.col("n_bytes"))
            / F.sum(F.col("copies") * F.col("n_bytes")).cast("double"),
            9,
        ).alias("dedup_ratio"),
    )


# --------------------------------------------------------------------------
# kNN classification over the embedding corpus (round 9)
# --------------------------------------------------------------------------

_KNN_K = 5  # neighbors voting
_KNN_ANCHORS = 3  # labeled anchors per class


def _sql_knn() -> str:
    return f"""
WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
anch AS (
  SELECT vec_id AS a_id, label AS a_label, vec AS avec FROM (
    SELECT *, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM c
  ) WHERE rn <= {_KNN_ANCHORS}
),
scored AS (
  SELECT c.vec_id, c.label AS true_label, a.a_label, a.a_id,
         {SQL_COS.format(a='c.vec', b='a.avec')} AS cos
  FROM c JOIN anch a ON a.a_id != c.vec_id
),
top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, a_id) AS rk
    FROM scored
  ) WHERE rk <= {_KNN_K}
),
votes AS (
  SELECT vec_id, true_label, a_label, CAST(count(*) AS BIGINT) AS v
  FROM top GROUP BY 1, 2, 3
)
SELECT vec_id, true_label, predicted,
       predicted = true_label AS correct
FROM (
  SELECT vec_id, true_label, a_label AS predicted,
         row_number() OVER (PARTITION BY vec_id ORDER BY v DESC, a_label) AS pr
  FROM votes
) WHERE pr = 1 ORDER BY vec_id
"""


@register(
    "ml_knn_classify_embeddings",
    oracle=_sql_knn(),
    tags=("ml", "knn", "embeddings", "classify"),
)
def ml_knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification of every embedding against a
    small LABELED ANCHOR panel (3 deterministic anchors per class,
    smallest vec_id): cosine top-5 vote, ties by (votes desc, label
    asc). The label-propagation primitive a semi-supervised curation
    pass runs when only a seed set is hand-labeled — and the
    classification twin of ``similarity_bruteforce_topk`` (same
    broadcast-panel scoring shape, different reduction).

    Exactness: anchor membership is a deterministic per-class
    row_number prefix; cosines follow the similarity family's shared
    convention (double fold, round 9 — ``SQL_COS``); the vote and both
    tie-breaks are integer/lexicographic comparisons.

    Scale shape: the anchor panel is classes x 3 rows BROADCAST to a
    map-only scoring pass (corpus never shuffles); top-5 and the vote
    run under vec_id-partitioned windows — per-key state only, no
    global sort. Corpus-side cosine cost is O(rows x anchors), the
    same envelope as the MaxSim panel entry."""
    emb = _t(spark, sf_dir, "embeddings")
    c = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    wa = Window.partitionBy("label").orderBy("vec_id")
    anch = (
        c.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= _KNN_ANCHORS)
        .select(
            F.col("vec_id").alias("a_id"),
            F.col("label").alias("a_label"),
            F.col("vec").alias("avec"),
        )
        .withColumn("anrm", sim._norm(F.col("avec")))
    )
    scored = (
        c.withColumn("cnrm", sim._norm(F.col("vec")))
        .join(F.broadcast(anch), F.col("a_id") != F.col("vec_id"))
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            "a_label",
            "a_id",
            sim.cosine_with_norms(
                F.col("vec"), F.col("avec"), F.col("cnrm"), F.col("anrm")
            ).alias("cos"),
        )
    )
    wk = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "a_id")
    top = scored.withColumn("rk", F.row_number().over(wk)).filter(
        F.col("rk") <= _KNN_K
    )
    votes = top.groupBy("vec_id", "true_label", "a_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("v"), "a_label")
    return (
        votes.withColumn("pr", F.row_number().over(wv))
        .filter(F.col("pr") == 1)
        .select(
            "vec_id",
            "true_label",
            F.col("a_label").alias("predicted"),
            (F.col("a_label") == F.col("true_label")).alias("correct"),
        )
        .sortWithinPartitions("vec_id")
    )


# --------------------------------------------------------------------------
# Linear-kernel MMD distribution shift between embedding groups — round 10
# --------------------------------------------------------------------------

_SQL_MMD_SHIFT = f"""
WITH x AS (
  SELECT label % 2 AS grp, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS xd
  FROM embeddings
),
mu AS (
  SELECT grp, dim, {SQL_DAVG.format(x='xd')} AS m
  FROM x GROUP BY grp, dim
),
n AS (
  SELECT CAST(count(*) FILTER (WHERE label % 2 = 0) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (WHERE label % 2 = 1) AS BIGINT) AS n_b
  FROM embeddings
),
d AS (
  SELECT a.dim, a.m - b.m AS dm
  FROM mu a JOIN mu b ON a.dim = b.dim AND a.grp = 0 AND b.grp = 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS dim,
         (CAST(SUM({sql_qlong('round(dm * dm, 9)', NANO, 'HUGEINT')})
               AS DOUBLE) / 1000000000.0) AS mmd2
  FROM d
)
SELECT n_a, n_b, dim, round(mmd2, 9) AS mmd2_linear,
       round(sqrt(mmd2), 9) AS mmd_linear
FROM agg CROSS JOIN n
"""


@register(
    "eval_embedding_mmd_shift",
    oracle=_SQL_MMD_SHIFT,
    tags=("eval", "embeddings", "mmd", "drift"),
)
def eval_embedding_mmd_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum Mean Discrepancy with the LINEAR kernel between two
    embedding populations (even vs odd labels): MMD^2 = ||mu_a - mu_b||^2
    — the kernel two-sample test of Gretton et al. specialized to the
    kernel whose mean embedding is just the mean vector, which turns the
    O(n^2) pairwise-kernel estimator into two group means. The
    embedding-space drift audit to pair with stats_wasserstein_binned
    (scalar distributions) and dq_psi_drift (binned categorical): run it
    between a training corpus and an incoming batch to detect
    representation shift before retraining.

    Exactness: per-dimension group means are quantized davg (identical
    doubles both engines); squared differences round to 9 dp and sum on
    the nano grid over the dim-cardinality frame.

    Scale shape: posexplode is map-side (dim x rows, no shuffle); ONE
    map-side-combined (grp, dim) hash agg — 2 x dim cells — and
    everything after lives on the dim-bounded frame. The full
    quadratic-kernel MMD at 100 TB samples instead; the linear-kernel
    form needs no sampling at any scale."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        (F.col("label") % 2).alias("grp"),
        F.posexplode(F.col("embedding")).alias("dim0", "xf"),
    ).select("grp", (F.col("dim0") + 1).alias("dim"), F.col("xf").cast("double").alias("xd"))
    mu = x.groupBy("grp", "dim").agg(davg(F.col("xd")).alias("m"))
    n = emb.agg(
        F.count(F.when(F.col("label") % 2 == 0, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(F.col("label") % 2 == 1, 1)).cast("bigint").alias("n_b"),
    )
    a = mu.filter(F.col("grp") == 0).select("dim", F.col("m").alias("ma"))
    b = mu.filter(F.col("grp") == 1).select("dim", F.col("m").alias("mb"))
    d = a.join(b, "dim").select((F.col("ma") - F.col("mb")).alias("dm"))
    agg = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("dim"),
        (
            F.sum(
                qlong(F.round(F.col("dm") * F.col("dm"), 9), NANO, "decimal(38,0)")
            ).cast("double")
            / F.lit(1e9)
        ).alias("mmd2"),
    )
    return agg.crossJoin(F.broadcast(n)).select(
        "n_a",
        "n_b",
        "dim",
        F.round("mmd2", 9).alias("mmd2_linear"),
        F.round(F.sqrt("mmd2"), 9).alias("mmd_linear"),
    )

"""Deterministic sampling, packing, and layout operators.

Consolidated in round 9 from the round-named catalog shards (the
original per-round files are in git history; entry source text is
unchanged). Every entry registers in REGISTRY with a DuckDB oracle
unless documented otherwise; reference parity citations live in the
entry docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import SQL_COS, _t, demo_guard, register
from .datapipe import sampling as smp
from .datapipe import text as tx
from .datapipe.hashing import hash60, sql_hash60
from .datapipe.sampling import RESOLUTION, _gate, sql_gate
from .datapipe.similarity import cosine, kcenter_select
from .datapipe.util import fan_out
from .functions.aggregates import NANO, qlong, sql_qlong, sql_wide_sum, wide_sum
from .functions.zorder import sql_zorder2, zorder2
from .operators.equidepth import bucket_by_cuts, equi_depth_cut_points, sql_cuts_ctes


_BUCKET_BOUNDS = (16, 32, 64, 128, 256, 512)
_CAPACITY = 512
def _bucket_spark(n: F.Column) -> F.Column:
    expr = F.lit(_CAPACITY)
    for b in reversed(_BUCKET_BOUNDS[:-1]):
        expr = F.when(n <= b, F.lit(b)).otherwise(expr)
    return expr
def _bucket_sql(n: str) -> str:
    case = "CASE "
    for b in _BUCKET_BOUNDS[:-1]:
        case += f"WHEN {n} <= {b} THEN {b} "
    return case + f"ELSE {_CAPACITY} END"
@register(
    "pack_sequences_bucketed",
    oracle=f"""
WITH sized AS (
  SELECT doc_id,
         least(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               t -> t != '')), {_CAPACITY}) AS n_tokens
  FROM documents
),
bucketed AS (
  SELECT doc_id, n_tokens, {_bucket_sql('n_tokens')} AS bucket FROM sized
),
placed AS (
  SELECT doc_id, n_tokens, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS rn
  FROM bucketed
)
SELECT doc_id, n_tokens, bucket,
       CAST(rn // ({_CAPACITY} // bucket) AS BIGINT) AS seq_id,
       CAST(rn % ({_CAPACITY} // bucket) AS BIGINT) AS slot
FROM placed
ORDER BY bucket, seq_id, slot
""",
    tags=("packing", "pipeline", "window"),
)
def pack_sequences_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed sequence packing — the pad-efficiency batching
    used by T5/fairseq-style training loaders: round each document's
    (capped) token count up to a power-of-two bucket, then pack
    ``capacity / bucket`` same-bucket documents per output sequence.
    Unlike greedy running-sum packing (pack_chunks_documents), bucket
    membership is row-local and the within-bucket placement is a plain
    rank — so the only shuffle is on the 6-value bucket key. At 100 TB
    the row_number per bucket becomes per-(bucket, shard) with a shard
    offset (exactly the pack_chunks shard pattern) — the docstring
    contract is the (bucket, seq, slot) assignment, which is
    shard-composable."""
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.least(tx.token_count_whitespace("text"), F.lit(_CAPACITY)).cast("int").alias("n_tokens"),
    )
    bucketed = sized.withColumn("bucket", _bucket_spark(F.col("n_tokens")))
    w = Window.partitionBy("bucket").orderBy("doc_id")
    # integer division throughout (capacity is a multiple of every
    # bucket) — double division would hit Spark-truncates vs
    # DuckDB-rounds cast divergence
    per_seq = (F.lit(_CAPACITY) / F.col("bucket")).cast("int")
    return (
        bucketed.withColumn("rn", F.row_number().over(w) - 1)
        .select(
            "doc_id",
            "n_tokens",
            "bucket",
            F.floor(F.col("rn") / per_seq).cast("bigint").alias("seq_id"),
            (F.col("rn") % per_seq).cast("bigint").alias("slot"),
        )
        .sortWithinPartitions("bucket", "seq_id", "slot")
    )


@register(
    "sample_weighted_reservoir",
    oracle=f"""
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
         round(-ln(({smp.sql_gate('doc_id', seed=11)} + 1) / {smp.RESOLUTION + 1}.0), 9)
           / n_chars AS es_key
  FROM documents
),
ranked AS (
  SELECT lang, doc_id, n_chars, es_key,
         row_number() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS pos
  FROM keyed
)
SELECT lang, doc_id, n_chars, pos FROM ranked WHERE pos <= 5
ORDER BY lang, pos
""",
    tags=("sampling", "weighted", "pipeline"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted k-per-group sampling via the Efraimidis-Spirakis
    exponential-key construction: key = -ln(u)/w with u a deterministic
    md5-derived uniform and w = n_chars; the k SMALLEST keys per language
    are a weighted-without-replacement sample (longer documents
    proportionally likelier). RNG-free — identical on any engine or
    partitioning — and one shuffle on the group key. The unweighted twin
    is sample_k_per_group; ln rounds at 9 dp (cross-libm parity), the
    division by the integer weight is then exact double arithmetic.
    At 100 TB: same map-only key computation; the per-group top-k
    replaces the window with a min_by(k) map-side combine."""
    docs = _t(spark, sf_dir, "documents")
    u = (smp._gate("doc_id", seed=11) + 1).cast("double") / F.lit(float(smp.RESOLUTION + 1))
    key = F.round(-F.log(u), 9) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= 5)
        .select("lang", "doc_id", "n_chars", "pos")
        .orderBy("lang", "pos")
    )


_Z_BITS = 10
_Z_BUCKET_SHIFT = 14  # 20-bit z >> 14 -> 64 layout buckets
@register(
    "layout_zorder_stats",
    oracle=f"""
WITH src AS (
  SELECT (o_custkey & {(1 << _Z_BITS) - 1}) AS xm,
         (CAST(floor(epoch(o_orderdate) / 86400.0) AS BIGINT)
            & {(1 << _Z_BITS) - 1}) AS ym,
         {sql_zorder2("o_custkey",
                      "CAST(floor(epoch(o_orderdate) / 86400.0) AS BIGINT)",
                      _Z_BITS)} AS z
  FROM orders
)
SELECT (z >> {_Z_BUCKET_SHIFT}) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(xm) AS x_min, max(xm) AS x_max,
       min(ym) AS y_min, max(ym) AS y_max
FROM src GROUP BY 1 ORDER BY bucket
""",
    tags=("layout", "zorder", "clustering"),
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day) plus
    the per-bucket min/max envelope a writer would persist as file
    stats. Interleaving makes each z-range bucket tight in BOTH
    dimensions at once, so `repartitionByRange(z).sortWithinPartitions
    (z)` + parquet min/max gives file-level pruning for predicates on
    EITHER column — the Delta/Iceberg OPTIMIZE ZORDER layout, here as a
    pure loop-unrolled shift/or expression (whole-stage codegen, no
    UDF). The returned envelope widths are the evidence: bucket spans
    cover ~1/8 of each dimension's masked range rather than all of it.
    test_r3b verifies the pruning claim directly on a range-partitioned
    write."""
    x = F.col("o_custkey")
    y = F.floor(F.col("o_orderdate").cast("double") / 86400.0).cast("bigint")
    mask = (1 << _Z_BITS) - 1
    src = _t(spark, sf_dir, "orders").select(
        x.bitwiseAND(F.lit(mask)).alias("xm"),
        y.bitwiseAND(F.lit(mask)).alias("ym"),
        zorder2(x, y, bits=_Z_BITS).alias("z"),
    )
    return (
        src.groupBy(F.shiftright(F.col("z"), _Z_BUCKET_SHIFT).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("xm").alias("x_min"),
            F.max("xm").alias("x_max"),
            F.min("ym").alias("y_min"),
            F.max("ym").alias("y_max"),
        )
        .orderBy("bucket")
    )


@register(
    "sample_balanced_classes",
    oracle=f"""
WITH counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
tgt AS (SELECT min(n) AS target FROM counts),
gated AS (
  SELECT d.lang,
         (({sql_hash60("'bal|' || CAST(doc_id AS VARCHAR)")}) % 1000000)
           * c.n < t.target * 1000000 AS keep
  FROM documents d JOIN counts c USING (lang) CROSS JOIN tgt t
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_after
FROM gated GROUP BY lang ORDER BY lang
""",
    tags=("sampling", "class-balance", "ml-prep"),
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language class is gated to
    ~the minority-class size with a deterministic integer Bernoulli
    gate — keep iff (hash60(doc) mod 1e6) · n_class < target · 1e6, an
    ALL-INTEGER inequality (no float rate, no RNG), so the selected set
    is reproducible row-for-row across runs, partitionings, and
    engines. Class counts broadcast; the gate is map-only. This is the
    imbalance-correction step before classifier training, the
    per-class generalization of the hash-gate sampler
    (sample_hash_documents)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tgt = counts.agg(F.min("n").alias("target"))
    u = hash60(F.concat(F.lit("bal|"), F.col("doc_id").cast("string"))) % F.lit(
        1_000_000
    )
    gated = (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(tgt))
        .select("lang", (u * F.col("n") < F.col("target") * 1_000_000).alias("keep"))
    )
    return (
        gated.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_after"),
        )
        .orderBy("lang")
    )


_EPOCH_SEED = 11
def _sql_epoch_upsample() -> str:
    gate = sql_gate("doc_id", seed=_EPOCH_SEED, salt="epoch")
    return f"""
WITH d AS (
  SELECT doc_id, source,
         (250000 + (CAST(substring(source, 4, 10) AS INT) % 7) * 500000) AS w_ppm,
         {gate} AS gate
  FROM documents
),
c AS (
  SELECT doc_id, source,
         CAST(w_ppm // {RESOLUTION}
              + CASE WHEN gate < w_ppm % {RESOLUTION} THEN 1 ELSE 0 END
            AS BIGINT) AS n_copies
  FROM d
)
SELECT doc_id, source, n_copies,
       unnest(range(1, n_copies + 1)) AS copy_id
FROM c WHERE n_copies >= 1
ORDER BY doc_id, copy_id
"""
@register(
    "sample_epoch_upsample",
    oracle=_sql_epoch_upsample(),
    tags=("sampling", "mixing", "epochs"),
)
def sample_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware fractional upsampling — the training-mix operator for
    per-source epoch counts > 1 (e.g. wiki x2.5, books x0.25): every doc
    gets floor(w) full copies plus one more iff its deterministic hash
    gate lands under frac(w). Weights are carried as integer ppm
    (w_ppm = 250000 + (source#, mod 7) * 500000 — derived, not a 20-arm
    literal table), so the gate compare is pure int arithmetic: exactly
    reproducible, subset-stable, no RNG, identical in both engines.
    Copies materialize via explode(sequence(1, n)) — map-only, no
    shuffle, no driver loop; at 100 TB the output is written straight to
    the shuffle-free sink and the expected blow-up is Σ w_s · |s|."""
    docs = _t(spark, sf_dir, "documents")
    w_ppm = (
        F.lit(250000)
        + (F.substring("source", 4, 10).cast("int") % 7) * F.lit(500000)
    )
    gate = _gate("doc_id", seed=_EPOCH_SEED, salt="epoch")
    n_copies = (
        F.floor(w_ppm / F.lit(RESOLUTION))
        + F.when(gate < w_ppm % F.lit(RESOLUTION), 1).otherwise(0)
    ).cast("bigint")
    return (
        docs.select("doc_id", "source", n_copies.alias("n_copies"))
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            "n_copies",
            F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("n_copies"))).alias(
                "copy_id"
            ),
        )
        .sortWithinPartitions("doc_id", "copy_id")
    )


_KC_K = 8
def _sql_kcenter() -> str:
    def qdist(v: str, c: str) -> str:
        d = f"(CAST({v}[i] AS DOUBLE) - CAST({c}[i] AS DOUBLE))"
        return (
            f"CAST(list_sum(list_transform(range(1, len({v}) + 1), "
            f"i -> {sql_qlong(f'{d} * {d}', NANO)})) AS BIGINT)"
        )

    parts = [
        "WITH x AS (SELECT vec_id AS pid, embedding AS vec FROM embeddings)",
        "s0 AS (SELECT min(pid) AS sid FROM x)",
        "c0 AS (SELECT vec AS cv FROM x, s0 WHERE pid = sid)",
        f"m0 AS (SELECT pid, vec, {qdist('vec', 'cv')} AS mind, 0 AS arank FROM x, c0)",
    ]
    for i in range(1, _KC_K):
        p = f"p{i}"
        parts.append(
            f"{p} AS (SELECT pid AS sid, mind AS chosen FROM m{i-1}"
            f" ORDER BY mind DESC, pid LIMIT 1)"
        )
        parts.append(f"c{i} AS (SELECT vec AS cv FROM x, {p} WHERE pid = sid)")
        parts.append(
            f"m{i} AS (SELECT m.pid, m.vec,"
            f" CASE WHEN d.nd < m.mind THEN d.nd ELSE m.mind END AS mind,"
            f" CASE WHEN d.nd < m.mind THEN {i} ELSE m.arank END AS arank"
            f" FROM m{i-1} m JOIN (SELECT pid, {qdist('vec', 'cv')} AS nd"
            f" FROM x, c{i}) d USING (pid))"
        )
    sel_rows = ["SELECT 0 AS rank, (SELECT sid FROM s0) AS pid, CAST(0 AS BIGINT) AS chosen_dq"]
    for i in range(1, _KC_K):
        sel_rows.append(
            f"SELECT {i}, (SELECT sid FROM p{i}), CAST((SELECT chosen FROM p{i}) AS BIGINT)"
        )
    parts.append("sel AS (" + "\nUNION ALL\n".join(sel_rows) + ")")
    parts.append(
        f"st AS (SELECT arank, CAST(count(*) AS BIGINT) AS n_assigned,"
        f" CAST(max(mind) AS BIGINT) AS max_radius_q FROM m{_KC_K - 1} GROUP BY arank)"
    )
    body = ",\n".join(parts)
    return f"""
{body}
SELECT sel.rank, sel.pid AS vec_id, sel.chosen_dq,
       CAST(coalesce(st.n_assigned, 0) AS BIGINT) AS n_assigned,
       CAST(coalesce(st.max_radius_q, 0) AS BIGINT) AS max_radius_q
FROM sel LEFT JOIN st ON sel.rank = st.arank
ORDER BY sel.rank
"""
@register(
    "sample_kcenter_coreset",
    oracle=_sql_kcenter(),
    tags=("sampling", "coreset", "embeddings", "pruning"),
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embeddings (Gonzalez
    2-approximation — the geometric data-pruning selector: pick the
    point farthest from everything picked so far, k times). The Spark
    loop is k map-only distance passes with 1-row argmax collects (the
    kmeans_cells / MLlib shape); distances are per-term nano-quantized
    integer sums, argmax ties break on vec_id, and reassignment needs
    STRICT improvement — so the DuckDB oracle replays the identical
    8-step trajectory as unrolled CTEs and every row hash-matches. The
    output is the coverage audit: each center with its selection
    distance, assigned-cell size, and cell radius."""
    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_select(emb, "vec_id", "embedding", k=_KC_K)


_HN_QUERIES = 20
_HN_K = 3
_SQL_HARD_NEG = f"""
WITH q AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS qvec
  FROM embeddings WHERE vec_id < {_HN_QUERIES}
),
scored AS (
  SELECT q.q_id, q.q_label, e.vec_id AS neg_id, e.label AS neg_label,
         {SQL_COS.format(a='q.qvec', b='e.embedding')} AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.label != q.q_label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neg_id) AS rank
  FROM scored
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, neg_id, cos,
       CAST(q_label AS BIGINT) AS q_label, CAST(neg_label AS BIGINT) AS neg_label
FROM ranked WHERE rank <= {_HN_K}
ORDER BY q_id, rank
"""
@register(
    "sample_hard_negatives",
    oracle=_SQL_HARD_NEG,
    tags=("sampling", "similarity", "ml"),
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each anchor embedding, the top-k most
    similar vectors with a DIFFERENT label — the batch-construction step
    that makes contrastive/triplet training converge (easy negatives
    carry no gradient). Scoring is anchor-broadcast over the corpus with
    the label-mismatch filter applied before ranking; ranking is a
    per-anchor window over (cos desc, id). The scalable variant mines
    within IVF cells (similarity.py) — the top-k contract is unchanged.
    Cosines live on the catalog's shared 9 dp grid."""
    emb = _t(spark, sf_dir, "embeddings")
    vecd = F.transform("embedding", lambda x: x.cast("double"))
    q = emb.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        vecd.alias("qvec"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        vecd.alias("nvec"),
    )
    scored = (
        fan_out(corpus)
        .crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("q_label"))
        .select(
            "q_id",
            "q_label",
            "neg_id",
            "neg_label",
            cosine(F.col("qvec"), F.col("nvec")).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neg_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _HN_K)
        .select(
            "q_id",
            "rank",
            "neg_id",
            "cos",
            F.col("q_label").cast("bigint").alias("q_label"),
            F.col("neg_label").cast("bigint").alias("neg_label"),
        )
        .orderBy("q_id", "rank")
    )


_CURR_PHASES = 3
_CURR_SEED = 7
def _sql_curriculum() -> str:
    toks = tx.sql_tokens("text")
    h = sql_hash60("CAST(doc_id AS VARCHAR)", seed=_CURR_SEED)
    return f"""
WITH scored AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens,
         ({h}) AS shuffle_key
  FROM documents
),
phased AS (
  SELECT doc_id, n_tokens, shuffle_key,
         ntile({_CURR_PHASES}) OVER (ORDER BY n_tokens, doc_id) AS phase
  FROM scored
)
SELECT doc_id, n_tokens, CAST(phase AS BIGINT) AS phase,
       CAST(row_number() OVER (PARTITION BY phase ORDER BY shuffle_key, doc_id)
            AS BIGINT) AS order_in_phase
FROM phased ORDER BY phase, order_in_phase
"""
@register(
    "sample_curriculum_order",
    oracle=_sql_curriculum(),
    tags=("sampling", "training", "curriculum"),
)
def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction for training: docs split into
    {_CURR_PHASES} difficulty phases (shortest-first — the
    length-as-difficulty proxy of published curricula) over the
    (n_tokens, doc_id) total order, then DETERMINISTICALLY shuffled
    within each phase by a seeded md5 key — reproducible epoch order
    with no RNG, the same hash-gate discipline as split_train_eval.
    Output: (doc, phase, position) — exactly what a data loader consumes.
    One window pass; per-phase shuffle keys are ints. The phase ntile
    is a total order over docs — at 100 TB phase boundaries come from
    operators/equidepth.py cut points on n_tokens instead (the
    histogram_equi_depth_cuts discipline), keeping assignment
    map-only; the demo_guard refuses inputs past the cap with that
    pointer."""
    docs = demo_guard(
        _t(spark, sf_dir, "documents"),
        "sample_curriculum_order",
        "equi-depth n_tokens cut points (operators/equidepth.py)",
    )
    scored = docs.select(
        "doc_id",
        F.size(tx.tokens("text")).cast("bigint").alias("n_tokens"),
        hash60(F.col("doc_id").cast("string"), seed=_CURR_SEED).alias("shuffle_key"),
    )
    phased = scored.withColumn(
        "phase",
        F.ntile(_CURR_PHASES).over(Window.orderBy("n_tokens", "doc_id")).cast("bigint"),
    )
    wp = Window.partitionBy("phase").orderBy("shuffle_key", "doc_id")
    return (
        phased.select(
            "doc_id",
            "n_tokens",
            "phase",
            F.row_number().over(wp).cast("bigint").alias("order_in_phase"),
        )
        .sortWithinPartitions("phase", "order_in_phase")
    )


_N_SHARDS = 8
def _sql_equal_token_shards() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH d AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens FROM documents
),
{sql_cuts_ctes("d", "doc_id", _N_SHARDS, weight_sql="n_tokens")},
cl AS (SELECT coalesce(list(c ORDER BY b), []) AS cs FROM cuts),
sharded AS (
  SELECT doc_id, n_tokens,
         1 + len(list_filter(cl.cs, x -> doc_id > x)) AS shard
  FROM d, cl
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM sharded GROUP BY 1 ORDER BY 1
"""
@register(
    "pack_equal_token_shards",
    oracle=_sql_equal_token_shards(),
    tags=("packing", "sharding", "equidepth", "scale"),
)
def pack_equal_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic equal-WORK corpus sharding: split the doc_id-ordered
    corpus into {_N_SHARDS} contiguous shards of near-equal TOTAL TOKEN
    count — the planning step before writing balanced training shards
    (equal docs-per-shard skews badly when document length does; equal
    tokens is what makes every downstream trainer/tokenizer task finish
    together). Shard boundary b is the smallest doc_id whose cumulative
    token mass reaches ceil(b*W/{_N_SHARDS}) — the WEIGHTED form of the
    round-4 percentile-cut machinery (weight = per-doc token count;
    same distributed prefix sum, same exact integer targets), then a
    map-only doc_id-vs-boundary comparison any writer task can apply
    independently. Contiguity in doc_id keeps shard assignment stable
    under re-runs and appends of higher ids — the property hash-mod
    sharding lacks."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(tx.tokens("text")).cast("bigint").alias("n_tokens")
    ).localCheckpoint(eager=True)  # tokenization feeds the cut pass and the stats pass
    cuts = equi_depth_cut_points(
        d, F.col("doc_id"), _N_SHARDS, weight=F.col("n_tokens")
    )
    return (
        d.select(
            "doc_id",
            "n_tokens",
            bucket_by_cuts(F.col("doc_id"), cuts).alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard")
    )


_SW_W = 64  # window size (tokens)
_SW_S = 48  # stride (=> 16-token overlap)
def _sql_sliding_windows() -> str:
    toks = tx.sql_tokens("text")
    w, s = _SW_W, _SW_S
    return f"""
WITH t AS (
  SELECT doc_id, toks, len(toks) AS n
  FROM (SELECT doc_id, {toks} AS toks FROM documents)
  WHERE len(toks) >= 1
),
st AS (
  SELECT doc_id, toks, n,
         list_sort(list_distinct(list_append(
           generate_series(1, greatest(1, n - {w - 1}), {s}),
           greatest(1, n - {w - 1})))) AS starts
  FROM t
),
ex AS (
  SELECT doc_id, toks, n, unnest(starts) AS start_tok FROM st
),
win AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
              AS BIGINT) AS window_seq,
         CAST(start_tok AS BIGINT) AS start_tok,
         CAST(least(start_tok + {w - 1}, n) - start_tok + 1 AS BIGINT)
           AS n_window_tokens,
         md5(array_to_string(
           list_slice(toks, start_tok, least(start_tok + {w - 1}, n)), ' '))
           AS fingerprint
  FROM ex
)
SELECT doc_id, window_seq, start_tok, n_window_tokens, fingerprint
FROM win ORDER BY doc_id, window_seq
"""
@register(
    "pack_sliding_windows",
    oracle=_sql_sliding_windows(),
    tags=("packing", "chunking", "pretraining", "tokens"),
)
def pack_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided sliding-window chunking — the standard pretraining
    context-window layout (GPT-2's 1024-stride-512 shape, here W=64 /
    S=48, i.e. 16-token overlap so no span is ever split across a
    window boundary without also appearing whole in a neighbor): window
    starts are the arithmetic sequence 1, 1+S, ... capped at n−W+1,
    plus the tail-anchored start n−W+1 so the final window always ends
    exactly at the last token. Complements ``pack_chunks_documents``
    (cross-document stream chunking) with the WITHIN-document form.

    Entirely row-local (the 100 TB shape: map-only explode, no shuffle
    until the output sort): token array projected once per row, start
    list built by an integer sequence, each window sliced from the
    array and fingerprinted with md5 over the space-joined tokens —
    the fingerprint makes the window content itself hash-checked, not
    just its geometry. Short docs (n < W) yield exactly one window
    [1..n] on both engines."""
    docs = _t(spark, sf_dir, "documents")
    w, s = _SW_W, _SW_S
    base = docs.select("doc_id", tx.tokens("text").alias("toks")).withColumn(
        "n", F.size("toks")
    ).filter(F.col("n") >= 1)
    tail = F.greatest(F.lit(1), F.col("n") - (w - 1))
    starts = F.array_sort(
        F.array_union(F.sequence(F.lit(1), tail, F.lit(s)), F.array(tail))
    )
    ex = base.select(
        "doc_id",
        "toks",
        "n",
        F.posexplode(starts).alias("pos0", "start_tok"),
    )
    end = F.least(F.col("start_tok") + (w - 1), F.col("n"))
    win = F.slice(F.col("toks"), F.col("start_tok"), end - F.col("start_tok") + 1)
    return (
        ex.select(
            "doc_id",
            (F.col("pos0") + 1).cast("bigint").alias("window_seq"),
            F.col("start_tok").cast("bigint").alias("start_tok"),
            (end - F.col("start_tok") + 1).cast("bigint").alias("n_window_tokens"),
            F.md5(F.concat_ws(" ", win)).alias("fingerprint"),
        )
        .sortWithinPartitions("doc_id", "window_seq")
    )


_ZM_ZONES = 64
# (predicate id, lo, hi) — NULL bound = unbounded. Literal date ranges
# mirror the min/max zone-map test a parquet reader runs per row group.
_ZM_PREDICATES = [
    ("recent_years", "2000-01-01", None),
    ("first_year", None, "1995-12-31"),
    ("mid_1998_quarter", "1998-04-01", "1998-06-30"),
]
def _sql_zone_maps() -> str:
    preds = ", ".join(
        f"('{pid}', "
        + (f"DATE '{lo}'" if lo else "NULL")
        + ", "
        + (f"DATE '{hi}'" if hi else "NULL")
        + ")"
        for pid, lo, hi in _ZM_PREDICATES
    )
    return f"""
WITH src AS (
  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS d FROM lineitem
),
bounds AS (
  SELECT CAST(min(l_orderkey) AS BIGINT) AS klo,
         CAST(max(l_orderkey) AS BIGINT) AS khi,
         min(d) AS dlo, max(d) AS dhi
  FROM src
),
zoned AS (
  SELECT 'natural' AS layout,
         CAST(least(CAST(floor((s.l_orderkey - b.klo) * {_ZM_ZONES}.0
                               / (b.khi - b.klo + 1)) AS BIGINT),
                    {_ZM_ZONES - 1}) AS BIGINT) AS zone,
         s.d
  FROM src s, bounds b
  UNION ALL
  SELECT 'clustered' AS layout,
         CAST(least(CAST(floor((s.d - b.dlo) * {_ZM_ZONES}.0
                               / (b.dhi - b.dlo + 1)) AS BIGINT),
                    {_ZM_ZONES - 1}) AS BIGINT) AS zone,
         s.d
  FROM src s, bounds b
),
zones AS (
  SELECT layout, zone, CAST(count(*) AS BIGINT) AS n_rows,
         min(d) AS zmin, max(d) AS zmax
  FROM zoned GROUP BY 1, 2
),
preds(pid, lo, hi) AS (VALUES {preds}),
eval AS (
  SELECT z.layout, p.pid, z.n_rows,
         CASE WHEN (p.lo IS NOT NULL AND z.zmax < p.lo)
                OR (p.hi IS NOT NULL AND z.zmin > p.hi)
              THEN 1 ELSE 0 END AS pruned
  FROM zones z CROSS JOIN preds p
)
SELECT layout, pid AS predicate,
       CAST(count(*) AS BIGINT) AS zones_total,
       CAST(sum(pruned) AS BIGINT) AS zones_pruned,
       CAST(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_skipped,
       round(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END)
             / CAST(sum(n_rows) AS DOUBLE), 9) AS skip_fraction
FROM eval GROUP BY 1, 2 ORDER BY 1, 2
"""
@register(
    "stats_zone_map_pruning",
    oracle=_sql_zone_maps(),
    tags=("layout", "systems", "pruning", "zone-map"),
)
def stats_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max rowgroup statistics) pruning effectiveness for
    date predicates under two physical layouts: 'natural' (zones = 64
    equal-width l_orderkey ranges — insertion order) vs 'clustered'
    (zones = 64 equal-width l_shipdate ranges — the layout a
    sort/cluster-by-shipdate write produces). For each literal
    predicate, a zone is skippable iff zone_max < lo or zone_min > hi —
    EXACTLY the test a parquet reader runs against rowgroup stats, so
    skip_fraction is the scan-cost reduction data clustering buys. On
    TPC-H-shaped data the natural layout prunes ~nothing (shipdate is
    uncorrelated with orderkey) while the clustered layout prunes
    nearly 1 - selectivity — the quantified argument for Z-ORDER /
    cluster-by maintenance jobs (`layout_zorder_stats`' companion).

    Exactness: zone ids are integer-floor bucket arithmetic over the
    broadcast 1-row corpus bounds; zone stats are exact (count,
    min-date, max-date); the predicate table is a literal VALUES spine.
    Scale shape: one map-only zone assignment per layout + one
    map-side-combined groupBy to the 128-row zone frame; every
    downstream frame is (zones x predicates)-sized."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("d")
    )
    bounds = li.agg(
        F.min("l_orderkey").cast("bigint").alias("klo"),
        F.max("l_orderkey").cast("bigint").alias("khi"),
        F.min("d").alias("dlo"),
        F.max("d").alias("dhi"),
    )
    src = li.crossJoin(F.broadcast(bounds))
    natural = src.select(
        F.lit("natural").alias("layout"),
        F.least(
            F.floor(
                (F.col("l_orderkey") - F.col("klo"))
                * float(_ZM_ZONES)
                / (F.col("khi") - F.col("klo") + 1)
            ).cast("bigint"),
            F.lit(_ZM_ZONES - 1),
        )
        .cast("bigint")
        .alias("zone"),
        "d",
    )
    clustered = src.select(
        F.lit("clustered").alias("layout"),
        F.least(
            F.floor(
                F.datediff(F.col("d"), F.col("dlo"))
                * float(_ZM_ZONES)
                / (F.datediff(F.col("dhi"), F.col("dlo")) + 1)
            ).cast("bigint"),
            F.lit(_ZM_ZONES - 1),
        )
        .cast("bigint")
        .alias("zone"),
        "d",
    )
    zones = (
        natural.unionAll(clustered)
        .groupBy("layout", "zone")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("d").alias("zmin"),
            F.max("d").alias("zmax"),
        )
    )
    preds = spark.createDataFrame(
        [
            (pid, lo, hi)
            for pid, lo, hi in _ZM_PREDICATES
        ],
        "pid STRING, lo STRING, hi STRING",
    ).select(
        "pid", F.col("lo").cast("date").alias("lo"), F.col("hi").cast("date").alias("hi")
    )
    ev = zones.crossJoin(F.broadcast(preds)).select(
        "layout",
        "pid",
        "n_rows",
        F.when(
            (F.col("lo").isNotNull() & (F.col("zmax") < F.col("lo")))
            | (F.col("hi").isNotNull() & (F.col("zmin") > F.col("hi"))),
            1,
        )
        .otherwise(0)
        .alias("pruned"),
    )
    return (
        ev.groupBy("layout", F.col("pid").alias("predicate"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("zones_total"),
            F.sum("pruned").cast("bigint").alias("zones_pruned"),
            F.sum(F.when(F.col("pruned") == 1, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_skipped"),
            F.round(
                F.sum(F.when(F.col("pruned") == 1, F.col("n_rows")).otherwise(0))
                / F.sum("n_rows").cast("double"),
                9,
            ).alias("skip_fraction"),
        )
        .orderBy("layout", "predicate")
    )


_NEYMAN_BUDGET = 100
_NEYMAN_SEED = 31
def _sql_neyman() -> str:
    from .datapipe.hashing import sql_hash60

    h = sql_hash60("doc_id::VARCHAR", seed=_NEYMAN_SEED)
    return f"""
WITH s AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_h,
         CASE WHEN count(*) < 2 THEN 0.0 ELSE
         sqrt((CAST({sql_wide_sum('n_chars', 'n_chars')} AS DOUBLE)
               - count(*) * (CAST({sql_wide_sum('n_chars')} AS DOUBLE)
                             / count(*))
                          * (CAST({sql_wide_sum('n_chars')} AS DOUBLE)
                             / count(*)))
              / (count(*) - 1)) END AS sigma_h
  FROM documents GROUP BY 1
),
w AS (SELECT CAST(sum(n_h * sigma_h) AS DOUBLE) AS wt FROM s),
alloc AS (
  SELECT lang, n_h, sigma_h,
         CAST(round({_NEYMAN_BUDGET} * (n_h * sigma_h) / wt) AS BIGINT)
           AS alloc_h
  FROM s CROSS JOIN w
),
ranked AS (
  SELECT d.doc_id, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY {h}, d.doc_id) AS r
  FROM documents d
)
SELECT ranked.doc_id, ranked.lang, a.n_h,
       round(a.sigma_h, 6) AS sigma_h, a.alloc_h
FROM ranked JOIN alloc a USING (lang)
WHERE ranked.r <= a.alloc_h
ORDER BY ranked.lang, ranked.doc_id
"""
@register(
    "sample_stratified_neyman",
    oracle=_sql_neyman(),
    tags=("sampling", "stratified", "neyman", "datapipe"),
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sample of the document corpus:
    the 100-doc budget splits across language strata PROPORTIONAL TO
    N_h·σ_h (σ of n_chars per stratum) — the variance-optimal
    allocation for estimating a corpus mean, vs
    ``sample_stratified_lang``'s proportional allocation (which
    over-samples homogeneous strata). Selection within a stratum is
    the catalog's RNG-free gate: rank by seeded md5 of doc_id, take
    the first alloc_h — deterministic, reproducible, and exactly-k per
    stratum. Rounded allocations may sum to budget±(strata/2) — the
    standard largest-remainder caveat, left unadjusted for parity.

    Exactness: stratum moments from exact DECIMAL integer sums; the
    allocation rounds the same double on both engines; ranks order by
    exact 60-bit integers with a doc_id tiebreak.

    Scale shape: one map-side-combined stratum groupBy (strata-sized
    frame), the 1-row allocation-denominator broadcast, and ONE
    per-stratum rank window (partitioned — no global sort; a stratum's
    rank stream is a top-alloc_h selection at 100 TB, swappable for a
    per-group TakeOrdered when strata skew)."""
    from pyspark.sql import Window

    from .datapipe.hashing import hash60

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # singleton-stratum guard: count-1 == 0 would make the
    # sample variance NULL in Spark but inf/raise in DuckDB; both
    # engines pin sigma_h = 0 for n_h < 2 (the stratum then draws a
    # zero Neyman allocation, the natural reading: no measurable
    # within-stratum variance).
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.when(F.count(F.lit(1)) < 2, F.lit(0.0))
        .otherwise(
            F.sqrt(
                (
                    wide_sum("n_chars", "n_chars").cast("double")
                    - F.count(F.lit(1))
                    * (wide_sum("n_chars").cast("double") / F.count(F.lit(1)))
                    * (wide_sum("n_chars").cast("double") / F.count(F.lit(1)))
                )
                / (F.count(F.lit(1)) - 1)
            )
        )
        .alias("sigma_h"),
    )
    w = s.agg(F.sum(F.col("n_h") * F.col("sigma_h")).cast("double").alias("wt"))
    alloc = s.crossJoin(F.broadcast(w)).select(
        "lang",
        "n_h",
        "sigma_h",
        F.round(F.lit(_NEYMAN_BUDGET) * (F.col("n_h") * F.col("sigma_h")) / F.col("wt"))
        .cast("bigint")
        .alias("alloc_h"),
    )
    wr = Window.partitionBy("lang").orderBy(
        hash60(F.col("doc_id").cast("string"), seed=_NEYMAN_SEED), "doc_id"
    )
    ranked = d.select("doc_id", "lang", F.row_number().over(wr).alias("r"))
    return (
        ranked.join(F.broadcast(alloc), "lang")
        .where(F.col("r") <= F.col("alloc_h"))
        .select(
            "doc_id",
            "lang",
            "n_h",
            F.round("sigma_h", 6).alias("sigma_h"),
            "alloc_h",
        )
        .orderBy("lang", "doc_id")
    )


_TRUNC_BUDGET = 64
_TRUNC_HEAD = 48  # tail keeps BUDGET - HEAD = 16
def _sql_trunc() -> str:
    toks = tx.sql_tokens("text")
    tail = _TRUNC_BUDGET - _TRUNC_HEAD
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
k AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) <= {_TRUNC_BUDGET} THEN toks
              ELSE list_concat(toks[1:{_TRUNC_HEAD}],
                               toks[len(toks) - {tail} + 1:len(toks)])
         END AS kept
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(len(kept) AS BIGINT) AS kept_tokens,
       (n_tokens > {_TRUNC_BUDGET}) AS truncated,
       md5(array_to_string(kept, ' ')) AS kept_digest
FROM k ORDER BY doc_id
"""
@register(
    "pack_token_budget_truncation",
    oracle=_sql_trunc(),
    tags=("packing", "truncation", "datapipe"),
)
def pack_token_budget_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Middle-out truncation to a 64-token budget: documents over
    budget keep their first 48 and last 16 tokens (head carries the
    thesis, tail the conclusion — the 'middle truncation' long-context
    heuristic, vs naive head-only truncation that loses endings) — the
    map-only packing step that runs BEFORE ``pack_chunks_documents``
    when a pipeline caps per-example length instead of chunking. The
    kept sequence is pinned by an md5 digest of the re-joined tokens,
    so the oracle verifies the exact token LIST, not just its length.

    Exactness: token slices are 1-indexed closed ranges on identical
    whitespace tokenizations; the digest hashes the identical joined
    string.

    Scale shape: pure map work, one row per document, text never
    shuffles (the output carries counts and a 16-byte digest)."""
    tail = _TRUNC_BUDGET - _TRUNC_HEAD
    t = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.tokens("text").alias("toks")
    )
    n = F.size("toks")
    kept = F.when(n <= _TRUNC_BUDGET, F.col("toks")).otherwise(
        F.concat(
            F.slice(F.col("toks"), 1, _TRUNC_HEAD),
            F.slice(F.col("toks"), -tail, tail),
        )
    )
    k = t.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        kept.alias("kept"),
    )
    return k.select(
        "doc_id",
        "n_tokens",
        F.size("kept").cast("bigint").alias("kept_tokens"),
        (F.col("n_tokens") > _TRUNC_BUDGET).alias("truncated"),
        F.md5(F.encode(F.array_join("kept", " "), "UTF-8")).alias("kept_digest"),
    ).sortWithinPartitions("doc_id")


_PPS_K = 50  # systematic picks
def _sql_pps() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents WHERE n_chars > 0
),
cum AS (
  SELECT doc_id, wt,
         CAST(sum(wt) OVER (ORDER BY doc_id) AS BIGINT) AS c
  FROM w
),
tot AS (SELECT CAST(sum(wt) AS BIGINT) AS t FROM w),
hits AS (
  SELECT doc_id, wt, c,
         (CASE WHEN 2 * {_PPS_K} * c >= t
               THEN (2 * {_PPS_K} * c - t) // (2 * t) + 1 ELSE 0 END)
         - (CASE WHEN 2 * {_PPS_K} * (c - wt) >= t
                 THEN (2 * {_PPS_K} * (c - wt) - t) // (2 * t) + 1 ELSE 0 END)
           AS n_hits
  FROM cum, tot
)
SELECT doc_id, wt AS n_chars, CAST(n_hits AS BIGINT) AS n_hits
FROM hits WHERE n_hits > 0
ORDER BY doc_id
"""
@register(
    "sample_pps_systematic",
    oracle=_sql_pps(),
    tags=("sampling", "pps", "systematic", "datapipe"),
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample (probability proportional to size) of the
    document corpus, 50 picks weighted by n_chars: selection points sit
    at (2j+1)·T/(2k) along the cumulative-weight axis, and a document
    is selected once per point its weight interval covers — the
    classical survey-sampling design (large docs can be hit twice,
    which IS pps-with-replacement's multiplicity) and the equal-WORK
    sampler for inspection pipelines where a doc's review cost scales
    with its length. Entirely RNG-free and exact: the usual 'random
    start' is pinned at the half-interval offset, and hit counts are
    pure integer arithmetic — #points ≤ x is ((2kx − T) div 2T) + 1 —
    so no float ever decides a membership.

    Scale shape: the cumulative weight is the distributed prefix sum
    (range partition by doc_id — the equidepth machinery's shape, here
    via the oracle-matching window over the doc frame at this SF, with
    `value_counts_cum` as the documented 100 TB swap-in); hit counting
    is map-only integer math; no joins beyond the 1-row total
    broadcast."""
    from pyspark.sql import Window

    w = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select("doc_id", F.col("n_chars").cast("bigint").alias("wt"))
    )
    cum = w.select(
        "doc_id",
        "wt",
        F.sum("wt")
        .over(
            Window.orderBy("doc_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("bigint")
        .alias("c"),
    )
    tot = w.agg(F.sum("wt").cast("bigint").alias("t"))

    two_t = 2 * F.col("t")

    def npts(x):
        # #selection points at or below x: ((2kx - T) floor-div 2T) + 1
        # when 2kx >= T, else 0. EXACT integer floor division — a double
        # floor(a/b) misfloors once operands pass 2^53, so divide the
        # pmod-aligned numerator as DECIMAL (exactly divisible, so the
        # truncating cast is the floor).
        num = F.lit(2 * _PPS_K) * x - F.col("t")
        aligned = (num - F.pmod(num, two_t)).cast("decimal(38,0)")
        q = (aligned / two_t.cast("decimal(38,0)")).cast("bigint")
        return F.when(F.lit(2 * _PPS_K) * x >= F.col("t"), q + 1).otherwise(0)

    hi = npts(F.col("c"))
    lo = npts(F.col("c") - F.col("wt"))
    hits = cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        F.col("wt").alias("n_chars"),
        (hi - lo).cast("bigint").alias("n_hits"),
    )
    return hits.where(F.col("n_hits") > 0).orderBy("doc_id")


# --------------------------------------------------------------------------
# Iterative proportional fitting (survey raking) — round 9
# --------------------------------------------------------------------------

_IPF_ROUNDS = 3


def _sql_ipf() -> str:
    head = """
WITH cust AS (
  SELECT r.r_name AS i, c.c_mktsegment AS j
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
o AS MATERIALIZED (
  SELECT i, j, CAST(count(*) AS DOUBLE) AS w FROM cust GROUP BY 1, 2
),
rt AS MATERIALIZED (SELECT i, CAST(count(*) AS BIGINT) AS ri FROM cust GROUP BY 1),
ct AS MATERIALIZED (
  SELECT CAST(count(*) AS DOUBLE)
         / (SELECT count(DISTINCT j) FROM o) AS cj
  FROM cust
),
w0 AS MATERIALIZED (SELECT i, j, w FROM o)"""
    its = []
    for k in range(_IPF_ROUNDS):
        its.append(
            f""",
r{k}s AS MATERIALIZED (
  SELECT i, CAST(sum({sql_qlong('w', NANO, 'HUGEINT')}) AS DOUBLE) / 1e9 AS s
  FROM w{k} GROUP BY i
),
w{k}r AS MATERIALIZED (
  SELECT w.i, w.j, round(w.w * rt.ri / s.s, 9) AS w
  FROM w{k} w JOIN r{k}s s USING (i) JOIN rt USING (i)
),
c{k}s AS MATERIALIZED (
  SELECT j, CAST(sum({sql_qlong('w', NANO, 'HUGEINT')}) AS DOUBLE) / 1e9 AS s
  FROM w{k}r GROUP BY j
),
w{k + 1} AS MATERIALIZED (
  SELECT w.i, w.j, round(w.w * (SELECT cj FROM ct) / s.s, 9) AS w
  FROM w{k}r w JOIN c{k}s s USING (j)
)"""
        )
    tail = f"""
SELECT i AS region, j AS segment, round(w, 6) AS raked_w
FROM w{_IPF_ROUNDS} ORDER BY region, segment"""
    return head + "".join(its) + tail


@register(
    "sample_ipf_raking",
    oracle=_sql_ipf(),
    tags=("sampling", "raking", "ipf", "survey"),
)
def sample_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (survey raking, Deming-Stephan):
    rake the observed region x market-segment count table so region
    totals stay AS OBSERVED while segment totals calibrate to EQUAL
    shares (N/5) — three alternating row/column scaling rounds, the
    post-stratification weighting a survey/eval pipeline applies when
    one margin of the sample is known to be biased. Complements
    ``sample_stratified_neyman`` (design-time allocation) with the
    estimation-time reweighting.

    Exactness: the observed table and both margin targets are exact
    integers; every scaling step multiplies by a ratio of a BIGINT
    target to the current (already-quantized) sum and re-quantizes to
    9 dp, so the 6-step trajectory is bit-reproducible and the oracle
    replays it as unrolled MATERIALIZED CTEs (the HITS/PageRank
    discipline on a 25-cell frame).

    Scale shape: ONE map-side-combined groupBy over the fact scan
    (through two broadcast dimension joins); every subsequent frame is
    the bounded regions x segments grid — the iteration cost does not
    grow with the table."""
    c = _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cust = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("i"), F.col("c_mktsegment").alias("j"))
    )
    o = (
        cust.groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .localCheckpoint(eager=True)  # 25-cell grid; feeds margins AND walk
    )
    rt = o.groupBy("i").agg(F.sum("w").cast("bigint").alias("ri"))
    ct = o.agg(
        (F.sum("w") / F.countDistinct("j")).alias("cj")
    )
    w = o
    for _ in range(_IPF_ROUNDS):
        rs = w.groupBy("i").agg(
            (F.sum(qlong("w", NANO, "decimal(38,0)")).cast("double") / 1e9).alias("s")
        )
        w = (
            w.join(F.broadcast(rs), "i")
            .join(F.broadcast(rt), "i")
            .select("i", "j", F.round(F.col("w") * F.col("ri") / F.col("s"), 9).alias("w"))
        )
        cs = w.groupBy("j").agg(
            (F.sum(qlong("w", NANO, "decimal(38,0)")).cast("double") / 1e9).alias("s")
        )
        w = (
            w.join(F.broadcast(cs), "j")
            .crossJoin(F.broadcast(ct))
            .select("i", "j", F.round(F.col("w") * F.col("cj") / F.col("s"), 9).alias("w"))
            .localCheckpoint(eager=True)  # pin the round (25 rows)
        )
    return w.select(
        F.col("i").alias("region"),
        F.col("j").alias("segment"),
        F.round("w", 6).alias("raked_w"),
    ).orderBy("region", "segment")

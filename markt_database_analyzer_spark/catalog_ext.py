"""Extension query catalog: the data-pipeline operators (dedup, similarity
search, text analysis, multimodal) registered as differential-tested
queries, same contract as ``catalog`` (which imports this module at the
bottom so ``REGISTRY`` carries both).

Oracle-generation notes:
- MinHash/SimHash oracles are *generated* SQL (seeded hash families and
  per-bit majority votes unrolled) — both engines run the exact same
  integer math on the portable md5-60bit hash.
- Cosines: Spark's sequential double fold is bit-identical to DuckDB's
  ``list_cosine_similarity`` on ``DOUBLE[]`` (verified on real data);
  results round to 9 dp so rank boundaries are stable.
- Embedding dimensionality is 64 in the testdata; the IVF oracle hardcodes
  it (the Spark path reads it dynamically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import SQL_COS, register, _t
from .datapipe import dedup as dd
from .datapipe import multimodal as mm
from .datapipe import similarity as sim
from .datapipe import text as tx
from .datapipe.hashing import hash60, sql_hash60
from .datapipe.util import fan_out

# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

@register(
    "dedup_exact_groups",
    oracle=f"""
SELECT {sql_hash60('text')} AS content_hash,
       min(doc_id) AS survivor_id,
       count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY content_hash
""",
    tags=("dedup", "exact"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash-groupBy; survivor = min doc_id.
    Shuffle key is the 60-bit hash, never the document body."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return dd.exact_dedup_groups(docs, "text", "doc_id").sortWithinPartitions("content_hash")


@register(
    "dedup_fingerprint_tokenset",
    oracle=f"""
SELECT {tx.sql_fingerprint_tokenset('text')} AS fp,
       min(doc_id) AS survivor_id,
       count(*) AS n_docs
FROM documents GROUP BY 1 ORDER BY fp
""",
    tags=("dedup", "fingerprint", "text"),
)
def dedup_fingerprint_tokenset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words near-dup dedup: group by the sorted-distinct-token-set
    fingerprint (word-order-insensitive duplicate key)."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return (
        docs.withColumn("fp", tx.fingerprint_tokenset("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_docs"))
        .sortWithinPartitions("fp")
    )


def _sql_minhash_lsh(num_hashes: int = 16, bands: int = 4, shingle_k: int = 3, min_jaccard: float = 0.5, base: str = "documents") -> str:
    rows = num_hashes // bands
    sh_expr = dd.sql_shingles("text", k=shingle_k)
    mins = ",\n    ".join(
        f"list_min(list_transform(sh, s -> {dd.sql_km_hash('s', i)})) AS m{i}"
        for i in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        vals = " || ',' || ".join(f"m{i}::VARCHAR" for i in range(b * rows, (b + 1) * rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {sql_hash60(f'({vals})', seed=1000 + b)} AS band_hash FROM sig"
        )
    bands_sql = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH sh AS (SELECT doc_id, {sh_expr} AS sh FROM {base}),
sig AS (SELECT doc_id, sh, {mins} FROM sh),
bands AS ({bands_sql}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT c.id_a AS id_a, c.id_b AS id_b,
       len(list_intersect(sa.sh, sb.sh))::DOUBLE
         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::DOUBLE AS jaccard
FROM cand c JOIN sh sa ON c.id_a = sa.doc_id JOIN sh sb ON c.id_b = sb.doc_id
WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::DOUBLE >= {min_jaccard}
ORDER BY id_a, id_b
"""


@register(
    "dedup_minhash_lsh",
    oracle=_sql_minhash_lsh(),
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidate pairs, verified with exact
    shingle Jaccard >= 0.5. Signature computation is row-local column math;
    only (band_id, band_hash, doc_id) ever shuffles. The composed operator
    persists the shingle projection so the corpus is tokenized+hashed once,
    not once per self-join branch; the final single-partition sort replaces
    a global orderBy (no range-exchange over the whole pair plan — the
    driver's comparison is order-insensitive, the sort is cosmetic)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_neardup_pairs(docs, "text", "doc_id", num_hashes=16, bands=4)
    return pairs.repartition(1).sortWithinPartitions("id_a", "id_b")


def _sql_simhash(bits: int = 60) -> str:
    toks = tx.sql_tokens("text")
    h = f"list_transform({toks}, t -> {sql_hash60('t')})"
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> (x >> {j}) & 1 = 1)) > len(hs) "
        f"THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(bits)
    )
    return f"""
WITH h AS (SELECT doc_id, {h} AS hs FROM documents)
SELECT doc_id, ({terms}) AS simhash FROM h ORDER BY doc_id
"""


@register("dedup_simhash_signatures", oracle=_sql_simhash(), tags=("dedup", "simhash"))
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 60-bit SimHash signatures (near-dup key; pairs query
    below consumes them). Uses the explode+aggregate scale path — one md5
    per token, map-side-combined votes — not the 60-pass expression form."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dd.simhash_signatures(docs, "text", "doc_id")
        .select(F.col("doc").alias("doc_id"), F.col("sig").alias("simhash"))
        .sortWithinPartitions("doc_id")
    )


def _sql_simhash_pairs(max_hamming: int = 3) -> str:
    base = _sql_simhash().split("SELECT doc_id,")[0]  # reuse the WITH h AS (...) prefix
    toks = tx.sql_tokens("text")
    h = f"list_transform({toks}, t -> {sql_hash60('t')})"
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> (x >> {j}) & 1 = 1)) > len(hs) "
        f"THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(60)
    )
    return f"""
WITH h AS (SELECT doc_id, {h} AS hs FROM documents),
sig AS (SELECT doc_id, ({terms}) AS simhash FROM h)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b
"""


@register("dedup_simhash_pairs", oracle=_sql_simhash_pairs(), tags=("dedup", "simhash"))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via 4x15-bit chunk banding —
    pigeonhole-lossless for this distance, equi-join instead of cross join.
    (The oracle cross-joins; banding must return the identical pair set.)"""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_near_pairs(docs, "text", "doc_id", max_hamming=3).orderBy("id_a", "id_b")


@register(
    "dedup_ngram_jaccard_sample",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {dd.sql_shingles('text', k=3)} AS sh FROM documents WHERE doc_id < 60
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE, 9) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) > 0
ORDER BY id_a, id_b
""",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard on a 60-doc sample — the standalone
    verifier (at scale, run only behind LSH/banding candidates)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sh = docs.select(F.col("doc_id").alias("doc"), dd.shingles("text", k=3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.doc") < F.col("b.doc"))
        .withColumn("n_inter", F.size(F.array_intersect("a.sh", "b.sh")))
        .filter(F.col("n_inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.size("a.sh") + F.size("b.sh") - F.col("n_inter")).cast("double"),
                9,
            ),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"), "jaccard")
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

@register(
    "similarity_bruteforce_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {SQL_COS.format(a='q.qvec', b='e.embedding')} AS cos
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10 ORDER BY query_id, rank
""",
    tags=("similarity", "ann", "brute-force"),
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors over the whole corpus —
    the ANN baseline. JVM-side fold, broadcast queries, window top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "similarity_ivf_topk",
    oracle=f"""
WITH corpus AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
dims AS (
  SELECT label AS cell, unnest(generate_series(1, 64)) AS pos, unnest(vec) AS v
  FROM corpus
),
cent_dims AS (
  SELECT cell, pos,
         (CAST(SUM(CAST(round(v * 1000000.0) AS HUGEINT)) AS DOUBLE) / COUNT(v) / 1000000.0) AS cv
  FROM dims GROUP BY cell, pos
),
cents AS (SELECT cell, list(cv ORDER BY pos) AS centroid FROM cent_dims GROUP BY cell),
q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5),
probed AS (
  SELECT query_id, qvec, cell FROM (
    SELECT q.query_id, q.qvec, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {SQL_COS.format(a='q.qvec', b='c.centroid')} DESC, c.cell) AS crank
    FROM q CROSS JOIN cents c
  ) WHERE crank <= 2
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {SQL_COS.format(a='p.qvec', b='e.vec')} AS cos
  FROM corpus e JOIN probed p ON e.label = p.cell
  WHERE e.vec_id != p.query_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10 ORDER BY query_id, rank
""",
    tags=("similarity", "ann", "ivf"),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse cells (pre-assigned labels), distributed centroid
    computation, nprobe=2 — scores ~2/10 of the corpus per query."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, nprobe=2)


@register(
    "embedding_neardup_pairs",
    oracle=f"""
WITH c AS (SELECT vec_id, label, embedding FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {SQL_COS.format(a='a.embedding', b='b.embedding')} AS cos
FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {SQL_COS.format(a='a.embedding', b='b.embedding')} >= 0.2
ORDER BY id_a, id_b
""",
    tags=("dedup", "similarity", "embedding"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by IVF cell (label):
    intra-cell pairs only. Threshold 0.2 fits the synthetic corpus's
    cosine distribution (real text embeddings would use ~0.95)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.embedding_neardup_pairs(emb, min_cos=0.2)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

@register(
    "text_langid",
    oracle=f"""
SELECT doc_id, lang AS lang_declared, {tx.sql_lang_id(tx.sql_tokens('text'))} AS lang_pred
FROM documents ORDER BY doc_id
""",
    tags=("text", "langid"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language-ID heuristic, deterministic argmax."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        tx.lang_id(tx.tokens("text")).alias("lang_pred"),
    ).sortWithinPartitions("doc_id")


@register(
    "text_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {tx.sql_tokens('text')} AS toks FROM documents
)
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len(toks)::BIGINT AS n_tokens,
       round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 9) AS mean_token_len,
       round(
         0.4 * (len(list_filter(toks, t -> t IN ({', '.join(repr(m) for m in sorted({m for ms in tx.LANG_MARKERS.values() for m in ms}))})))::DOUBLE / len(toks))
         + 0.4 * least(len(toks)::DOUBLE / 100.0, 1.0)
         + 0.2 * (1.0 - least(((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE / length(text)) * 4, 1.0))
       , 9) AS quality_score
FROM t ORDER BY doc_id
""",
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized quality features + composite score (C4/Gopher-filter
    shape, fixed weights)."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    feats = tx.quality_features("text")
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["mean_token_len"], 9).alias("mean_token_len"),
        F.round(tx.quality_score("text"), 9).alias("quality_score"),
    ).sortWithinPartitions("doc_id")


@register(
    "text_token_counts",
    oracle=f"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t != ''))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{tx.BPE_PIECE}'))::BIGINT AS n_bpe_pieces
FROM documents ORDER BY doc_id
""",
    tags=("text", "tokens"),
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pieces."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        tx.token_count_whitespace("text").cast("long").alias("n_ws_tokens"),
        tx.token_count_bpe("text").cast("long").alias("n_bpe_pieces"),
    ).sortWithinPartitions("doc_id")


@register(
    "text_fingerprints",
    oracle=f"""
SELECT doc_id,
       {tx.sql_fingerprint_tokenset('text')} AS fp_tokenset,
       {tx.sql_fingerprint_prefix('text', k=8)} AS fp_prefix8
FROM documents ORDER BY doc_id
""",
    tags=("text", "fingerprint"),
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: order-insensitive token-set hash + first-8-
    token prefix hash (truncation-duplicate key)."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        tx.fingerprint_tokenset("text").alias("fp_tokenset"),
        tx.fingerprint_prefix("text", k=8).alias("fp_prefix8"),
    ).sortWithinPartitions("doc_id")


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------

@register(
    "multimodal_meta",
    oracle="""
SELECT doc_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       md5(text) AS content_id,
       'unknown' AS format
FROM documents ORDER BY doc_id
""",
    tags=("multimodal",),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction (no decode): byte length, content
    id, magic-byte format sniff. Payloads here are encoded text stand-ins,
    so the sniffed format is 'unknown' by construction."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    with_payload = docs.withColumn("payload", mm.to_payload("text"))
    meta = with_payload.withColumn("meta", mm.payload_meta("payload"))
    return meta.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_id").alias("content_id"),
        F.col("meta.format").alias("format"),
    ).sortWithinPartitions("doc_id")


@register(
    "multimodal_decode_features",
    # The mapInPandas EXECUTION path is not SQL — but the stub featurizer's
    # VALUES are pure byte statistics of the UTF-8 payload, so the oracle
    # recomputes them relationally (hex-pair byte extraction, exact integer
    # sum, float division in the same order numpy performs it). The entry
    # therefore value-checks the Arrow plumbing end-to-end: schema, batch
    # iteration, partition preservation, and the featurizer math.
    oracle="""
WITH p AS (
  SELECT doc_id, encode(text) AS payload FROM documents
),
b AS (
  SELECT doc_id,
         octet_length(payload) AS n,
         list_transform(range(1, octet_length(payload) + 1),
                        i -> ('0x' || substr(hex(payload), 2 * i - 1, 2))::INT) AS bytes
  FROM p
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CASE WHEN n = 0 THEN 0.0
            ELSE CAST(list_aggregate(bytes, 'sum') AS DOUBLE) / n END AS byte_mean,
       CAST(COALESCE(list_aggregate(bytes, 'min'), 0) AS INT) AS byte_min,
       CAST(COALESCE(list_aggregate(bytes, 'max'), 0) AS INT) AS byte_max,
       'fake-v1' AS feature_version
FROM b ORDER BY doc_id
""",
    tags=("multimodal", "mapInPandas"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature pipeline over binary payloads
    (deterministic stub featurizer; see datapipe.multimodal for the real-
    codec integration point)."""
    docs = _t(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", mm.to_payload("text").alias("payload"))
    return mm.decode_features(with_payload).sortWithinPartitions("doc_id")


@register(
    "multimodal_decode_real",
    # The decoder is REAL (BMP/PPM header parse → pixel array → channel
    # means), but the fixture is SQL-replayable by construction: each
    # payload is a 2x2 image whose 12 pixel bytes are the first 12 md5
    # bytes of str(doc_id), container rotating on doc_id % 3 (BMP / PPM /
    # PNG-magic-unsupported). The oracle recomputes the channel means as
    # hex-pair arithmetic — a bit-exact round-trip check of the stride /
    # padding / bottom-up / BGR handling, not a rows-only smoke.
    oracle="""
WITH b AS (
  SELECT doc_id,
         list_transform(
           range(0, 12),
           i -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 2 * i + 1, 2))::INT
         ) AS bt,
         doc_id % 3 AS k
  FROM documents
)
SELECT doc_id,
       CASE k WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'unsupported' END AS format,
       CASE WHEN k < 2 THEN 2 END AS width,
       CASE WHEN k < 2 THEN 2 END AS height,
       CASE WHEN k < 2 THEN CAST(4 AS BIGINT) END AS n_pixels,
       CASE WHEN k < 2 THEN round((bt[1] + bt[4] + bt[7] + bt[10]) / 4.0, 6) END AS mean_r,
       CASE WHEN k < 2 THEN round((bt[2] + bt[5] + bt[8] + bt[11]) / 4.0, 6) END AS mean_g,
       CASE WHEN k < 2 THEN round((bt[3] + bt[6] + bt[9] + bt[12]) / 4.0, 6) END AS mean_b,
       'real-v1' AS feature_version
FROM b ORDER BY doc_id
""",
    tags=("multimodal", "mapInPandas", "codec"),
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL raster decode inside the Arrow mapInPandas plumbing: crafted
    BMP 24-bpp / PPM P6 payloads (pixels = md5(doc_id) bytes, see
    datapipe.multimodal.crafted_payloads) are decoded by the pure-numpy
    header-parsing decoder — stride padding, bottom-up row order and BGR
    channel swap inverted bit-exactly — into per-channel pixel means;
    PNG-magic payloads take the NULL-feature unsupported path. Closes
    the fake-codec gap: the decode step itself, not just the plumbing,
    is value-checked against the SQL replay. Scale shape: two chained
    map-only Arrow stages, no shuffle at all."""
    docs = _t(spark, sf_dir, "documents")
    with_payload = mm.crafted_payloads(docs, "doc_id")
    return mm.decode_features(with_payload, backend="real").sortWithinPartitions("doc_id")


@register(
    "multimodal_decode_audio",
    # The decoder is REAL (RIFF chunk walk → PCM int16 → amplitude
    # stats), and the fixture is SQL-replayable by construction: each
    # payload's 8 samples are the first 16 md5 bytes of str(doc_id) read
    # as little-endian int16 pairs, container rotating on doc_id % 3
    # (mono WAV / stereo WAV with an extra LIST chunk / ID3-magic
    # unsupported), sample rate 8000 + 1000*(doc_id % 5). The oracle
    # recomputes every statistic from the same md5 hex pairs — integer
    # sums first, float division last, in the decoder's exact operation
    # order — so mean/clip are bit-exact and rms differs only by the
    # shared IEEE sqrt.
    oracle=f"""
WITH s AS (
  SELECT doc_id, doc_id % 3 AS k, doc_id % 5 AS m,
         list_transform(
           list_transform(
             range(0, 8),
             j -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 4 * j + 1, 2))::INT
                  + 256 * ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 4 * j + 3, 2))::INT
           ),
           v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
         ) AS smp
  FROM documents
)
SELECT doc_id,
       CASE WHEN k < 2 THEN 'wav' ELSE 'unsupported' END AS format,
       CASE k WHEN 0 THEN 1 WHEN 1 THEN 2 END AS n_channels,
       CASE WHEN k < 2 THEN 8000 + 1000 * m END AS sample_rate,
       CASE k WHEN 0 THEN CAST(8 AS BIGINT) WHEN 1 THEN CAST(4 AS BIGINT) END AS n_frames,
       CASE WHEN k < 2 THEN CAST(8 AS BIGINT) END AS n_samples,
       CASE WHEN k < 2
            THEN CAST(list_aggregate(smp, 'sum') AS DOUBLE) / 8 END AS mean_amp,
       CASE WHEN k < 2
            THEN round(sqrt(CAST(list_aggregate(
                   list_transform(smp, x -> x * x), 'sum') AS DOUBLE) / 8), 6)
       END AS rms,
       CASE WHEN k < 2
            THEN CAST(len(list_filter(smp, x -> abs(x) >= {mm.CLIP_ABS})) AS DOUBLE) / 8
       END AS clip_frac,
       'audio-v1' AS feature_version
FROM s ORDER BY doc_id
""",
    tags=("multimodal", "mapInPandas", "codec", "audio"),
)
def multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode inside the Arrow mapInPandas plumbing — the WAV
    twin of multimodal_decode_real: crafted RIFF/
    WAVE PCM payloads (samples = md5(doc_id) bytes as int16 LE, see
    datapipe.multimodal.crafted_audio_payloads) are decoded by the
    pure-numpy chunk-walking parser — fmt/data discovery, an interleaved
    LIST chunk, stereo frame accounting — into per-doc amplitude stats
    (n_frames, n_samples, mean amplitude, RMS, clip fraction);
    ID3-magic payloads take the NULL-feature unsupported path. Scale
    shape: two chained map-only Arrow stages, no shuffle at all — the
    same envelope measured 1.07x wall at 10x for the raster twin."""
    docs = _t(spark, sf_dir, "documents")
    with_payload = mm.crafted_audio_payloads(docs, "doc_id")
    return mm.decode_audio_features(with_payload).sortWithinPartitions("doc_id")


@register(
    "multimodal_decode_gif",
    # The decoder is REAL (header + global-colour-table parse →
    # extension-skipping chunk walk → sub-block reassembly → LZW decode
    # with variable-width codes, dictionary growth and KwKwK), and the
    # fixture is SQL-replayable by construction: the 64 2-bit pixel
    # indices are md5(doc_id)/md5(doc_id||'a')/'b'/'c' bytes mod 4,
    # container rotating on doc_id % 3 (8x8 GIF / 16x4 GIF with a
    # comment extension / PNG-magic unsupported). Over the fixed
    # 4-colour palette (black, pure R/G/B) each channel mean reduces to
    # 255 * count(idx == channel) / 64, so the oracle recomputes every
    # statistic from the same md5 hex pairs — integer counts first,
    # float division last, the decoder's exact operation order.
    oracle="""
WITH s AS (
  SELECT doc_id, doc_id % 3 AS k,
         flatten(list_transform(['', 'a', 'b', 'c'], sfx ->
           list_transform(range(0, 16), j ->
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || sfx),
                             2 * j + 1, 2))::INT % 4))) AS idx
  FROM documents
)
SELECT doc_id,
       CASE WHEN k < 2 THEN 'gif' ELSE 'unsupported' END AS format,
       CASE k WHEN 0 THEN 8 WHEN 1 THEN 16 END AS width,
       CASE k WHEN 0 THEN 8 WHEN 1 THEN 4 END AS height,
       CASE WHEN k < 2 THEN CAST(64 AS BIGINT) END AS n_pixels,
       CASE WHEN k < 2 THEN 4 END AS n_colors,
       CASE WHEN k < 2
            THEN round(255.0 * len(list_filter(idx, v -> v = 1)) / 64, 6)
       END AS mean_r,
       CASE WHEN k < 2
            THEN round(255.0 * len(list_filter(idx, v -> v = 2)) / 64, 6)
       END AS mean_g,
       CASE WHEN k < 2
            THEN round(255.0 * len(list_filter(idx, v -> v = 3)) / 64, 6)
       END AS mean_b,
       'gif-v1' AS feature_version
FROM s ORDER BY doc_id
""",
    tags=("multimodal", "mapInPandas", "codec", "lzw"),
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-container decode inside the Arrow mapInPandas
    plumbing — the LZW twin of multimodal_decode_real/_audio (BMP/PPM/
    WAV are all uncompressed, this closes the compressed class):
    crafted GIF87a payloads (pixel indices =
    md5(doc_id..) bytes mod 4, see datapipe.multimodal.
    crafted_gif_payloads) are decoded by the pure-python/numpy LZW
    parser — variable-width LSB-first codes crossing the 3→4→5→6 bit
    boundaries on every payload, KwKwK self-reference, sub-block
    reassembly, comment-extension skipping — into per-channel
    palette-weighted pixel means; PNG-magic payloads take the
    NULL-feature unsupported path. Scale shape: two chained map-only
    Arrow stages, no shuffle at all — the same envelope as the raster
    and audio twins."""
    docs = _t(spark, sf_dir, "documents")
    with_payload = mm.crafted_gif_payloads(docs, "doc_id")
    return mm.decode_gif_features(with_payload).sortWithinPartitions("doc_id")


@register(
    "multimodal_decode_png",
    # The decoder is REAL (CRC-verified chunk walk → IDAT reassembly →
    # strict bounded zlib inflate (Adler-32 checked; stored,
    # fixed-Huffman and dynamic-Huffman blocks) → all five PNG filter
    # predictors unapplied), and the fixture is SQL-replayable by
    # construction: the SAME 64 2-bit pixel indices as the GIF fixture
    # (md5(doc_id)/'a'/'b'/'c' bytes mod 4), container rotating on
    # doc_id % 4 — one variant per block type (8x8 stored with the
    # filter rotation 0..4 / 16x4 fixed-Huffman with the rotation
    # reversed and the stream split across two IDAT chunks / 8x8
    # dynamic-Huffman / GIF-magic unsupported). Over the fixed 4-colour palette each channel mean
    # reduces to 255 * count(idx == channel) / 64 — the decoder's
    # exact operation order.
    oracle="""
WITH s AS (
  SELECT doc_id, doc_id % 4 AS k,
         flatten(list_transform(['', 'a', 'b', 'c'], sfx ->
           list_transform(range(0, 16), j ->
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || sfx),
                             2 * j + 1, 2))::INT % 4))) AS idx
  FROM documents
)
SELECT doc_id,
       CASE WHEN k < 3 THEN 'png' ELSE 'unsupported' END AS format,
       CASE k WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 8 END AS width,
       CASE k WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 8 END AS height,
       CASE WHEN k < 3 THEN CAST(64 AS BIGINT) END AS n_pixels,
       CASE WHEN k < 3 THEN 4 END AS n_colors,
       CASE WHEN k < 3
            THEN round(255.0 * len(list_filter(idx, v -> v = 1)) / 64, 6)
       END AS mean_r,
       CASE WHEN k < 3
            THEN round(255.0 * len(list_filter(idx, v -> v = 2)) / 64, 6)
       END AS mean_g,
       CASE WHEN k < 3
            THEN round(255.0 * len(list_filter(idx, v -> v = 3)) / 64, 6)
       END AS mean_b,
       'png-v1' AS feature_version
FROM s ORDER BY doc_id
""",
    tags=("multimodal", "mapInPandas", "codec", "deflate"),
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode inside the Arrow mapInPandas plumbing — the
    DEFLATE twin of multimodal_decode_gif (Huffman
    coding + LZ77 sliding-window back-references are the compression
    class LZW's dictionary codes don't cover): crafted 8-bit-palette
    PNGs (pixel indices = md5(doc_id..) bytes mod 4, see
    datapipe.multimodal.crafted_png_payloads) are decoded by the
    python/numpy parser — CRC-32-verified chunk walk, two-chunk IDAT
    reassembly, a strict bounded inflate over stdlib zlib (FCHECK and
    Adler-32 checked; overrun, truncation and trailing bytes rejected),
    and all five scanline predictors (None/Sub/Up/Average/Paeth)
    unapplied — into per-channel palette-weighted pixel means;
    GIF-magic payloads take the NULL-feature unsupported path. The
    encoder drives zlib to one DEFLATE block type per fixture variant
    (stored, fixed-Huffman, dynamic-Huffman). Scale shape: two
    chained map-only Arrow stages, no shuffle at all — the same
    envelope as the raster/audio/GIF twins."""
    docs = _t(spark, sf_dir, "documents")
    with_payload = mm.crafted_png_payloads(docs, "doc_id")
    return mm.decode_png_features(with_payload).sortWithinPartitions("doc_id")


@register(
    "multimodal_decode_gif_frames",
    # The decoder is REAL (multi-frame chunk walk: graphics-control
    # extensions carrying per-frame centisecond delays, one LZW decode
    # per image block), and the fixture is SQL-replayable by
    # construction: frame f's pixels are md5(doc_id||'f'||f) bytes mod
    # 4 (first width*height bytes), delays are (doc_id + f) % 7,
    # container rotating on doc_id % 3 (3 frames of 4x4 / 5 frames of
    # 4x2 / JPEG-magic unsupported). The oracle recomputes frame sums,
    # inter-frame absolute motion, and the delay total from the same
    # hex pairs — integer sums first, float division last.
    oracle="""
WITH s AS (
  SELECT doc_id, doc_id % 3 AS k FROM documents
),
fb AS (
  SELECT doc_id, k,
         unnest(range(0, CASE WHEN k = 0 THEN 3 ELSE 5 END)) AS f
  FROM s WHERE k < 2
),
fr AS (
  SELECT doc_id, k, f,
         list_transform(range(0, CASE WHEN k = 0 THEN 16 ELSE 8 END),
           j -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'f'
                                     || CAST(f AS VARCHAR)), 2 * j + 1, 2))::INT
                % 4) AS idx
  FROM fb
),
sums AS (
  SELECT doc_id, CAST(sum(list_aggregate(idx, 'sum')) AS BIGINT) AS idx_sum
  FROM fr GROUP BY 1
),
mot AS (
  SELECT a.doc_id,
         CAST(sum(list_aggregate(
           list_transform(range(1, len(a.idx) + 1),
                          p -> abs(b.idx[p] - a.idx[p])), 'sum')) AS BIGINT) AS msum
  FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.f = a.f + 1
  GROUP BY 1
),
del AS (
  SELECT doc_id, CAST(sum((doc_id + f) % 7) AS INT) AS total_cs
  FROM fb GROUP BY 1
)
SELECT s.doc_id,
       CASE WHEN k < 2 THEN 'gif' ELSE 'unsupported' END AS format,
       CASE k WHEN 0 THEN 3 WHEN 1 THEN 5 END AS n_frames,
       CASE WHEN k < 2 THEN 4 END AS width,
       CASE k WHEN 0 THEN 4 WHEN 1 THEN 2 END AS height,
       CASE k WHEN 0 THEN CAST(48 AS BIGINT)
              WHEN 1 THEN CAST(40 AS BIGINT) END AS n_pixels_total,
       del.total_cs,
       CASE WHEN k < 2
            THEN round(CAST(sums.idx_sum AS DOUBLE)
                       / (CASE k WHEN 0 THEN 48 ELSE 40 END), 6)
       END AS mean_idx,
       CASE WHEN k < 2
            THEN round(CAST(mot.msum AS DOUBLE) / 32, 6)
       END AS motion,
       'gifanim-v1' AS feature_version
FROM s
LEFT JOIN sums USING (doc_id)
LEFT JOIN mot USING (doc_id)
LEFT JOIN del USING (doc_id)
ORDER BY s.doc_id
""",
    tags=("multimodal", "mapInPandas", "codec", "lzw", "video"),
)
def multimodal_decode_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL temporal (video-like) decode inside the Arrow mapInPandas
    plumbing — animated GIF89a, the smallest real multi-frame container:
    crafted animations (see datapipe.multimodal.crafted_gif_anim_payloads)
    are decoded by the multi-frame chunk walker — graphics-control
    extensions (per-frame delay accounting), one real LZW decode per
    image block — into frame count, total duration, overall index mean,
    and inter-frame MOTION (mean absolute per-pixel index delta between
    consecutive frames, the temporal statistic single-image decode
    cannot express); JPEG-magic payloads take the NULL-feature
    unsupported path. Completes the decode family: raster (BMP/PPM) →
    audio (WAV) → compressed (GIF/LZW) → temporal (animation). Scale
    shape: two chained map-only Arrow stages, no shuffle at all; the
    frame loop is bounded per payload, never across rows."""
    docs = _t(spark, sf_dir, "documents")
    with_payload = mm.crafted_gif_anim_payloads(docs, "doc_id")
    return mm.decode_gif_anim_features(with_payload).sortWithinPartitions("doc_id")


# --------------------------------------------------------------------------
# Streaming
# --------------------------------------------------------------------------

@register(
    "streaming_tumbling_counts",
    oracle="""
SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
       count(*) AS n_events
FROM events GROUP BY 1 ORDER BY window_start
""",
    tags=("streaming", "window", "watermark"),
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1's streaming analog driven end-to-end: readStream -> watermarked
    tumbling 10-minute window count -> memory sink, returned as the
    materialized batch result. The oracle is the equivalent batch bucket
    aggregation — streaming and batch must agree on static input."""
    from .streaming import read_events_stream, run_stream_to_memory, tumbling_counts

    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    return run_stream_to_memory(stream).sortWithinPartitions("window_start")


@register(
    "streaming_batch_parity_tumbling",
    # The oracle independently recomputes the batch window count and
    # pins n_diff to the LITERAL 0: if the streaming path ever diverged
    # from the batch path, the entry's exceptAll symmetric difference
    # would be non-zero and the driver's value compare would go red.
    oracle="""
WITH w AS (
  SELECT (epoch_us(ts) // 600000000) AS b, count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_windows_batch,
       CAST(count(*) AS BIGINT) AS n_windows_stream,
       CAST(0 AS BIGINT) AS n_diff,
       CAST(sum(n_events) AS BIGINT) AS n_events_total
FROM w
""",
    tags=("streaming", "window", "unified", "differential"),
)
def streaming_batch_parity_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified batch/streaming differential in ONE self-checking entry:
    the SAME helper — streaming.jobs.
    tumbling_counts, verbatim, not a twin — runs once over
    ``spark.read`` (withWatermark is a no-op in batch) and once over
    ``readStream`` through the memory-sink harness, and the entry
    itself asserts set equality via the exceptAll symmetric difference.
    This closes the §2.11 claim that batch and streaming share helpers
    BY CONSTRUCTION: the claim is now a value-checked output (n_diff
    must equal the oracle's literal 0), not two parallel entries the
    reader has to diff by eye.

    Scale shape: two window aggregations (one shuffle each over the
    same key), two count-only exceptAll joins on the tiny window-level
    frames, three 1-row broadcast combines. The window-level frames are
    time-bounded (one row per 10-minute bucket), so the parity check
    costs O(windows), not O(events), beyond the two scans."""
    from .streaming import read_events_stream, run_stream_to_memory, tumbling_counts

    batch = tumbling_counts(_t(spark, sf_dir, "events"))
    stream = run_stream_to_memory(tumbling_counts(read_events_stream(spark, sf_dir)))
    diff = batch.exceptAll(stream).unionAll(stream.exceptAll(batch))
    nb = batch.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows_batch"),
        F.sum("n_events").cast("bigint").alias("n_events_total"),
    )
    ns = stream.agg(F.count(F.lit(1)).cast("bigint").alias("n_windows_stream"))
    nd = diff.agg(F.count(F.lit(1)).cast("bigint").alias("n_diff"))
    return (
        nb.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nd))
        .select("n_windows_batch", "n_windows_stream", "n_diff", "n_events_total")
    )


@register(
    "streaming_session_counts",
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
    tags=("streaming", "session_window", "watermark"),
)
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native merging session windows driven over readStream — the
    STREAMING differential twin of the batch ``session_window_native``
    entry (both 30-min gap): per-user gap-based sessions whose windows
    merge as bridging rows arrive, materialized through a memory sink in
    complete mode (update is rejected for session aggregations; append
    would withhold sessions inside the final watermark horizon). With
    the static input fully processed, the complete-mode table IS the set
    of merged final sessions, equal to the batch operator — both check
    against the independent lag+running-sum SQL formulation. A
    production run would use append mode with a real late-data horizon
    and upsert via the run_foreachbatch_upsert pattern; complete mode
    here is the differential harness's choice, and state at scale is
    bounded by (active users x watermark horizon) under append, not by
    history."""
    from .streaming import read_events_stream, run_stream_to_memory, session_counts

    stream = session_counts(read_events_stream(spark, sf_dir))
    return run_stream_to_memory(stream, output_mode="complete").sortWithinPartitions(
        "user_id", "session_start"
    )


@register(
    "streaming_dedup_distinct_pairs",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
""",
    tags=("streaming", "dedup", "state"),
)
def streaming_dedup_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup — the ingestion-time analog of
    ``exact_dedup_groups``: ``dropDuplicates`` over the stream keeps keyed
    state of seen (user_id, event_type) pairs and emits each exactly once.
    Only the key columns are selected, so the emitted SET is deterministic
    (first-seen ROW attribution would depend on micro-batch arrival order
    — that variant belongs behind event-time ordering, not in a
    differential gate). State here is bounded by the key domain (users ×
    event types); for unbounded keys the production form is
    ``dropDuplicatesWithinWatermark``, which this shares a plan shape
    with. Oracle: batch DISTINCT over the same input."""
    from .streaming import read_events_stream, run_stream_to_memory

    stream = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return run_stream_to_memory(stream, output_mode="append").sortWithinPartitions(
        "user_id", "event_type"
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({tx.sql_tokens('text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfx AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf,
         round(t.tf * ln(n.n_docs::DOUBLE / d.dfreq), 9) AS score
  FROM tf t JOIN dfx d USING (term), n
)
SELECT doc_id, term, tf, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM scored
) WHERE rn <= 3 ORDER BY doc_id, score DESC, term
""",
    tags=("text", "tfidf"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document, entirely as aggregations: explode
    tokens → per-(doc,term) counts → document frequency → ln(N/df) weight
    → per-doc top-k window. N enters the plan as a broadcast 1-row
    aggregate, so the whole thing is one lazy pipeline (no driver-side
    collect). Scores round to 9 dp for stable rank boundaries."""
    from pyspark.sql import Window

    docs = fan_out(_t(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tx.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfx, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("dfreq")), 9),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "score")
        .sortWithinPartitions("doc_id", F.desc("score"), "term")
    )


@register(
    "text_sentiment_lexicon",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({tx.sql_tokens('text')}) AS term FROM documents),
hits AS (
  SELECT t.doc_id, count(*) AS n_hits, sum(lex.weight) AS total
  FROM tok t JOIN {tx.sql_sentiment_lexicon_values()} ON t.term = lex.word
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       round(COALESCE(h.total, 0)::DOUBLE / len({tx.sql_tokens('d.text')}), 9) AS sentiment
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
ORDER BY d.doc_id
""",
    tags=("text", "sentiment", "lexicon-join"),
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-join sentiment: explode tokens, broadcast-join the valence
    lexicon, integer-sum per document, normalize by token count. The
    lexicon is the canonical tiny-broadcast-dim; the integer sum keeps the
    score deterministic under any partitioning."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    lex = docs.sparkSession.createDataFrame(
        list(tx.SENTIMENT_LEXICON.items()), "word string, weight int"
    )
    tok = docs.select("doc_id", F.explode(tx.tokens("text")).alias("term"))
    hits = (
        tok.join(F.broadcast(lex), tok.term == lex.word)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"), F.sum("weight").alias("total"))
    )
    base = docs.select("doc_id", F.size(tx.tokens("text")).alias("n_tokens"))
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("total"), F.lit(0)).cast("double") / F.col("n_tokens"), 9
            ).alias("sentiment"),
        )
        .sortWithinPartitions("doc_id")
    )


def _sql_kmeans_ctes(k: int = 10, iters: int = 3) -> tuple[str, str, str]:
    """Shared DuckDB replay of the distributed Lloyd iterations:
    deterministic seeding (k lowest-id vectors, cell ids by lexicographic
    centroid order), then ``iters`` unrolled rounds (argmin assignment
    with min-cell tiebreak / per-dimension mean rounded to 9 dp — the
    same pin the Spark side applies at its collect boundary). Returns
    ``(cte_body, final_assign_name, final_cents_name)`` for composition
    into a WITH chain (the chain must start with a ``corpus(vec_id, vec)``
    CTE)."""
    dist = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (e.vec[i] - c.centroid[i]) * (e.vec[i] - c.centroid[i])))"
    )

    def assign(n: int, cents: str) -> str:
        return f"""
assign{n} AS (
  SELECT vec_id, vec, cell FROM (
    SELECT e.vec_id, e.vec, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cell) AS rn
    FROM corpus e CROSS JOIN {cents} c
  ) WHERE rn = 1
)"""

    steps = [
        f"seedv AS (SELECT vec FROM corpus ORDER BY vec_id LIMIT {k})",
        "cents0 AS (SELECT row_number() OVER (ORDER BY vec) - 1 AS cell, vec AS centroid FROM seedv)",
    ]
    cents = "cents0"
    for i in range(iters):
        steps.append(assign(i, cents))
        if i < iters - 1:
            cents = f"cents{i + 1}"
            steps.append(
                f"""
cents{i + 1} AS (
  SELECT cell, list(cv ORDER BY pos) AS centroid FROM (
    SELECT cell, pos, round(avg(v), 9) AS cv FROM (
      SELECT cell, unnest(generate_series(1, 64)) AS pos, unnest(vec) AS v
      FROM assign{i}
    ) GROUP BY cell, pos
  ) GROUP BY cell
)"""
            )
    return ",".join(steps), f"assign{iters - 1}", cents


def _sql_kmeans_ivf(k: int = 10, iters: int = 3, n_queries: int = 10, topk: int = 5, nprobe: int = 2) -> str:
    """DuckDB replay of the full learned-IVF search: the shared Lloyd
    replay (:func:`_sql_kmeans_ctes`), then the nprobe search against the
    quantizer's own centroids. Every float the two engines compare is
    either a raw corpus value (float32→double, exact) or rounded at 9 dp,
    so the replay is bit-portable."""
    body, final_assign, cents = _sql_kmeans_ctes(k=k, iters=iters)
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
{body},
q AS (SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < {n_queries}),
probed AS (
  SELECT query_id, qvec, cell FROM (
    SELECT q.query_id, q.qvec, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {SQL_COS.format(a='q.qvec', b='c.centroid')} DESC, c.cell) AS crank
    FROM q CROSS JOIN {cents} c
  ) WHERE crank <= {nprobe}
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {SQL_COS.format(a='p.qvec', b='e.vec')} AS cos
  FROM {final_assign} e JOIN probed p ON e.cell = p.cell
  WHERE e.vec_id != p.query_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {topk} ORDER BY query_id, rank
"""


@register(
    "similarity_ivf_kmeans_topk",
    oracle=_sql_kmeans_ivf(),
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def similarity_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with a LEARNED coarse quantizer: 3 distributed Lloyd
    iterations (literal-centroid map-only assign / posexplode-mean
    re-estimate), then the standard nprobe search probing the
    quantizer's own centroids (the FAISS IVF contract — and it skips a
    distributed re-estimation pass). Recall@10 vs brute force is pinned
    in the test layer (vs 0.30 for the pre-assigned label cells)."""
    emb = _t(spark, sf_dir, "embeddings")
    learned, cents = sim.kmeans_model(emb, k=10, iters=3)
    queries = learned.filter(F.col("vec_id") < 10)
    return sim.ivf_topk(learned, queries, k=5, nprobe=2, cell_col="cell", centroids=cents)


def _sql_clean_corpus(min_quality: float = 0.4) -> str:
    toks = tx.sql_tokens("text")
    pairs = _sql_minhash_lsh()
    return f"""
WITH pairs AS ({pairs}),
meta AS (
  SELECT doc_id,
         {tx.sql_lang_id(toks)} AS lang_pred,
         len({toks})::BIGINT AS n_tokens,
         round({tx.sql_quality_score('text', toks)}, 9) AS quality,
         {sql_hash60('text')} AS content_hash
  FROM documents
),
exact AS (
  SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS survivor FROM meta
)
SELECT doc_id, lang_pred, n_tokens, quality
FROM exact
WHERE doc_id = survivor
  AND quality >= {min_quality}
  AND doc_id NOT IN (SELECT id_b FROM pairs)
ORDER BY doc_id
"""


@register(
    "pipeline_clean_corpus",
    oracle=_sql_clean_corpus(),
    tags=("pipeline", "dedup", "text", "quality"),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end-to-end as ONE lazy plan:
    annotate (language-ID, quality, token count, content hash) → quality
    gate → exact-dedup survivors → MinHash-LSH near-dup removal
    (anti-join against verified pairs, lower id survives). This is the
    flagship use of the datapipe layer; each stage is the operator its
    own catalog entry tests in isolation."""
    from pyspark.sql import Window as W

    docs = fan_out(_t(spark, sf_dir, "documents"))
    toks = tx.tokens("text")
    meta = docs.select(
        "doc_id",
        tx.lang_id(toks).alias("lang_pred"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(tx.quality_score("text"), 9).alias("quality"),
        hash60(F.col("text")).alias("content_hash"),
    )
    exact = meta.withColumn(
        "survivor", F.min("doc_id").over(W.partitionBy("content_hash"))
    )
    kept = exact.filter((F.col("doc_id") == F.col("survivor")) & (F.col("quality") >= 0.4))
    neardup = (
        dd.minhash_neardup_pairs(docs, "text", "doc_id", num_hashes=16, bands=4)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        kept.join(neardup, "doc_id", "left_anti")
        .select("doc_id", "lang_pred", "n_tokens", "quality")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / splits / corpus mixing (datapipe.sampling)
# ---------------------------------------------------------------------------

from .datapipe import sampling as sp  # noqa: E402


@register(
    "sample_hash_documents",
    oracle=f"""
SELECT doc_id
FROM documents
WHERE {sp.sql_gate('doc_id', seed=0)} < {int(0.1 * sp.RESOLUTION)}
ORDER BY doc_id
""",
    tags=("sampling", "pipeline"),
)
def sample_hash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% document sample, hash-gated on doc_id — no RNG,
    so the kept set is identical on any partitioning/engine (the oracle
    replays the gate in DuckDB) and is a SUBSET of any larger-fraction
    sample with the same seed. Map-only: the gate fuses into the scan."""
    docs = _t(spark, sf_dir, "documents")
    return sp.hash_sample(docs, "doc_id", 0.1, seed=0).select("doc_id").orderBy("doc_id")


@register(
    "split_train_eval",
    oracle=f"""
SELECT CASE WHEN {sp.sql_gate('doc_id', seed=1)} < {int(0.02 * sp.RESOLUTION)}
            THEN 'eval' ELSE 'train' END AS split,
       count(*) AS n_docs,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM documents GROUP BY split ORDER BY split
""",
    tags=("sampling", "pipeline"),
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2% eval holdout tagged by an independent hash gate (different seed
    than any sampling gate, so split membership and sampling don't
    correlate). Returns per-split counts + id range; the split column
    itself is what contamination checks join against."""
    docs = _t(spark, sf_dir, "documents")
    return (
        sp.train_eval_split(docs, "doc_id", eval_fraction=0.02, seed=1)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


def _sql_training_mix() -> str:
    toks = tx.sql_tokens("text")
    lang = tx.sql_lang_id(toks)
    return f"""
WITH lang AS (SELECT doc_id, {lang} AS lang_pred FROM documents)
SELECT 'en' AS source, doc_id FROM lang
WHERE lang_pred = 'en' AND {sp.sql_gate('doc_id', seed=2, salt='en')} < {int(0.9 * sp.RESOLUTION)}
UNION ALL
SELECT 'other' AS source, doc_id FROM lang
WHERE lang_pred <> 'en' AND {sp.sql_gate('doc_id', seed=2, salt='other')} < {int(0.4 * sp.RESOLUTION)}
ORDER BY source, doc_id
"""


@register(
    "pipeline_training_mix",
    oracle=_sql_training_mix(),
    tags=("sampling", "pipeline", "text"),
)
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training mix: upsample the predicted-English slice (90%)
    against the rest (40%) with per-source deterministic gates, union by
    name with provenance. The standard corpus-mixing step of an LLM data
    pipeline, expressed so each branch's gate and language filter fuse
    into its own scan of the same table."""
    docs = _t(spark, sf_dir, "documents")
    lang = docs.select("doc_id", tx.lang_id(tx.tokens("text")).alias("lang_pred"))
    mixed = sp.mix_corpora(
        [
            ("en", lang.filter(F.col("lang_pred") == "en"), 0.9),
            ("other", lang.filter(F.col("lang_pred") != "en"), 0.4),
        ],
        id_col="doc_id",
        seed=2,
    )
    return mixed.select("source", "doc_id").sortWithinPartitions("source", "doc_id")


_PACK_BUDGET = 2048
_N_SHARDS = 4


def _sql_pack_chunks() -> str:
    toks = tx.sql_tokens("text")
    shard = f"({sql_hash60('CAST(doc_id AS VARCHAR)', seed=3)} % {_N_SHARDS})"
    return f"""
WITH meta AS (
  SELECT doc_id, {shard} AS shard, len({toks})::BIGINT AS n_tokens FROM documents
),
laid AS (
  SELECT doc_id, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS "offset"
  FROM meta
)
SELECT doc_id, shard, n_tokens, CAST("offset" AS BIGINT) AS "offset",
       CAST("offset" // {_PACK_BUDGET} AS BIGINT) AS chunk_start,
       CAST(greatest("offset" // {_PACK_BUDGET},
                     floor(("offset" + n_tokens - 1) / {_PACK_BUDGET})) AS BIGINT) AS chunk_end
FROM laid ORDER BY shard, doc_id
"""


@register(
    "pack_chunks_documents",
    oracle=_sql_pack_chunks(),
    tags=("packing", "pipeline"),
)
def pack_chunks_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk layout assignment: per shard (hash-gated,
    so sharding is reproducible), documents are laid out in id order and
    the token stream is cut every 2048 tokens; each doc learns its offset
    and first/last chunk. One running-sum window per shard — the
    parallelism story a single global ordering can't give."""
    docs = _t(spark, sf_dir, "documents")
    meta = docs.select(
        "doc_id",
        F.pmod(hash60(F.col("doc_id").cast("string"), seed=3), F.lit(_N_SHARDS)).alias("shard"),
        F.size(tx.tokens("text")).cast("long").alias("n_tokens"),
    )
    packed = sp.pack_chunks(
        meta, "doc_id", "n_tokens", budget=_PACK_BUDGET, shard_col=F.col("shard")
    )
    return packed.select(
        "doc_id", "shard", "n_tokens", "offset", "chunk_start", "chunk_end"
    ).sortWithinPartitions("shard", "doc_id")


def _sql_contamination(eval_ppm: int = 20_000, k: int = 5) -> str:
    sh = dd.sql_shingles("text", k=k)
    gate = sp.sql_gate("doc_id", seed=1)
    return f"""
WITH tagged AS (
  SELECT doc_id, {sh} AS sh, ({gate} < {eval_ppm}) AS is_eval FROM documents
),
ev AS (
  SELECT doc_id AS eval_id, {sql_hash60('s')} AS sh_h
  FROM (SELECT doc_id, unnest(sh) AS s FROM tagged WHERE is_eval) WHERE s != ''
),
tr AS (
  SELECT doc_id AS train_id, {sql_hash60('s')} AS sh_h
  FROM (SELECT doc_id, unnest(sh) AS s FROM tagged WHERE NOT is_eval) WHERE s != ''
)
SELECT ev.eval_id AS eval_id, tr.train_id AS train_id, count(*) AS n_shared
FROM ev JOIN tr USING (sh_h)
GROUP BY 1, 2 ORDER BY eval_id, train_id
"""


@register(
    "pipeline_contamination_check",
    oracle=_sql_contamination(),
    tags=("sampling", "dedup", "pipeline"),
)
def pipeline_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: 5-shingle overlap between the hash-gated 2%
    eval holdout (same gate as split_train_eval) and the train split.
    Each side reduces to distinct (doc, shingle-hash) ints before the
    equi-join, so the shuffle never carries text; fan-out is bounded by
    true overlap."""
    docs = _t(spark, sf_dir, "documents")
    split = sp.train_eval_split(docs, "doc_id", eval_fraction=0.02, seed=1)
    pairs = dd.contamination_pairs(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "eval"),
        "text",
        "doc_id",
        shingle_k=5,
    )
    return pairs.orderBy("eval_id", "train_id")


@register(
    "text_repetition",
    oracle=f"""
SELECT doc_id, round({tx.sql_repetition_score('text', k=3)}, 9) AS rep_3gram
FROM documents ORDER BY doc_id
""",
    tags=("text", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: duplicate 3-gram fraction (0 = no
    repetition), the boilerplate/looped-text gate that complements
    quality_score. Row-local array math, no shuffle.

    No final orderBy: a corpus-sized range sort's sampling pass would
    re-run the whole tokenize+ngram projection for cosmetic order only
    (the compare is order-insensitive). The gram array is staged in its
    own projection so the three consumers (total size, distinct size)
    reference one evaluated column instead of re-running the n-gram
    build per use (HOF chains sit outside codegen CSE)."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    grams = docs.select("doc_id", tx.ngrams_all("text", k=3).alias("grams"))
    total = F.size("grams")
    distinct = F.size(F.array_distinct("grams"))
    score = F.when(
        total > 0, 1.0 - distinct.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))
    return grams.select(
        "doc_id", F.round(score, 9).alias("rep_3gram")
    ).sortWithinPartitions("doc_id")


@register(
    "embedding_quantize_sq8",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
mm AS (SELECT vec_id, vec, list_min(vec) AS mn, list_max(vec) AS mx FROM v),
s AS (SELECT vec_id, vec, mn, mx, (mx - mn) / 255.0 AS scale FROM mm),
q AS (
  SELECT vec_id, vec, mn, scale,
         list_transform(vec, x -> CASE WHEN scale > 0
           THEN floor((x - mn) / scale + 0.5) ELSE 0 END) AS codes
  FROM s
)
SELECT vec_id,
       CAST(len(vec) AS INT) AS n_dims,
       round(list_max(list_transform(generate_series(1, len(vec)),
         i -> abs(vec[i] - (mn + codes[i] * scale)))), 9) AS max_abs_err
FROM q
ORDER BY vec_id
""",
    tags=("embedding", "quantization", "ann"),
)
def embedding_quantize_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings (FAISS SQ8 shape, per-vector
    min/max codebook): encode each dimension to an 8-bit code, decode,
    and report the max reconstruction error — the memory-bandwidth lever
    for ANN at scale (4 bytes → 1 byte per dim means 4× more vectors per
    scan). Staged projection (min/max/scale as named columns before the
    per-element lambdas) so per-row scalars evaluate once, not per
    dimension; floor(x + 0.5) instead of round() because round's
    half-case tie-break differs across engines. Error is bounded by
    scale/2 by construction — pinned in tests."""
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    mm = v.select(
        "vec_id", "vec", F.array_min("vec").alias("mn"), F.array_max("vec").alias("mx")
    )
    s = mm.select("vec_id", "vec", "mn", ((F.col("mx") - F.col("mn")) / 255.0).alias("scale"))
    q = s.select(
        "vec_id",
        "vec",
        "mn",
        "scale",
        F.transform(
            "vec",
            lambda x: F.when(
                F.col("scale") > 0, F.floor((x - F.col("mn")) / F.col("scale") + 0.5)
            ).otherwise(F.lit(0)),
        ).alias("codes"),
    )
    return q.select(
        "vec_id",
        F.size("vec").alias("n_dims"),
        F.round(
            F.array_max(
                F.zip_with(
                    "vec",
                    F.transform("codes", lambda c: F.col("mn") + c * F.col("scale")),
                    lambda a, b: F.abs(a - b),
                )
            ),
            9,
        ).alias("max_abs_err"),
    ).sortWithinPartitions("vec_id")


def _sql_pq_ctes(k: int = 16, m: int = 8, dims: int = 64) -> str:
    """Shared DuckDB replay of PQ encode: codebook = k lowest-id vectors
    (code = id rank), per-subspace argmin with min-code tiebreak,
    reconstruction by code lookup. Yields CTEs ``codebook``, ``pairs``,
    ``codes`` and ``recon(vec_id, rv)``; the chain must already define
    ``corpus(vec_id, vec)``."""
    sub = dims // m

    def dist(j: int) -> str:
        off = j * sub
        return (
            f"list_sum(list_transform(generate_series(1, {sub}), "
            f"i -> (evec[{off} + i] - cvec[{off} + i]) * (evec[{off} + i] - cvec[{off} + i])))"
        )

    code_ctes = ",\n".join(
        f"""code{j} AS (
  SELECT vec_id, code AS code{j} FROM (
    SELECT vec_id, code,
           row_number() OVER (PARTITION BY vec_id ORDER BY {dist(j)}, code) AS rn
    FROM pairs
  ) WHERE rn = 1
)"""
        for j in range(m)
    )
    code_join = " JOIN ".join(
        ["code0"] + [f"code{j} USING (vec_id)" for j in range(1, m)]
    )
    recon = "flatten([" + ", ".join(
        f"(SELECT list_slice(c.vec, {j * sub + 1}, {(j + 1) * sub}) FROM codebook c WHERE c.code = codes.code{j})"
        for j in range(m)
    ) + "])"
    return f"""codebook AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, vec
  FROM (SELECT vec_id, vec FROM corpus ORDER BY vec_id LIMIT {k})
),
pairs AS (
  SELECT e.vec_id, c.code, e.vec AS evec, c.vec AS cvec
  FROM corpus e CROSS JOIN codebook c
),
{code_ctes},
codes AS (SELECT * FROM {code_join}),
recon AS (
  SELECT codes.vec_id, {recon} AS rv FROM codes
)"""


def _sql_pq_adc(k: int = 16, m: int = 8, dims: int = 64, n_queries: int = 10, topk: int = 5) -> str:
    """ADC top-k over the shared PQ replay: squared-L2 of raw query vs
    reconstruction, rounded at 9 dp."""
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
{_sql_pq_ctes(k=k, m=m, dims=dims)},
q AS (SELECT vec_id AS query_id, vec AS qv FROM corpus WHERE vec_id < {n_queries}),
scored AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         round(list_sum(list_transform(generate_series(1, {dims}),
           i -> (q.qv[i] - r.rv[i]) * (q.qv[i] - r.rv[i]))), 9) AS adc_dist
  FROM recon r CROSS JOIN q
  WHERE r.vec_id != q.query_id
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {topk}
ORDER BY query_id, rank
"""


@register(
    "similarity_pq_adc_topk",
    oracle=_sql_pq_adc(),
    tags=("similarity", "ann", "pq", "quantization"),
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric distance (the IVF-PQ memory
    tier): vectors encode to m=8 sub-codes against a shared codebook,
    queries score raw-vs-reconstruction — semantically identical to the
    scan-time LUT sum, which is the execution detail that makes PQ scans
    memory-bandwidth-bound instead of FLOP-bound at 100 TB. Encoding is
    map-only (codebook as SQL literals, subvector slices staged so each
    evaluates once); composes with the IVF probe for full IVF-PQ."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.pq_adc_topk(emb, n_queries=10, topk=5, k=16, m=8)


def _sql_ivf_pq(
    k_cells: int = 10,
    iters: int = 3,
    nprobe: int = 2,
    k_codes: int = 16,
    m: int = 8,
    dims: int = 64,
    n_queries: int = 10,
    topk: int = 5,
) -> str:
    """DuckDB replay of full IVF-PQ: the shared Lloyd replay restricts
    each query to its nprobe nearest cells (cosine to the quantizer's own
    centroids), the shared PQ replay supplies reconstructions, ADC scores
    raw-query-vs-reconstruction within probed cells only."""
    kmeans, final_assign, cents = _sql_kmeans_ctes(k=k_cells, iters=iters)
    pq = _sql_pq_ctes(k=k_codes, m=m, dims=dims)
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
{kmeans},
{pq},
q AS (SELECT vec_id AS query_id, vec AS qv FROM corpus WHERE vec_id < {n_queries}),
probed AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {SQL_COS.format(a='q.qv', b='c.centroid')} DESC, c.cell) AS crank
    FROM q CROSS JOIN {cents} c
  ) WHERE crank <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_sum(list_transform(generate_series(1, {dims}),
           i -> (p.qv[i] - r.rv[i]) * (p.qv[i] - r.rv[i]))), 9) AS adc_dist
  FROM {final_assign} a
  JOIN recon r ON a.vec_id = r.vec_id
  JOIN probed p ON a.cell = p.cell
  WHERE a.vec_id != p.query_id
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {topk}
ORDER BY query_id, rank
"""


@register(
    "similarity_ivf_pq_topk",
    oracle=_sql_ivf_pq(),
    tags=("similarity", "ann", "ivf", "pq"),
)
def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ — the billion-scale ANN tier assembled from pieces
    this catalog differential-tests independently (learned k-means
    quantizer / FAISS-style probe / PQ encode / ADC scoring): the coarse
    index bounds candidates per query, the product code bounds bytes per
    candidate. Probe and codebook both live as broadcast/literal model
    state; the corpus-side work is one map-only encode plus the
    cell-restricted ADC join."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_pq_topk(
        emb, n_queries=10, topk=5, k_cells=10, iters=3, nprobe=2, k_codes=16, m=8
    )

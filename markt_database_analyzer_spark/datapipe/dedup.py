"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each operator):

- **exact**: one hash-partitioned aggregation on the content hash — the
  only shuffle key is a 60-bit int, never the document body. Survivor
  choice is deterministic (min doc id).
- **MinHash+LSH**: per-row signature computation is embarrassingly
  parallel (array expressions, no shuffle, no UDF); banding turns the
  O(n²) all-pairs problem into a shuffle on (band_id, band_hash) whose
  buckets only contain plausible near-dups; exact Jaccard verification runs
  per candidate pair. At 100 TB: signatures are ~100 bytes/doc regardless
  of doc size, so the shuffle volume is flat.
- **SimHash**: 64-bit signature via per-bit majority vote of token hashes;
  hamming-distance candidate generation via chunk banding (4×16-bit
  chunks — two signatures within hamming k<=3 must share a chunk).
- **n-gram Jaccard**: the exact verifier, also usable standalone on a
  blocked/banded candidate set.

Everything is column-expression-only (portable + codegen); hash functions
are the engine-portable md5-60bit family from ``hashing``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType
from pyspark.storagelevel import StorageLevel

from .hashing import hash60, sql_hash60
from .text import tokens
from .util import fan_out


# --------------------------------------------------------------------------
# Shingling
# --------------------------------------------------------------------------

def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column (array<string>).
    Documents shorter than k tokens get their full token join as the one
    shingle (so they still participate in dedup)."""
    toks = tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(sh)


def sql_shingles(expr: str, k: int = 3) -> str:
    """DuckDB rendering of :func:`shingles` (1-indexed lists)."""
    toks = f"list_filter(regexp_split_to_array(lower(trim({expr})), '\\s+'), t -> t != '')"
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len({toks}) - {k - 1}, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')))"
    )


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct content hash: survivor id (min), group size.
    ``dropDuplicates`` on content is the lossy variant; this keeps the
    full group accounting a pipeline needs for provenance."""
    return (
        df.withColumn("content_hash", hash60(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def sql_km_hash(expr: str, i: int) -> str:
    """DuckDB rendering of the i-th K-M family member of a string expr."""
    h1 = f"(('0x' || substring(md5({expr}), 1, 14))::BIGINT)"
    h2 = f"(('0x' || substring(md5({expr}), 15, 14))::BIGINT)"
    return f"({h1} + {i} * {h2})"


def lsh_bands(sig: Column, bands: int, rows: int) -> Column:
    """Band the signature: array of (band_id, band_hash) structs. Two docs
    collide in a band iff their signature rows in that band are identical."""
    entries = []
    for b in range(bands):
        band_vals = F.slice(sig, b * rows + 1, rows)
        band_hash = hash60(F.concat_ws(",", F.transform(band_vals, lambda v: v.cast("string"))), seed=1000 + b)
        entries.append(F.struct(F.lit(b).alias("band_id"), band_hash.alias("band_hash")))
    return F.array(*entries)


def shingle_projection(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3
) -> DataFrame:
    """``(doc, sh array<string>)`` — the shared input of signature
    computation and exact-Jaccard verification.

    fan_out BEFORE the shingle projection: a repartition is a plan
    barrier, so expressions projected after it run on the widened
    partitioning. (fan_out around the projection would evaluate the
    heavy expression on the narrow input and shuffle its output.)
    """
    return fan_out(df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_text"))).select(
        "doc", shingles("_text", k=shingle_k).alias("sh")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from LSH banding.

    Plan shape: project signatures (no shuffle) → explode bands →
    self-join on (band_id, band_hash) → distinct pairs. The join key is
    16 bytes/doc/band; document text never shuffles.

    Signatures use the Kirsch-Mitzenmacher family: md5 each shingle ONCE,
    split the digest into two 56-bit bases, derive the k functions as
    ``h1 + i*h2`` — zip_with over cheap int arrays instead of k md5
    passes. The two base arrays are materialized in separate projections
    so the md5 transform is evaluated once (CollapseProject keeps
    non-cheap expressions referenced twice in their own project).

    ``shingled`` (optional): a precomputed — typically persisted —
    :func:`shingle_projection`, so multi-stage pipelines evaluate the
    shingle pass once (see :func:`minhash_neardup_pairs`).
    """
    rows = num_hashes // bands
    base = (
        shingled
        if shingled is not None
        else shingle_projection(df, text_col, id_col, shingle_k)
    )
    # Pin the banded-signature frame: the self-join below references it
    # on BOTH sides, and without the pin each side re-runs the md5 +
    # K-M + banding projection (measured: the whole candidates stage
    # 2.1 s -> 1.2 s at sf0.1; the join strategy is BHJ both before and
    # after — the r13 plan dumps show no flip, the pin alone is the
    # win). ~16 bytes x bands per doc (the "signatures are ~100
    # bytes/doc" scale claim), MEMORY_AND_DISK like the shingle
    # projection.
    sig = (
        km_signatures(base, num_hashes)
        .withColumn("band", F.explode(lsh_bands(F.col("sig"), bands, rows)))
        .select("doc", "band.band_id", "band.band_hash")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for each candidate pair (the verify step
    after LSH). Adds ``jaccard`` double column."""
    sh = (
        shingled
        if shingled is not None
        else shingle_projection(df, text_col, id_col, shingle_k)
    )
    out = (
        candidates.join(sh.withColumnRenamed("doc", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.size("sh_a") + F.size("sh_b") - F.col("n_inter"))
        .withColumn(
            "jaccard",
            F.try_divide(F.col("n_inter").cast("double"), F.col("n_union").cast("double")),
        )
    )
    return out.select("id_a", "id_b", "jaccard")


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Verified near-dup pairs: LSH candidates + exact Jaccard ≥ threshold,
    as ONE composed plan that evaluates the shingle projection once.

    The naive composition (candidates, then :func:`jaccard_pairs` on the
    raw table) re-derives shingles on every branch of the two self-joins —
    four full tokenize+md5 passes over the corpus. Here the shingle
    projection is persisted (``MEMORY_AND_DISK``: spills, never OOMs) and
    every branch reads the cache; Spark's CacheManager matches the
    canonicalized plan fragment, so other queries over the same corpus in
    the same session (e.g. the composed cleaning pipeline) share it too.

    At 100 TB the same structure holds with one substitution: checkpoint
    the signature/shingle projection to Parquet between stages instead of
    executor cache — the plan on either side of that barrier is identical.
    """
    sh = shingle_projection(df, text_col, id_col, shingle_k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_k=shingle_k, shingled=sh,
    )
    pairs = jaccard_pairs(
        df, cand, text_col, id_col, shingle_k=shingle_k, shingled=sh
    )
    return pairs.filter(F.col("jaccard") >= min_jaccard)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash64(col: Column | str) -> Column:
    """64-bit SimHash of the token multiset, as bigint — expression form.

    bit j of the signature = 1 iff sum over tokens of ±1 (sign of bit j of
    the token hash) is positive (strict majority; ties → 0).

    This form re-walks the hash array once per bit (higher-order functions
    sit outside whole-stage codegen, so the 60 ``filter`` passes are not
    subexpression-eliminated). Fine for ad-hoc use on small inputs; the
    hot path is :func:`simhash_signatures`, which hashes each token
    exactly once and reduces via a map-side-combined aggregation."""
    toks = tokens(col)
    hashes = F.transform(toks, lambda t: hash60(t))

    def bit_vote(j: int) -> Column:
        # NB: the HOF lambda must be unary — a second (defaulted) parameter
        # would make Spark pass the element index into it.
        def has_bit(h: Column) -> Column:
            return h.bitwiseAND(F.lit(1 << j)) != 0

        ones = F.size(F.filter(hashes, has_bit))
        return F.when(ones * 2 > F.size(hashes), F.lit(1 << j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    sig = bit_vote(0)
    for j in range(1, 60):  # hash60 yields 60-bit values
        sig = sig + bit_vote(j)
    return sig


SIMHASH_VOTE_CHUNK = 4096  # tokens per vote block: a 4096x60 int64 matrix is ~2 MB


def simhash_vote_sums(hs, lengths, chunk: int = SIMHASH_VOTE_CHUNK):
    """Per-document SimHash vote sums: for each document (``lengths[i]``
    consecutive entries of the uint64 token hashes ``hs``) and each bit j
    of 60, the count of its tokens with bit j set minus the count
    without. Returns a ``len(lengths) x 60`` int64 array.

    The ±1 vote matrix is built ``chunk`` tokens at a time and each
    block is reduced onto the documents it covers with ``np.add.reduceat``,
    so peak memory is ``chunk x 60`` int64 however many tokens the batch
    holds. Any ``chunk >= 1`` gives the same sums."""
    import numpy as np

    shifts = np.arange(60, dtype=np.uint64)
    ends = np.cumsum(lengths)
    votes = np.zeros((len(lengths), 60), dtype=np.int64)
    for lo in range(0, len(hs), chunk):
        block = hs[lo : lo + chunk]
        pm = 2 * ((block[:, None] >> shifts) & 1).astype(np.int64) - 1
        # owning document of each token; empty documents own none
        doc = np.searchsorted(ends, np.arange(lo, lo + len(block)), side="right")
        first = np.flatnonzero(np.r_[True, doc[1:] != doc[:-1]])
        votes[doc[first]] += np.add.reduceat(pm, first, axis=0)
    return votes


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document 60-bit SimHash — the scale path (Arrow kernel, r14).

    Identical output to ``simhash64`` (strict-majority vote per bit, ties
    and empty documents → 0). Tokenization stays a JVM expression (the
    engine-parity tokenizer — Java regex semantics are NOT replicated in
    Python, so the token stream is computed once where the oracle
    contract lives); only the hash+vote reduction crosses into an Arrow
    batch, where it is a row-LOCAL kernel:

    - md5 per token via hashlib (identical digests to ``F.md5``: both
      hash the UTF-8 bytes; the 60-bit value is the same first-15-hex
      prefix ``hash60`` takes),
    - the 60 ±1 vote sums per document via :func:`simhash_vote_sums`
      (exact integers, bounded memory),
    - majority → signature bits, packed into one int64.

    Why this shape wins: the signature is a per-document reduction of
    per-document tokens — no shuffle is fundamentally required, but an
    explode + 60-conditional-sum hash aggregation pays one full exchange
    of partial vote buffers plus a 60-buffer aggregate per doc. The
    Arrow kernel computes signatures map-side: ZERO exchanges between
    scan and output (the explode+aggregate form is kept below as
    ``simhash_signatures_agg`` — the exactness pin compares the two).

    ``id_col`` must be an integral column: the kernel emits ``doc`` as
    bigint, and a cast would turn any other id into a silent NULL, so
    anything else raises ``ValueError``."""
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise ValueError(
            f"simhash_signatures: id column {id_col!r} is {id_type.simpleString()}, "
            "not an integral type"
        )
    docs = fan_out(df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_text"))).select(
        F.col("doc").cast("bigint").alias("doc"),
        F.coalesce(tokens("_text"), F.array()).alias("toks"),
    )

    def _sig_batches(it):
        import hashlib

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        shifts = np.arange(60, dtype=np.uint64)
        for batch in it:
            lst = batch.column(1)
            lengths = pc.list_value_length(lst)
            if lengths.null_count:
                lengths = pc.fill_null(lengths, 0)
            lengths = lengths.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = pc.list_flatten(lst)
            hs = np.fromiter(
                (
                    int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                    for t in flat.to_pylist()
                ),
                dtype=np.uint64,
                count=len(flat),
            )
            votes = simhash_vote_sums(hs, lengths)
            sig = ((votes > 0).astype(np.int64) << shifts.astype(np.int64)).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(sig, type=pa.int64())], ["doc", "sig"]
            )

    return docs.mapInArrow(_sig_batches, "doc bigint, sig bigint")


def simhash_signatures_agg(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The pre-r14 explode + 60-conditional-sum aggregation form of
    :func:`simhash_signatures` — kept as the pure-JVM reference the
    exactness pin (tests/test_r14_optimization.py) compares the Arrow
    kernel against, and as the fallback for Arrow-less deployments.

    explode tokens → hash each token ONCE → 60 conditional ±1 sums in one
    hash aggregation → fold votes into the signature. The md5 work drops
    60× versus the expression form and the shuffle carries just 60 ints
    per document. (A 21-bit-lane packed variant with 20 buffers was
    measured SLOWER — the shift/or chains outweigh the buffer savings.)"""
    docs = fan_out(df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_text"))).select(
        "doc", tokens("_text").alias("toks")
    )
    ex = docs.select("doc", F.explode_outer("toks").alias("tok")).withColumn("h", hash60(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.col("h").isNull(), 0)
            .when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1)
            .otherwise(-1)
        ).alias(f"v{j}")
        for j in range(60)
    ]
    agg = ex.groupBy("doc").agg(*votes)
    sig: Column = F.lit(0).cast("bigint")
    for j in range(60):
        sig = sig + F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return agg.select("doc", sig.alias("sig"))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded by 4 × 15-bit
    chunks (pigeonhole: hamming <= 3 ⇒ at least one identical chunk), so
    candidate generation is an equi-join, not a cross join.

    The signature table (two ints per doc — the cheapest persistable
    artifact in the whole pipeline) is persisted so the tokenize+hash+
    60-vote aggregation runs once, not once per self-join branch."""
    sig = simhash_signatures(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    chunks = sig.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright("sig", i * 15).bitwiseAND(F.lit((1 << 15) - 1)).alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc", "sig", "c.chunk_id", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# Train/eval contamination check
# --------------------------------------------------------------------------

def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(eval_id, train_id, n_shared) for every eval document sharing at
    least one k-shingle with a train document — the decontamination sweep
    every benchmark holdout needs before training.

    Scale shape: each side reduces to DISTINCT (doc, shingle-hash) pairs
    — the distinct is free (shingle sets are already deduped per doc) and
    hashing means the join key is an 8-byte int, never shingle text.
    An eval holdout is a fixed-size benchmark set, orders of magnitude
    smaller than train, so by default its (eval_id, sh_h) pairs BROADCAST
    and the train shingles — the 100 TB side — are never shuffled at all:
    the join is map-side against the eval hash table, and the only
    exchange left is the group-by on matched pairs, bounded by true
    overlap. Set ``broadcast_eval=False`` for the symmetric shuffle join
    when the 'eval' side is itself corpus-sized (a corpus×corpus overlap
    audit rather than a holdout sweep). Join fan-out is bounded either
    way: a shingle in t train docs and e eval docs emits t·e rows for
    THAT shingle only, and the group-by collapses them map-side.
    Empty/short-document sentinel shingles are dropped so blank docs
    don't cross-match."""
    def side(df: DataFrame, alias: str) -> DataFrame:
        return (
            shingle_projection(df, text_col, id_col, shingle_k)
            .select(F.col("doc").alias(alias), F.explode("sh").alias("s"))
            .filter(F.col("s") != "")
            .select(alias, hash60(F.col("s")).alias("sh_h"))
        )

    ev = side(eval_df, "eval_id")
    tr = side(train, "train_id")
    joined = tr.join(F.broadcast(ev) if broadcast_eval else ev, "sh_h")
    return (
        joined.groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --------------------------------------------------------------------------
# Winnowing near-dup pairs (MOSS-style inverted index)
# --------------------------------------------------------------------------

def winnowing_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Near-dup candidate pairs via shared winnowing fingerprints
    (Schleimer et al., SIGMOD'03): select each document's winnowed
    hash set (see ``text.winnow_fingerprints``), build the inverted
    index (fingerprint → docs), and count shared fingerprints per pair.

    Scale shape: the exploded index holds ~2/(w+1) ints per shingle —
    a per-doc constant — and every shuffle key is an 8-byte hash, never
    text. The ``max_df`` posting-list cap drops fingerprints appearing
    in more than ``max_df`` documents BEFORE the self-join (the classic
    boilerplate guard: a header shared by 1M docs would otherwise emit
    O(M²) pairs for that one hash); the frequency filter and the
    self-join share the same hash partitioning on the fingerprint, so
    the cap costs one map-side-combined count, no extra exchange
    pattern. Pair volume is bounded by max_df²·n_fingerprints.
    """
    from .text import winnow_fp_frame

    fp = winnow_fp_frame(df, text_col, id_col, k=k, w=w).select(
        F.col(id_col).alias("wid"), F.explode("fp").alias("fph")
    )
    ok = (
        fp.groupBy("fph")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= max_df)
        .select("fph")
    )
    idx = fp.join(ok, "fph")
    a = idx.select(F.col("wid").alias("id_a"), "fph")
    b = idx.select(F.col("wid").alias("id_b"), "fph")
    return (
        a.join(b, "fph")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def sql_winnowing_neardup_pairs(
    k: int = 3, w: int = 4, min_shared: int = 2, max_df: int = 50
) -> str:
    """DuckDB oracle for :func:`winnowing_neardup_pairs` over documents."""
    from .text import sql_winnow_fp_relation

    rel = sql_winnow_fp_relation(k=k, w=w)
    return f"""
WITH fp AS (
  SELECT doc_id AS wid, unnest(fp) AS fph FROM {rel} winnowed
),
ok AS (SELECT fph FROM fp GROUP BY fph HAVING count(*) <= {max_df}),
idx AS (SELECT fp.wid, fp.fph FROM fp JOIN ok USING (fph))
SELECT a.wid AS id_a, b.wid AS id_b, count(*) AS n_shared
FROM idx a JOIN idx b ON a.fph = b.fph AND a.wid < b.wid
GROUP BY a.wid, b.wid
HAVING count(*) >= {min_shared}
ORDER BY id_a, id_b
"""


def substring_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact-substring duplication audit (the "Deduplicating Training Data
    Makes Language Models Better" shape, suffix-array role played by
    positional k-gram hashing): mark every token position covered by a
    k-token run that also appears in ANOTHER document, and report the
    per-document duplicated-token fraction — the signal used to trim
    boilerplate spans rather than drop whole documents.

    Scale shape: positional shingle hashes are staged named columns (the
    winnow_fp_frame lesson — each level evaluates once per row);
    cross-document frequency is a distinct-(doc,hash) count, so the
    inverted index shuffles 16-byte rows; the interval-union sweep is
    row-local array math over each doc's sorted duplicate positions.
    Output: (id, n_tokens, n_dup_positions, covered_tokens,
    dup_fraction)."""
    from .text import tokens

    toks = tokens(text_col)
    sh = F.transform(
        F.sequence(F.lit(0), F.size("_ss_toks") - k),
        lambda i: F.concat_ws(" ", F.slice(F.col("_ss_toks"), i + 1, k)),
    )
    staged = (
        df.select(F.col(id_col).alias("sid"), toks.alias("_ss_toks"))
        .withColumn("_n_tokens", F.size("_ss_toks"))
        .filter(F.col("_n_tokens") >= k)
        .select("sid", "_n_tokens", sh.alias("_ss_sh"))
        .select(
            "sid",
            "_n_tokens",
            F.transform("_ss_sh", lambda s: hash60(s)).alias("_ss_h"),
        )
    )
    pos = staged.select(
        "sid", F.posexplode("_ss_h").alias("pos", "h")
    )
    cross_doc = (
        pos.select("sid", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    dup_pos = pos.join(cross_doc, "h").select("sid", "pos").distinct()
    starts = dup_pos.groupBy("sid").agg(
        F.array_sort(F.collect_list("pos")).alias("ps")
    )
    covered = F.aggregate(
        F.zip_with(
            F.col("ps"),
            F.concat(F.slice(F.col("ps"), 2, 1_000_000), F.array(F.lit(None).cast("int"))),
            lambda cur, nxt: F.when(nxt.isNull(), F.lit(k)).otherwise(
                F.least(F.lit(k), nxt - cur)
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    per_doc = starts.select(
        "sid",
        F.size("ps").alias("n_dup_positions"),
        covered.alias("covered_tokens"),
    )
    return (
        df.select(F.col(id_col).alias("sid"), F.size(tokens(text_col)).alias("n_tokens"))
        .join(per_doc, "sid", "left")
        .select(
            F.col("sid").alias(id_col),
            "n_tokens",
            F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                9,
            ).alias("dup_fraction"),
        )
    )


def sql_substring_dup_spans(k: int = 10, table: str = "documents") -> str:
    """DuckDB oracle for :func:`substring_dup_spans`."""
    from .text import sql_tokens

    toks = sql_tokens("text")
    h = sql_hash60("array_to_string(list_slice(toks, i, i + {0}), ' ')".format(k - 1))
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM {table}),
sh AS (
  SELECT doc_id, i - 1 AS pos, {h} AS h
  FROM (
    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {k - 1})) AS i
    FROM t WHERE len(toks) >= {k}
  )
),
cross_doc AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM sh)
  GROUP BY h HAVING count(*) >= 2
),
dup AS (SELECT DISTINCT doc_id, pos FROM sh JOIN cross_doc USING (h)),
starts AS (SELECT doc_id, list_sort(list(pos)) AS ps FROM dup GROUP BY doc_id),
per_doc AS (
  SELECT doc_id, len(ps) AS n_dup_positions,
         list_sum(list_transform(generate_series(1, len(ps)),
           i -> CASE WHEN i < len(ps) THEN least({k}, ps[i + 1] - ps[i]) ELSE {k} END))
           AS covered_tokens
  FROM starts
)
SELECT d.doc_id,
       len({toks}) AS n_tokens,
       coalesce(p.n_dup_positions, 0) AS n_dup_positions,
       CAST(coalesce(p.covered_tokens, 0) AS INT) AS covered_tokens,
       round(CAST(coalesce(p.covered_tokens, 0) AS DOUBLE) / len({toks}), 9) AS dup_fraction
FROM {table} d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


def km_signatures(shingled: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc, sig) MinHash signature frame over a
    :func:`shingle_projection`: the K-M family (one md5 per shingle, two
    56-bit bases, members h1 + i*h2) that :func:`minhash_lsh_candidates`
    bands, also used standalone by estimators that compare signature
    components without the LSH plan."""
    digests = shingled.withColumn("digests", F.transform("sh", lambda s: F.md5(s)))
    hashed = digests.select(
        "doc",
        F.transform("digests", lambda d: F.conv(F.substring(d, 1, 14), 16, 10).cast("bigint")).alias("h1"),
        F.transform("digests", lambda d: F.conv(F.substring(d, 15, 14), 16, 10).cast("bigint")).alias("h2"),
    )

    def member(i: int) -> Column:
        if i == 0:
            return F.array_min(F.col("h1"))
        return F.array_min(F.zip_with("h1", "h2", lambda a, b: a + F.lit(i) * b))

    return hashed.select(
        "doc", F.array(*[member(i) for i in range(num_hashes)]).alias("sig")
    )

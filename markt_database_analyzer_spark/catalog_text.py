"""Text analysis and retrieval/search operators beyond datapipe/text.py.

Consolidated in round 9 from the round-named catalog shards (the
original per-round files are in git history; entry source text is
unchanged). Every entry registers in REGISTRY with a DuckDB oracle
unless documented otherwise; reference parity citations live in the
entry docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from .catalog import SQL_DAVG, SQL_DSUM, SQL_NSUM, register, _t
from .datapipe import text as tx
from .functions import davg, dsum, nsum
from .catalog import SQL_DSUM, register, _t
from .functions import dsum
from pyspark.sql import DataFrame, SparkSession
from .datapipe.hashing import hash60, sql_hash60
from .functions import davg
from .catalog import register, _t
from .datapipe import lm
from .datapipe.sampling import RESOLUTION, _gate, sql_gate
from .datapipe.util import fan_out
from .datapipe.sampling import RESOLUTION
from .operators.equidepth import grouped_value_counts_cum
from .datapipe.sampling import RESOLUTION, sql_gate, train_eval_split
from .catalog import SQL_DAVG, _t, register
from .operators.equidepth import (
    bucket_by_cuts,
    equi_depth_cut_points,
    sql_cuts_ctes,
)


@register(
    "text_entropy_quality",
    oracle=f"""
SELECT d.doc_id,
       coalesce(ch.char_entropy, 0.0) AS char_entropy,
       coalesce(wd.word_entropy, 0.0) AS word_entropy,
       (coalesce(ch.char_entropy, 0.0) < 3.0) AS low_char_entropy
FROM documents d
LEFT JOIN {tx.sql_entropy_cte('documents', 'doc_id', tx.sql_char_items('text'), 'char_entropy')} ch
  ON d.doc_id = ch.id
LEFT JOIN {tx.sql_entropy_cte('documents', 'doc_id', tx.sql_tokens('text'), 'word_entropy')} wd
  ON d.doc_id = wd.id
ORDER BY d.doc_id
""",
    tags=("text", "quality", "entropy"),
)
def text_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy quality signals: character-level entropy (low =
    repeated-character spam) and word-level entropy (low = boilerplate /
    keyword stuffing) — standard corpus-quality heuristics next to the
    Gopher rules. Computed via the SCALABLE explode→count→exact-integer-
    term-sum path (datapipe.text.entropy_frame): everything is codegen'd
    aggregation on (doc, symbol) keys, and the nano-quantized term sum
    is order-insensitive, so the result is engine-exact under any
    partitioning. (The row-local higher-order-function variant is
    interpreted per element — measured ~60 s over sf0.1 vs ~2 s for
    this plan — and stays confined to unit fixtures.) Empty docs keep a
    row via the left-joined doc spine with entropy 0."""
    docs = _t(spark, sf_dir, "documents")
    ch = tx.entropy_frame(docs, "doc_id", tx.char_items("text"), "char_entropy")
    wd = tx.entropy_frame(docs, "doc_id", tx.tokens("text"), "word_entropy")
    return (
        docs.select("doc_id")
        .join(ch, "doc_id", "left")
        .join(wd, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("char_entropy", F.lit(0.0)).alias("char_entropy"),
            F.coalesce("word_entropy", F.lit(0.0)).alias("word_entropy"),
            (F.coalesce("char_entropy", F.lit(0.0)) < 3.0).alias("low_char_entropy"),
        )
        .sortWithinPartitions("doc_id")
    )


_FUZZY_SN_WINDOW = 20  # sorted-neighborhood width: per-row verify work is O(W)
def fuzzy_block_candidates(
    p: DataFrame, prefix_sum_ranks_above: int = 100_000
) -> DataFrame:
    """Shared capped fuzzy-ER candidate generator (used by
    ``join_fuzzy_blocked`` and ``er_fuzzy_canonicalize``): blocked on
    (name-noun, size), sorted-neighborhood rank band W via gap-offset
    explode so candidate enumeration is a pure equi-join doing O(n*W)
    work. Input needs columns p_partkey, p_name, p_size, blk (blk
    non-null and '|'-free — it is a single word from p_name); output is
    (a_key, b_key, a_name, b_name, dist) with dist in [1, 3].

    Block ranking is two-geared. Below
    ``prefix_sum_ranks_above`` rows it is a plain ``row_number()``
    window over (blk, p_size) — one shuffle, fastest at fixture scale.
    Above it, that window is the last single-task growth pattern in the
    catalog: the block vocabulary is FIXED (a word list x ~50 sizes),
    so each hash-partition of the window shuffle carries n/#partitions
    data rows through one sorting task, linear in the corpus. The scale
    gear instead derives ranks from the range-partitioned grouped
    prefix sum (``operators/equidepth.py``): p_partkey is unique within
    a block, so the cumulative distinct-value count IS the dense
    1-based rank, every task is bounded by a range slice of the
    (block, key) domain, and the rank map joins back on the
    globally-unique p_partkey. Both gears produce identical ranks
    (pinned by test).

    The gear gate is a LIMIT-capped count — LocalLimit short-circuits
    every scan task at the threshold, so the probe's cost is bounded by
    the threshold instead of the corpus (a bare count() is a full-table
    job). The ranked frame ``pr`` is eagerly pinned: it feeds BOTH sides
    of the neighborhood self-join plus the rank machinery, and without
    the pin each side re-runs the window (or prefix-sum) rank pass over
    the corpus."""
    if p.limit(prefix_sum_ranks_above + 1).count() <= prefix_sum_ranks_above:
        w = Window.partitionBy("blk", "p_size").orderBy("p_partkey")
        pr = p.withColumn("rnk", F.row_number().over(w))
    else:
        from .operators.equidepth import grouped_value_counts_cum

        gkey = F.concat_ws("|", F.col("blk"), F.col("p_size").cast("string"))
        cum, _ = grouped_value_counts_cum(p, gkey, F.col("p_partkey"))
        ranks = cum.select(
            F.col("v").alias("p_partkey"), F.col("cum").alias("rnk")
        )
        pr = p.join(ranks, "p_partkey")
    pr = pr.localCheckpoint(eager=True)
    b = pr.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_name").alias("b_name"),
        "p_size",
        "blk",
        F.explode(
            F.array(*[F.lit(j) for j in range(1, _FUZZY_SN_WINDOW + 1)])
        ).alias("gap"),
        F.col("rnk").alias("b_rnk"),
    ).withColumn("a_rnk", F.col("b_rnk") - F.col("gap"))
    dist = F.levenshtein(F.col("p_name"), F.col("b_name"))
    return (
        pr.join(
            b,
            on=[pr["blk"] == b["blk"], pr["p_size"] == b["p_size"], pr["rnk"] == b["a_rnk"]],
        )
        .filter(dist.between(1, 3))
        .select(
            F.col("p_partkey").alias("a_key"),
            "b_key",
            F.col("p_name").alias("a_name"),
            "b_name",
            dist.cast("bigint").alias("dist"),
        )
    )
@register(
    "join_fuzzy_blocked",
    oracle=f"""
WITH p AS (
  SELECT p_partkey, p_name, p_size, string_split(p_name, ' ')[2] AS blk,
         row_number() OVER (PARTITION BY string_split(p_name, ' ')[2], p_size
                            ORDER BY p_partkey) AS rnk
  FROM part
)
SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
       a.p_name AS a_name, b.p_name AS b_name,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM p a JOIN p b
  ON a.blk = b.blk AND a.p_size = b.p_size
 AND b.rnk - a.rnk BETWEEN 1 AND {_FUZZY_SN_WINDOW}
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
ORDER BY a_key, b_key
""",
    tags=("fuzzy", "join", "entity-resolution"),
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance with BLOCKING plus a
    SORTED-NEIGHBORHOOD cap (Hernandez & Stolfo 1995): candidate pairs
    come from an equi-join on a cheap deterministic block key (the
    name's noun token + p_size), and within a block only rows whose
    partkey-order ranks are within W={_FUZZY_SN_WINDOW} of each other
    are compared. Without the cap, per-block verify work is O(block**2)
    and the 400 block keys here are corpus-independent, so blocks — and
    the quadratic — GROW with the data (measured r3: 9.9x wall / 69x
    shuffle at 10x). With it, each row is compared to at most W
    neighbors: total work O(n*W), linear in the corpus. The rank join
    is made a pure equi-join by exploding the right side over the W
    gap offsets — candidate enumeration itself is linear, not just the
    post-filter. At sf0.01 every block has <= 13 rows, so the capped
    output is row-identical to the uncapped r1-r3 form; the cap is
    reflected in the oracle's rank-band condition. levenshtein() is
    JVM-side in Spark and built-in in DuckDB — the oracle is a literal
    semantic replay. Candidate generation is the shared
    :func:`fuzzy_block_candidates` (gap-offset explode — a block of m
    rows yields <= m*W candidate rows, never m**2)."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_size",
        F.split(F.col("p_name"), " ").getItem(1).alias("blk"),
    )
    return fuzzy_block_candidates(p).sortWithinPartitions("a_key", "b_key")


@register(
    "text_bpe_pair_merge",
    oracle="""
WITH words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc
  FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  )
  WHERE len(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair, wc
  FROM words
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair LIMIT 20
""",
    tags=("text", "bpe", "tokenizer"),
)
def text_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One byte-pair-encoding merge iteration (Sennrich 2016): count
    adjacent symbol pairs weighted by corpus word frequency and rank
    the merge candidates. The scale trick is the two-level aggregation:
    raw text collapses to a VOCABULARY (word, count) table first — at
    100 TB the vocabulary is millions of rows, not trillions — and the
    quadratic-looking pair explosion runs over the vocabulary only.
    Pair cardinality is bounded by the symbol alphabet (<= 26^2 here),
    so the final agg is map-side-combined to near-nothing. This is the
    distributed inner loop of tokenizer training."""
    words = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


@register(
    "text_pmi_collocations",
    oracle="""
WITH docs AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> len(x) > 0) AS ts
  FROM documents
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(ts) AS w FROM docs) GROUP BY w
),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy
  FROM (
    SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
           unnest(list_transform(range(1, len(ts)), i -> ts[i + 1])) AS w2
    FROM docs WHERE len(ts) >= 2
  ) GROUP BY w1, w2
),
tot AS (
  SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS nu,
         (SELECT CAST(sum(cxy) AS DOUBLE) FROM bi) AS nb
)
SELECT b.w1, b.w2, b.cxy,
       round(ln(((CAST(b.cxy AS DOUBLE) * t.nu) /
                 (CAST(u1.c AS DOUBLE) * u2.c)) * (t.nu / t.nb)), 9) AS pmi
FROM bi b
JOIN uni u1 ON b.w1 = u1.w
JOIN uni u2 ON b.w2 = u2.w
CROSS JOIN tot t
WHERE b.cxy >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 30
""",
    tags=("text", "collocation", "pmi"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: rank bigrams by
    ln(p(xy) / (p(x)p(y))) with a min-support gate (cxy >= 5), the
    standard association measure for phrase extraction in LLM-corpus
    analysis (Church & Hanks 1990). Unigram and bigram counts are two
    hash aggs off one tokenized projection; the corpus totals are 1-row
    aggregates broadcast into the scoring join, and the unigram side of
    the count join is vocabulary-sized (broadcastable at any corpus
    scale). The double-arithmetic association in the PMI formula is
    written identically in both engines so the rounded-9dp score
    hash-matches."""
    docs = _t(spark, sf_dir, "documents").select(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"),
            lambda x: F.length(x) > 0,
        ).alias("ts")
    )
    uni = (
        docs.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        docs.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"
                )
            ).alias("s")
        )
        .select("s.w1", "s.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    nu = uni.agg(F.sum("c").cast("double").alias("nu"))
    nb = bi.agg(F.sum("cxy").cast("double").alias("nb"))
    tot = nu.crossJoin(nb)
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bi.filter(F.col("cxy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "cxy",
            F.round(
                F.log(
                    (
                        (F.col("cxy").cast("double") * F.col("nu"))
                        / (F.col("c1").cast("double") * F.col("c2"))
                    )
                    * (F.col("nu") / F.col("nb"))
                ),
                9,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(30)


_TOKENIZE = "[^a-z]+"
def _tokens(df: DataFrame) -> DataFrame:
    """(doc_id, w) token stream — the shared tokenization convention."""
    return df.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), _TOKENIZE)).alias("w")
    ).filter(F.length("w") > 0)
_SQL_TOKENS = """
  SELECT doc_id, w
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents)
  WHERE len(w) > 0"""
_BM25_TERMS = ("spark", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75
@register(
    "search_bm25_topk",
    oracle=f"""
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
                               + {_BM25_B} * (CAST(d.dl AS DOUBLE) / s.avgdl))))''')} AS score
  FROM tf t
  JOIN idf i USING (w)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY t.doc_id
)
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id LIMIT 20
""",
    tags=("search", "bm25", "ranking"),
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones, Lucene-style idf)
    for a fixed term query: tf from the token stream filtered to query
    terms BEFORE any shuffle (the posting-list projection), df/idf and
    corpus stats as 1-row / terms-sized broadcasts, per-(doc, term)
    partial scores quantized on the micro-unit grid so the per-doc sum
    is order-independent, then a global top-k. At 100 TB the only
    full-corpus aggregates are doclen and N — everything query-dependent
    touches posting lists for the query terms only, which is the
    inverted-index access path (`index_inverted_postings`) expressed
    relationally."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)
    dl = (
        docs.select("doc_id")
        .join(toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")), "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("dl"))
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
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl")))
        )
    )
    scored = (
        tf.join(idf, "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(dsum(term_score).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(20)

@register(
    "index_inverted_postings",
    oracle=f"""
WITH toks AS ({_SQL_TOKENS}),
grouped AS (
  SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w, doc_id
)
SELECT w AS token,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(c) AS BIGINT) AS cf,
       array_to_string(list(doc_id ORDER BY doc_id)[1:8], ',') AS postings_head
FROM grouped GROUP BY w
ORDER BY df DESC, token LIMIT 50
""",
    tags=("search", "index", "postings"),
)
def index_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token -> (document frequency,
    collection frequency, head of the sorted posting list). The shuffle
    key is the token, exactly how distributed indexers partition
    posting lists; map-side combine collapses per-partition duplicates
    of (token, doc) before the exchange. The posting-list HEAD (first 8
    doc ids) stands in for the full list so the driver result stays
    scalar-typed — a real index writer would stream the full sorted
    list per token to its segment file from this same frame. Reference
    analog: the value_counts-style vocabulary report generalized to
    per-document postings."""
    grouped = (
        _tokens(_t(spark, sf_dir, "documents"))
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        grouped.groupBy(F.col("w").alias("token"))
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("c").alias("cf"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 8), ","
            ).alias("postings_head"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(50)
    )


@register(
    "text_readability",
    oracle="""
WITH feats AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                              x -> len(x) > 0)) AS BIGINT) AS words,
         CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS syllables,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS sentences
  FROM documents
)
SELECT doc_id, words, syllables, sentences,
       round(206.835
             - 1.015 * (CAST(words AS DOUBLE) / sentences)
             - 84.6 * (CAST(syllables AS DOUBLE) / words), 6) AS flesch
FROM feats WHERE words > 0
ORDER BY doc_id
""",
    tags=("text", "readability", "quality"),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring with the standard vowel-group
    syllable heuristic — a row-local projection (two regex passes +
    arithmetic), fully inside whole-stage codegen, joining the
    language-ID / entropy / Gopher entries as another quality signal
    for corpus curation. The synthetic corpus has no sentence
    punctuation, so `sentences` clamps at 1 (the formula degrades to a
    length+syllable penalty) — on punctuated text the same expression
    yields the published score. Reference analog: the per-row derived
    metrics of analyse.py's report tables."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: F.length(x) > 0
    )
    feats = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("words"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)"))
        .cast("bigint")
        .alias("syllables"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
        )
        .cast("bigint")
        .alias("sentences"),
    )
    return (
        feats.filter(F.col("words") > 0)
        .select(
            "doc_id",
            "words",
            "syllables",
            "sentences",
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * (F.col("words").cast("double") / F.col("sentences"))
                - F.lit(84.6) * (F.col("syllables").cast("double") / F.col("words")),
                6,
            ).alias("flesch"),
        )
        .sortWithinPartitions("doc_id")
    )


_BPE_STEPS = 5
# Shared vocabulary bootstrap: corpus words -> (symbol-sequence string,
# corpus count). Symbols are space-separated characters; merges rewrite
# the sequence in place.
_SQL_VOCAB = """
  SELECT array_to_string(list_transform(range(1, len(w) + 1),
                                        i -> w[i]), ' ') AS seq,
         CAST(count(*) AS BIGINT) AS wc
  FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  )
  WHERE len(w) >= 2 GROUP BY 1"""
def _sql_pairs(src: str) -> str:
    return f"""
  SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS pair,
           wc
    FROM (SELECT string_split(seq, ' ') AS ts, wc FROM {src})
  ) GROUP BY pair"""
def _bpe_oracle() -> str:
    head = f"WITH v0 AS ({_SQL_VOCAB})"
    parts = []
    for i in range(_BPE_STEPS):
        parts.append(
            f""",
pc{i} AS ({_sql_pairs(f'v{i}')}),
best{i} AS (
  SELECT pair, cnt FROM pc{i} ORDER BY cnt DESC, pair LIMIT 1
),
v{i + 1} AS (
  SELECT trim(replace(' ' || seq || ' ',
                      ' ' || (SELECT pair FROM best{i}) || ' ',
                      ' ' || replace((SELECT pair FROM best{i}), ' ', '') || ' ')) AS seq,
         wc
  FROM v{i}
)"""
        )
    union = " UNION ALL ".join(
        f"SELECT {i + 1} AS step, pair AS merged_pair,"
        f" replace(pair, ' ', '') AS new_token, cnt AS support FROM best{i}"
        for i in range(_BPE_STEPS)
    )
    return head + "".join(parts) + f"\nSELECT CAST(step AS BIGINT) AS step, merged_pair, new_token, support FROM ({union}) ORDER BY step"
@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle(),
    tags=("text", "bpe", "tokenizer", "iterative"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich 2016), 5 merge
    iterations: bootstrap the vocabulary as (symbol-sequence, corpus
    count) — vocabulary-sized, the corpus is never touched again — then
    per step: count adjacent symbol pairs (weighted by word count),
    pick the argmax pair (cnt desc, pair asc — a total order, so the
    trajectory is deterministic), and rewrite every vocabulary entry
    with the merged symbol (space-anchored literal replace; identical
    left-to-right non-overlapping semantics in the JVM and DuckDB).
    Each iteration is one explode + one hash agg + one 1-row broadcast
    + one map-only rewrite over the vocabulary frame, persisted between
    steps — the loop cost is independent of corpus size after the
    bootstrap, which is exactly why BPE training scales as a
    vocabulary-frame recursion. Returns the learned merge table; the
    oracle replays all 5 steps as unrolled CTEs."""
    words = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    vocab = words.select(
        F.array_join(F.split(F.col("w"), ""), " ").alias("seq"), "wc"
    ).persist()
    merges = []
    for step in range(_BPE_STEPS):
        pairs = (
            vocab.select(F.split("seq", " ").alias("ts"), "wc")
            # fully-merged entries (one symbol) have no pairs; Spark's
            # sequence(1, 0) would run DESCENDING, so gate explicitly
            # (DuckDB's range(1, 1) is empty and needs no guard)
            .filter(F.size("ts") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(ts) - 1),"
                        " i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
                    )
                ).alias("pair"),
                "wc",
            )
            .groupBy("pair")
            .agg(F.sum("wc").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "pair").limit(1)
        merges.append(
            best.select(
                F.lit(step + 1).cast("bigint").alias("step"),
                F.col("pair").alias("merged_pair"),
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("new_token"),
                F.col("cnt").alias("support"),
            )
        )
        nxt = (
            vocab.crossJoin(F.broadcast(best.select("pair")))
            .select(
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                        F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                        F.concat(
                            F.lit(" "),
                            F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                            F.lit(" "),
                        ),
                    )
                ).alias("seq"),
                "wc",
            )
            .persist()
        )
        vocab = nxt
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("step")


_LINE_TOKENS = 6
def _sql_c4_lines() -> str:
    toks = tx.sql_tokens("text")
    keep = tx.sql_c4_line_keep("line")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
line0 AS (
  SELECT doc_id, g AS pos,
         array_to_string(toks[(g * {_LINE_TOKENS} + 1):((g + 1) * {_LINE_TOKENS})], ' ') AS l0
  FROM t, unnest(generate_series(0, CAST(ceil(len(toks) / {_LINE_TOKENS}.0) AS INT) - 1)) AS u(g)
  WHERE len(toks) > 0
),
lines AS (
  SELECT doc_id, pos,
         CASE WHEN {sql_hash60('l0')} % 2 = 0 THEN l0 || '.' ELSE l0 END AS line
  FROM line0
),
flagged AS (SELECT doc_id, pos, line, {keep} AS keep FROM lines)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
       (count(*) FILTER (WHERE keep)) >= 3 AS keep_doc,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), ''))
         AS clean_md5
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""
@register(
    "text_c4_line_filters",
    oracle=_sql_c4_lines(),
    tags=("text", "c4", "filter", "curation"),
)
def text_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines that end in terminal punctuation, have >= 3 words, contain no
    curly brace and no 'lorem ipsum'; a doc survives with >= 3 kept
    lines. The testdata corpus is single-line and unpunctuated, so lines
    are derived deterministically — fixed 6-token chunks, with a
    terminal '.' appended when the chunk's 60-bit hash is even — which
    exercises every rule with a mixed outcome while both engines replay
    the identical derivation. All row-local higher-order-function
    expressions (codegen, no UDF, no shuffle beyond the per-doc
    reassembly); at 100 TB the only shuffle key is doc_id."""
    docs = _t(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    n_lines = F.ceil(F.size(toks) / F.lit(_LINE_TOKENS)).cast("int")
    raw = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda g: F.array_join(
            F.slice(toks, g * _LINE_TOKENS + 1, _LINE_TOKENS), " "
        ),
    )
    lines = F.transform(
        raw,
        lambda l: F.when(
            hash60(l) % F.lit(2) == 0, F.concat(l, F.lit("."))
        ).otherwise(l),
    )
    flagged = (
        fan_out(docs)
        .filter(F.size(toks) > 0)
        .select("doc_id", F.posexplode(lines).alias("pos", "line"))
        .withColumn("keep", tx.c4_line_keep(F.col("line")))
    )
    kept_struct = F.when(F.col("keep"), F.struct("pos", "line"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["line"],
                    ),
                    "\n",
                )
            ).alias("clean_md5"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_kept",
            (F.col("n_kept") >= 3).alias("keep_doc"),
            "clean_md5",
        )
        .sortWithinPartitions("doc_id")
    )


def _sql_ccnet_buckets() -> str:
    scores = lm.sql_bigram_logprob_scores()
    return f"""
WITH j AS (
  SELECT s.doc_id, d.lang, s.n_bigrams, s.avg_neg_logp,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_neg_logp, s.doc_id) AS tercile
  FROM ({scores}) s JOIN documents d USING (doc_id)
  WHERE s.n_bigrams > 0
)
SELECT doc_id, lang, n_bigrams, avg_neg_logp,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ppl_bucket
FROM j ORDER BY doc_id
"""
@register(
    "text_ccnet_buckets",
    oracle=_sql_ccnet_buckets(),
    tags=("text", "lm", "curation", "ccnet"),
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    doc under the corpus bigram LM, then split each language into
    head / middle / tail terciles by per-token NLL — the standard
    precursor to keeping 'head' for LM pretraining. Reuses the add-α
    bigram scorer (datapipe/lm.py) whose per-term rounding makes the NLL
    engine-portable; the tercile is ntile(3) over a total order
    (nll, doc_id), so bucket membership is reproducible run-to-run and
    across engines. The per-language window shuffles (lang) — ~dozens of
    partitions at any scale; skew between languages is real at 100 TB
    but ntile only needs a sort within each language, which AQE splits
    across reducers."""
    docs = _t(spark, sf_dir, "documents")
    scores = lm.bigram_logprob_scores(docs, "text", "doc_id")
    scored = (
        scores.filter(F.col("n_bigrams") > 0)
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    w = Window.partitionBy("lang").orderBy("avg_neg_logp", "doc_id")
    tercile = F.ntile(3).over(w)
    return (
        scored.withColumn("tercile", tercile)
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "avg_neg_logp",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
        .sortWithinPartitions("doc_id")
    )


_RAKE_STOPWORDS = ("a", "the")
def _sql_rake() -> str:
    stop = "|".join(_RAKE_STOPWORDS)
    marked = f"regexp_replace(lower(trim(text)), '\\b(?:{stop})\\b', '|', 'g')"
    return f"""
WITH ph AS (
  SELECT doc_id, g AS pos, trim(parts[g + 1]) AS phrase
  FROM (SELECT doc_id, string_split({marked}, '|') AS parts FROM documents),
       unnest(generate_series(0, len(parts) - 1)) AS u(g)
  WHERE trim(parts[g + 1]) != ''
),
pt AS (
  SELECT doc_id, pos, phrase,
         list_filter(regexp_split_to_array(phrase, '\\s+'), t -> t != '') AS toks
  FROM ph
),
pw AS (
  SELECT doc_id, pos, phrase, len(toks) AS plen, unnest(toks) AS word
  FROM pt
),
ws AS (
  SELECT doc_id, word,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS deg
  FROM pw GROUP BY doc_id, word
),
sc AS (
  SELECT pw.doc_id, pw.pos, pw.phrase,
         CAST(sum(CAST(round(CAST(ws.deg AS DOUBLE) / ws.freq * 1e9) AS BIGINT))
           AS BIGINT) AS score_q
  FROM pw JOIN ws ON pw.doc_id = ws.doc_id AND pw.word = ws.word
  GROUP BY pw.doc_id, pw.pos, pw.phrase
),
rk AS (
  SELECT doc_id, phrase, score_q,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_q DESC, pos) AS rn
  FROM sc
)
SELECT doc_id, phrase AS top_phrase,
       round(score_q / 1e9, 9) AS rake_score
FROM rk WHERE rn = 1 ORDER BY doc_id
"""
@register(
    "text_keyword_rake",
    oracle=_sql_rake(),
    tags=("text", "keywords", "rake"),
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal token runs between stopwords; each word scores deg/freq
    (deg = Σ length of phrases containing it), a phrase scores the sum
    of its word scores, and the top phrase per doc wins. Stopword
    boundaries are a single portable regexp_replace→split (Java∩RE2
    \\b), word scores are ratios of exact integers quantized to nano
    before the phrase sum — order-free integer reduction. Everything
    shuffles on (doc_id[, word]): per-doc statistics only, no global
    state, embarrassingly parallel at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    stop = "|".join(_RAKE_STOPWORDS)
    marked = F.regexp_replace(
        F.lower(F.trim("text")), rf"\b(?:{stop})\b", "|"
    )
    ph = (
        docs.select("doc_id", F.posexplode(F.split(marked, r"\|")).alias("pos", "raw"))
        .select("doc_id", "pos", F.trim("raw").alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    pt = ph.withColumn(
        "toks", F.filter(F.split("phrase", r"\s+"), lambda t: t != "")
    )
    pw = pt.select(
        "doc_id",
        "pos",
        "phrase",
        F.size("toks").alias("plen"),
        F.explode("toks").alias("word"),
    )
    ws = pw.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    sc = (
        pw.join(ws, ["doc_id", "word"])
        .groupBy("doc_id", "pos", "phrase")
        .agg(
            F.sum(
                F.round(F.col("deg").cast("double") / F.col("freq") * 1e9).cast(
                    "bigint"
                )
            ).alias("score_q")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), "pos")
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("phrase").alias("top_phrase"),
            F.round(F.col("score_q") / 1e9, 9).alias("rake_score"),
        )
        .sortWithinPartitions("doc_id")
    )


_IG_TOPK = 20
_PLOGP = "CASE WHEN {p} > 0 THEN round(({p}) * ln({p}), 9) ELSE 0.0 END"
def _sql_info_gain() -> str:
    toks = tx.sql_tokens("text")
    h = _PLOGP.format(p="d / CAST(n AS DOUBLE)")
    hp = _PLOGP.format(p="n1 / CAST(n1_tot AS DOUBLE)")
    ha = _PLOGP.format(p="(d - n1) / CAST(n - n1_tot AS DOUBLE)")
    q = "CAST(SUM(CAST(round(({t}) * 1000000.0) AS HUGEINT)) AS DOUBLE) / 1000000.0"
    return f"""
WITH pres AS (
  SELECT DISTINCT doc_id, lang, unnest({toks}) AS tok FROM documents
),
lang_tot AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS d FROM documents GROUP BY lang
),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
h_lang AS (
  SELECT -({q.format(t=h)}) AS h0 FROM lang_tot CROSS JOIN ntot
),
grid AS (
  SELECT t.tok, l.lang, l.d, COALESCE(c.n1, 0) AS n1
  FROM (SELECT DISTINCT tok FROM pres) t
  CROSS JOIN lang_tot l
  LEFT JOIN (
    SELECT tok, lang, CAST(count(*) AS BIGINT) AS n1 FROM pres GROUP BY tok, lang
  ) c ON c.tok = t.tok AND c.lang = l.lang
),
pertok AS (
  SELECT tok, CAST(sum(n1) AS BIGINT) AS n1_tot FROM grid GROUP BY tok
),
terms AS (
  SELECT g.tok, p.n1_tot, ntot.n,
         {hp} AS tp,
         {ha} AS ta
  FROM grid g JOIN pertok p USING (tok) CROSS JOIN ntot
),
ent AS (
  SELECT tok, min(n1_tot) AS df,
         -({q.format(t="tp")}) AS h_pres,
         -({q.format(t="ta")}) AS h_abs,
         min(n1_tot) / CAST(min(n) AS DOUBLE) AS w_pres
  FROM terms GROUP BY tok
)
SELECT tok, df,
       round(h0 - w_pres * h_pres - (1.0 - w_pres) * h_abs, 9) AS info_gain
FROM ent CROSS JOIN h_lang
ORDER BY info_gain DESC, tok LIMIT {_IG_TOPK}
"""
@register(
    "text_info_gain",
    oracle=_sql_info_gain(),
    tags=("text", "ml", "features"),
)
def text_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of each token for predicting the document
    language: IG(t) = H(lang) − P(t)·H(lang|t present) − P(¬t)·H(lang|t
    absent) — the entropy-based feature selector (decision-stump split
    criterion). Presence counts are one distinct + one groupBy; the
    vocab × lang grid rides in as a broadcast dim; every p·ln p term is
    rounded at 9 dp and micro-quantize-summed. At 100 TB the only
    corpus-sized shuffle is the distinct over (doc, lang, token) ints."""
    docs = _t(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(tx.tokens("text"))).alias("tok")
    )
    lang_tot = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("d"))
    ntot = docs.agg(F.count(F.lit(1)).alias("n"))

    def plogp(p):
        return F.when(p > 0, F.round(p * F.log(p), 9)).otherwise(F.lit(0.0))

    h_lang = (
        lang_tot.crossJoin(F.broadcast(ntot))
        .agg((-dsum(plogp(F.col("d") / F.col("n").cast("double")))).alias("h0"))
    )
    c = pres.groupBy("tok", "lang").agg(F.count(F.lit(1)).alias("n1"))
    vocab = pres.select("tok").distinct()
    grid = (
        vocab.crossJoin(F.broadcast(lang_tot))
        .join(
            F.broadcast(
                c.select(F.col("tok").alias("c_tok"), F.col("lang").alias("c_lang"), "n1")
            ),
            (F.col("c_tok") == F.col("tok")) & (F.col("c_lang") == F.col("lang")),
            "left",
        )
        .select("tok", "lang", "d", F.coalesce("n1", F.lit(0)).alias("n1"))
    )
    wt = Window.partitionBy("tok")
    terms = grid.crossJoin(F.broadcast(ntot)).select(
        "tok",
        "n",
        F.sum("n1").over(wt).alias("n1_tot"),
        plogp(F.col("n1") / F.sum("n1").over(wt).cast("double")).alias("tp"),
        plogp(
            (F.col("d") - F.col("n1"))
            / (F.col("n") - F.sum("n1").over(wt)).cast("double")
        ).alias("ta"),
    )
    ent = terms.groupBy("tok").agg(
        F.min("n1_tot").alias("df"),
        (-dsum(F.col("tp"))).alias("h_pres"),
        (-dsum(F.col("ta"))).alias("h_abs"),
        (F.min("n1_tot") / F.min("n").cast("double")).alias("w_pres"),
    )
    return (
        ent.crossJoin(F.broadcast(h_lang))
        .select(
            "tok",
            "df",
            F.round(
                F.col("h0")
                - F.col("w_pres") * F.col("h_pres")
                - (1.0 - F.col("w_pres")) * F.col("h_abs"),
                9,
            ).alias("info_gain"),
        )
        .orderBy(F.desc("info_gain"), "tok")
        .limit(_IG_TOPK)
    )


_FH_DIMS = 32
_FH_MAX_DOC = 100
def _sql_feature_hashing() -> str:
    toks = tx.sql_tokens("text")
    h = sql_hash60("tok")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS tok
  FROM documents WHERE doc_id < {_FH_MAX_DOC}
),
cnt AS (
  SELECT doc_id, ({h}) % {_FH_DIMS} AS dim, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2
),
norm AS (
  SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS ss FROM cnt GROUP BY doc_id
)
SELECT c.doc_id, CAST(c.dim AS BIGINT) AS dim, c.cnt,
       round(c.cnt / sqrt(CAST(n.ss AS DOUBLE)), 9) AS l2_value
FROM cnt c JOIN norm n ON n.doc_id = c.doc_id
ORDER BY c.doc_id, dim
"""
@register(
    "text_feature_hashing",
    oracle=_sql_feature_hashing(),
    tags=("text", "features", "ml"),
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization (the HashingVectorizer standard): each
    token maps to dim = h(token) mod {_FH_DIMS} with the portable
    md5-60bit family, per-doc dimension counts are L2-normalized, and
    the output is the LONG (doc, dim, value) form — the layout a sparse
    trainer ingests and the one that shuffles ints, never vocabulary
    strings. No vocabulary pass, no fitting: the property that makes the
    trick work on unbounded streams. Norms are exact integer
    sum-of-squares under IEEE sqrt."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _FH_MAX_DOC)
    tok = docs.select("doc_id", F.explode(tx.tokens("text")).alias("tok"))
    cnt = tok.groupBy(
        "doc_id", F.pmod(hash60(F.col("tok")), F.lit(_FH_DIMS)).alias("dim")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    norm = cnt.groupBy("doc_id").agg(F.sum(F.col("cnt") * F.col("cnt")).alias("ss"))
    return (
        cnt.join(norm, "doc_id")
        .select(
            "doc_id",
            F.col("dim").cast("bigint").alias("dim"),
            "cnt",
            F.round(F.col("cnt") / F.sqrt(F.col("ss").cast("double")), 9).alias(
                "l2_value"
            ),
        )
        .sortWithinPartitions("doc_id", "dim")
    )


def _sql_zipf() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH tf AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({toks}) AS tok FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT tok, freq,
         row_number() OVER (ORDER BY freq DESC, tok) AS rank
  FROM tf
),
pts AS (
  SELECT round(ln(rank), 9) AS x, round(ln(freq), 9) AS y FROM ranked
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         {SQL_DSUM.format(x='x')} AS sx,
         {SQL_DSUM.format(x='y')} AS sy,
         {SQL_DSUM.format(x='x * y')} AS sxy,
         {SQL_DSUM.format(x='x * x')} AS sxx
  FROM pts
)
SELECT n AS vocab_size,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
       round(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 9) AS zipf_exponent,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 9) AS intercept
FROM stats
"""
@register(
    "text_zipf_fit",
    oracle=_sql_zipf(),
    tags=("text", "stats", "zipf"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent for the corpus: OLS of ln(freq) on ln(rank)
    over the term-frequency table — the one-number summary of vocabulary
    skew (natural language sits near s≈1; a synthetic or templated
    corpus shows up immediately as a flat slope). One token groupBy, one
    global rank window over VOCABULARY rows (never corpus rows), and a
    closed-form OLS on 9 dp-rounded logs with micro-quantized sums."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = tf.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("freq"), "tok"))
    )
    pts = ranked.select(
        F.round(F.log("rank"), 9).alias("x"), F.round(F.log("freq"), 9).alias("y")
    )

    stats = pts.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return stats.select(
        F.col("n").alias("vocab_size"),
        F.round(slope, 9).alias("slope"),
        F.round(-slope, 9).alias("zipf_exponent"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 9).alias("intercept"),
    )


_DIVERSITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, {tx.sql_tokens('text')} AS t FROM documents
),
tri AS (
  SELECT lang,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toks WHERE len(t) >= 3
),
per_gram AS (
  SELECT lang, g, CAST(count(*) AS BIGINT) AS cnt FROM tri GROUP BY 1, 2
)
SELECT lang,
       CAST(sum(cnt) AS BIGINT) AS total_trigrams,
       CAST(count(*) AS BIGINT) AS distinct_trigrams,
       round(count(*) / CAST(sum(cnt) AS DOUBLE), 9) AS distinct_ratio
FROM per_gram GROUP BY lang ORDER BY lang
"""
@register(
    "text_distinct_ngram_diversity",
    oracle=_DIVERSITY_SQL,
    tags=("text", "diversity", "ngram", "curation"),
)
def text_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-trigram ratio per language — the distinct-n corpus
    diversity signal (Li et al. 2016 "distinct-n"; used by data-mix
    reports to flag template-heavy or duplicated sources before
    training). A low ratio means the corpus repeats the same word
    trigrams over and over.

    Plan shape: row-local trigram derivation (token array -> windowed
    concat, whole-stage codegen), then an explicit TWO-LEVEL aggregate
    — (lang, trigram) partial counts first (map-side combined; the
    shuffle carries each distinct trigram once per partition, never the
    corpus), then the per-language rollup of (sum, count). No
    count(DISTINCT) expansion, no window. Degenerate docs (<3 tokens)
    contribute nothing on both engines."""
    docs = _t(spark, sf_dir, "documents")
    # materialize the token array ONCE per row: referencing tx.tokens()
    # directly inside the trigram lambda re-evaluates the split+filter
    # for every element_at — O(len^2) per document (measured 11.3 s vs
    # 0.8 s at sf0.1)
    toks = docs.select("lang", tx.tokens("text").alias("t"))
    t = F.col("t")
    tri = toks.select(
        "lang",
        F.explode(
            F.when(
                F.size(t) >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(t, i),
                        F.element_at(t, i + 1),
                        F.element_at(t, i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    per_gram = tri.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_gram.groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_trigrams"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_trigrams"),
            F.round(
                F.count(F.lit(1)) / F.sum("cnt").cast("double"), 9
            ).alias("distinct_ratio"),
        )
        .orderBy("lang")
    )


def _sql_hapax() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH tok AS (
  SELECT lang, unnest({toks}) AS t FROM documents
),
vc AS (
  SELECT lang, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS hapax,
       CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS dis,
       CAST(sum(c) AS BIGINT) AS tokens,
       round(count(*) FILTER (WHERE c = 1) / CAST(count(*) AS DOUBLE), 9)
         AS hapax_ratio,
       round(count(*) / CAST(sum(c) AS DOUBLE), 9) AS type_token_ratio
FROM vc GROUP BY 1 ORDER BY 1
"""
@register(
    "text_hapax_richness",
    oracle=_sql_hapax(),
    tags=("text", "vocabulary", "lexical-stats"),
)
def text_hapax_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per language: vocabulary size, hapax
    legomena (frequency-1 types — in a clean natural corpus roughly
    40-60% of the vocabulary, a Zipf consequence; far off that band
    signals boilerplate or spam), dis legomena, hapax ratio, and
    type-token ratio. The corpus-health diagnostic that complements
    ``text_zipf_fit`` (slope) and ``text_distinct_ngram_diversity``
    (n-gram level) for pretraining-data QA.

    Two-level exact aggregation — (lang, token) counts, then per-lang
    FILTERed counts over the vocabulary frame — all BIGINTs, ratios as
    single exact-integer divisions. Plan shape: explode + two
    map-side-combinable aggregates keyed by (lang, token) then lang;
    the shuffle carries one row per VOCABULARY entry, never per token
    occurrence, at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tx.tokens("text")).alias("t"))
    vc = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return (
        vc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.count(F.when(F.col("c") == 1, 1)).cast("bigint").alias("hapax"),
            F.count(F.when(F.col("c") == 2, 1)).cast("bigint").alias("dis"),
            F.sum("c").cast("bigint").alias("tokens"),
        )
        .select(
            "lang",
            "vocab",
            "hapax",
            "dis",
            "tokens",
            F.round(F.col("hapax") / F.col("vocab").cast("double"), 9).alias(
                "hapax_ratio"
            ),
            F.round(F.col("vocab") / F.col("tokens").cast("double"), 9).alias(
                "type_token_ratio"
            ),
        )
        .orderBy("lang")
    )


_BURST_TOPN = 20
def _sql_burstiness() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH tc AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({toks}) AS t FROM documents)
  GROUP BY 1, 2
),
per_term AS (
  SELECT t AS term,
         CAST(sum(c) AS BIGINT) AS total_cnt,
         CAST(count(*) AS BIGINT) AS doc_freq,
         CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS s2
  FROM tc GROUP BY 1
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT term, total_cnt, doc_freq, n_docs,
       round(total_cnt / CAST(n_docs AS DOUBLE), 9) AS mean_per_doc,
       round((CAST(s2 AS DOUBLE) / n_docs
              - (total_cnt / CAST(n_docs AS DOUBLE)) * (total_cnt / CAST(n_docs AS DOUBLE)))
             / (total_cnt / CAST(n_docs AS DOUBLE)), 9) AS fano_vmr
FROM per_term CROSS JOIN nd
ORDER BY total_cnt DESC, term LIMIT {_BURST_TOPN}
"""
@register(
    "text_burstiness",
    oracle=_sql_burstiness(),
    tags=("text", "lexical-stats", "burstiness"),
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness for the top-20 corpus terms — the Fano factor
    (variance-to-mean ratio) of per-document occurrence counts over ALL
    documents, zeros included (Church & Gale 1995): function words sit
    near the Poisson baseline VMR = 1 while content/boilerplate terms
    are over-dispersed — the lexical diagnostic that separates topical
    vocabulary from template spam, complementing ``text_hapax_richness``
    (frequency-1 tail) and ``text_zipf_fit`` (rank law).

    Zero-count documents never materialize: with mean = S1/N and
    E[X^2] = S2/N over the FULL corpus size N, zeros contribute nothing
    to either integer sum, so the Fano factor needs only the per-term
    (S1, S2, doc-freq) — exact BIGINT/HUGEINT — plus the 1-row corpus
    count broadcast (the scalar idiom). Top-20 selection is an
    ORDER-BY-LIMIT (TakeOrdered — per-partition top-k, never a global
    sort) on the (total desc, term asc) total order."""
    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(tx.tokens("text")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cq = F.col("c").cast("decimal(38,0)")
    per_term = tc.groupBy(F.col("t").alias("term")).agg(
        F.sum("c").cast("bigint").alias("total_cnt"),
        F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
        F.sum(cq * cq).cast("bigint").alias("s2"),
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    mean = F.col("total_cnt") / F.col("n_docs").cast("double")
    return (
        per_term.crossJoin(F.broadcast(nd))
        .select(
            "term",
            "total_cnt",
            "doc_freq",
            "n_docs",
            F.round(mean, 9).alias("mean_per_doc"),
            F.round(
                (F.col("s2").cast("double") / F.col("n_docs") - mean * mean) / mean, 9
            ).alias("fano_vmr"),
        )
        .orderBy(F.desc("total_cnt"), "term")
        .limit(_BURST_TOPN)
    )


_RRF_K = 60
_RRF_LIST = 100
_RRF_TOP = 20
def _sql_rrf() -> str:
    return f"""
WITH scored AS (
  SELECT doc_id, n_chars,
         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS spaces
  FROM documents
),
ra AS (
  SELECT doc_id, r AS rank_a FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
    FROM scored
  ) WHERE r <= {_RRF_LIST}
),
rb AS (
  SELECT doc_id, r AS rank_b FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY spaces DESC, doc_id) AS r
    FROM scored
  ) WHERE r <= {_RRF_LIST}
),
fused AS (
  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         CAST(rank_a AS INT) AS rank_a, CAST(rank_b AS INT) AS rank_b,
         coalesce(1.0 / ({_RRF_K} + rank_a), 0.0)
           + coalesce(1.0 / ({_RRF_K} + rank_b), 0.0) AS score
  FROM ra FULL OUTER JOIN rb USING (doc_id)
)
SELECT doc_id, rank_a, rank_b, round(score, 9) AS rrf_score
FROM fused
ORDER BY score DESC, doc_id
LIMIT {_RRF_TOP}
"""
@register(
    "rank_fusion_rrf",
    oracle=_sql_rrf(),
    tags=("retrieval", "ranking", "fusion", "topk"),
)
def rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.'s RRF, k=60) of two
    retrieval rankings over the document corpus: ranker A orders by
    n_chars (longest-document heuristic), ranker B by whitespace-token
    count (a lexical-density heuristic that disagrees with A where
    word lengths vary). Each ranker contributes its top-100 list; a
    document's fused score is the sum of 1/(60+rank) over the lists
    that retrieved it, and the top-20 fused documents are returned —
    the exact list-fusion semantics used to combine BM25 with dense
    retrievers.

    Exactness: both rankings are made total with a doc_id tiebreak;
    the two reciprocal terms are added in a fixed order (A then B, via
    coalesce-to-zero), so scores are identical doubles on both engines.

    Scale shape: each top-100 list is orderBy().limit() — Spark's
    TakeOrdered, a map-side partial top-k with no global sort — and
    row_number then runs over the 100-row frames only. The fusion join
    is 100x100-row, broadcast. The oracle's full-table window is the
    semantic spec; the Spark plan never materializes a global rank."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" ")))).alias(
            "spaces"
        ),
    )

    def toplist(order_col: str, rank_name: str) -> DataFrame:
        cand = (
            docs.select("doc_id", order_col)
            .orderBy(F.desc(order_col), "doc_id")
            .limit(_RRF_LIST)
        )
        w = Window.orderBy(F.desc(order_col), "doc_id")
        return cand.select(
            "doc_id", F.row_number().over(w).cast("int").alias(rank_name)
        )

    ra = toplist("n_chars", "rank_a")
    rb = toplist("spaces", "rank_b")
    fused = (
        ra.join(rb, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_a",
            "rank_b",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_a")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_b")), F.lit(0.0)
                )
            ).alias("score"),
        )
    )
    return (
        fused.orderBy(F.desc("score"), "doc_id")
        .limit(_RRF_TOP)
        .select("doc_id", "rank_a", "rank_b", F.round("score", 9).alias("rrf_score"))
    )


_PRF_FB_DOCS = 10  # feedback set size from pass 1
_PRF_EXP_TERMS = 5  # expansion terms added to the query
_PRF_EXP_WEIGHT = 0.5  # weight of expansion terms in pass 2
_PRF_TOP = 20
_PRF_MIN_FB_DF = 2  # expansion term must appear in >= 2 feedback docs
_PRF_MIN_LEN = 3
def _sql_bm25_score(tf: str, df: str, dl: str, nd: str, avgdl: str) -> str:
    """BM25 term score with the catalog's association order (matches
    catalog_text.py's BM25 expression text)."""
    return f"""
           ln(1.0 + (CAST({nd} - {df} AS DOUBLE) + 0.5) / (CAST({df} AS DOUBLE) + 0.5))
           * ((CAST({tf} AS DOUBLE) * {_BM25_K1 + 1.0}) /
              (CAST({tf} AS DOUBLE)
               + {_BM25_K1} * (1.0 - {_BM25_B}
                               + {_BM25_B} * (CAST({dl} AS DOUBLE) / {avgdl}))))"""
def _sql_prf() -> str:
    score1 = _sql_bm25_score("t.tf", "i.df", "d.dl", "s.nd", "s.avgdl")
    score2 = _sql_bm25_score("t.tf", "i.df", "d.dl", "s.nd", "s.avgdl")
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
tf1 AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE w IN {_BM25_TERMS!r}
  GROUP BY doc_id, w
),
idf1 AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY w),
pass1 AS (
  SELECT t.doc_id,
         {SQL_DSUM.format(x=score1)} AS score
  FROM tf1 t JOIN idf1 i USING (w) JOIN dl d USING (doc_id) CROSS JOIN stats s
  GROUP BY t.doc_id
),
fb AS (
  SELECT doc_id FROM pass1 ORDER BY score DESC, doc_id LIMIT {_PRF_FB_DOCS}
),
cdf AS (
  SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY w
),
fbdf AS (
  SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS fb_df
  FROM toks JOIN fb USING (doc_id)
  WHERE len(w) >= {_PRF_MIN_LEN} AND w NOT IN {_BM25_TERMS!r}
  GROUP BY w
),
exp_terms AS (
  SELECT w, 0.5 AS wt FROM (
    SELECT f.w,
           row_number() OVER (
             ORDER BY CAST(f.fb_df AS DOUBLE)
                      * ln((CAST(s.nd AS DOUBLE) + 1.0) / (CAST(c.df AS DOUBLE) + 1.0))
                      DESC, f.w) AS r
    FROM fbdf f JOIN cdf c USING (w) CROSS JOIN stats s
    WHERE f.fb_df >= {_PRF_MIN_FB_DF}
  ) WHERE r <= {_PRF_EXP_TERMS}
),
qmodel AS (
  SELECT w, wt FROM exp_terms
  UNION ALL
  SELECT unnest({list(_BM25_TERMS)!r}) AS w, 1.0 AS wt
),
tf2 AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM toks
  JOIN (SELECT w FROM qmodel) USING (w)
  GROUP BY doc_id, w
),
idf2 AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY w),
pass2 AS (
  SELECT t.doc_id,
         {SQL_DSUM.format(x=f"q.wt * ({score2})")} AS score
  FROM tf2 t JOIN idf2 i USING (w) JOIN qmodel q USING (w)
  JOIN dl d USING (doc_id) CROSS JOIN stats s
  GROUP BY t.doc_id
)
SELECT doc_id, score AS prf_score FROM pass2
ORDER BY score DESC, doc_id LIMIT {_PRF_TOP}
"""
@register(
    "search_pseudo_relevance_feedback",
    oracle=_sql_prf(),
    tags=("search", "bm25", "prf", "query-expansion", "ranking"),
)
def search_pseudo_relevance_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass pseudo-relevance-feedback retrieval (Rocchio/RM-style):
    pass 1 runs the catalog's BM25 for the fixed query, takes the
    top-10 documents as the feedback set, mines the top-5 expansion
    terms by fb_df * ln((N+1)/(df+1)) (appearing in >= 2 feedback docs,
    length >= 3, original terms excluded), then pass 2 re-scores the
    corpus with the expanded weighted query (originals at 1.0,
    expansions at 0.5) and returns the fused top-20. This is the
    classic recall-booster layered on `search_bm25_topk`.

    Exactness: both ranked cuts (feedback set, expansion terms) are
    total orders with doc_id / term tiebreaks; expansion scores are
    ln() over exact integer counts; pass-2 term contributions reuse the
    BM25 expression text verbatim and micro-quantize before the per-doc
    sum (dsum), so both engines fuse identical doubles.

    Scale shape: the corpus-sized work is one token-stream groupBy
    (document-frequency build — the inverted-index pass) plus two
    posting-list scoring passes, each filtered to the query model
    BEFORE the shuffle by a broadcast join on term (<= 8 terms). The
    query model itself is a 10-row top-k and a 5-row top-k — driver
    never sees data, both cuts are TakeOrdered."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs).localCheckpoint(eager=True)
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
        .localCheckpoint(eager=True)
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )

    def bm25_score() -> F.Column:
        k1, b = _BM25_K1, _BM25_B
        return F.log(
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

    def score_pass(term_frame: DataFrame) -> DataFrame:
        # wt = 1.0 multiplies exactly in IEEE, so the unweighted pass-1
        # oracle (no wt factor) still matches bit-for-bit.
        # tf feeds both the per-doc score and its own df aggregation —
        # pin it so the toks scan + filter-join runs once per pass, not
        # twice.
        from pyspark.storagelevel import StorageLevel

        tf = (
            toks.join(F.broadcast(term_frame), "w")
            .groupBy("doc_id", "w")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("tf"),
                F.first("wt").alias("wt"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        idf = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        return (
            tf.join(idf, "w")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(dsum(F.col("wt") * bm25_score()).alias("score"))
        )

    q1 = spark.createDataFrame([(w, 1.0) for w in _BM25_TERMS], ["w", "wt"])
    pass1 = score_pass(q1)
    # 10-row feedback set: cut here so the two downstream consumers
    # (fbdf's broadcast, and transitively pass2's query model) read 10
    # rows instead of replaying the whole pass-1 scoring chain.
    fb = (
        pass1.orderBy(F.desc("score"), "doc_id")
        .limit(_PRF_FB_DOCS)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    fbdf = (
        toks.join(F.broadcast(fb), "doc_id")
        .filter(
            (F.length("w") >= _PRF_MIN_LEN) & (~F.col("w").isin(*_BM25_TERMS))
        )
        .groupBy("w")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("fb_df"))
        .filter(F.col("fb_df") >= _PRF_MIN_FB_DF)
    )
    # Corpus document frequencies are only ever read for feedback-doc
    # terms, so semi-filter the token stream by that (broadcast, <=
    # feedback vocabulary) term set BEFORE the countDistinct — the
    # oracle's full-vocabulary cdf CTE is the semantic spec; the values
    # used are identical, the aggregation state shrinks from |corpus
    # vocab| to |feedback vocab|.
    cdf = (
        toks.join(F.broadcast(fbdf.select("w")), "w")
        .groupBy("w")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
    )
    exp_score = F.col("fb_df").cast("double") * F.log(
        (F.col("nd").cast("double") + 1.0) / (F.col("df").cast("double") + 1.0)
    )
    ranked = (
        fbdf.join(cdf, "w")
        .crossJoin(F.broadcast(stats))
        .select("w", exp_score.alias("es"))
        .orderBy(F.desc("es"), "w")
        .limit(_PRF_EXP_TERMS)
    )
    exp_terms = ranked.select("w", F.lit(_PRF_EXP_WEIGHT).alias("wt"))
    # <= 8-row query model: cut before pass 2 so its broadcast ships 8
    # rows instead of re-running the expansion-mining chain.
    qmodel = exp_terms.unionByName(
        spark.createDataFrame([(w, 1.0) for w in _BM25_TERMS], ["w", "wt"])
    ).localCheckpoint(eager=True)
    pass2 = score_pass(qmodel)
    return (
        pass2.orderBy(F.desc("score"), "doc_id")
        .limit(_PRF_TOP)
        .select("doc_id", F.col("score").alias("prf_score"))
    )


_QL_MU = 2000.0
_QL_TOP = 20
def _sql_ql() -> str:
    return f"""
WITH toks AS ({_SQL_TOKENS}),
dl AS (
  SELECT d.doc_id, CAST(coalesce(t.n, 0) AS BIGINT) AS dl
  FROM documents d LEFT JOIN
       (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id) t USING (doc_id)
),
ctot AS (SELECT CAST(count(*) AS BIGINT) AS ct FROM toks),
cf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cf FROM toks
  WHERE w IN {_BM25_TERMS!r} GROUP BY w
),
kq AS (
  SELECT CAST(count(*) AS BIGINT) AS nq,
         CAST(sum(CAST(round(ln({_QL_MU} * (CAST(cf AS DOUBLE) / ct)) * 1e9)
                       AS BIGINT)) AS BIGINT) AS kq
  FROM cf, ctot
),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE w IN {_BM25_TERMS!r} GROUP BY doc_id, w
),
sd AS (
  SELECT t.doc_id,
         CAST(sum(CAST(round((ln(t.tf + {_QL_MU} * (CAST(c.cf AS DOUBLE) / ct))
                              - ln({_QL_MU} * (CAST(c.cf AS DOUBLE) / ct)))
                             * 1e9) AS BIGINT)) AS BIGINT) AS sd
  FROM tf t JOIN cf c USING (w) CROSS JOIN ctot
  GROUP BY t.doc_id
),
scored AS (
  SELECT d.doc_id,
         round(CAST(coalesce(s.sd, 0) + k.kq AS DOUBLE) / 1e9
               - k.nq * ln(d.dl + {_QL_MU}), 9) AS ql_score
  FROM dl d LEFT JOIN sd s USING (doc_id) CROSS JOIN kq k
)
SELECT doc_id, ql_score FROM scored
ORDER BY ql_score DESC, doc_id LIMIT {_QL_TOP}
"""
@register(
    "search_query_likelihood_dirichlet",
    oracle=_sql_ql(),
    tags=("search", "language-model", "dirichlet", "ranking"),
)
def search_query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty) for the catalog's fixed query — the probabilistic-IR twin
    of ``search_bm25_topk``: score(d) = sum_q ln((tf + mu*P(w|C)) /
    (dl + mu)), mu=2000, decomposed into the standard efficient form
    sum over PRESENT terms of [ln(tf + mu*p_w) - ln(mu*p_w)] plus a
    doc-independent constant sum_q ln(mu*p_w) minus |q|*ln(dl + mu) —
    so only posting lists for the query terms are ever touched, yet
    every document (even with zero query terms) receives its smoothed
    score.

    Exactness: collection statistics are exact integer counts; every
    per-(doc,term) log contribution and the query constant are
    nano-quantized before integer summation; the per-doc closing
    expression is written with identical association order. Query terms
    absent from the corpus drop out of the model (nq counts only
    cf > 0 terms), avoiding ln(0).

    Scale shape: identical to BM25 — corpus-sized work is the doclen
    build and token-total; scoring touches the <=3 posting lists
    (filtered before the shuffle), the query model is a <=3-row
    broadcast, the spine left join distributes on doc_id, and the
    top-20 is TakeOrdered."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs).localCheckpoint(eager=True)
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
    ctot = toks.agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    qtoks = toks.filter(F.col("w").isin(*_BM25_TERMS))
    cf = qtoks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    pw = F.lit(_QL_MU) * (F.col("cf").cast("double") / F.col("ct"))
    kq = (
        cf.crossJoin(F.broadcast(ctot))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nq"),
            F.sum(F.round(F.log(pw) * 1e9).cast("bigint"))
            .cast("bigint")
            .alias("kq"),
        )
    )
    tf = qtoks.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    contrib = F.log(F.col("tf") + pw) - F.log(pw)
    sd = (
        tf.join(F.broadcast(cf), "w")
        .crossJoin(F.broadcast(ctot))
        .groupBy("doc_id")
        .agg(
            F.sum(F.round(contrib * 1e9).cast("bigint"))
            .cast("bigint")
            .alias("sd")
        )
    )
    scored = (
        dl.join(sd, "doc_id", "left")
        .crossJoin(F.broadcast(kq))
        .select(
            "doc_id",
            F.round(
                (F.coalesce(F.col("sd"), F.lit(0)) + F.col("kq")).cast("double")
                / 1e9
                - F.col("nq") * F.log(F.col("dl") + F.lit(_QL_MU)),
                9,
            ).alias("ql_score"),
        )
    )
    return scored.orderBy(F.desc("ql_score"), "doc_id").limit(_QL_TOP)


_OOV_K = 16  # vocabulary budget (fixture vocab is 31 terms, so OOV > 0)
def _sql_oov() -> str:
    return f"""
WITH toks AS ({_SQL_TOKENS}),
lt AS (
  SELECT d.lang, t.w FROM toks t JOIN documents d USING (doc_id)
),
vocab AS (
  SELECT w FROM lt GROUP BY w
  ORDER BY count(*) DESC, w LIMIT {_OOV_K}
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE w NOT IN (SELECT w FROM vocab)) AS BIGINT)
         AS oov_tokens,
       round(count(*) FILTER (WHERE w NOT IN (SELECT w FROM vocab))
             / CAST(count(*) AS DOUBLE), 9) AS oov_rate
FROM lt GROUP BY lang ORDER BY lang
"""
@register(
    "vocab_oov_rate_topk",
    oracle=_sql_oov(),
    tags=("text", "vocab", "tokenizer", "oov"),
)
def vocab_oov_rate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against a size-K corpus
    vocabulary (the top-K tokens by collection frequency, ties broken
    by token — a total order). The readout a tokenizer-training
    pipeline runs to size its vocab budget and to catch languages the
    vocabulary underserves — the per-lang OOV skew IS the fairness
    metric for multilingual tokenizers.

    Scale shape: one token-stream pass builds the vocabulary candidate
    counts (map-side combined groupBy token — rows = vocabulary
    entries, never occurrences); the top-K cut is a TakeOrdered over
    the vocab-sized frame; the K-row vocabulary then BROADCASTS back
    onto the token stream for a left-anti membership test, so the
    second pass is map-only. Counts are exact BIGINTs; the rate is one
    integer ratio."""
    docs = _t(spark, sf_dir, "documents")
    lt = _tokens(docs).join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang", "w"
    )
    vocab = (
        lt.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(_OOV_K)
        .select("w")
    )
    flagged = lt.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "w", "left"
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1))
            .cast("bigint")
            .alias("oov_tokens"),
        )
        .select(
            "lang",
            "n_tokens",
            "oov_tokens",
            F.round(
                F.col("oov_tokens") / F.col("n_tokens").cast("double"), 9
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


_NOV_EVAL_FRACTION = 0.1
_NOV_SEED = 1  # the split_train_eval seed: contamination checks align
def _sql_novelty() -> str:
    gate = sql_gate("doc_id::VARCHAR", seed=_NOV_SEED)
    thresh = int(_NOV_EVAL_FRACTION * RESOLUTION)
    toks = tx.sql_tokens("text")
    g60 = sql_hash60("g")
    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         CASE WHEN {gate} < {thresh} THEN 'eval' ELSE 'train' END AS split,
         {toks} AS t
  FROM documents
),
tri AS (
  SELECT lang, split,
         {g60} AS g60
  FROM (
    SELECT lang, split,
           unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             AS g
    FROM toks WHERE len(t) >= 3
  )
),
train_set AS (SELECT DISTINCT g60 FROM tri WHERE split = 'train'),
eval_set AS (SELECT DISTINCT lang, g60 FROM tri WHERE split = 'eval')
SELECT e.lang,
       CAST(count(*) AS BIGINT) AS eval_trigrams,
       CAST(count(*) FILTER (WHERE t.g60 IS NULL) AS BIGINT) AS novel_trigrams,
       round(count(*) FILTER (WHERE t.g60 IS NULL) / CAST(count(*) AS DOUBLE), 9)
         AS novelty_rate
FROM eval_set e LEFT JOIN train_set t USING (g60)
GROUP BY e.lang ORDER BY e.lang
"""
@register(
    "text_ngram_novelty",
    oracle=_sql_novelty(),
    tags=("text", "ngram", "contamination", "generalization"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty of the eval split against the train split (10%
    eval by the seed-1 hash gate — the ``split_train_eval`` gate, so
    novelty and contamination reports describe the same holdout): the
    fraction of distinct eval trigrams NEVER seen in training, per
    language. Low novelty = the eval set is memorizable from train
    (contamination's soft sibling); high novelty = the eval genuinely
    tests generalization. The standard pre-training report next to
    `pipeline_contamination_check`'s exact 8-gram hit test.

    Scale shape: trigrams are 60-bit HASHED row-locally before any
    shuffle (the dedup discipline — the shuffle carries 8-byte ints,
    never text); both splits reduce to DISTINCT hash sets (map-side
    combined); the membership test is one left join on the hash. The
    train set at 100 TB is corpus-sized, so the join shuffles
    hash-partitioned ints — no broadcast assumed.

    Exactness: counts are exact BIGINTs; the rate is one integer
    ratio. 60-bit collisions understate novelty by ~n/2^60 — the same
    accepted bias every hashed-dedup entry documents."""
    docs = train_eval_split(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        eval_fraction=_NOV_EVAL_FRACTION,
        seed=_NOV_SEED,
    )
    toks = docs.select("lang", "split", tx.tokens("text").alias("t"))
    t = F.col("t")
    tri = toks.filter(F.size(t) >= 3).select(
        "lang",
        "split",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(t, i),
                    F.element_at(t, i + 1),
                    F.element_at(t, i + 2),
                ),
            )
        ).alias("g"),
    ).select("lang", "split", hash60(F.col("g")).alias("g60"))
    train_set = (
        tri.filter(F.col("split") == "train").select("g60").distinct()
    )
    eval_set = (
        tri.filter(F.col("split") == "eval").select("lang", "g60").distinct()
    )
    joined = eval_set.join(
        train_set.withColumn("seen", F.lit(1)), "g60", "left"
    )
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("eval_trigrams"),
            F.count(F.when(F.col("seen").isNull(), 1))
            .cast("bigint")
            .alias("novel_trigrams"),
        )
        .select(
            "lang",
            "eval_trigrams",
            "novel_trigrams",
            F.round(
                F.col("novel_trigrams") / F.col("eval_trigrams").cast("double"),
                9,
            ).alias("novelty_rate"),
        )
        .orderBy("lang")
    )


_SNIP_WINDOW = 10  # snippet width in tokens
_SNIP_DOCS = 10  # present snippets for the top-N docs by hit count
def _sql_snippet() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH tl AS (
  SELECT doc_id, {tx.sql_tokens('text')} AS t FROM documents
),
toks AS (
  SELECT doc_id, u['pos'] AS pos, u['w'] AS w FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) + 1),
                                 i -> {{'pos': i, 'w': t[i]}})) AS u
    FROM tl
  )
),
hits AS (
  SELECT doc_id, pos FROM toks WHERE w IN ({terms})
),
doc_hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS total_hits
  FROM hits GROUP BY doc_id
  ORDER BY total_hits DESC, doc_id LIMIT {_SNIP_DOCS}
),
windows AS (
  SELECT a.doc_id, a.pos AS win_start,
         CAST(count(*) AS BIGINT) AS win_hits
  FROM hits a
  JOIN doc_hits d USING (doc_id)
  JOIN hits b ON b.doc_id = a.doc_id
             AND b.pos >= a.pos AND b.pos < a.pos + {_SNIP_WINDOW}
  GROUP BY a.doc_id, a.pos
),
best AS (
  SELECT doc_id, win_start, win_hits FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY win_hits DESC, win_start) AS rn
    FROM windows
  ) WHERE rn = 1
)
SELECT b.doc_id, d.total_hits, b.win_start, b.win_hits
FROM best b JOIN doc_hits d USING (doc_id)
ORDER BY d.total_hits DESC, b.doc_id
"""
@register(
    "search_snippet_extraction",
    oracle=_sql_snippet(),
    tags=("search", "snippet", "highlighting"),
)
def search_snippet_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-window snippet selection for the BM25 query terms: for the
    top-10 documents by query-term hit count, the 10-token
    window containing the most hits (windows anchored at hit positions
    — the optimal window always starts at a hit, so anchoring is
    lossless) — the highlighting/snippet step every search UI runs
    after ranking.

    Scale shape: the token stream is filtered to QUERY-TERM positions
    before any join (the posting-list projection — hits per doc are a
    handful of ints, never the text); the candidate-doc cut is a
    TakeOrdered over the doc-hit frame; window scoring is a bounded
    self-join of the hit-position lists of ONLY the 10
    candidate docs (per-doc cost = hits², hits <= doc query-term
    count); the per-doc argmax is a rank window partitioned by doc
    with a (hits desc, start) total order.

    Exactness: positions and hit counts are exact integers end-to-end;
    ordering keys are total everywhere."""
    docs = _t(spark, sf_dir, "documents")
    # positional token stream (1-based pos, whitespace convention —
    # matches the oracle's generate_subscripts over the same list)
    toks = docs.select(
        "doc_id", F.posexplode(tx.tokens("text")).alias("pos0", "w")
    ).select("doc_id", "w", (F.col("pos0") + 1).alias("pos"))
    hits = toks.filter(F.col("w").isin(*_BM25_TERMS)).select("doc_id", "pos")
    doc_hits = (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("total_hits"))
        .orderBy(F.desc("total_hits"), "doc_id")
        .limit(_SNIP_DOCS)
    )
    cand = hits.join(F.broadcast(doc_hits.select("doc_id")), "doc_id")
    windows = (
        cand.alias("a")
        .join(
            cand.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.pos") >= F.col("a.pos"))
            & (F.col("b.pos") < F.col("a.pos") + _SNIP_WINDOW),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"), F.col("a.pos").alias("win_start"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("win_hits"))
    )
    wr = Window.partitionBy("doc_id").orderBy(F.desc("win_hits"), "win_start")
    best = (
        windows.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("doc_id", "win_start", "win_hits")
    )
    return (
        best.join(F.broadcast(doc_hits), "doc_id")
        .select("doc_id", "total_hits", "win_start", "win_hits")
        .orderBy(F.desc("total_hits"), "doc_id")
    )


_CODE_THRESHOLD = 0.05  # (2*symbols + digits) per char
def _sql_code_detect() -> str:
    return f"""
WITH scored AS (
  SELECT lang, source,
         round((2.0 * length(regexp_replace(text, '[^{{}}();=<>]', '', 'g'))
                + length(regexp_replace(text, '[^0-9]', '', 'g')))
               / CAST(n_chars AS DOUBLE), 9) AS score
  FROM documents WHERE n_chars > 0
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE score >= {_CODE_THRESHOLD}) AS BIGINT)
         AS flagged_code,
       round((CAST(SUM(CAST(round(score * 1000000.0) AS HUGEINT)) AS DOUBLE)
                / count(*)) / 1000000.0, 9) AS mean_score
FROM scored GROUP BY 1, 2 ORDER BY 1, 2
"""
@register(
    "text_code_detect",
    oracle=_sql_code_detect(),
    tags=("text", "quality", "code-detection", "datapipe"),
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing heuristic per (lang, source): a symbol-
    density score — (2·count of {{}}();=<> + count of digits) / chars —
    with the per-slice flag rate at 0.05 and the micro-quantized mean
    score. The cheap first-pass router a pretraining pipeline runs
    before sending 'code-looking' documents to a code-specific quality
    stack (the Gopher/C4 rules here assume prose; code fails them for
    the wrong reasons). Character counts come from regexp_replace
    deletion (length before minus kept-only), the same primitive both
    engines implement over identical RE2/Java character classes.

    Exactness: counts are exact BIGINTs; the score is a 9-dp-rounded
    integer ratio; the threshold compares the ALREADY-rounded score so
    the decision boundary is bit-identical cross-engine; the mean is
    the catalog's micro-quantized davg.

    Scale shape: pure map work per document (two regex passes over the
    text) into ONE map-side-combined groupBy on the tiny (lang, source)
    grid. No joins, no windows, text never shuffles."""
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    sym = F.length(F.regexp_replace(F.col("text"), "[^{}();=<>]", ""))
    dig = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    scored = d.select(
        "lang",
        "source",
        F.round(
            (2.0 * sym + dig) / F.col("n_chars").cast("double"), 9
        ).alias("score"),
    )
    return (
        scored.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count(F.when(F.col("score") >= _CODE_THRESHOLD, 1))
            .cast("bigint")
            .alias("flagged_code"),
            F.round(
                F.sum(F.round(F.col("score") * 1e6).cast("decimal(38,0)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
                / 1e6,
                9,
            ).alias("mean_score"),
        )
        .orderBy("lang", "source")
    )


_HEAPS_POINTS = 10
def _sql_heaps() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH {sql_cuts_ctes("documents", "doc_id", _HEAPS_POINTS)},
cl AS (SELECT coalesce(list(c ORDER BY b), []) AS cs FROM cuts),
dtok AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
doc_b AS (
  SELECT 1 + len(list_filter(cl.cs, x -> doc_id > x)) AS bucket,
         CAST(len({toks}) AS BIGINT) AS n_toks
  FROM documents, cl
),
ncum AS (
  SELECT cp, CAST(sum(n_toks) AS BIGINT) AS n_tokens
  FROM doc_b, unnest(generate_series(doc_b.bucket, {_HEAPS_POINTS})) AS u(cp)
  GROUP BY cp
),
fo AS (
  SELECT tok, min(doc_id) AS first_doc FROM dtok GROUP BY tok
),
fo_b AS (
  SELECT 1 + len(list_filter(cl.cs, x -> first_doc > x)) AS bucket
  FROM fo, cl
),
vcum AS (
  SELECT cp, CAST(count(*) AS BIGINT) AS v_types
  FROM fo_b, unnest(generate_series(fo_b.bucket, {_HEAPS_POINTS})) AS u(cp)
  GROUP BY cp
),
pts AS (
  SELECT CAST(round(ln(n_tokens) * 1e9) AS BIGINT) AS a,
         CAST(round(ln(v_types) * 1e9) AS BIGINT) AS b
  FROM ncum JOIN vcum USING (cp)
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS np,
         CAST(sum(CAST(a AS HUGEINT)) AS DOUBLE) / 1e9 AS sa,
         CAST(sum(CAST(b AS HUGEINT)) AS DOUBLE) / 1e9 AS sb,
         CAST(sum(CAST(a AS HUGEINT) * a) AS DOUBLE) / 1e18 AS saa,
         CAST(sum(CAST(a AS HUGEINT) * b) AS DOUBLE) / 1e18 AS sab
  FROM pts
)
SELECT np AS n_points,
       round((np * sab - sa * sb) / (np * saa - sa * sa), 6) AS beta,
       round(exp(sb / np - ((np * sab - sa * sb) / (np * saa - sa * sa))
                           * (sa / np)), 6) AS k_coef
FROM s
"""
@register(
    "vocab_heaps_law_fit",
    oracle=_sql_heaps(),
    tags=("text", "vocabulary", "heaps", "scaling-law"),
)
def vocab_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth, V(N) = k·N^β, over ten
    corpus prefixes: prefix checkpoints are exact doc_id deciles (the
    equi-depth cut machinery), the token count N_d at each checkpoint
    accumulates via the explode(sequence(bucket, 10)) cover trick (no
    window, no inequality join), and the vocabulary size V_d counts
    tokens whose FIRST-occurrence doc falls at or before the
    checkpoint — min(doc_id) per token makes 'cumulative distinct'
    distributable, the trick that turns a sequential vocabulary scan
    into two groupBys. β̂ comes from the closed-form log-log OLS over
    the 10-point frame (nano-quantized logs, exact integer moment
    sums) — the corpus-scaling readout (β≈0.5 for natural text) that
    sizes tokenizer vocabularies and dedup budgets before a crawl
    10×es.

    Scale shape: one token explode → groupBy(token) min (the only
    volume shuffle), one doc-grain pass, two 10-row cover aggregations,
    one 1-row fit. The cut derivation is the distributed prefix sum."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.tokens("text").alias("toks")
    ).localCheckpoint(eager=True)  # feeds cuts, N-cum, and the explode
    cuts = equi_depth_cut_points(docs, F.col("doc_id"), _HEAPS_POINTS)
    doc_b = docs.select(
        bucket_by_cuts(F.col("doc_id"), cuts).alias("bucket"),
        F.size("toks").cast("bigint").alias("n_toks"),
    )
    ncum = (
        doc_b.select(
            F.explode(F.sequence(F.col("bucket"), F.lit(_HEAPS_POINTS))).alias("cp"),
            "n_toks",
        )
        .groupBy("cp")
        .agg(F.sum("n_toks").cast("bigint").alias("n_tokens"))
    )
    fo = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vcum = (
        fo.select(bucket_by_cuts(F.col("first_doc"), cuts).alias("bucket"))
        .select(
            F.explode(F.sequence(F.col("bucket"), F.lit(_HEAPS_POINTS))).alias("cp")
        )
        .groupBy("cp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v_types"))
    )
    pts = ncum.join(F.broadcast(vcum), "cp").select(
        F.round(F.ln("n_tokens") * 1e9).cast("bigint").alias("a"),
        F.round(F.ln("v_types") * 1e9).cast("bigint").alias("b"),
    )
    ad = F.col("a").cast("decimal(38,0)")
    bd = F.col("b").cast("decimal(38,0)")
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        (F.sum(ad).cast("double") / 1e9).alias("sa"),
        (F.sum(bd).cast("double") / 1e9).alias("sb"),
        (F.sum(ad * F.col("a")).cast("double") / 1e18).alias("saa"),
        (F.sum(ad * F.col("b")).cast("double") / 1e18).alias("sab"),
    )
    slope = (F.col("np") * F.col("sab") - F.col("sa") * F.col("sb")) / (
        F.col("np") * F.col("saa") - F.col("sa") * F.col("sa")
    )
    return s.select(
        F.col("np").alias("n_points"),
        F.round(slope, 6).alias("beta"),
        F.round(F.exp(F.col("sb") / F.col("np") - slope * (F.col("sa") / F.col("np"))), 6).alias(
            "k_coef"
        ),
    )


# --------------------------------------------------------------------------
# MSTTR segmental lexical diversity (round 9)
# --------------------------------------------------------------------------

_MSTTR_SEG = 50  # tokens per segment (the standard MSTTR-50)


def _sql_msttr() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH docs AS (
  SELECT doc_id, lang, {toks} AS toks FROM documents
),
pos AS (
  SELECT doc_id, lang,
         generate_subscripts(toks, 1) - 1 AS p, unnest(toks) AS tok
  FROM docs
),
seg AS (
  SELECT doc_id, lang, p // {_MSTTR_SEG} AS chunk,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(count(DISTINCT tok) AS BIGINT) AS n_types
  FROM pos GROUP BY 1, 2, 3
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(n_types) AS BIGINT) AS sum_types,
       round(CAST(sum(n_types) AS DOUBLE) / ({_MSTTR_SEG}.0 * count(*)), 9)
         AS msttr
FROM seg WHERE n_tok = {_MSTTR_SEG}
GROUP BY lang ORDER BY lang
"""


@register(
    "text_msttr_lexical_diversity",
    oracle=_sql_msttr(),
    tags=("text", "lexical-diversity", "quality", "datapipe"),
)
def text_msttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean segmental type-token ratio (MSTTR-50) per language: each
    document's token stream splits into consecutive 50-token segments,
    each FULL segment contributes distinct-types/50, and the language
    score averages the segments — the length-robust lexical-diversity
    measure (raw TTR collapses as documents grow; fixed segments remove
    the length confound). Complements ``text_distinct_ngram_diversity``
    (repetition) and ``vocab_heaps_law_fit`` (vocabulary growth): MSTTR
    is the per-document-window diversity a quality gate thresholds on.
    Trailing partial segments are dropped — the standard MSTTR
    convention, identical in both programs via n_tok = 50.

    Exactness: segment ids are integer position division on the shared
    tokenizer's positional explode; per-segment type counts are exact
    distinct counts; the language mean is Sigma types / (50 * segments)
    — one exact integer ratio rounded once.

    Scale shape: the positional explode shuffles (doc, chunk) keyed
    token rows once for the distinct count (tokens-bounded, the
    text-family envelope); the segment frame then collapses to one row
    per 50 tokens before the language aggregate. No windows anywhere —
    positions come from posexplode, not a rank."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", tx.tokens("text").alias("toks")
    )
    pos = docs.select(
        "doc_id", "lang", F.posexplode("toks").alias("p", "tok")
    )
    seg = pos.groupBy(
        "doc_id", "lang", (F.col("p") / F.lit(_MSTTR_SEG)).cast("bigint").alias("chunk")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        F.countDistinct("tok").cast("bigint").alias("n_types"),
    )
    return (
        seg.filter(F.col("n_tok") == _MSTTR_SEG)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("n_types").cast("bigint").alias("sum_types"),
            F.round(
                F.sum("n_types").cast("double")
                / (float(_MSTTR_SEG) * F.count(F.lit(1))),
                9,
            ).alias("msttr"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Unigram KL / JS divergence between corpora — round 10
# --------------------------------------------------------------------------

_KL_ALPHA = 0.5  # add-alpha smoothing over the union vocabulary


def _sql_unigram_kl() -> str:
    toks = tx.sql_tokens("text")
    return f"""
WITH tok AS (
  SELECT lang, unnest({toks}) AS w
  FROM documents WHERE lang IN ('en', 'de')
),
c AS (
  SELECT w,
         CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS c2
  FROM tok GROUP BY w
),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         CAST(count(*) AS BIGINT) AS v
  FROM c
),
d AS (
  SELECT (c1 + {_KL_ALPHA}) / (n1 + {_KL_ALPHA} * v) AS p,
         (c2 + {_KL_ALPHA}) / (n2 + {_KL_ALPHA} * v) AS q
  FROM c CROSS JOIN tot
),
agg AS (
  SELECT
    {SQL_NSUM.format(x='round(p * ln(p / q), 9)')} AS kl_pq,
    {SQL_NSUM.format(x='round(q * ln(q / p), 9)')} AS kl_qp,
    {SQL_NSUM.format(
        x='round(0.5 * p * ln(2.0 * p / (p + q)) + 0.5 * q * ln(2.0 * q / (p + q)), 9)'
    )} AS js
  FROM d
)
SELECT n1 AS n_tokens_en, n2 AS n_tokens_de, v AS vocab_union,
       round(kl_pq, 9) AS kl_en_de, round(kl_qp, 9) AS kl_de_en,
       round(js, 9) AS js_divergence
FROM agg CROSS JOIN tot
"""


@register(
    "text_unigram_kl_divergence",
    oracle=_sql_unigram_kl(),
    tags=("text", "divergence", "corpus-compare", "lm"),
)
def text_unigram_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL and Jensen-Shannon divergence between two corpora's unigram
    distributions (en vs de documents) with add-alpha smoothing over the
    UNION vocabulary — the corpus-level distribution-shift measure
    behind DSIR-style importance weights (log p/q IS the DSIR ratio) and
    quality-filter domain matching; the token-level companion to
    dq_jensen_shannon_drift (binned numeric) and
    stats_wasserstein_binned (transport).

    Exactness: token counts are exact BIGINTs from ONE conditional hash
    agg over the union vocabulary; smoothed p/q are single fp
    expressions of those integers (identical doubles); each divergence
    term rounds to 9 dp and sums on the nano grid, so the three
    divergences are summation-order-free on both engines. JS is
    computed term-wise against M = (P+Q)/2 and is bounded by ln 2.

    Scale shape: explode -> map-side-combined (word) agg is the only
    fact-volume stage; everything after lives on the vocabulary frame
    (Heaps-law sublinear) with the 1-row totals broadcast. At 100 TB
    hash the token to int64 first (the bigram-LM discipline) so the
    shuffle carries 8-byte keys."""
    tok = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang").isin("en", "de"))
        .select("lang", F.explode(tx.tokens("text")).alias("w"))
    )
    c = tok.groupBy("w").agg(
        F.count(F.when(F.col("lang") == "en", 1)).cast("bigint").alias("c1"),
        F.count(F.when(F.col("lang") == "de", 1)).cast("bigint").alias("c2"),
    )
    tot = c.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    a = F.lit(_KL_ALPHA)
    d = c.crossJoin(F.broadcast(tot)).select(
        ((F.col("c1") + a) / (F.col("n1") + a * F.col("v"))).alias("p"),
        ((F.col("c2") + a) / (F.col("n2") + a * F.col("v"))).alias("q"),
    )

    p, q = F.col("p"), F.col("q")
    agg = d.agg(
        nsum(F.round(p * F.log(p / q), 9)).alias("kl_pq"),
        nsum(F.round(q * F.log(q / p), 9)).alias("kl_qp"),
        nsum(
            F.round(
                0.5 * p * F.log(2.0 * p / (p + q))
                + 0.5 * q * F.log(2.0 * q / (p + q)),
                9,
            )
        ).alias("js"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("n1").alias("n_tokens_en"),
        F.col("n2").alias("n_tokens_de"),
        F.col("v").alias("vocab_union"),
        F.round("kl_pq", 9).alias("kl_en_de"),
        F.round("kl_qp", 9).alias("kl_de_en"),
        F.round("js", 9).alias("js_divergence"),
    )

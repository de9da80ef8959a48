"""Unit/property tests for the data-pipeline extension operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from markt_database_analyzer_spark.datapipe import dedup as dd
from markt_database_analyzer_spark.datapipe import multimodal as mm
from markt_database_analyzer_spark.datapipe import similarity as sim
from markt_database_analyzer_spark.datapipe import text as tx
from markt_database_analyzer_spark.datapipe.udfs import (
    age_group_pandas_udf,
    first_last_apply_in_pandas,
)
from markt_database_analyzer_spark.functions import age_group
from markt_database_analyzer_spark.operators import first_last_by_order

DOC_A = "the quick brown fox jumps over the lazy dog again and again today"
DOC_A2 = "the quick brown fox jumps over the lazy dog again and again tonight"  # near-dup of A
DOC_B = "completely different content about spark engines and columnar execution"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, DOC_A), (2, DOC_A2), (3, DOC_B), (4, DOC_A)], "doc_id long, text string"
    )


def test_shingles_match_python(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    got = df.select(dd.shingles("t", k=3).alias("s")).first()["s"]
    assert sorted(got) == ["a b c", "b c d"]
    # shorter than k → whole text as one shingle
    got1 = spark.createDataFrame([("a b",)], "t string").select(
        dd.shingles("t", k=3).alias("s")
    ).first()["s"]
    assert got1 == ["a b"]


def test_exact_dedup_groups(spark, docs):
    groups = dd.exact_dedup_groups(docs, "text", "doc_id").collect()
    by_size = sorted((r["n_copies"], r["survivor_id"]) for r in groups)
    assert by_size == [(1, 2), (1, 3), (2, 1)]  # docs 1&4 identical, survivor=1


def test_minhash_lsh_finds_planted_neardup(spark, docs):
    cand = dd.minhash_lsh_candidates(docs, "text", "doc_id", num_hashes=16, bands=8)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs  # near dup: 8 bands of 2 rows → high recall
    verified = dd.jaccard_pairs(docs, cand, "text", "doc_id").collect()
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified}
    assert j[(1, 4)] == 1.0
    assert 0.5 < j[(1, 2)] < 1.0


def test_simhash_properties(spark, docs):
    sigs = {r["doc"]: r["sig"] for r in dd.simhash_signatures(docs, "text", "doc_id").collect()}
    assert sigs[1] == sigs[4]  # identical text → identical signature
    ham_near = bin(sigs[1] ^ sigs[2]).count("1")
    ham_far = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated doc
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_pairs(docs, "text", "doc_id", max_hamming=10).collect()
    }
    assert pairs.get((1, 4)) == 0


@pytest.mark.parametrize("id_type", ["string", "double", "decimal(10,2)"])
def test_simhash_signatures_rejects_non_integral_ids(docs, id_type):
    # a bigint cast would turn these ids into NULL docs without a word
    bad = docs.withColumn("doc_id", F.col("doc_id").cast(id_type))
    with pytest.raises(ValueError, match="'doc_id'"):
        dd.simhash_signatures(bad, "text", "doc_id")


@pytest.mark.parametrize("id_type", ["tinyint", "int", "bigint"])
def test_simhash_signatures_keeps_integral_ids(docs, id_type):
    ids = docs.withColumn("doc_id", F.col("doc_id").cast(id_type))
    got = sorted(r["doc"] for r in dd.simhash_signatures(ids, "text", "doc_id").collect())
    assert got == [1, 2, 3, 4]


def test_simhash_vote_sums_chunked_matches_unchunked():
    rng = np.random.default_rng(11)
    lengths = np.array([0, 5, 1, 0, 0, 9, 2, 0], dtype=np.int64)
    hs = rng.integers(0, 1 << 60, int(lengths.sum()), dtype=np.uint64)
    bits = ((hs[:, None] >> np.arange(60, dtype=np.uint64)) & 1).astype(np.int64)
    doc = np.repeat(np.arange(len(lengths)), lengths)
    want = np.zeros((len(lengths), 60), dtype=np.int64)
    np.add.at(want, doc, 2 * bits - 1)
    assert (dd.simhash_vote_sums(hs, lengths, chunk=len(hs)) == want).all()
    # chunks smaller than one document split it across blocks
    for chunk in (1, 2, 3, 4):
        assert (dd.simhash_vote_sums(hs, lengths, chunk=chunk) == want).all()
    empty = dd.simhash_vote_sums(np.zeros(0, dtype=np.uint64), np.zeros(3, dtype=np.int64))
    assert empty.shape == (3, 60) and not empty.any()


def test_bruteforce_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(30, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)], "vec_id long, embedding array<float>"
    )
    got = sim.brute_force_topk(df, df.filter("vec_id = 0"), k=5).collect()
    v = vecs.astype("float64")
    cos = v @ v[0] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    cos[0] = -np.inf  # self excluded
    want = list(np.argsort(-cos)[:5])
    assert [r["neighbor_id"] for r in got] == want
    assert all(abs(r["cos"] - cos[r["neighbor_id"]]) < 1e-6 for r in got)


def test_ivf_topk_respects_cells(spark):
    rng = np.random.default_rng(4)
    rows = []
    for i in range(40):
        cell = i % 4
        base = np.zeros(4)
        base[cell] = 10.0  # well-separated cells
        rows.append((i, [float(x) for x in base + rng.normal(scale=0.1, size=4)], cell))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = sim.ivf_topk(df, df.filter("vec_id = 0"), k=5, nprobe=1)
    res = got.collect()
    assert len(res) == 5
    # query 0 is in cell 0; with nprobe=1 all neighbors must share the cell
    assert all(r["neighbor_id"] % 4 == 0 for r in res)


def test_lang_id_picks_planted_language(spark):
    df = spark.createDataFrame(
        [
            (1, "der hund und die katze ist nicht da"),
            (2, "the cat and the dog is in that house"),
            (3, "xyzzy qwerty plugh"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["p"] for r in df.select("id", tx.lang_id(tx.tokens("text")).alias("p")).collect()}
    assert got[1] == "de" and got[2] == "en" and got[3] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! 42 times",)], "text string")
    r = df.select(
        tx.token_count_whitespace("text").alias("ws"),
        tx.token_count_bpe("text").alias("bpe"),
    ).first()
    assert r["ws"] == 4
    # pieces: Hello , world ! 42 times  → 6
    assert r["bpe"] == 6


def test_fingerprints_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "id long, text string",
    )
    fps = {r["id"]: r["fp"] for r in df.select("id", tx.fingerprint_tokenset("text").alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_quality_score_bounded(spark, docs):
    scores = [r["q"] for r in docs.select(tx.quality_score("text").alias("q")).collect()]
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_udf_age_group_matches_native(spark):
    df = spark.createDataFrame([(float(a),) for a in range(15, 40)], "age double")
    both = df.select(
        age_group("age").alias("native"), age_group_pandas_udf("age").alias("udf")
    ).collect()
    assert all(r["native"] == r["udf"] for r in both)


def test_apply_in_pandas_matches_native_first_last(spark):
    df = spark.createDataFrame(
        [("k1", 1.0, 10.0), ("k1", 3.0, 30.0), ("k1", 2.0, 20.0), ("k2", 5.0, 1.0)],
        "k string, o double, v double",
    )
    native = {
        r["k"]: (r["first_value"], r["last_value"])
        for r in first_last_by_order(df, ["k"], F.col("o"), F.col("v")).collect()
    }
    viaudf = {
        r["k"]: (r["first_value"], r["last_value"])
        for r in first_last_apply_in_pandas(df, ["k"], "o", "v").collect()
    }
    assert native == viaudf == {"k1": (10.0, 30.0), "k2": (1.0, 1.0)}


def test_multimodal_meta_sniffs_magic(spark):
    df = spark.createDataFrame([(1, bytearray(b"\x89PNG\r\n123")), (2, bytearray(b"plain"))], "doc_id long, payload binary")
    got = {r["doc_id"]: r["m"]["format"] for r in df.select("doc_id", mm.payload_meta("payload").alias("m")).collect()}
    assert got == {1: "png", 2: "unknown"}


def test_multimodal_decode_stub(spark):
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string").select(
        "doc_id", mm.to_payload("text").alias("payload")
    )
    row = mm.decode_features(df).first()
    assert row["n_bytes"] == 3 and row["byte_min"] == ord("a") and row["byte_max"] == ord("c")
    assert row["feature_version"] == "fake-v1"
    # a text payload has no BMP/PPM magic, so the raster decoder
    # (tests/test_multimodal_real.py) takes the NULL-feature path
    real = mm.decode_raster_features(df).first()
    assert real["format"] == "unsupported" and real["width"] is None


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, "x" * 250)], "doc_id long, text string").select(
        "doc_id", mm.to_payload("text").alias("payload")
    )
    frames = [r["frame_idx"] for r in mm.frame_sample_plan(df, every_n=1).collect()]
    assert frames == [0, 1, 2]


def test_ivf_recall_against_bruteforce(spark):
    """IVF is the approximate scale path; with a LEARNED coarse
    quantizer (kmeans_cells, 3 distributed Lloyd iterations) its
    recall@10 against exact brute-force must clear a sane floor at
    nprobe=2 of 10 cells."""
    from markt_database_analyzer_spark.sources import read_table
    from markt_database_analyzer_spark.datapipe import similarity as sim
    import pyspark.sql.functions as F

    corpus = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    learned = sim.kmeans_cells(corpus, k=10, iters=3)
    queries = learned.filter(F.col("vec_id") < 5)
    exact = sim.brute_force_topk(corpus, corpus.filter(F.col("vec_id") < 5), k=10)
    approx = sim.ivf_topk(learned, queries, k=10, nprobe=2, cell_col="cell")
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # the pre-assigned labels are weak quantizers on this synthetic data
    # (recall ~0.2-0.3); three Lloyd iterations more than double that
    assert recall >= 0.6, recall


def test_hash_sampling_properties(spark):
    """The three properties that make hash-gated sampling a curation
    artifact rather than an RNG draw: (1) fraction-subset stability —
    the 10% sample is contained in the 25% sample; (2) determinism
    across partitionings; (3) split/sample independence via seeds —
    the gates use different hash inputs, so membership differs."""
    from markt_database_analyzer_spark.datapipe import sampling as sp
    from markt_database_analyzer_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    s10 = {r["doc_id"] for r in sp.hash_sample(docs, "doc_id", 0.10).select("doc_id").collect()}
    s25 = {r["doc_id"] for r in sp.hash_sample(docs, "doc_id", 0.25).select("doc_id").collect()}
    assert s10 <= s25
    assert 0 < len(s10) < len(s25)
    # same gate on a different partitioning → identical membership
    s10b = {
        r["doc_id"]
        for r in sp.hash_sample(docs.repartition(7), "doc_id", 0.10).select("doc_id").collect()
    }
    assert s10b == s10
    split = sp.train_eval_split(docs, "doc_id", eval_fraction=0.10, seed=1)
    ev = {r["doc_id"] for r in split.filter("split = 'eval'").select("doc_id").collect()}
    assert ev and ev != s10  # independent gates


def test_mix_corpora_weights_and_provenance(spark):
    """Weighted mix keeps ~weight of each source, tags provenance, and
    rejects upsampling weights (> 1 is a data-loader concern)."""
    import pytest as _pytest

    from markt_database_analyzer_spark.datapipe import sampling as sp
    from markt_database_analyzer_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    mixed = sp.mix_corpora([("even", a, 1.0), ("odd", b, 0.3)], id_col="doc_id")
    counts = {r["source"]: r["count"] for r in mixed.groupBy("source").count().collect()}
    assert counts["even"] == a.count()  # weight 1.0 keeps everything
    assert 0 < counts["odd"] < b.count()
    with _pytest.raises(ValueError):
        sp.mix_corpora([("x", a, 1.5)], id_col="doc_id")
    with _pytest.raises(ValueError):
        sp.mix_corpora([], id_col="doc_id")
    # per-source salted gates: the same corpus listed twice draws
    # INDEPENDENT samples, not nested kept-sets
    twice = sp.mix_corpora([("s1", docs, 0.3), ("s2", docs, 0.3)], id_col="doc_id")
    s1 = {r["doc_id"] for r in twice.filter("source = 's1'").select("doc_id").collect()}
    s2 = {r["doc_id"] for r in twice.filter("source = 's2'").select("doc_id").collect()}
    assert s1 != s2 and not (s1 <= s2) and not (s2 <= s1)


def test_blank_and_zero_token_edges_match_oracle(spark):
    """Edge pins, differentially: a blank/whitespace-only doc
    scores exactly 0.2 quality in BOTH engines (not NULL), and a
    zero-token doc packs with chunk_end == chunk_start (never -1) in BOTH
    engines — including the offset=0 first-of-shard case where Spark's
    floor(-1/b) and SQL integer division used to disagree."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from markt_database_analyzer_spark.datapipe import sampling as sp
    from markt_database_analyzer_spark.datapipe import text as tx

    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "ein kleines gutes dokument"), (3, "\t\n")],
        "doc_id long, text string",
    )
    got = (
        docs.select("doc_id", F.round(tx.quality_score("text"), 9).alias("q"))
        .orderBy("doc_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": [0, 1, 2, 3], "text": ["", "   ", "ein kleines gutes dokument", "\t\n"]}))
    want = con.execute(
        f"SELECT doc_id, round({tx.sql_quality_score('text', tx.sql_tokens('text'))}, 9) AS q "
        "FROM documents ORDER BY doc_id"
    ).fetchdf()
    assert list(got["q"]) == list(want["q"]), (got, want)
    assert got["q"][0] == 0.2 and got["q"][3] == 0.2

    # packing: first doc of the shard has 0 tokens -> offset 0, end==start
    meta = spark.createDataFrame(
        [(0, 0), (1, 5), (2, 0), (3, 2050)], "doc_id long, n_tokens long"
    )
    packed = (
        sp.pack_chunks(meta, "doc_id", "n_tokens", budget=2048)
        .orderBy("doc_id")
        .collect()
    )
    by_id = {r["doc_id"]: r for r in packed}
    assert by_id[0]["offset"] == 0 and by_id[0]["chunk_end"] == by_id[0]["chunk_start"] == 0
    assert by_id[2]["chunk_end"] == by_id[2]["chunk_start"]  # zero tokens mid-stream
    assert by_id[3]["chunk_start"] == 0 and by_id[3]["chunk_end"] == 1  # real straddle kept


def test_winnowing_guarantee_and_density(spark):
    # Guarantee (Schleimer et al. §2): any shared token run of length
    # >= w + k - 1 contributes at least one shared fingerprint.
    k, w = 3, 4
    shared = "alpha bravo charlie delta echo foxtrot"  # 6 tokens = w+k-1
    d1 = f"one two three {shared} four five six"
    d2 = f"nine eight {shared} seven ten eleven twelve"
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in df.select(
            "doc_id", tx.winnow_fingerprints("text", k=k, w=w).alias("fp")
        ).collect()
    }
    assert fps[1] & fps[2], "shared w+k-1 run must share a fingerprint"
    # Density: expected 2/(w+1) of shingles selected; allow wide slack but
    # reject both degenerate extremes (all kept / only the global min).
    long_doc = " ".join(f"tok{i * 7919 % 1000}" for i in range(400))
    row = (
        spark.createDataFrame([(1, long_doc)], "doc_id long, text string")
        .select(
            F.size(tx.tokens("text")).alias("n"),
            F.size(tx.winnow_fingerprints("text", k=k, w=w)).alias("kept"),
        )
        .first()
    )
    n_shingles = row["n"] - k + 1
    assert 0.05 * n_shingles < row["kept"] < 0.8 * n_shingles

    # Word-order permutation must CHANGE the fingerprint set (positional,
    # unlike fingerprint_tokenset) — and duplicated text must not.
    base = "the quick brown fox jumps over the lazy dog"
    perm = "dog lazy the over jumps fox brown quick the"
    trip = spark.createDataFrame(
        [(1, base), (2, perm), (3, base)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: set(r["fp"])
        for r in trip.select(
            "doc_id", tx.winnow_fingerprints("text", k=k, w=w).alias("fp")
        ).collect()
    }
    assert got[1] == got[3] and got[1] != got[2]


def test_winnowing_pairs_planted_and_capped(spark):
    k, w = 3, 4
    shared = " ".join(f"common{i}" for i in range(12))
    rows = [
        (1, f"prefix one {shared} suffix one"),
        (2, f"prefix two {shared} suffix two"),
        (3, "entirely unrelated text about columnar execution engines today"),
    ]
    # boilerplate hash shared by MANY docs must be dropped by max_df
    rows += [(10 + i, "boiler plate header repeated everywhere") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dd.winnowing_neardup_pairs(
        df, "text", "doc_id", k=k, w=w, min_shared=2, max_df=5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert not any(a >= 10 or b >= 10 for a, b in got), "max_df must drop boilerplate"
    assert not any({a, b} & {3} for a, b in got)


# --------------------------------------------------------------------------
# Bigram LM quality scoring (datapipe.lm)
# --------------------------------------------------------------------------


def test_bigram_logprob_matches_hand_model(spark):
    """Replicate the add-α bigram model in pure Python on a tiny corpus and
    pin the Spark scores to it (within the davg 1e-6 quantization)."""
    import math
    from collections import Counter

    from markt_database_analyzer_spark.datapipe import lm

    corpus = {10: "a b a b c", 20: "a b", 30: "x", 40: ""}
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    alpha = 0.5

    # hand model over the whole corpus
    def toks(t):
        return [w for w in t.lower().split() if w]

    all_bigrams = []
    doc_bigrams = {}
    vocab = set()
    for did, t in corpus.items():
        ts = toks(t)
        vocab.update(ts)
        bgs = [f"{ts[i]} {ts[i+1]}" for i in range(len(ts) - 1)]
        doc_bigrams[did] = bgs
        all_bigrams.extend(bgs)
    c_bg = Counter(all_bigrams)
    c_ctx = Counter(bg.split(" ")[0] for bg in all_bigrams)
    V = len(vocab)

    def nll(bg):
        return round(
            -math.log((c_bg[bg] + alpha) / (c_ctx[bg.split(" ")[0]] + alpha * V)), 9
        )

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_neg_logp"])
        for r in lm.bigram_logprob_scores(df, "text", "doc_id", alpha=alpha).collect()
    }
    assert set(got) == set(corpus)
    for did, bgs in doc_bigrams.items():
        n, avg = got[did]
        assert n == len(bgs)
        if not bgs:
            assert avg is None  # unscorable docs must not fabricate a score
        else:
            want = sum(nll(b) for b in bgs) / len(bgs)
            assert abs(avg - want) < 2e-6, (did, avg, want)


def test_bigram_logprob_flags_outlier_doc(spark):
    """A gibberish doc in a repetitive corpus lands in the high-NLL tail —
    the property the curation gate relies on."""
    from markt_database_analyzer_spark.datapipe import lm

    common = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    rows = common + [(99, "zxq wvut plonk qrst uvwx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["avg_neg_logp"]
        for r in lm.bigram_logprob_scores(df, "text", "doc_id").collect()
    }
    outlier = scores.pop(99)
    assert outlier > max(scores.values())


def test_sq8_error_bounded_by_half_scale(spark):
    """SQ8 reconstruction error must be <= scale/2 (+1 ulp wiggle) for
    every vector — the quantizer's defining guarantee."""
    from markt_database_analyzer_spark.catalog import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["embedding_quantize_sq8"].fn(spark, sf).collect()
    assert rows
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{sf}/embeddings.parquet").to_pydict()
    spans = {
        vid: (max(v) - min(v)) / 255.0
        for vid, v in zip(emb["vec_id"], emb["embedding"])
    }
    for r in rows:
        assert r["max_abs_err"] <= spans[r["vec_id"]] / 2 + 1e-9, r


def test_pq_adc_recall_against_exact(spark):
    """PQ/ADC top-5 must overlap the exact-L2 top-5 (recall@5 ≥ 0.4 on the
    64-dim synthetic corpus with an untrained 16-code codebook — the
    quantizer is deliberately crude; the pin is that ADC ranks correlate
    with true distance, not that compression is free)."""
    import numpy as np

    from markt_database_analyzer_spark.catalog import REGISTRY
    from markt_database_analyzer_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    got = {}
    for r in REGISTRY["similarity_pq_adc_topk"].fn(spark, sf).collect():
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    emb = read_table(spark, sf, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in emb])
    mat = np.array([r["embedding"] for r in emb], dtype=np.float64)
    hits = total = 0
    sel_ratio = []
    for qid, nbrs in got.items():
        qv = mat[ids == qid][0]
        d = ((mat - qv) ** 2).sum(axis=1)
        d[ids == qid] = np.inf
        exact = set(ids[np.argsort(d, kind="stable")[:5]].tolist())
        hits += len(exact & set(nbrs))
        total += 5
        sel = np.mean([d[ids == n][0] for n in nbrs])
        sel_ratio.append(sel / np.mean(d[np.isfinite(d)]))
    # The load-bearing property: ADC-selected neighbors are genuinely
    # closer than average in TRUE distance (ranks correlate through the
    # quantization), plus a recall floor well above random (5/n ≈ 0.10).
    assert float(np.mean(sel_ratio)) < 0.85, sel_ratio
    assert total > 0 and hits / total >= 0.15, (hits, total)


def test_substring_spans_interval_union(spark):
    """Planted shared 12-token run between two docs: with k=10 the shared
    run contributes 3 duplicate shingle starts covering exactly 12 tokens
    (interval union, not 3*k); a doc with no cross-doc run reports 0."""
    shared = " ".join(f"s{i}" for i in range(12))
    d1 = f"aa bb cc {shared} dd ee"
    d2 = f"{shared} xx yy zz ww vv qq rr tt uu"
    d3 = "totally different content " + " ".join(f"u{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_dup_positions"], r["covered_tokens"], r["n_tokens"])
        for r in dd.substring_dup_spans(df, "text", "doc_id", k=10).collect()
    }
    # d1: shared run occupies positions 3..14 (0-based); duplicate 10-gram
    # starts at 3,4,5 -> union [3,15) = 12 tokens
    assert out[1] == (3, 12, 17)
    # d2: run at positions 0..11 -> starts 0,1,2 -> union [0,12) = 12
    assert out[2] == (3, 12, 21)
    assert out[3] == (0, 0, 13)


def test_substring_span_union_random_positions(spark):
    """The interval-union sweep must equal a brute-force union for random
    duplicate-position sets (one job, 200 random rows, fixed seed)."""
    import random

    k = 10
    rng = random.Random(7)
    rows = []
    for i in range(200):
        n = rng.randint(1, 30)
        ps = sorted(rng.sample(range(0, 120), n))
        covered = len({p + d for p in ps for d in range(k)})
        rows.append((i, ps, covered))
    df = spark.createDataFrame(
        [(i, ps) for i, ps, _ in rows], "id long, ps array<int>"
    )
    sweep = F.aggregate(
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
    got = {r["id"]: r["c"] for r in df.select("id", sweep.alias("c")).collect()}
    want = {i: covered for i, _, covered in rows}
    assert got == want


# sha256 of the sorted (vec_id, cell) pairs and of the centroid list that
# kmeans_model(k=4, iters=3) returns on the sf0.001 embeddings, recorded
# before kmeans_model released its input pin.
_KMEANS_ASSIGN_SHA = "3bb2a019b3237a3d1b95a99bef5b5ecbf6ee02a1a6a019182cce49aee780d17c"
_KMEANS_CENTS_SHA = "3bb0c132cf6f608d51826741fb3487727ddf5f6e68925cd55f01ff1a1da44e0f"


def test_kmeans_model_releases_its_input_pin(spark):
    """kmeans_model pins the fanned-out corpus for its Lloyd rounds and
    releases that pin once the returned assignment sits in its own cache.
    The release changes neither the assignment nor the centroids."""
    import hashlib

    from pyspark import StorageLevel

    from markt_database_analyzer_spark.datapipe.util import fan_out
    from markt_database_analyzer_spark.sources import read_table

    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    assigned, cents = sim.kmeans_model(emb, k=4, iters=3)
    try:
        # the cache manager holds no entry for the pinned base any more
        assert fan_out(emb).storageLevel == StorageLevel.NONE
        assert assigned.storageLevel != StorageLevel.NONE
        rows = sorted((r["vec_id"], r["cell"]) for r in assigned.select("vec_id", "cell").collect())
        assert hashlib.sha256(repr(rows).encode()).hexdigest() == _KMEANS_ASSIGN_SHA
        assert hashlib.sha256(repr(cents).encode()).hexdigest() == _KMEANS_CENTS_SHA
    finally:
        assigned.unpersist()

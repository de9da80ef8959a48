"""Round-14 optimization pins.

Each pin replays the equivalence argument an r14 restructure rests on:

- the chrF numpy gram kernel returns the identical exact integers as the
  Counter multiset-intersection form it replaced (codepoint-composition
  gram ids are collision-free below 2^21 per codepoint);
- graph_triangle_count's one-pass edge build (per-order sorted distinct
  sets unfolded to i<j pairs) produces exactly the pair multiset the old
  lineitem self-join produced;
- the dropped/weakened final sorts changed no row set (covered by the
  oracle differential; here we pin that the entries still run and the
  plans carry no single-partition exchange of the corpus-sized output).
"""

from __future__ import annotations

import os
import random
import string
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"fixture dir {SF_DIR} not present"
)


def _chrf_clips_ref(c: str, r: str) -> list:
    out = []
    for n in (1, 2, 3):
        cc = Counter(c[i : i + n] for i in range(len(c) - n + 1))
        rc = Counter(r[i : i + n] for i in range(len(r) - n + 1))
        out.append(sum(min(k, rc[g]) for g, k in cc.items() if g in rc))
    return out


def _chrf_clips_np(c: str, r: str) -> list:
    # mirror of the kernel inside eval_chrf_adjacent_pairs
    import numpy as np

    def grams(a, n):
        if len(a) < n:
            return a[:0]
        g = a[: len(a) - n + 1].copy()
        for k in range(1, n):
            g = g * np.int64(1 << 21) + a[k : len(a) - n + 1 + k]
        return g

    def clip(gc, gr):
        if len(gc) == 0 or len(gr) == 0:
            return 0
        uc, cc = np.unique(gc, return_counts=True)
        ur, cr = np.unique(gr, return_counts=True)
        _, ic, ir = np.intersect1d(uc, ur, assume_unique=True, return_indices=True)
        return int(np.minimum(cc[ic], cr[ir]).sum())

    ca = np.frombuffer(c.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    ra = np.frombuffer(r.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    return [clip(grams(ca, n), grams(ra, n)) for n in (1, 2, 3)]


def test_chrf_numpy_kernel_matches_counter_exactly():
    rng = random.Random(714)
    chars = string.ascii_letters + string.digits + "äöüß€中文😀 \t.,;"
    for _ in range(1500):
        c = "".join(rng.choices(chars, k=rng.randint(0, 120)))
        r = "".join(rng.choices(chars, k=rng.randint(0, 120)))
        assert _chrf_clips_ref(c, r) == _chrf_clips_np(c, r), (c, r)
    # boundary cases: empty strings, identical strings, max-BMP+ chars
    for c, r in [("", ""), ("", "ab"), ("abcabc", "abcabc"), ("😀😀😀", "😀x😀")]:
        assert _chrf_clips_ref(c, r) == _chrf_clips_np(c, r), (c, r)


def test_chrf_entry_unchanged_vs_fixture(spark):
    # end-to-end: the entry with the numpy kernel still matches a direct
    # Counter-based recomputation of the clipped totals on the fixture.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    import re

    stripped = {r["doc_id"]: re.sub(r"\s+", "", r["text"]) for r in docs}
    m = [0, 0, 0]
    for pid in stripped:
        if pid + 1 in stripped:
            clips = _chrf_clips_ref(stripped[pid], stripped[pid + 1])
            for i in range(3):
                m[i] += clips[i]
    from markt_database_analyzer_spark.catalog import REGISTRY

    row = REGISTRY["eval_chrf_adjacent_pairs"].fn(spark, SF_DIR).collect()[0]
    # recompute f1 from the reference clipped totals and compare
    tot_c = [0, 0, 0]
    tot_r = [0, 0, 0]
    for pid in stripped:
        if pid + 1 in stripped:
            for i, n in enumerate((1, 2, 3)):
                tot_c[i] += max(len(stripped[pid]) - n + 1, 0)
                tot_r[i] += max(len(stripped[pid + 1]) - n + 1, 0)

    def fbeta(p, r):
        return 0.0 if p + r == 0 else 5.0 * p * r / (4.0 * p + r)

    fs = [
        fbeta(
            0.0 if tot_c[i] == 0 else m[i] / tot_c[i],
            0.0 if tot_r[i] == 0 else m[i] / tot_r[i],
        )
        for i in range(3)
    ]
    assert row["f1"] == pytest.approx(fs[0], abs=1e-9)
    assert row["f2"] == pytest.approx(fs[1], abs=1e-9)
    assert row["f3"] == pytest.approx(fs[2], abs=1e-9)


def test_triangle_edge_build_one_pass_equals_self_join(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    old_pairs = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    from markt_database_analyzer_spark.catalog_graph import _copurchase_pairs

    new_pairs = _copurchase_pairs(li).distinct()
    assert new_pairs.exceptAll(old_pairs).count() == 0
    assert old_pairs.exceptAll(new_pairs).count() == 0

    # the WEIGHTED form must reproduce the self-join's pair MULTIPLICITY
    # (equal-partkey lineitem pairs excluded, cu*cv per value pair) —
    # exceptAll on the un-deduped multisets pins it, including any
    # orders that list the same partkey on several lineitems.
    old_multi = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    )
    new_multi = _copurchase_pairs(li, weighted=True)
    assert new_multi.exceptAll(old_multi).count() == 0
    assert old_multi.exceptAll(new_multi).count() == 0


def test_no_single_partition_funnel_on_corpus_outputs(spark):
    # the corpus-sized outputs must not funnel the
    # full row set through one task (repartition(1)) nor pay a global
    # range sort for cosmetic order. Pin on the OPTIMIZED LOGICAL plan:
    # no Repartition(1), and every user Sort is partition-local
    # (global=false). Range partitioning inside the prefix-sum machinery
    # and 1-row aggregate exchanges are legitimate and not matched here.
    from markt_database_analyzer_spark.catalog import REGISTRY

    for name in (
        "stats_quantile_normalize",
        "stats_quantile_normalize_grid",
        "w_ewma_smoothed",
        "text_repetition",
    ):
        plan = (
            REGISTRY[name]
            .fn(spark, SF_DIR)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "Repartition 1," not in plan, name
        for line in plan.splitlines():
            s = line.strip().lstrip("+-: ")
            if s.startswith("Sort ["):
                assert s.rstrip().endswith("false"), (name, line)


def test_simhash_arrow_kernel_matches_agg_form(spark):
    # the r14 Arrow signature kernel must be bit-identical to the JVM
    # explode+aggregate form on fixture data AND on adversarial rows
    # (empty/whitespace/null/unicode text — tokenization is shared JVM
    # code, md5 is over identical UTF-8 bytes on both paths).
    import markt_database_analyzer_spark.datapipe.dedup as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r["doc"]: r["sig"] for r in dd.simhash_signatures(docs, "text", "doc_id").collect()}
    b = {r["doc"]: r["sig"] for r in dd.simhash_signatures_agg(docs, "text", "doc_id").collect()}
    assert a == b

    crafted = spark.createDataFrame(
        [
            (1, ""),
            (2, "   \t  "),
            (3, None),
            (4, "a a a b"),
            (5, "Ä ö ü ß 中文 😀 naïve NAÏVE"),
            (6, "x"),
            (7, "the the THE tHe"),
        ],
        "doc_id long, text string",
    )
    a = {r["doc"]: r["sig"] for r in dd.simhash_signatures(crafted, "text", "doc_id").collect()}
    b = {r["doc"]: r["sig"] for r in dd.simhash_signatures_agg(crafted, "text", "doc_id").collect()}
    assert a == b
    assert a[1] == 0 and a[2] == 0 and a[3] == 0  # empty/ws/null → sig 0


def test_pq_encode_arrow_kernel_matches_exprs(spark):
    import markt_database_analyzer_spark.datapipe.similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = sim.pq_codebook(emb, k=16)
    cols = ["vec_id"] + [f"code{j}" for j in range(8)] + ["recon"]
    a = {
        r["vec_id"]: tuple(r[c] if c != "recon" else tuple(r[c]) for c in cols[1:])
        for r in sim.pq_encode_reconstruct(emb, cb, m=8).select(cols).collect()
    }
    b = {
        r["vec_id"]: tuple(r[c] if c != "recon" else tuple(r[c]) for c in cols[1:])
        for r in sim.pq_encode_reconstruct_exprs(emb, cb, m=8).select(cols).collect()
    }
    assert a == b  # exact doubles: reconstruction gathers identical codebook values


def test_tpch_q11_threshold_and_probe_share_one_aggregate(spark):
    # the pinned per-partkey aggregate is computed once: the eager
    # checkpoint materializes it, and the threshold and the probe branch
    # of the executed plan both read that one copy. Every leaf must be a
    # scan of the same checkpointed RDD, so no table is scanned in any
    # spelling (parquet file scan or DSv2 BatchScan alike), and no node
    # aggregates per partkey again.
    from markt_database_analyzer_spark.catalog import REGISTRY

    plan = REGISTRY["tpch_q11_important_stock"].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    leaves = [leaves.apply(i) for i in range(leaves.size())]
    assert len(leaves) == 2  # probe + threshold
    assert {leaf.getClass().getSimpleName() for leaf in leaves} == {"RDDScanExec"}
    assert len({leaf.rdd().id() for leaf in leaves}) == 1
    assert "keys=[l_partkey" not in plan.toString()

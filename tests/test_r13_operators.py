"""Round-13 operator pins: KMV merged-sketch set operations
(union / intersection / difference / Jaccard estimators with their
set-algebra identities and the published 1/sqrt(k) accuracy envelope).
"""

from __future__ import annotations

import collections

import duckdb
import pandas as pd
import pytest

from markt_database_analyzer_spark.catalog import REGISTRY

SF = "/root/testdata/sf0.001"


def _run_both(spark, name, sf_dir, tables):
    got = REGISTRY[name].fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = con.execute(REGISTRY[name].oracle).df()
    con.close()
    return got, want


def test_kmv_set_ops_matches_oracle(spark):
    got, want = _run_both(spark, "sketch_kmv_set_ops", SF, ["events"])
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


def test_kmv_set_ops_identities_and_accuracy(spark):
    rows = REGISTRY["sketch_kmv_set_ops"].fn(spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    users = collections.defaultdict(set)
    for e in ev:
        users[e["event_type"]].add(e["user_id"])
    types = sorted(users)
    assert len(rows) == len(types) * (len(types) - 1) // 2
    for r in rows:
        a, b = users[r["type_a"]], users[r["type_b"]]
        # exact audit columns really are exact set algebra
        assert r["exact_inter"] == len(a & b)
        assert r["exact_union"] == len(a | b)
        # the three inclusion-ratio estimates partition the union
        # estimate exactly (n_both + n_a_only + n_b_only == k_u)
        total = r["est_inter"] + r["est_diff_a"] + r["est_diff_b"]
        assert total == pytest.approx(r["est_union"], abs=1e-6)
        # published ~1/sqrt(k) envelope, k=64 -> sigma ~12.5%; allow 4 sigma
        true_union = len(a | b)
        if true_union >= 64:
            assert abs(r["est_union"] - true_union) / true_union < 0.5
        # Jaccard estimate is a ratio in [0, 1]
        assert 0.0 <= r["jaccard_est"] <= 1.0
        # estimator collapses to exact counts when sketches are complete
        if r["k_u"] < 64:
            assert r["est_union"] == true_union
            assert r["est_inter"] == len(a & b)


def test_kmv_set_ops_merge_is_valid_kmv_sketch(spark):
    """The k smallest of L_A ∪ L_B must equal the KMV sketch built
    directly on A ∪ B — the merge property the estimator rests on."""
    import hashlib

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    users = collections.defaultdict(set)
    for e in ev:
        users[e["event_type"]].add(e["user_id"])
    types = sorted(users)
    k = 64

    def h60(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    a, b = types[0], types[1]
    la = sorted({h60(u) for u in users[a]})[:k]
    lb = sorted({h60(u) for u in users[b]})[:k]
    merged = sorted(set(la) | set(lb))[:k]
    direct = sorted({h60(u) for u in users[a] | users[b]})[:k]
    assert merged == direct


def test_fan_out_memoizes_partition_probe(spark):
    """fan_out's getNumPartitions probe forces a physical-planning pass;
    it is memoized per (session, semantic plan hash) with no behavior
    change."""
    from markt_database_analyzer_spark.datapipe import util as u

    u._NPART_CACHE.clear()
    df = spark.range(100).selectExpr("id AS doc_id")
    target = spark.sparkContext.defaultParallelism
    out1 = u.fan_out(df)
    assert len(u._NPART_CACHE) == 1
    assert out1.rdd.getNumPartitions() >= min(target, 100) or target <= 2
    # a semantically identical frame hits the cache (no new entry)
    out2 = u.fan_out(spark.range(100).selectExpr("id AS doc_id"))
    assert len(u._NPART_CACHE) == 1
    assert sorted(r.doc_id for r in out2.collect()) == list(range(100))
    # an already-wide frame passes through unrepartitioned
    wide = df.repartition(target + 4)
    assert u.fan_out(wide) is wide
    assert len(u._NPART_CACHE) == 2


def test_streaming_cms_heavy_hitters_matches_oracle(spark):
    got, want = _run_both(spark, "streaming_cms_heavy_hitters", SF, ["events"])
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert len(g) > 0
    # CMS one-sided guarantee holds on every emitted heavy hitter
    assert g["no_underestimate"].all()
    # every emitted row clears the integer phi-gate
    assert (g["est"] * 64 >= g["n_total"]).all()


def test_streaming_cms_state_is_bounded(spark):
    """The streamed counter table is <= d*w rows — the bounded-state
    claim the entry exists to demonstrate."""
    from pyspark.sql import functions as F

    from markt_database_analyzer_spark.datapipe.sketches import cms_cells
    from markt_database_analyzer_spark.streaming import (
        read_events_stream, run_stream_to_memory)

    stream = read_events_stream(spark, SF)
    cells = run_stream_to_memory(
        cms_cells(stream, F.col("user_id").cast("string"), depth=4, width=64),
        output_mode="complete",
    )
    assert cells.count() <= 4 * 64


def test_streaming_cms_cells_equal_batch_cells(spark):
    """Batch and streaming must build the IDENTICAL counter table from
    the same static input — the same-helper-by-construction claim."""
    from pyspark.sql import functions as F

    from markt_database_analyzer_spark.catalog import _t
    from markt_database_analyzer_spark.datapipe.sketches import cms_cells
    from markt_database_analyzer_spark.streaming import (
        read_events_stream, run_stream_to_memory)

    k = F.col("user_id").cast("string")
    batch = cms_cells(_t(spark, SF, "events"), k, depth=4, width=64)
    streamed = run_stream_to_memory(
        cms_cells(read_events_stream(spark, SF), k, depth=4, width=64),
        output_mode="complete",
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def _naive_sw(c, r):
    lc, lr = len(c), len(r)
    H = [[0] * (lr + 1) for _ in range(lc + 1)]
    best = 0
    for i in range(1, lc + 1):
        for j in range(1, lr + 1):
            s = 2 if c[i - 1] == r[j - 1] else -1
            H[i][j] = max(0, H[i - 1][j - 1] + s, H[i - 1][j] - 1, H[i][j - 1] - 1)
            best = max(best, H[i][j])
    return best


def test_smith_waterman_kernel_equals_naive_dp():
    import random

    from markt_database_analyzer_spark.catalog_eval import smith_waterman_score

    # crafted pins
    assert smith_waterman_score([], ["a"]) == 0
    assert smith_waterman_score(["a", "b", "c"], ["a", "b", "c"]) == 6
    assert smith_waterman_score(["a", "b"], ["x", "y"]) == 0
    # a common span buried in unrelated flanks: LOCAL finds it whole
    c = ["u1", "u2", "A", "B", "C", "u3"]
    r = ["v1", "A", "B", "C", "v2", "v3", "v4"]
    assert smith_waterman_score(c, r) == 6
    # gap inside the aligned region: 2*4 matches - 1 gap = 7
    assert smith_waterman_score(
        ["A", "B", "C", "D"], ["A", "B", "x", "C", "D"]
    ) == 7
    # seeded random equivalence against the O(n^2) textbook DP
    rng = random.Random(13)
    for _ in range(60):
        n1, n2 = rng.randint(0, 14), rng.randint(0, 14)
        c = [rng.choice("abcde") for _ in range(n1)]
        r = [rng.choice("abcde") for _ in range(n2)]
        assert smith_waterman_score(c, r) == _naive_sw(c, r), (c, r)


def test_smith_waterman_entry_matches_oracle(spark):
    got, want = _run_both(spark, "eval_smith_waterman_pairs", SF, ["documents"])
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True),
        want[cols].reset_index(drop=True),
        check_dtype=False,
        check_exact=True,
    )
    assert got["n_pairs"][0] > 0


def test_qdigest_kernel_properties():
    """Fuzz the q-digest build/query against the exact histogram: mass
    conservation, the never-undershoot guarantee, the levels*thr
    overshoot bound, and the digest-size bound."""
    import random

    from markt_database_analyzer_spark.datapipe.sketches import (
        QD_K, QD_SIGMA, QD_U, qdigest_build, qdigest_quantile)

    rng = random.Random(29)
    for trial in range(60):
        n = rng.randint(1, 4000)
        mode = rng.choice(["uniform", "skew", "cluster"])
        leaf = {}
        for _ in range(n):
            if mode == "uniform":
                u = rng.randrange(QD_U)
            elif mode == "skew":
                u = min(QD_U - 1, int(rng.expovariate(0.02)))
            else:
                u = rng.choice([5, 6, 7, 512, 900])
            leaf[u] = leaf.get(u, 0) + 1
        nodes, thr = qdigest_build(leaf)
        assert sum(c for _, _, c in nodes) == n
        if thr >= 1:
            assert len(nodes) <= 2 * QD_SIGMA + 1
        else:
            assert len(nodes) <= n  # no compression below sigma rows
        for num, den in ((1, 4), (1, 2), (3, 4), (9, 10), (99, 100)):
            rank = (num * n + den - 1) // den
            est = qdigest_quantile(nodes, rank)
            true_cum = sum(c for u, c in leaf.items() if u <= est)
            assert true_cum >= rank, (trial, rank, est)
            assert true_cum - rank <= QD_K * thr + leaf.get(est, 0), (
                trial, mode, rank, est)


def test_qdigest_merged_nodes_never_undershoot():
    """Digests merge by concatenating node multisets (then optionally
    re-compressing); the never-undershoot guarantee survives the merge
    because every node's mass still lies at-or-below its upper bound."""
    import random

    from markt_database_analyzer_spark.datapipe.sketches import (
        QD_U, qdigest_build, qdigest_quantile)

    rng = random.Random(31)
    la, lb = {}, {}
    for _ in range(2000):
        ua = rng.randrange(QD_U)
        la[ua] = la.get(ua, 0) + 1
        ub = min(QD_U - 1, int(rng.expovariate(0.01)))
        lb[ub] = lb.get(ub, 0) + 1
    assert sum(la.values()) == sum(lb.values()) == 2000
    na, _ = qdigest_build(la)
    nb, _ = qdigest_build(lb)
    merged = na + nb
    n = sum(la.values()) + sum(lb.values())
    union = dict(la)
    for u, c in lb.items():
        union[u] = union.get(u, 0) + c
    for num, den in ((1, 2), (9, 10)):
        rank = (num * n + den - 1) // den
        est = qdigest_quantile(merged, rank)
        assert sum(c for u, c in union.items() if u <= est) >= rank


def test_qdigest_entry_matches_oracle(spark):
    got, want = _run_both(spark, "sketch_qdigest_quantiles", SF, ["events"])
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True),
        want[cols].reset_index(drop=True),
        check_dtype=False,
        check_exact=True,
    )
    assert len(got) == 5
    # the audited guarantees hold on the fixture too
    assert (got["true_cum_le_est"] >= got["rank_target"]).all()
    assert (got["est_u"] >= got["exact_u"]).all()


def test_streaming_qdigest_matches_batch_and_oracle(spark):
    gb, _ = _run_both(spark, "sketch_qdigest_quantiles", SF, ["events"])
    gs, want = _run_both(spark, "streaming_qdigest_quantiles", SF, ["events"])
    cols = sorted(gs.columns)
    # stream == batch == oracle on static input
    pd.testing.assert_frame_equal(
        gs[cols].reset_index(drop=True), gb[cols].reset_index(drop=True),
        check_dtype=False, check_exact=True,
    )
    pd.testing.assert_frame_equal(
        gs[cols].reset_index(drop=True),
        want[cols].reset_index(drop=True),
        check_dtype=False, check_exact=True,
    )


def test_qdigest_build_rejects_out_of_range_keys():
    from markt_database_analyzer_spark.datapipe.sketches import qdigest_build

    with pytest.raises(ValueError):
        qdigest_build({-4: 1})
    with pytest.raises(ValueError):
        qdigest_build({1024: 1})


def test_qdigest_result_all_null_values_matches_oracle(spark, tmp_path):
    """All-NULL value column: both engines must emit the same NULL-est
    degenerate rows (review finding: the python path used to return
    est_u = 1023 where the oracle's empty CTEs give NULL)."""
    import pandas as pdd

    pdd.DataFrame(
        {"event_id": [1, 2], "user_id": [1, 2],
         "event_type": ["a", "b"],
         "ts": pdd.to_datetime(["2024-01-01", "2024-01-02"]),
         "value": [None, None]}
    ).to_parquet(tmp_path / "events.parquet", index=False)
    got, want = _run_both(
        spark, "sketch_qdigest_quantiles", str(tmp_path), ["events"]
    )
    cols = sorted(got.columns)
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True),
        want[cols].reset_index(drop=True),
        check_dtype=False,
    )
    assert got["est_u"].isna().all() and (got["n"] == 0).all()


def test_qdigest_negative_values_clamp_identically(spark, tmp_path):
    """Negative values clamp to leaf 0 in BOTH engines (review finding:
    unclamped negatives python-indexed from the array tail)."""
    import pandas as pdd

    pdd.DataFrame(
        {"event_id": range(6), "user_id": range(6),
         "event_type": ["a"] * 6,
         "ts": pdd.to_datetime(["2024-01-01"] * 6),
         "value": [-5000.0, -3.5, -0.2, 0.4, 700.0, 2000.0]}
    ).to_parquet(tmp_path / "events.parquet", index=False)
    got, want = _run_both(
        spark, "sketch_qdigest_quantiles", str(tmp_path), ["events"]
    )
    cols = sorted(got.columns)
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True),
        want[cols].reset_index(drop=True),
        check_dtype=False, check_exact=True,
    )
    # 3 clamped-to-0 rows out of 6 -> the exact 0.25 and 0.5 quantiles are 0
    assert got.loc[got["q"] == 0.5, "exact_u"].iloc[0] == 0


def test_qdigest_merge_recompression_guarantees():
    """qdigest_merge (add node counts per (level, idx), re-compress
    bottom-up with the combined threshold) preserves mass, the digest
    size bound, never-undershoot, and the levels*thr error bound
    against the union histogram — the cross-partition combiner the
    docstrings promise."""
    import random

    from markt_database_analyzer_spark.datapipe.sketches import (
        QD_K, QD_SIGMA, QD_U, qdigest_build, qdigest_merge, qdigest_quantile)

    rng = random.Random(43)
    for trial in range(40):
        las, lbs = {}, {}
        na, nb = rng.randint(1, 2500), rng.randint(1, 2500)
        for _ in range(na):
            u = (rng.randrange(QD_U) if rng.random() < 0.5
                 else min(QD_U - 1, int(rng.expovariate(0.02))))
            las[u] = las.get(u, 0) + 1
        for _ in range(nb):
            u = (rng.choice([3, 4, 700, 701]) if rng.random() < 0.5
                 else rng.randrange(QD_U))
            lbs[u] = lbs.get(u, 0) + 1
        da, _ = qdigest_build(las)
        db, _ = qdigest_build(lbs)
        merged, thr = qdigest_merge(da, db)
        n = na + nb
        assert sum(c for _, _, c in merged) == n
        if thr >= 1:
            assert len(merged) <= 3 * QD_SIGMA  # the paper's |Q| bound
        union = dict(las)
        for u, c in lbs.items():
            union[u] = union.get(u, 0) + c
        for num, den in ((1, 2), (9, 10), (99, 100)):
            rank = (num * n + den - 1) // den
            est = qdigest_quantile(merged, rank)
            true_cum = sum(c for u, c in union.items() if u <= est)
            assert true_cum >= rank
            assert true_cum - rank <= QD_K * thr + union.get(est, 0)
    # level-range validation
    with pytest.raises(ValueError):
        qdigest_merge([(99, 0, 1)], [])

"""Round-6 part-17 entries (seasonal strength, VaR/CVaR, LSH recall
eval), pinned against plain-Python recomputation at sf0.001 with the
exact integer-grid conventions the engines use."""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_datapipe import _LSHR_SAMPLE
from markt_database_analyzer_spark.datapipe.dedup import MIN_JACCARD
from markt_database_analyzer_spark.catalog_finance import _VAR_ALPHA

SF_DIR = "/root/testdata/sf0.001"


def _q_half_up(x: float) -> int:
    return int(Decimal(repr(x)).quantize(Decimal("1"), ROUND_HALF_UP))


def test_var_cvar_matches_python_order_statistic_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    ).collect()
    daily = defaultdict(int)
    for r in li:
        d = r["l_shipdate"].date()
        daily[d] += _q_half_up(r["l_extendedprice"] * (1.0 - r["l_discount"]) * 100.0)
    days = sorted(daily)
    rets = [
        (_q_half_up(math.log(daily[b] / daily[a]) * 1e9), b)
        for a, b in zip(days, days[1:])
    ]
    rets.sort()
    n = len(rets)
    k = math.ceil(_VAR_ALPHA * n)
    var95 = -rets[k - 1][0] / 1e9
    cvar95 = -sum(rq for rq, _ in rets[:k]) / k / 1e9
    row = REGISTRY["finance_var_cvar"].fn(spark, SF_DIR).collect()[0]
    assert row["n_returns"] == n and row["tail_days"] == k
    assert abs(row["var_95"] - round(var95, 9)) < 1e-9
    assert abs(row["cvar_95"] - round(cvar95, 9)) < 1e-9
    assert abs(row["worst_day_loss"] - round(-rets[0][0] / 1e9, 9)) < 1e-9
    # tail coherence: CVaR >= VaR (expected shortfall dominates the
    # quantile), worst day bounds both
    assert row["cvar_95"] >= row["var_95"] - 1e-12
    assert row["worst_day_loss"] >= row["cvar_95"] - 1e-12


def test_seasonal_strength_consistent_with_stl_components(spark):
    # the strengths must derive from the SAME decomposition the STL
    # outlier entry publishes: recompute both variances from its
    # component columns (micro/nano grids) and compare
    comp = REGISTRY["ts_stl_residual_outliers"].fn(spark, SF_DIR).collect()
    n = len(comp)

    def mean(zs):
        return sum(_q_half_up(z * 1e6) for z in zs) / n / 1e6

    def sq(zs):
        return sum(_q_half_up(z * z * 1e9) for z in zs) / n / 1e9

    # the components are published rounded at 6 dp — identical to the
    # micro-grid the strength entry quantizes on, so replaying from the
    # published columns is exact
    r = [row["residual"] for row in comp]
    sr = [row["seasonal"] + row["residual"] for row in comp]
    tr = [row["trend"] + row["residual"] for row in comp]
    v_r = sq(r) - mean(r) ** 2
    v_sr = sq(sr) - mean(sr) ** 2
    v_tr = sq(tr) - mean(tr) ** 2
    fs = max(0.0, 1.0 - v_r / v_sr)
    ft = max(0.0, 1.0 - v_r / v_tr)
    row = REGISTRY["ts_seasonal_strength"].fn(spark, SF_DIR).collect()[0]
    assert row["n_hours"] == n
    # published components are 6-dp rounded; the entry works on the
    # unrounded ones — agree to ~1e-4 on the strength scale
    assert abs(row["seasonal_strength"] - fs) < 1e-3
    assert abs(row["trend_strength"] - ft) < 1e-3
    assert 0.0 <= row["seasonal_strength"] < 1.0
    assert 0.0 <= row["trend_strength"] < 1.0


def test_lsh_recall_eval_matches_python_ground_truth(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        f"doc_id < {_LSHR_SAMPLE}"
    ).collect()
    shingles = {}
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        shingles[r["doc_id"]] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    ids = sorted(shingles)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(shingles[a] & shingles[b])
            if inter and inter / (len(shingles[a]) + len(shingles[b]) - inter) >= MIN_JACCARD:
                truth.add((a, b))
    row = REGISTRY["dedup_lsh_recall_eval"].fn(spark, SF_DIR).collect()[0]
    assert row["sample_docs"] == _LSHR_SAMPLE
    assert row["true_pairs"] == len(truth)
    assert row["caught"] <= row["true_pairs"]
    assert row["caught"] <= row["candidate_pairs"]
    if truth:
        assert abs(row["recall"] - round(row["caught"] / len(truth), 9)) < 1e-9
        # seeded duplicates are near-exact (J ~ 1): banding must catch them
        assert row["recall"] == 1.0
    else:
        assert row["recall"] is None

"""Round-6 part-11 entries (McNemar, Cohen's d / Hedges' g, G-test,
ridge regression), pinned against plain-Python recomputation at
sf0.001 with the exact HALF_UP / integer-grid conventions the engines
use."""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_stats import AB_SEED, _MCN_THRESHOLD, _RIDGE_LAMBDA_FRAC

SF_DIR = "/root/testdata/sf0.001"


def _round_half_up(x: float, dp: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))


def _q_half_up(x: float) -> int:
    return int(Decimal(repr(x)).quantize(Decimal("1"), ROUND_HALF_UP))


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _phi(z: float) -> float:
    return 1.0 / (1.0 + math.exp(-1.5976 * z - 0.07056 * z * z * z))


def test_mcnemar_matches_python_paired_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "is"}
    n = len(docs)
    both_right = b = c = both_wrong = 0
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        score = _round_half_up(sum(t in stop for t in toks) / len(toks), 9)
        pa = score >= _MCN_THRESHOLD
        pb = "the" in toks
        truth = r["lang"] == "en"
        if (pa == truth) and (pb == truth):
            both_right += 1
        elif pa == truth:
            b += 1
        elif pb == truth:
            c += 1
        else:
            both_wrong += 1
    chi2 = (abs(float(b) - c) - 1.0) ** 2 / (b + c)
    p = 2.0 * (1.0 - _phi(math.sqrt(chi2)))
    row = REGISTRY["stats_mcnemar_test"].fn(spark, SF_DIR).collect()[0]
    assert (row["n"], row["both_right"], row["b"], row["c"], row["both_wrong"]) == (
        n, both_right, b, c, both_wrong,
    )
    assert abs(row["chi2_cc"] - round(chi2, 9)) < 1e-9
    assert abs(row["p_value"] - round(p, 6)) < 1e-6
    # the test only sees discordant pairs — cells sum back to n
    assert both_right + b + c + both_wrong == n
    assert b + c > 0  # fixture non-degenerate


def test_cohens_d_matches_python_pooled_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "value"
    ).collect()
    per_user = Counter()
    for r in ev:
        per_user[r["user_id"]] += _q_half_up(r["value"] * 1000000.0)
    arms: dict[int, list[int]] = {0: [], 1: []}
    for uid, yq in per_user.items():
        arms[_h60(f"{AB_SEED}|{uid}") % 2].append(yq)
    n0, n1 = len(arms[0]), len(arms[1])
    s0, s1 = sum(arms[0]), sum(arms[1])
    ss0 = sum(y * y for y in arms[0])
    ss1 = sum(y * y for y in arms[1])
    diff = s1 / n1 - s0 / n0
    sp = math.sqrt(
        ((ss0 - s0 * s0 / n0) + (ss1 - s1 * s1 / n1)) / (n0 + n1 - 2.0)
    )
    d = diff / sp
    g = d * (1.0 - 3.0 / (4.0 * (n0 + n1) - 9.0))
    row = REGISTRY["stats_cohens_d_effect"].fn(spark, SF_DIR).collect()[0]
    assert (row["n0"], row["n1"]) == (n0, n1)
    assert abs(row["diff"] - round(diff / 1e6, 6)) < 1e-6
    assert abs(row["pooled_sd"] - round(sp / 1e6, 6)) < 1e-6
    assert abs(row["cohens_d"] - round(d, 9)) < 1e-9
    assert abs(row["hedges_g"] - round(g, 9)) < 1e-9
    # the small-sample correction always shrinks |d|
    assert abs(row["hedges_g"]) < abs(row["cohens_d"])


def test_gtest_matches_python_and_tracks_chi2(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "lang", "source"
    ).collect()
    n = len(docs)
    cells = Counter((r["lang"], r["source"]) for r in docs)
    rowt = Counter(r["lang"] for r in docs)
    colt = Counter(r["source"] for r in docs)
    acc = 0
    for (lang, src), o in cells.items():
        e = (float(rowt[lang]) * colt[src]) / n
        acc += _q_half_up(float(o) * math.log(float(o) / e) * 1e9)
    gstat = 2.0 * acc / 1e9
    dof = (len(rowt) - 1) * (len(colt) - 1)
    row = REGISTRY["stats_gtest_independence"].fn(spark, SF_DIR).collect()[0]
    assert row["n"] == n and row["dof"] == dof
    assert abs(row["g_stat"] - round(gstat, 6)) < 1e-6
    # G and Pearson chi2 are asymptotically the same statistic: on this
    # fixture they agree to within 15% (they share dof exactly)
    chi2_row = REGISTRY["stats_chi2_lang_source"].fn(spark, SF_DIR).collect()[0]
    assert chi2_row["dof"] == dof
    assert abs(row["g_stat"] - chi2_row["chi2"]) < 0.15 * max(
        row["g_stat"], chi2_row["chi2"]
    )


def test_ridge_matches_numpy_and_shrinks_toward_zero(spark):
    np = __import__("numpy")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_extendedprice"
    ).collect()
    x1 = np.array([_q_half_up(r["l_quantity"] * 100.0) for r in li], dtype=float)
    x2 = np.array([_q_half_up(r["l_discount"] * 10000.0) for r in li], dtype=float)
    y = np.array([_q_half_up(r["l_extendedprice"] * 100.0) for r in li], dtype=float)
    n = float(len(y))
    lam = _RIDGE_LAMBDA_FRAC * n
    xc = np.stack([x1 - x1.mean(), x2 - x2.mean()], axis=1)
    yc = y - y.mean()
    a = xc.T @ xc + lam * np.eye(2)
    beta = np.linalg.solve(a, xc.T @ yc)
    b0 = (y.mean() - beta[0] * x1.mean() - beta[1] * x2.mean()) / 100.0
    row = REGISTRY["ml_ridge_normal_equations"].fn(spark, SF_DIR).collect()[0]
    assert row["n"] == int(n)
    assert abs(row["beta0"] - b0) < 1e-3
    assert abs(row["beta1"] - beta[0]) < 1e-4
    assert abs(row["beta2"] - beta[1] * 100.0) < 1e-2
    # ridge shrinks the slope magnitudes relative to unpenalized OLS
    ols = REGISTRY["regression_multiple_ols"].fn(spark, SF_DIR).collect()[0]
    assert abs(row["beta1"]) < abs(ols["beta1"]) + 1e-9
    assert abs(row["beta2"]) < abs(ols["beta2"]) + 1e-9

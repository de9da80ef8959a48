"""Round-6 part-19 entries (beta-binomial A/B, runs test, dow/hour
heatmap), pinned against plain-Python recomputation at sf0.001."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_stats import AB_SEED

SF_DIR = "/root/testdata/sf0.001"


def _q_half_up(x: float) -> int:
    return int(Decimal(repr(x)).quantize(Decimal("1"), ROUND_HALF_UP))


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _phi(z: float) -> float:
    return 1.0 / (1.0 + math.exp(-1.5976 * z - 0.07056 * z * z * z))


def test_beta_binomial_matches_python_posterior_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_type"
    ).collect()
    conv = defaultdict(int)
    for r in ev:
        if r["event_type"] == "purchase":
            conv[r["user_id"]] = 1
        else:
            conv.setdefault(r["user_id"], 0)
    arms = {0: [0, 0], 1: [0, 0]}  # arm -> [n, conversions]
    for uid, c in conv.items():
        a = _h60(f"{AB_SEED}|{uid}") % 2
        arms[a][0] += 1
        arms[a][1] += c
    post = {}
    for a, (n, cv) in arms.items():
        al, be = 1.0 + cv, 1.0 + n - cv
        pm = al / (al + be)
        ps = math.sqrt(al * be / ((al + be) ** 2 * (al + be + 1.0)))
        post[a] = (n, cv, pm, ps)
    z = (post[1][2] - post[0][2]) / math.sqrt(post[0][3] ** 2 + post[1][3] ** 2)
    p_beats = _phi(z)
    rows = {r["arm"]: r for r in REGISTRY["stats_bayes_beta_binomial"].fn(spark, SF_DIR).collect()}
    for a in (0, 1):
        n, cv, pm, ps = post[a]
        r = rows[a]
        assert (r["n"], r["conv"]) == (n, cv)
        assert abs(r["posterior_mean"] - round(pm, 9)) < 1e-9
        assert abs(r["ci_lo"] - round(max(0.0, pm - 1.959963984540054 * ps), 9)) < 1e-9
        assert abs(r["ci_hi"] - round(min(1.0, pm + 1.959963984540054 * ps), 9)) < 1e-9
        assert abs(r["p_treatment_beats_control"] - round(p_beats, 6)) < 1e-6
        # the credible interval brackets the posterior mean and stays in [0,1]
        assert 0.0 <= r["ci_lo"] <= r["posterior_mean"] <= r["ci_hi"] <= 1.0


def test_runs_test_matches_python_run_count_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    ).collect()
    daily = defaultdict(int)
    for r in li:
        daily[r["l_shipdate"].date()] += _q_half_up(
            r["l_extendedprice"] * (1.0 - r["l_discount"]) * 100.0
        )
    days = sorted(daily)
    ups = [
        1 if daily[b] > daily[a] else 0
        for a, b in zip(days, days[1:])
        if daily[b] != daily[a]
    ]
    runs = 1 + sum(1 for a, b in zip(ups, ups[1:]) if a != b)
    n_up, n_down = sum(ups), len(ups) - sum(ups)
    mu = 1.0 + 2.0 * n_up * n_down / (n_up + n_down)
    sigma = math.sqrt(
        2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
        / (float(n_up + n_down) ** 2 * (n_up + n_down - 1.0))
    )
    z = (runs - mu) / sigma
    row = REGISTRY["stats_runs_test"].fn(spark, SF_DIR).collect()[0]
    assert (row["runs"], row["n_up"], row["n_down"]) == (runs, n_up, n_down)
    assert abs(row["expected_runs"] - round(mu, 6)) < 1e-6
    assert abs(row["z_stat"] - round(z, 9)) < 1e-9
    assert abs(row["p_value"] - round(2.0 * (1.0 - _phi(abs(z))), 6)) < 1e-6
    assert 0.0 <= row["p_value"] <= 1.0


def test_heatmap_matches_python_grid_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("ts").collect()
    cells = Counter((r["ts"].isoweekday(), r["ts"].hour) for r in ev)
    grid = len(cells)
    s = sum(cells.values())
    ss = sum(n * n for n in cells.values())
    mean = s / grid
    sd = math.sqrt(max(ss / grid - mean * mean, 0.0))
    rows = {
        (r["dow"], r["hod"]): r
        for r in REGISTRY["events_dow_hour_heatmap"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == set(cells)
    for k, n in cells.items():
        r = rows[k]
        assert r["n"] == n
        assert abs(r["z_score"] - round((n - mean) / sd, 9)) < 1e-9
    # z-scores over the grid sum to ~0 (they are centered by construction)
    assert abs(sum(r["z_score"] for r in rows.values())) < 1e-3

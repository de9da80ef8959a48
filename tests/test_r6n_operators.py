"""Round-6 part-14 entries (Adamic-Adar, SRM gate, HHI concentration,
best-F1 sweep), pinned against plain-Python recomputation at sf0.001
with the exact HALF_UP / integer-grid conventions the engines use."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_graph import _LP_ANCHOR_CAP, _LP_MIN_COMMON, _LP_MIN_W
from markt_database_analyzer_spark.catalog_stats import AB_SEED

SF_DIR = "/root/testdata/sf0.001"


def _round_half_up(x: float, dp: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))


def _q_half_up(x: float) -> int:
    return int(Decimal(repr(x)).quantize(Decimal("1"), ROUND_HALF_UP))


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _phi(z: float) -> float:
    return 1.0 / (1.0 + math.exp(-1.5976 * z - 0.07056 * z * z * z))


def _copurchase_graph(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order = defaultdict(list)
    for r in li:
        by_order[r["l_orderkey"]].append(r["l_partkey"])
    # lineitem-PAIR counting (the engine's self-join semantics): a part
    # listed twice in one order pairs twice with every other part
    w = Counter()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, x in enumerate(ps):
            for y in ps[i + 1 :]:
                if x < y:
                    w[(x, y)] += 1
    edges = {p for p, c in w.items() if c >= _LP_MIN_W}
    adj = defaultdict(set)
    for x, y in edges:
        adj[x].add(y)
        adj[y].add(x)
    return edges, adj


def test_adamic_adar_matches_python_wedge_replay(spark):
    edges, adj = _copurchase_graph(spark)
    deg = {n: len(v) for n, v in adj.items()}
    cand = defaultdict(lambda: [0, 0])  # (u,v) -> [common, aaq]
    for a, nbrs in adj.items():
        if deg[a] > _LP_ANCHOR_CAP:
            continue
        ns = sorted(nbrs)
        for i, u in enumerate(ns):
            for v in ns[i + 1 :]:
                cand[(u, v)][0] += 1
                cand[(u, v)][1] += _q_half_up(1e9 / math.log(deg[a]))
    scored = [
        (aaq / 1e9, common, u, v)
        for (u, v), (common, aaq) in cand.items()
        if common >= _LP_MIN_COMMON and (u, v) not in edges
    ]
    scored.sort(key=lambda t: (-t[0], -t[1], t[2], t[3]))
    rows = REGISTRY["graph_adamic_adar"].fn(spark, SF_DIR).collect()
    assert len(rows) == min(20, len(scored))
    for r, (aa, common, u, v) in zip(rows, scored):
        assert (r["u"], r["v"]) == (u, v)
        assert r["common_neighbors"] == common
        assert abs(r["adamic_adar"] - round(aa, 9)) < 1e-9
    # AA down-weights hub anchors: every score is below common/ln(2)
    for r in rows:
        assert r["adamic_adar"] <= r["common_neighbors"] / math.log(2) + 1e-9


def test_srm_check_matches_python_split_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id").collect()
    users = {r["user_id"] for r in ev}
    n0 = sum(1 for u in users if _h60(f"{AB_SEED}|{u}") % 2 == 0)
    n1 = len(users) - n0
    e = (n0 + n1) / 2.0
    chi2 = (n0 - e) ** 2 / e + (n1 - e) ** 2 / e
    p = 2.0 * (1.0 - _phi(math.sqrt(chi2)))
    row = REGISTRY["stats_srm_check"].fn(spark, SF_DIR).collect()[0]
    assert (row["n0"], row["n1"]) == (n0, n1)
    assert abs(row["chi2"] - round(chi2, 9)) < 1e-9
    assert abs(row["p_value"] - round(p, 6)) < 1e-6
    # a healthy md5 split must NOT trip the alarm
    assert row["srm_detected"] == 0


def test_hhi_matches_python_share_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_shipdate", "l_suppkey", "l_extendedprice", "l_discount"
    ).collect()
    rev = defaultdict(int)
    for r in li:
        m = r["l_shipdate"].replace(
            day=1, hour=0, minute=0, second=0, microsecond=0
        )
        rev[(m, r["l_suppkey"])] += _q_half_up(
            r["l_extendedprice"] * (1.0 - r["l_discount"]) * 100.0
        )
    months = defaultdict(list)
    for (m, _), v in rev.items():
        months[m].append(v)
    rows = {r["month"]: r for r in REGISTRY["stats_hhi_concentration"].fn(spark, SF_DIR).collect()}
    assert set(rows) == set(months)
    for m, vs in months.items():
        tot = float(sum(vs))
        ssq = float(sum(v * v for v in vs))
        hhi = ssq / (tot * tot)
        r = rows[m]
        assert r["n_suppliers"] == len(vs)
        assert abs(r["hhi"] - round(hhi, 9)) < 1e-9
        assert abs(r["effective_suppliers"] - round(1.0 / hhi, 6)) < 1e-5
        # HHI bounds: 1/n (perfect equality) <= HHI <= 1 (monopoly)
        assert 1.0 / len(vs) - 1e-12 <= r["hhi"] <= 1.0


def test_f1_sweep_matches_python_threshold_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "is"}
    pts = []
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        score = _round_half_up(sum(t in stop for t in toks) / len(toks), 9)
        pts.append((score, 1 if r["lang"] == "en" else 0))
    post = sum(y for _, y in pts)
    best = None
    for t in sorted({s for s, _ in pts}):
        pp = sum(1 for s, _ in pts if s >= t)
        tp = sum(y for s, y in pts if s >= t)
        f1 = 2.0 * tp / (pp + post)
        if best is None or (-f1, t) < (-best[0], best[1]):
            best = (f1, t, pp, tp)
    f1, t, pp, tp = best
    row = REGISTRY["eval_f1_threshold_sweep"].fn(spark, SF_DIR).collect()[0]
    assert row["threshold"] == t
    assert row["pred_pos"] == pp and row["tp"] == tp
    assert abs(row["f1"] - round(f1, 9)) < 1e-9
    assert abs(row["precision_at"] - round(tp / pp, 9)) < 1e-9
    assert abs(row["recall_at"] - round(tp / post, 9)) < 1e-9
    # the selected point's F1 dominates the fixed kappa threshold's F1
    pp08 = sum(1 for s, _ in pts if s >= 0.08)
    tp08 = sum(y for s, y in pts if s >= 0.08)
    assert row["f1"] >= 2.0 * tp08 / (pp08 + post) - 1e-12

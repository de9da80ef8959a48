"""Differential pin for the logrank latent edge, on a
CRAFTED input that actually exercises it (the sf testdata has no churn-
day stratum with zero group-1 subjects, which is why the entry was
green while the latent stood):

- ``events_logrank_test``: a duration stratum whose churners are all
  group-0 must contribute d1 = 0 (not NULL) to the pooled O-E sum.
  Before the fix, ``sum(ev) FILTER (WHERE g1 = 1)`` was NULL in that
  stratum on BOTH engines, the NULL O-E term was dropped by dsum while
  e1 and v still included the stratum, so sum(O-E) != observed_1 -
  expected_1 and chi2 deviated from the Mantel-Cox statistic (the
  engines agreed with each other but both were wrong).

The test runs the Spark plan AND the published DuckDB oracle over the
same crafted parquet, compares them exactly, and pins chi2 against an
independent pure-python Mantel-Cox replay (d1 = 0 semantics).
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest

from markt_database_analyzer_spark.catalog import REGISTRY


def _q(x: float) -> int:
    """One dsum term on the micro grid (matches SQL_DSUM / dsum)."""
    return round(x * 1_000_000.0)


def _python_mantel_cox(users: list[tuple[int, int, int]]) -> dict:
    """users: (t_days, ev, g1) per user. Returns the exact statistic the
    fixed engines must produce (d1 coalesced to 0)."""
    strata: dict[int, list[int]] = {}
    for t, ev, g1 in users:
        s = strata.setdefault(t, [0, 0, 0, 0])  # tot, tot1, dd, d1
        s[0] += 1
        s[1] += g1
        s[2] += ev
        s[3] += ev * g1
    n = n1 = 0
    o1 = 0
    e1_u = omd_u = v_u = 0
    for t in sorted(strata, reverse=True):
        tot, tot1, dd, d1 = strata[t]
        n += tot
        n1 += tot1
        if dd == 0:
            continue
        e = dd * n1 / n
        o1 += d1
        e1_u += _q(e)
        omd_u += _q(d1 - e)
        if n >= 2:
            v_u += _q(dd * (n1 / n) * (1.0 - n1 / n) * (n - dd) / (n - 1.0))
    e1 = e1_u / 1e6
    omd = omd_u / 1e6
    v = v_u / 1e6
    return {
        "observed_1": o1,
        "expected_1": round(e1, 6),
        "logrank_chi2": round(omd * omd / v, 9) if v > 0 else None,
    }


def test_logrank_group0_only_stratum_d1_zero_both_engines(spark, tmp_path):
    day0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def user(uid: int, last_offset_days: int, purchaser: bool):
        nonlocal eid
        rows.append(
            {"event_id": eid, "ts": day0, "user_id": uid,
             "event_type": "purchase" if purchaser else "view",
             "value": 1.0, "props": "{}"}
        )
        eid += 1
        rows.append(
            {"event_id": eid, "ts": day0 + dt.timedelta(days=last_offset_days),
             "user_id": uid, "event_type": "view", "value": 1.0, "props": "{}"}
        )
        eid += 1

    # the edge: stratum t=3 churns ONLY group-0 users (dd=2, d1 must be 0)
    user(1, 3, purchaser=False)
    user(2, 3, purchaser=False)
    # a group-1 churn stratum at t=5 so o1 > 0
    user(3, 5, purchaser=True)
    # censored tails in both groups define max_day = day 10
    user(4, 10, purchaser=True)
    user(5, 10, purchaser=False)

    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet", index=False)
    sf = str(tmp_path)

    got = REGISTRY["events_logrank_test"].fn(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    want = con.execute(REGISTRY["events_logrank_test"].oracle).df()
    con.close()

    cols = sorted(got.columns)
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True),
        want[cols].reset_index(drop=True),
        check_dtype=False,
        check_exact=True,
    )

    expect = _python_mantel_cox(
        [(3, 1, 0), (3, 1, 0), (5, 1, 1), (10, 0, 1), (10, 0, 0)]
    )
    row = got.iloc[0]
    assert int(row["n_users_1"]) == 2 and int(row["n_users_0"]) == 3
    assert int(row["observed_1"]) == expect["observed_1"] == 1
    assert row["expected_1"] == pytest.approx(expect["expected_1"], abs=2e-6)
    assert expect["logrank_chi2"] is not None
    # pre-fix, the dropped t=3 O-E term inflated chi2 well beyond this
    assert row["logrank_chi2"] == pytest.approx(expect["logrank_chi2"], rel=1e-6)

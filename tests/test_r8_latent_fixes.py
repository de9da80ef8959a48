"""Differential pins for four latent edge cases, on
CRAFTED inputs that actually exercise the edges (the sf testdata never
does, which is why these entries were green while the latents stood):

- ``eval_lift_gains_deciles_cuts``: a zero-token document (0/0 stopword
  ratio) must be excluded identically by both engines, not NaN vs raise;
- ``sample_stratified_neyman``: a singleton stratum pins sigma_h = 0 on
  both engines (Spark NULL vs DuckDB inf before the fix);
- ``privacy_l_diversity``: per-class entropy terms quantize to the
  nano-grid before summing, so the class entropy is summation-order
  free on both engines;
- ``ts_holt_forecast`` / ``stats_theilsen_slope`` /
  ``ts_time_weighted_avg``: a null event value leaves the mean's
  denominator (``davg``, COUNT(value) like the oracles' SQL_DAVG), not
  counted as a row;
- the as-of NULL-value carry is pinned in
  tests/test_operators.py::test_asof_join_carries_null_values_like_merge_asof.

Each test writes a tiny parquet dir, runs the catalog entry's Spark
plan AND its published DuckDB oracle over the same files, and compares
values exactly — the same differential the driver's t2 gate applies.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest

from markt_database_analyzer_spark.catalog import REGISTRY


def _run_both(spark, name: str, sf_dir: str, tables: list[str]) -> tuple[pd.DataFrame, pd.DataFrame]:
    got = REGISTRY[name].fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = con.execute(REGISTRY[name].oracle).df()
    con.close()
    return got, want


def _assert_frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert sorted(got.columns) == sorted(want.columns)
    g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


def _write_documents(tmp_path, rows: list[dict]) -> str:
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_lift_gains_cuts_zero_token_doc_excluded_identically(spark, tmp_path):
    rows = []
    for i in range(40):
        lang = "en" if i % 2 == 0 else "de"
        # i+1 filler words + (i % 4) stopwords -> a spread of ratios
        text = " ".join(["wort"] * (i + 1) + ["the"] * (i % 4))
        rows.append({"doc_id": f"d{i:03d}", "lang": lang, "text": text, "n_chars": len(text)})
    # the edge: zero-token documents (empty / whitespace / punct-free split)
    rows.append({"doc_id": "dz1", "lang": "en", "text": "", "n_chars": 0})
    rows.append({"doc_id": "dz2", "lang": "de", "text": "   ", "n_chars": 3})
    sf = _write_documents(tmp_path, rows)
    got, want = _run_both(spark, "eval_lift_gains_deciles_cuts", sf, ["documents"])
    assert int(got["n"].sum()) == 40  # the two zero-token docs are out
    _assert_frames_equal(got, want)


def test_neyman_singleton_stratum_sigma_pinned_zero_both_engines(spark, tmp_path):
    rows = [
        {"doc_id": f"e{i:03d}", "lang": "en", "text": "x", "n_chars": 100 + 7 * i}
        for i in range(30)
    ] + [
        {"doc_id": f"f{i:03d}", "lang": "fr", "text": "y", "n_chars": 50 + 11 * i}
        for i in range(20)
    ]
    # the edge: a one-document stratum (count-1 == 0 in the sigma formula)
    rows.append({"doc_id": "solo", "lang": "xx", "text": "z", "n_chars": 999})
    sf = _write_documents(tmp_path, rows)
    got, want = _run_both(spark, "sample_stratified_neyman", sf, ["documents"])
    _assert_frames_equal(got, want)
    # the singleton stratum contributes sigma 0 -> allocation 0 -> absent
    assert "solo" not in set(got["doc_id"])
    assert set(got["lang"]) <= {"en", "fr"}


def test_l_diversity_entropy_nano_grid_exact_across_engines(spark, tmp_path):
    rows = []
    # class (0, band 0): segments 7/3/1 of 11 -> irrational entropy terms
    rows += [{"c_custkey": i, "c_nationkey": 0, "c_acctbal": 10.0 + i, "c_mktsegment": "A"} for i in range(7)]
    rows += [{"c_custkey": 100 + i, "c_nationkey": 0, "c_acctbal": 20.0 + i, "c_mktsegment": "B"} for i in range(3)]
    rows += [{"c_custkey": 200, "c_nationkey": 0, "c_acctbal": 30.0, "c_mktsegment": "C"}]
    # class (1, band 0): a 99%-skew-style class, 13/1
    rows += [{"c_custkey": 300 + i, "c_nationkey": 1, "c_acctbal": 40.0 + i, "c_mktsegment": "A"} for i in range(13)]
    rows += [{"c_custkey": 400, "c_nationkey": 1, "c_acctbal": 41.0, "c_mktsegment": "B"}]
    # class (2, band 0): single-segment leak (distinct_l = 1, entropy 0)
    rows += [{"c_custkey": 500 + i, "c_nationkey": 2, "c_acctbal": 5.0 + i, "c_mktsegment": "A"} for i in range(5)]
    pd.DataFrame(rows).to_parquet(tmp_path / "customer.parquet", index=False)
    got, want = _run_both(spark, "privacy_l_diversity", str(tmp_path), ["customer"])
    _assert_frames_equal(got, want)
    row = got.iloc[0]
    assert row["min_distinct_l"] == 1
    assert row["min_entropy_l"] == pytest.approx(1.0)  # exp(0) for the leak class


def test_kendalls_w_single_item_panel_null_both_engines(spark, tmp_path):
    pd.DataFrame(
        [{"p_partkey": 1, "p_retailprice": 10.0, "p_size": 5, "p_name": "one"}]
    ).to_parquet(tmp_path / "part.parquet", index=False)
    got, want = _run_both(spark, "eval_kendalls_w", str(tmp_path), ["part"])
    _assert_frames_equal(got, want)
    assert got["kendalls_w"].isna().all()  # n^3 - n = 0: undefined, not inf


def test_qwk_constant_raters_null_both_engines(spark, tmp_path):
    # every doc gets grade (0, 0): expected weighted disagreement is 0
    rows = [
        {"doc_id": f"d{i}", "lang": "de", "n_chars": 10, "text": "wort wort"}
        for i in range(6)
    ]
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet", index=False)
    got, want = _run_both(spark, "eval_cohens_kappa_weighted", str(tmp_path), ["documents"])
    _assert_frames_equal(got, want)
    assert got["qwk"].isna().all()


def test_mood_median_degenerate_single_value_null_both_engines(spark, tmp_path):
    # all order values identical: everything <= median, ta = 0
    rows = [
        {"o_orderkey": i, "o_orderpriority": f"{1 + i % 2}-X", "o_totalprice": 100.0}
        for i in range(8)
    ]
    pd.DataFrame(rows).to_parquet(tmp_path / "orders.parquet", index=False)
    got, want = _run_both(spark, "stats_mood_median_test", str(tmp_path), ["orders"])
    _assert_frames_equal(got, want)
    assert got["chi2"].isna().all()


@pytest.mark.parametrize(
    "name", ["ts_holt_forecast", "stats_theilsen_slope", "ts_time_weighted_avg"]
)
def test_mean_skips_null_values_like_oracle(spark, tmp_path, name):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    extra = events.slice(0, 1).to_pylist()[0]
    extra["event_id"] = pc.max(events["event_id"]).as_py() + 1
    extra["value"] = None
    # its own timestamp (same user, same day): no ordering tie with the
    # row it copies
    extra["ts"] += dt.timedelta(seconds=1)
    extra_t = pa.Table.from_pylist([extra], schema=events.schema)
    pq.write_table(pa.concat_tables([events, extra_t]), tmp_path / "events.parquet")
    got, want = _run_both(spark, name, str(tmp_path), ["events"])
    _assert_frames_equal(got, want)

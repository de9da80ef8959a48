"""Unit tests for operators/equidepth.py (exact order statistics and
percentile-cut bucketing) and the round-4 scale-path entries built on it,
pinned against plain-Python reimplementations."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from markt_database_analyzer_spark.datapipe import similarity as sim
from markt_database_analyzer_spark.operators.equidepth import (
    bucket_by_cuts,
    equi_depth_cut_points,
    grouped_value_counts_cum,
    value_counts_cum,
    values_at_ranks,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def vals(spark):
    # deterministic multiset with heavy ties and an uneven tail
    data = [1.0] * 7 + [2.5] * 3 + [4.0] * 5 + [7.25] * 1 + [9.0] * 4
    return data, spark.createDataFrame([(v,) for v in data], "x double")


def test_value_counts_cum_matches_sorted_prefix(spark, vals):
    data, df = vals
    cum, n = value_counts_cum(df, F.col("x"))
    assert n == len(data)
    got = {r["v"]: (r["cnt"], r["cum"]) for r in cum.collect()}
    expect = {}
    run = 0
    for v in sorted(set(data)):
        c = data.count(v)
        run += c
        expect[v] = (c, run)
    assert got == expect


def test_values_at_ranks_are_exact_order_statistics(spark, vals):
    data, df = vals
    cum, n = value_counts_cum(df, F.col("x"))
    s = sorted(data)
    ranks = [1, 2, 7, 8, 10, 11, n]
    assert values_at_ranks(cum, ranks) == [s[k - 1] for k in ranks]


def test_cut_points_and_buckets_match_python(spark, vals):
    data, df = vals
    b = 4
    cuts = equi_depth_cut_points(df, F.col("x"), b)
    s = sorted(data)
    n = len(data)
    expect_cuts = [s[(i * n + b - 1) // b - 1] for i in range(1, b)]
    assert cuts == expect_cuts
    got = df.select("x", bucket_by_cuts(F.col("x"), cuts).alias("bkt")).collect()
    for r in got:
        assert r["bkt"] == 1 + sum(1 for c in cuts if r["x"] > c)
    # ties-to-lower: every row equal to a cut sits in the bucket the cut closes
    by_bucket = {}
    for r in got:
        by_bucket.setdefault(r["bkt"], []).append(r["x"])
    assert max(by_bucket) <= b and min(by_bucket) >= 1


def test_all_equal_values_collapse_to_bucket_one(spark):
    df = spark.createDataFrame([(3.5,)] * 9, "x double")
    cuts = equi_depth_cut_points(df, F.col("x"), 5)
    assert cuts == [3.5] * 4
    got = df.select(bucket_by_cuts(F.col("x"), cuts).alias("b")).distinct().collect()
    assert [r["b"] for r in got] == [1]


def test_equi_depth_counts_near_equal_on_events(spark):
    from markt_database_analyzer_spark.catalog import REGISTRY

    out = REGISTRY["histogram_equi_depth_cuts"].fn(spark, SF_DIR).collect()
    n = sum(r["n"] for r in out)
    # continuous values -> no tie mass -> counts within 1 of n/10
    assert all(abs(r["n"] - n / 10) <= 1 for r in out)
    # buckets tile the value range in order
    for lo_r, hi_r in zip(out, out[1:]):
        assert lo_r["hi"] <= hi_r["lo"]


def test_no_unpartitioned_window_in_cut_entry_plans(spark):
    """The point of the family: no single-task total order anywhere.
    The cut derivation runs eagerly (model-sized collects); the final
    plans must contain no un-partitioned Window at all."""
    from markt_database_analyzer_spark.catalog import REGISTRY

    for name in (
        "histogram_equi_depth_cuts",
        "segment_rfm_customers_cuts",
        "eval_lift_gains_deciles_cuts",
    ):
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, (name, plan)


def test_lift_gains_cuts_invariants(spark):
    """The cuts-path lift table must satisfy the gains-curve identities
    the ntile sibling pins: deciles tile 1..10 (up to tie collapse),
    counts sum to the corpus, cum_gain is monotone and ends at 1, and
    the overall lift (weighted by n) is 1 by construction."""
    from markt_database_analyzer_spark.catalog import REGISTRY

    rows = REGISTRY["eval_lift_gains_deciles_cuts"].fn(spark, SF_DIR).collect()
    deciles = [r["decile"] for r in rows]
    assert deciles == sorted(deciles) and all(1 <= d <= 10 for d in deciles)
    n_total = sum(r["n"] for r in rows)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert n_total == docs
    gains = [r["cum_gain"] for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(gains, gains[1:]))
    assert abs(gains[-1] - 1.0) < 1e-9
    assert abs(rows[-1]["cum_lift"] - 1.0) < 1e-9
    pos_total = sum(r["pos"] for r in rows)
    base = pos_total / n_total
    for r in rows:
        assert abs(r["lift"] - round((r["pos"] / r["n"]) / base, 9)) < 1e-9


def test_srp_sizing_is_log_scaled():
    assert sim.srp_sizing(2)[0] == 8
    assert sim.srp_sizing(500) == (9, 16)
    assert sim.srp_sizing(2000) == (11, 16)
    assert sim.srp_sizing(20000) == (15, 16)
    for n in (10, 1000, 10**6, 10**9):
        r, b = sim.srp_sizing(n)
        assert 2.0 ** (-r) <= 1.0 / n or r == 8
        assert r == max(8, math.ceil(math.log2(n)))


@pytest.mark.parametrize("bits,bands", [(16, 4), (144, 16)])
def test_srp_arrow_codes_match_expression_codes(spark, bits, bands):
    """The Arrow projector (used by BOTH srp pair paths since r4) must
    produce bit-identical band codes to the literal per-bit expression
    fold at the same geometry — it claims array-order accumulation."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    mat = sim.srp_matrix(64, bits)
    vecd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    want = sorted(
        (r["vid"], r["band_id"], r["band_code"])
        for r in emb.select(
            F.col("vec_id").alias("vid"),
            F.posexplode(F.array(*sim.srp_band_codes(vecd, mat, bands))).alias(
                "band_id", "band_code"
            ),
        ).collect()
    )
    got = sorted(
        (r["vid"], r["band_id"], r["band_code"])
        for r in sim.srp_codes_arrow(emb, "vec_id", "embedding", 64, bits, bands).collect()
    )
    assert got == want


def test_fuzzy_sorted_neighborhood_subset_of_uncapped(spark):
    """W-capped pairs are exactly the uncapped pairs whose block ranks
    are within W — at sf0.001 every block is tiny, so output equals the
    uncapped form entirely."""
    from markt_database_analyzer_spark.catalog import REGISTRY

    capped = REGISTRY["join_fuzzy_blocked"].fn(spark, SF_DIR).collect()
    p = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .select(
            "p_partkey",
            "p_name",
            "p_size",
            F.split(F.col("p_name"), " ").getItem(1).alias("blk"),
        )
    )
    a, bdf = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    uncapped = (
        a.join(
            bdf,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.p_size") == F.col("b.p_size"),
                F.col("a.p_partkey") < F.col("b.p_partkey"),
            ],
        )
        .filter(dist.between(1, 3))
        .select(
            F.col("a.p_partkey").alias("a_key"),
            F.col("b.p_partkey").alias("b_key"),
        )
        .collect()
    )
    assert sorted((r["a_key"], r["b_key"]) for r in capped) == sorted(
        (r["a_key"], r["b_key"]) for r in uncapped
    )


def test_grouped_cum_matches_python(spark):
    from markt_database_analyzer_spark.operators.equidepth import (
        grouped_value_counts_cum,
        grouped_values_at_ranks,
    )

    data = [("a", 1.0), ("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 2.0),
            ("b", 2.0), ("b", 5.0), ("c", 9.0)]
    df = spark.createDataFrame(data, "g0 string, x double")
    cum, n_g = grouped_value_counts_cum(df, F.col("g0"), F.col("x"))
    assert n_g == {"a": 3, "b": 4, "c": 1}
    got = {(r["g"], r["v"]): r["cum"] for r in cum.collect()}
    assert got == {("a", 1.0): 2, ("a", 3.0): 3, ("b", 2.0): 3, ("b", 5.0): 4,
                   ("c", 9.0): 1}
    oss = grouped_values_at_ranks(cum, {"a": [1, 3], "b": [2, 4], "c": [1]})
    assert oss == {"a": [1.0, 3.0], "b": [2.0, 5.0], "c": [9.0]}


def test_winsorized_cuts_matches_window_form(spark):
    """The grouped-order-statistic path must reproduce the row_number
    window form's values exactly (same rank-selection contract)."""
    from markt_database_analyzer_spark.catalog import REGISTRY

    a = REGISTRY["stats_winsorized_mean"].fn(spark, SF_DIR).collect()
    b = REGISTRY["stats_winsorized_mean_cuts"].fn(spark, SF_DIR).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=15, deadline=None)
@given(
    data=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=16),
        min_size=2,
        max_size=60,
    ),
    b=st.integers(min_value=2, max_value=8),
)
def test_cut_points_property(spark, data, b):
    """For ANY multiset (ties, negatives, floats) and bucket count:
    boundary i is exactly the ceil(i*n/b)-th order statistic, every
    bucket id is in range, and the assignment is 1 + #cuts strictly
    below the value."""
    df = spark.createDataFrame([(float(v),) for v in data], "x double")
    cuts = equi_depth_cut_points(df, F.col("x"), b)
    s = sorted(float(v) for v in data)
    n = len(s)
    assert cuts == [s[(i * n + b - 1) // b - 1] for i in range(1, b)]
    got = df.select("x", bucket_by_cuts(F.col("x"), cuts).alias("bkt")).collect()
    for r in got:
        assert r["bkt"] == 1 + sum(1 for c in cuts if r["x"] > c)
        assert 1 <= r["bkt"] <= b


def test_equal_token_shards_balance(spark):
    """Weighted cuts: every shard's token total is within one max-doc
    weight of the ideal W/K, shards tile doc_id space in order, and
    totals reconcile."""
    from markt_database_analyzer_spark.catalog import REGISTRY

    out = REGISTRY["pack_equal_token_shards"].fn(spark, SF_DIR).collect()
    w = sum(r["total_tokens"] for r in out)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    import markt_database_analyzer_spark.datapipe.text as tx2

    per_doc = docs.select(F.size(tx2.tokens("text")).alias("n")).collect()
    assert w == sum(r["n"] for r in per_doc)
    max_doc = max(r["n"] for r in per_doc)
    k = len(out)
    for r in out:
        assert r["total_tokens"] <= w / k + max_doc
    for a, b in zip(out, out[1:]):
        assert a["last_doc"] < b["first_doc"]


# --------------------------------------------------------------------------
# Round-6 pins: NULL contract, degenerate inputs, high-cardinality offsets
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def null_vals(spark):
    """Multiset with NULL values AND a NULL group — the NULL-contract
    fixture."""
    data = [
        ("a", 1.0), ("a", None), ("a", 3.0), ("a", 3.0),
        ("b", 2.0), ("b", None), ("b", 5.0),
        (None, 4.0), (None, None),
    ]
    return data, spark.createDataFrame(data, "g0 string, x double")


def test_value_counts_cum_excludes_nulls(spark, null_vals):
    data, df = null_vals
    cum, n = value_counts_cum(df, F.col("x"))
    non_null = sorted(v for _, v in data if v is not None)
    assert n == len(non_null)
    got = {r["v"]: (r["cnt"], r["cum"]) for r in cum.collect()}
    assert None not in got
    run = 0
    for v in sorted(set(non_null)):
        c = non_null.count(v)
        run += c
        assert got[v] == (c, run)


def test_grouped_cum_excludes_null_groups_and_values(spark, null_vals):
    data, df = null_vals
    cum, n_g = grouped_value_counts_cum(df, F.col("g0"), F.col("x"))
    assert n_g == {"a": 3, "b": 2}  # NULL group and NULL values gone
    got = {(r["g"], r["v"]): r["cum"] for r in cum.collect()}
    assert got == {("a", 1.0): 1, ("a", 3.0): 3, ("b", 2.0): 1, ("b", 5.0): 2}
    assert all(g is not None and v is not None for g, v in got)


def test_sql_cuts_ctes_bitwise_matches_spark_on_nulls(spark, null_vals, tmp_path):
    """The DuckDB CTE replay must produce the SAME cut values as the
    Spark derivation on a null-bearing frame — the bit-for-bit pin for
    the r5 `WHERE ... IS NOT NULL` contract."""
    import duckdb

    from markt_database_analyzer_spark.operators.equidepth import sql_cuts_ctes

    data, df = null_vals
    pq = str(tmp_path / "t.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM '{pq}/*.parquet'")
    for b in (2, 3, 4):
        spark_cuts = equi_depth_cut_points(df, F.col("x"), b)
        duck_cuts = [
            r[0]
            for r in con.execute(
                f"WITH {sql_cuts_ctes('t', 'x', b)} SELECT c FROM cuts ORDER BY b"
            ).fetchall()
        ]
        assert duck_cuts == spark_cuts, (b, duck_cuts, spark_cuts)


def test_degenerate_all_null_matches_coalesced_oracle(spark, tmp_path):
    """Empty-cuts degenerate case: on an all-NULL value
    column the cuts CTE emits zero rows; with the callers' contractual
    coalesce(list(...), []) both engines assign bucket 1 to every row."""
    import duckdb

    from markt_database_analyzer_spark.operators.equidepth import sql_cuts_ctes

    df = spark.createDataFrame([(i, None) for i in range(5)], "id long, x double")
    cuts = equi_depth_cut_points(df, F.col("x"), 4)
    assert cuts == [None, None, None]  # no non-null mass anywhere
    got = df.select("id", bucket_by_cuts(F.col("x"), cuts).alias("bucket")).collect()
    assert sorted((r["id"], r["bucket"]) for r in got) == [(i, 1) for i in range(5)]

    pq = str(tmp_path / "deg.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM '{pq}/*.parquet'")
    duck = con.execute(
        f"""WITH {sql_cuts_ctes('t', 'x', 4)},
cl AS (SELECT coalesce(list(c ORDER BY b), []) AS cs FROM cuts)
SELECT id, 1 + len(list_filter(cl.cs, y -> x > y)) AS bucket
FROM t, cl ORDER BY id"""
    ).fetchall()
    assert duck == [(i, 1) for i in range(5)]


def test_grouped_cum_broadcast_gear_matches_literal_gear(spark):
    """The two offset gears (create_map literal vs broadcast-joined
    frame) must produce identical (g, v, cnt, cum) values."""
    data = [(f"g{i % 37}", float(i % 11)) for i in range(1000)]
    df = spark.createDataFrame(data, "g0 string, x double")
    lit_cum, lit_ng = grouped_value_counts_cum(
        df, F.col("g0"), F.col("x"), broadcast_offsets_above=10**9
    )
    bc_cum, bc_ng = grouped_value_counts_cum(
        df, F.col("g0"), F.col("x"), broadcast_offsets_above=0
    )
    assert lit_ng == bc_ng
    key = lambda r: (r["g"], r["v"])
    assert sorted(map(tuple, lit_cum.collect())) == sorted(map(tuple, bc_cum.collect()))


def test_grouped_cum_high_cardinality_plan_stays_bounded(spark):
    """50k distinct groups: offsets must ride a broadcast frame, not a
    create_map plan literal — the serialized plan would otherwise grow
    linearly in #groups and re-ship with every task.
    Values spot-checked against plain Python."""
    n_groups = 50_000
    rows = [(f"k{i:05d}", float(j)) for i in range(n_groups) for j in (1.0, 2.0)]
    df = spark.createDataFrame(rows, "g0 string, x double").repartition(32)
    cum, n_g = grouped_value_counts_cum(df, F.col("g0"), F.col("x"))
    assert len(n_g) == n_groups and all(v == 2 for v in n_g.values())
    plan = cum._jdf.queryExecution().executedPlan().toString()
    # the literal gear would inline 100k map entries (> 1 MB of plan);
    # the broadcast gear keeps the plan O(1) in #groups
    assert len(plan) < 200_000, len(plan)
    assert "map_from" not in plan and "create_map" not in plan.lower()
    sample = {
        (r["g"], r["v"]): (r["cnt"], r["cum"])
        for r in cum.where(F.col("g").isin("k00000", "k25000", "k49999")).collect()
    }
    for g in ("k00000", "k25000", "k49999"):
        assert sample[(g, 1.0)] == (1, 1) and sample[(g, 2.0)] == (1, 2)


def test_fuzzy_rank_gears_agree(spark):
    """The window gear (fixture scale) and the prefix-sum gear (scale
    path, forced via threshold 0) must emit the identical candidate
    set."""
    from markt_database_analyzer_spark.catalog import REGISTRY  # noqa: F401 — break circular import
    from markt_database_analyzer_spark.catalog import fuzzy_block_candidates

    p = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey",
        "p_name",
        "p_size",
        F.split(F.col("p_name"), " ").getItem(1).alias("blk"),
    )
    win = fuzzy_block_candidates(p, prefix_sum_ranks_above=10**9).collect()
    psum = fuzzy_block_candidates(p, prefix_sum_ranks_above=0).collect()
    assert sorted(map(tuple, win)) == sorted(map(tuple, psum))
    assert len(win) > 0

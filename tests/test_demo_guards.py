"""The six oracle-parity demo forms (global-total-order plans kept for
standard-SQL replay: the un-partitioned ntile family + the fixed-band
SRP LSH) must REFUSE oversized inputs with a pointer to their scale
twin instead of silently building a single-partition sort — the
``sources/plots.py`` MAX_PLOT_ROWS pattern applied at the input.
Below the cap they are no-ops: same plan, same
oracle hashes.
"""

from __future__ import annotations

import pytest

from markt_database_analyzer_spark.catalog import (
    DEMO_FORM_MAX_ROWS,
    REGISTRY,
    demo_guard,
)

GUARDED = {
    "histogram_equi_depth": "histogram_equi_depth_cuts",
    "stats_winsorized_mean": "stats_winsorized_mean_cuts",
    "eval_calibration_bins": "eval_calibration_bins_cuts",
    "eval_lift_gains_deciles": "eval_lift_gains_deciles_cuts",
    "segment_rfm_customers": "segment_rfm_customers_cuts",
    "similarity_srp_lsh_pairs": "similarity_srp_lsh_sized",
}


def test_demo_guard_noop_below_cap(spark):
    df = spark.range(10)
    out = demo_guard(df, "some_entry", "some_twin", cap=10)
    assert out is df  # returned unchanged, plan untouched


def test_demo_guard_refuses_above_cap_and_names_twin(spark):
    # the probe is limit(cap+1).count() so the exact input size is
    # never computed (guard cost bounded by the cap) —
    # the message names the cap and the twin, not the input size
    df = spark.range(11)
    with pytest.raises(ValueError, match=r"some_entry.*over 10.*some_twin"):
        demo_guard(df, "some_entry", "some_twin", cap=10)


def test_default_cap_clears_bench_scale():
    # largest guarded input at sf0.1 is orders (150k rows); the default
    # cap must keep every test/bench/driver run un-guarded
    assert DEMO_FORM_MAX_ROWS >= 1_000_000


def test_every_guarded_entry_and_twin_registered():
    for demo, twin in GUARDED.items():
        assert demo in REGISTRY, demo
        assert twin in REGISTRY, twin


@pytest.mark.parametrize("demo,twin", sorted(GUARDED.items()))
def test_guarded_entries_still_run_at_small_sf(spark, demo, twin):
    # the guard must be a no-op at small SF: entry executes and returns
    # rows (the value-level oracle compare is the driver's /
    # check_oracle.py's job; this pins "guard added, nothing broke")
    from tests.conftest import SF_DIR

    df = REGISTRY[demo].fn(spark, SF_DIR)
    assert df.count() > 0

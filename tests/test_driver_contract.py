"""The driver contract is exercised with a session the ENGINE DID NOT
BUILD (the grading harness constructs its own SparkSession). This runs in
a subprocess so the session is genuinely config-free — a regression guard
for ensure_engine_conf (a vanilla Spark 4 session cannot read the
TIMESTAMP(NANOS) events table and may carry a non-UTC timezone)."""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("vanilla-driver-sim")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.sql.session.timeZone", "America/New_York")  # hostile TZ
    .getOrCreate()
)
import __spark_entry__ as e

assert e.entry(spark).count() > 0, "entry() empty"
qs = e.queries()
# events (nanos timestamps + TZ-sensitive windows), documents, streaming
for name in ["b1_events_per_slot", "sessionize_events", "text_langid",
             "streaming_tumbling_counts", "asof_join_last_event",
             "stats_grubbs_test"]:  # r7 day-grain date_trunc under hostile TZ
    n = qs[name](spark, "/root/testdata/sf0.001").count()
    assert n > 0, f"{name} returned 0 rows"
print("DRIVER-CONTRACT-OK")
"""


def test_entry_points_work_on_foreign_session():
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=".",
    )
    assert "DRIVER-CONTRACT-OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_driver_ordering_covers_registry_exactly():
    """The driver-run ordering must be a permutation of the registry
    (the driver checks a prefix of queries(), so ordering IS coverage),
    the pinned tail must exist, and oracles stay aligned with queries."""
    import __spark_entry__ as e
    from markt_database_analyzer_spark.catalog import REGISTRY

    names = list(e.queries().keys())
    assert sorted(names) == sorted(REGISTRY.keys())
    assert len(names) == len(set(names))
    for n in e._DRIVER_TAIL:
        assert n in REGISTRY, f"ordering names unknown entry {n!r}"
    assert names[-len(e._DRIVER_TAIL) :] == e._DRIVER_TAIL
    oracles = e.oracle_sql()
    assert set(oracles) <= set(names)
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


def test_driver_window_covers_every_unverdicted_entry():
    """The ≤1-window verification-debt invariant: every entry that has
    never received a driver verdict — not a key in ANY
    CORRECTNESS_r*.json — must sit inside the checked 50-prefix of
    queries(), and there must be at most 50 of them. The self-sliding
    head guarantees placement by construction; this pins both that and
    the debt bound, so adding >50 entries in one round is a red test,
    not a silent rotation overflow."""
    import __spark_entry__ as e

    names = list(e.queries().keys())
    verdicted = set(e._verdict_state())
    unverdicted = [n for n in names if n not in verdicted]
    assert len(unverdicted) <= 50, (
        f"verification debt {len(unverdicted)} exceeds one 50-entry "
        f"driver window: {unverdicted[:10]} ..."
    )
    window = set(names[:50])
    missing = sorted(set(unverdicted) - window)
    assert not missing, (
        f"{len(missing)} never-verdicted entries sit outside the "
        f"50-entry driver window: {missing[:10]} ..."
    )


def test_driver_rotation_self_slides():
    """Round 8's failure mode, pinned: with ZERO edits to any pinned
    list, the window must still move once a round's verdicts land. The
    ordering is pure in the verdict record, so simulate: whatever the
    current window is, after those 50 entries gain a fresh green verdict
    the next window must lead with different (staler or unverdicted)
    entries, and red entries must outrank stale greens."""
    import __spark_entry__ as e
    from markt_database_analyzer_spark.catalog import REGISTRY

    state = e._verdict_state()
    this_window = e._ordered_names(state)[:50]
    nxt = dict(state)
    for n in this_window:
        nxt[n] = (99, True)  # the driver verdicted them this round
    next_window = e._ordered_names(nxt)[:50]
    assert not set(this_window) & set(next_window), (
        "window did not slide after its entries were verdicted"
    )
    # a red verdict re-enters the window immediately, ahead of greens
    some = next_window[0]
    red = dict(nxt)
    red[this_window[0]] = (99, False)
    reordered = e._ordered_names(red)
    assert reordered.index(this_window[0]) < reordered.index(some)
    # and a brand-new (never-verdicted) entry outranks even reds
    fresh = [n for n in REGISTRY if n not in red]
    if fresh:  # only when entries were added after the simulated round
        assert reordered.index(fresh[0]) < reordered.index(this_window[0])


def test_readme_catalog_count_matches_registry():
    """The README's headline entry count once went stale while the
    registry grew (292→304 in the README against 318 registered).
    Derive-and-compare so a stale count is a red test."""
    import os
    import re

    from markt_database_analyzer_spark.catalog import REGISTRY

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "README.md")).read()
    m = re.search(r"catalog stands at (\d+) entries, ALL (\d+) value-oracled", text)
    assert m, "README catalog-count sentence not found"
    assert int(m.group(1)) == int(m.group(2)) == len(REGISTRY), (
        f"README says {m.group(1)}/{m.group(2)}, registry has {len(REGISTRY)}"
    )

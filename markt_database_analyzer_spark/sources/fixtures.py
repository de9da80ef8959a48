"""Deterministic reference-shaped fixtures (FIXTURES.md §1).

Builds small `monitor_records` / `profiles` tables with every edge case the
reference's defensive cleaning exercises: malformed timestamps/numerics
(coerce→null, analyse.py:175-185), empty/whitespace strings
(analyse.py:28,390-391), duplicate (ad_unique_id, push_counter) profile rows
(analyse.py:194,237,408), single-snapshot pushes, same-age snapshot groups
(nunique guard, analyse.py:259), and view counters that occasionally decrease
(clip-at-0, analyse.py:74,270,471).

Pure-Python generation with a seeded RNG — no pandas dependency here — so the
same rows feed both the Spark engine under test and a pandas re-execution of
the reference semantics in the parity pin-tests.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession

from .readers import MONITOR_RECORDS_SCHEMA, PROFILES_SCHEMA, frame_from_rows

CITIES = [
    "Berlin",
    "Hamburg",
    " München ",  # padded: exercises trim (analyse.py:390)
    "Köln",
    "Frankfurt",
    "Stuttgart",
    "Leipzig",
    "Dresden",
    "Bremen",
    "Hannover",
    "Kiel",  # small-count city: dropped by the ≥10 threshold
    "Rostock",  # small-count city
]

URL_PATTERNS = [
    "https://x.test/SexBilder-SexVideos/{}",  # mixed case → case=False path
    "https://x.test/sexbilder-sexvideos/{}",
    "https://x.test/SEXCHAT/{}",
    "https://x.test/sexchat/{}",
    "https://x.test/misc/{}",  # "other" → dropped at analyse.py:58
]


def generate_rows(n_ads: int = 120, seed: int = 7) -> tuple[list[tuple], list[tuple]]:
    """Return (monitor_rows, profile_rows) matching the declared schemas."""
    rng = random.Random(seed)
    monitor: list[tuple] = []
    profiles: list[tuple] = []
    rec_id = 0

    for ad_i in range(n_ads):
        ad_id = f"ad_{ad_i:04d}"
        for push in range(1, rng.randint(1, 3) + 1):
            # --- profile row(s): occasionally duplicated (re-scrape) ---
            age: str | None
            roll = rng.random()
            if roll < 0.06:
                age = ""
            elif roll < 0.10:
                age = "n/a"
            elif roll < 0.13:
                age = None
            elif roll < 0.16:
                age = "17"  # out of range → dropped by age-group rule
            else:
                age = str(rng.randint(18, 45))
            url = URL_PATTERNS[rng.randrange(len(URL_PATTERNS))].format(ad_id)
            if rng.random() < 0.05:
                url = None
            hour = rng.randrange(24)
            minute = rng.choice([0, 9, 10, 59, rng.randrange(60)])
            day = 1 + (ad_i % 27)
            posting_time = f"2024-03-{day:02d} {hour:02d}:{minute:02d}:00"
            if rng.random() < 0.03:
                posting_time = "not-a-time"
            city = CITIES[rng.randrange(len(CITIES))] if rng.random() > 0.04 else ""
            prof = (ad_id, push, age, url, posting_time, city)
            profiles.append(prof)
            if rng.random() < 0.15:  # duplicate scrape of the same push
                profiles.append(prof)

            # --- monitor snapshots ---
            shape = rng.random()
            if shape < 0.06:
                n_snaps = 1  # single snapshot: dropped by ≥2-rows guard
            else:
                n_snaps = rng.randint(4, 14)
            base_views = rng.randint(0, 50)
            age_min = 0.0
            if shape > 0.93:
                age_min = 60.0  # first snapshot after 40 min → dropped by C
            same_age = 0.90 < shape <= 0.93  # all snapshots at one age
            views = base_views
            for s in range(n_snaps):
                if s > 0 and not same_age:
                    age_min += rng.uniform(4, 110)
                views += rng.randint(-2, 40)  # occasional decrease
                track = f"2024-03-{day:02d} {hour:02d}:{minute:02d}:{s % 60:02d}"
                age_str: str = f"{age_min:.1f}"
                views_str: str = str(max(views, 0))
                if rng.random() < 0.01:
                    age_str = "??"  # non-numeric → coerce-null-drop
                if rng.random() < 0.01:
                    views_str = ""
                monitor.append((rec_id, ad_id, push, track, age_str, views_str))
                rec_id += 1
    return monitor, profiles


def fixture_frames(spark: SparkSession, n_ads: int = 120, seed: int = 7) -> tuple[DataFrame, DataFrame]:
    """The fixture rows as frames, through the Arrow column batches
    ``read_sqlite`` builds (one batch per table)."""
    monitor, profiles = generate_rows(n_ads=n_ads, seed=seed)
    return (
        frame_from_rows(spark, [monitor], MONITOR_RECORDS_SCHEMA),
        frame_from_rows(spark, [profiles], PROFILES_SCHEMA),
    )


def write_sqlite_fixture(db_path: str, n_ads: int = 120, seed: int = 7) -> None:
    """Materialize the fixture rows as a real ``monitoring.db`` — the
    reference's native at-rest format (analyse.py:8: one SQLite file with
    ``monitor_records`` and ``profiles``). Column affinities mirror the
    reference DB: TEXT for the dirty columns, INTEGER for ids/counters."""
    import sqlite3

    monitor, profiles = generate_rows(n_ads=n_ads, seed=seed)
    con = sqlite3.connect(db_path)
    try:
        con.execute(
            "CREATE TABLE monitor_records (id INTEGER, ad_unique_id TEXT, "
            "push_counter INTEGER, track_time TEXT, ad_age_in_minutes TEXT, views TEXT)"
        )
        con.execute(
            "CREATE TABLE profiles (ad_unique_id TEXT, push_counter INTEGER, "
            "age TEXT, profile_url TEXT, posting_time TEXT, city TEXT)"
        )
        con.executemany("INSERT INTO monitor_records VALUES (?,?,?,?,?,?)", monitor)
        con.executemany("INSERT INTO profiles VALUES (?,?,?,?,?,?)", profiles)
        con.commit()
    finally:
        con.close()

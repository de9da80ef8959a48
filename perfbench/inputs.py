"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and is written
once under ``.perfbench/inputs/`` at the checkout root (git-ignored), so
runs of the same seed reuse it and generation never lands in a timed
section. A directory is published by an atomic rename, so an interrupted
generation never leaves a half-written input behind.

- ``monitoring.db``: the paper's SQLite file, written by the package's own
  fixture generator (``sources.fixtures.write_sqlite_fixture``).
- ``documents.parquet``: a text corpus with near-duplicates
  (``<text of another doc> dup``) and exact duplicates, the shape of the
  engine's sf testdata ``documents`` table.
- ``events.parquet/``: an event log (the testdata ``events`` shape) split
  into a seeded number of parquet files, the layout a streaming file
  source consumes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _publish(final: str, build) -> str:
    """Build into a temp sibling and rename into place (atomic on POSIX)."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def monitoring_db(root: str, seed: int, n_ads: int) -> str:
    """Directory holding ``monitoring.db`` with ``n_ads`` seeded ads."""
    from markt_database_analyzer_spark.sources.fixtures import write_sqlite_fixture

    return _publish(
        os.path.join(root, f"ads-s{seed}-n{n_ads}"),
        lambda d: write_sqlite_fixture(os.path.join(d, "monitoring.db"), n_ads=n_ads, seed=seed),
    )


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 0 and roll < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i > 0 and roll < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(i))])
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(len(WORDS), size=n_words)))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n_events: int) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(start_us + rng.integers(span_us, size=n_events))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(300, size=n_events), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_events).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(100, size=n_events)], pa.string()),
        }
    )


def corpus_events(root: str, seed: int, n_docs: int, n_events: int) -> str:
    """Directory with ``documents.parquet`` and an ``events.parquet/``
    directory of 3-6 part files of consecutive event ranges (the split
    points are drawn from the seed)."""

    def build(d: str) -> None:
        rng = np.random.default_rng(seed)
        pq.write_table(_documents(rng, n_docs), os.path.join(d, "documents.parquet"))
        table = _events(rng, n_events)
        n_files = int(rng.integers(3, 7))
        cuts = np.sort(rng.choice(np.arange(1, n_events), size=n_files - 1, replace=False))
        bounds = [0, *cuts.tolist(), n_events]
        out = os.path.join(d, "events.parquet")
        os.makedirs(out)
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            pq.write_table(table.slice(lo, hi - lo), os.path.join(out, f"part-{i:05d}.parquet"))

    return _publish(os.path.join(root, f"corpus-events-s{seed}-d{n_docs}-e{n_events}"), build)

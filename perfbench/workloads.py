"""The benchmark workloads.

Each workload is four analyst requests run in a fixed order per pass. A
request is one call into the package's public API plus ``toPandas()``,
which forces the whole plan and hands back the result the analyst reads
(every result here is at most a few thousand rows). Correctness oracles
run after the Spark session has stopped, on the same generated inputs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import inputs


@dataclass(frozen=True)
class Query:
    label: str  # reported as request.query<N>_s by position
    layer: str  # the package module the request enters through


def result_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result frame; floats at 10 significant
    digits, so only a genuinely different answer changes it."""
    return hashlib.sha1(_normalize(df).to_csv(index=False, float_format="%.10g").encode()).hexdigest()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 1e-9) -> list[str]:
    """Problems between an engine result and its oracle (empty = match):
    the oracle's columns, same row count, same values up to ``rtol`` on
    floats. Extra engine columns (e.g. plotting helpers) are not checked."""
    if not set(want.columns) <= set(got.columns):
        return [f"columns {sorted(got.columns)} lack {sorted(set(want.columns) - set(got.columns))}"]
    got = got[list(want.columns)]
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    g, w = _normalize(got), _normalize(want)
    problems = []
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c]):
            ga, wa = g[c].to_numpy(float), w[c].to_numpy(float)
            ok = np.isclose(ga, wa, rtol=rtol, atol=rtol) | (np.isnan(ga) & np.isnan(wa))
        else:
            ok = (g[c].astype(str) == w[c].astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            problems.append(f"column {c} row {i}: {g[c].iloc[i]!r} != {w[c].iloc[i]!r}")
    return problems


def _duck(views: dict[str, str], sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).df()
    finally:
        con.close()


class AdsAnalyses:
    """The paper: analyses A, B1, B2, C over a seeded ``monitoring.db``."""

    name = "ads_analyses"
    layer = "plans"
    queries = [
        Query("analysis_a", "plans"),
        Query("analysis_b1", "plans"),
        Query("analysis_b2", "plans"),
        Query("analysis_c", "plans"),
    ]

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.n_ads = 100 if smoke else 600

    def sizes(self) -> dict:
        return {"n_ads": self.n_ads}

    def make_inputs(self, root: str) -> None:
        self.db = os.path.join(inputs.monitoring_db(root, self.seed, self.n_ads), "monitoring.db")

    def ingest(self, spark, work: str, tracer) -> int:
        """SQLite -> parquet, the documented one-time ingest for a file
        read by a single process; analyses then scan the parquet copy."""
        from markt_database_analyzer_spark.sources.readers import (
            MONITOR_RECORDS_SCHEMA,
            PROFILES_SCHEMA,
            read_sqlite,
        )

        paths = {}
        for table, schema in (("monitor_records", MONITOR_RECORDS_SCHEMA), ("profiles", PROFILES_SCHEMA)):
            with tracer.span(f"read_sqlite.{table}", "sources"):
                df = read_sqlite(spark, self.db, table, schema=schema)
            paths[table] = os.path.join(work, table)
            df.write.mode("overwrite").parquet(paths[table])
        self.mon = spark.read.parquet(paths["monitor_records"])
        self.prof = spark.read.parquet(paths["profiles"])
        return self.mon.count() + self.prof.count()

    def warm_up(self, spark) -> None:
        pass  # the ingest's write and count already ran every stage kind the scans need

    def build(self, i: int, spark):
        from markt_database_analyzer_spark.plans import (
            initial_rate_by_posting_hour,
            lifetime_view_rate_curve,
            pushes_per_time_bin,
            views_gained_by_city,
        )

        return [
            lambda: lifetime_view_rate_curve(self.mon, self.prof),
            lambda: pushes_per_time_bin(self.prof),
            lambda: initial_rate_by_posting_hour(self.mon, self.prof),
            lambda: views_gained_by_city(self.mon, self.prof),
        ][i]()

    def after_query(self, spark) -> None:
        pass

    def oracles(self) -> dict[str, pd.DataFrame]:
        """pandas re-execution of the reference semantics on the same rows."""
        from markt_database_analyzer_spark.sources.fixtures import generate_rows
        from tests import pandas_semantics as ref

        mon, prof = generate_rows(n_ads=self.n_ads, seed=self.seed)
        return {
            "analysis_a": ref.analysis_a(mon, prof),
            "analysis_b1": ref.analysis_b1(prof),
            "analysis_b2": ref.analysis_b2(mon, prof),
            "analysis_c": ref.analysis_c(mon, prof),
        }


class CorpusEvents:
    """The data-pipeline layers: MinHash-LSH dedup through its catalog
    entry (catalog -> datapipe) over a seeded corpus, then three
    file-source streams (streaming) over a seeded event log."""

    name = "corpus_events"
    layer = "streaming"
    queries = [
        Query("dedup_minhash_lsh", "catalog"),
        Query("stream_tumbling_counts", "streaming"),
        Query("stream_keyed_deltas", "streaming"),
        Query("stream_foreachbatch_upsert", "streaming"),
    ]
    # the registry entry whose DuckDB oracle SQL checks each request (for
    # the streams: their catalog twins, which run the same job)
    oracle_entry = {
        "dedup_minhash_lsh": "dedup_minhash_lsh",
        "stream_tumbling_counts": "streaming_tumbling_counts",
        "stream_keyed_deltas": "streaming_keyed_deltas",
        "stream_foreachbatch_upsert": "streaming_foreachbatch_upsert",
    }

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.n_docs, self.n_events = (100, 1000) if smoke else (400, 10_000)

    def sizes(self) -> dict:
        return {"n_docs": self.n_docs, "n_events": self.n_events}

    def make_inputs(self, root: str) -> None:
        self.dir = inputs.corpus_events(root, self.seed, self.n_docs, self.n_events)
        src = os.path.join(self.dir, "events.parquet")
        self.input_bytes = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src))

    def ingest(self, spark, work: str, tracer) -> int:
        from markt_database_analyzer_spark.sources.readers import read_table

        self.upsert_dir = os.path.join(work, "upsert")
        return sum(read_table(spark, self.dir, t).count() for t in ("documents", "events"))

    def warm_up(self, spark) -> None:
        """Start the Python worker pool once, so the first pandas request
        is not charged an interpreter spawn per core."""

        def identity(batches):
            yield from batches

        n = spark.sparkContext.defaultParallelism
        spark.range(0, n, 1, n).mapInPandas(identity, schema="id long").collect()

    def build(self, i: int, spark):
        from markt_database_analyzer_spark import streaming as st
        from markt_database_analyzer_spark.catalog import REGISTRY
        from markt_database_analyzer_spark.streaming.jobs import run_foreachbatch_upsert

        if i == 0:
            return REGISTRY["dedup_minhash_lsh"].fn(spark, self.dir)
        if i == 1:
            return st.run_stream_to_memory(st.tumbling_counts(st.read_events_stream(spark, self.dir)))
        if i == 2:
            deltas = st.stateful_per_key_deltas(st.read_events_stream(spark, self.dir))
            return st.run_stream_to_memory(deltas, output_mode="append")
        return run_foreachbatch_upsert(spark, self.dir, self.upsert_dir)

    def after_query(self, spark) -> None:
        """Unpersist every cached block (the dedup entry persists its
        shingle projection) and drop the memory-sink tables, which would
        otherwise keep every pass's output alive in the session."""
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("stream_out_"):
                spark.catalog.dropTempView(t.name)

    def pair_counts(self, spark) -> tuple[int, int]:
        """(LSH candidate pairs, verified pairs) of the MinHash dedup stage
        on this corpus, counted through datapipe's public functions."""
        from markt_database_analyzer_spark.datapipe import dedup as dd
        from markt_database_analyzer_spark.sources.readers import read_table

        docs = read_table(spark, self.dir, "documents")
        cand = dd.minhash_lsh_candidates(docs, "text", "doc_id", num_hashes=16, bands=4).count()
        verified = dd.minhash_neardup_pairs(docs, "text", "doc_id", num_hashes=16, bands=4).count()
        self.after_query(spark)
        return cand, verified

    def write_amp(self) -> float:
        """Bytes the upsert left under its work dir per input byte."""
        total = 0
        for dirpath, _, files in os.walk(self.upsert_dir):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total / self.input_bytes

    def oracles(self) -> dict[str, pd.DataFrame]:
        from markt_database_analyzer_spark.catalog import REGISTRY

        views = {
            "documents": os.path.join(self.dir, "documents.parquet"),
            "events": os.path.join(self.dir, "events.parquet", "*.parquet"),
        }
        return {label: _duck(views, REGISTRY[e].oracle) for label, e in self.oracle_entry.items()}


WORKLOADS = {w.name: w for w in (AdsAnalyses, CorpusEvents)}

"""Structured Streaming variants of the reference's batch shapes
(SURVEY.md §2.11, §7 Phase 5).

| batch computation (reference)                   | streaming analog here |
|------------------------------------------------|-----------------------|
| pushes per 10-min slot (analyse.py:191-227)    | ``tumbling_counts`` — watermarked tumbling window count |
| smoothed hourly curve (analyse.py:293-297)     | ``sliding_hourly_avg`` — sliding window average |
| per-push view deltas (analyse.py:69-73)        | ``stateful_per_key_deltas`` — applyInPandasWithState |

Batch/streaming unification: the aggregation expressions are the same
column helpers the batch plans use; only the source (``readStream``) and
the window/watermark wrapping differ. Tests drive each job on the static
events parquet via the memory sink + ``processAllAvailable`` — the
documented pattern for deterministic streaming smoke tests — and
differential-check results against the equivalent batch plan.

Watermark policy: 30 minutes of allowed lateness on ``ts``. In
``complete`` output mode the watermark does not drop visible results (all
windows re-emit); it bounds state for append-mode/production runs where
late events beyond the watermark are discarded — the explicit late-data
policy the reference never had to think about.
"""

from __future__ import annotations

import itertools
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# The at-rest events schema. ``ts`` has shipped in two generations of the
# testdata — TIMESTAMP(NANOS) (readable only as long nanoseconds) and
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (a plain µs timestamp under
# the UTC session) — so the streaming source sniffs the at-rest type once
# via a batch schema probe and declares the matching read schema,
# mirroring sources.read_table's normalization.
def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_sink_counter = itertools.count()


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents table — the ingestion-time corpus
    feed (file-source here; Kafka/queue in production, same plan)."""
    from ..sources.readers import ensure_engine_conf

    ensure_engine_conf(spark)
    # layout dispatch — see read_events_stream for why
    return _stream_table(spark, sf_dir, "documents", DOCUMENTS_SCHEMA)


def _stream_table(spark: SparkSession, sf_dir: str, table: str, schema) -> DataFrame:
    """File-source readStream over ``<sf_dir>/<table>.parquet`` for BOTH
    on-disk layouts: a single parquet FILE (the driver testdata) streams
    from the parent dir with a pathGlobFilter on the file name, while a
    DIRECTORY of part files (what every Spark writer produces) streams
    from the directory itself — streaming file sources monitor
    directories, and a glob filter on the parent would match ZERO part
    files inside the table dir and silently stream nothing (caught by
    the r11 10x replication run)."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events table (file-source; in production the
    same plan runs off Kafka by swapping the source)."""
    from ..sources.readers import ensure_engine_conf

    ensure_engine_conf(spark)  # works on any caller-provided session
    # One-time batch probe of the at-rest ts type (driver-side, schema
    # only — no data read); the stream then declares the matching schema.
    import os

    at_rest = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema["ts"]
    ts_is_long = at_rest.dataType.typeName() == "long"
    schema = _events_raw_schema(T.LongType() if ts_is_long else T.TimestampType())
    raw = _stream_table(spark, sf_dir, "events", schema)
    if ts_is_long:
        return raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return raw


def tumbling_counts(events: DataFrame, width: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """B1's streaming analog: event counts per tumbling window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def sliding_hourly_avg(
    events: DataFrame, width: str = "3 hours", slide: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """W3's streaming analog: sliding-window smoothed value average. Uses
    plain avg (per-window values are emitted continuously; cross-engine
    quantization is a batch-oracle concern, not a streaming one)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "avg_value", "n_events")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming sessionization via the native merging session operator:
    per-user ``session_window`` (gap-based; windows MERGE as late rows
    bridge gaps, which is why this needs the dedicated operator rather
    than a tumbling bucket). Batch twin: the ``session_window_native``
    catalog entry — same operator, same 30-min gap, shared semantics.

    Output-mode note: Spark REJECTS update mode for session-window
    aggregations (the merging operator supports complete/append only).
    The differential harness, catalog entry, and tests drive this in
    complete mode over a single availableNow micro-batch, where each
    merged session's final state is emitted exactly once; production
    runs use append mode, where the watermark closes a session before
    emission so state stays bounded (a multi-batch complete run would
    retain every session forever)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )


_DELTA_SCHEMA = "user_id long, event_id long, delta_value double, delta_minutes double"
_STATE_SCHEMA = "last_us long, last_value double"


def _delta_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key streaming delta: carries (last event µs, last value) across
    micro-batches — W1's lag() re-expressed as O(1) keyed state."""
    (user_id,) = key
    last_us, last_value = state.get if state.exists else (None, None)
    for pdf in batches:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["us", "event_id"], kind="mergesort")
        us = pdf["us"].to_numpy("int64")
        value = pdf["value"].to_numpy("float64")
        # lag() vectorized: previous row within the batch, with the carried
        # state spliced in as row 0's predecessor. No per-row Python.
        prev_us = pd.Series(us).shift()
        prev_value = pd.Series(value).shift()
        if last_us is not None:
            prev_us.iloc[0] = last_us
            prev_value.iloc[0] = last_value
        keep = prev_us.notna().to_numpy()
        out = pd.DataFrame(
            {
                "user_id": user_id,
                "event_id": pdf["event_id"].to_numpy("int64"),
                "delta_value": value - prev_value.to_numpy("float64"),
                "delta_minutes": (us - prev_us.to_numpy("float64")) / 60_000_000.0,
            }
        )[keep]
        last_us, last_value = int(us[-1]), float(value[-1])
        if len(out):
            yield out
    state.update((last_us, last_value))


def stateful_per_key_deltas(events: DataFrame) -> DataFrame:
    """W1's streaming analog via ``applyInPandasWithState``: per-user value
    deltas with explicit keyed state (first event of a key yields nothing,
    matching the batch lag() null-drop)."""
    prepared = events.select("user_id", "event_id", F.unix_micros("ts").alias("us"), "value")
    return prepared.groupBy("user_id").applyInPandasWithState(
        _delta_fn,
        outputStructType=_DELTA_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(
    result: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
    available_now: bool = True,
) -> DataFrame:
    """Drive a streaming frame to completion over the available (static)
    input and return the materialized result as a batch DataFrame — the
    deterministic smoke-test harness for every job above.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    stream's lifetime (restored after): a stateful query instantiates one
    state store per shuffle partition and keeps it for the query's life,
    so partition count is a provisioning decision per stream, not the
    session default — 32 stores for KB of state is pure setup overhead
    here, while a 100 TB deployment would pin it HIGHER than the batch
    default and that choice is frozen into the checkpoint."""
    spark = result.sparkSession
    name = f"stream_out_{next(_sink_counter)}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        writer = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
        )
        # Python stream sources (SimpleDataSourceStreamReader) don't
        # implement Trigger.AvailableNow — drive them with the default
        # micro-batch trigger and processAllAvailable instead
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def interval_self_join(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: pair each ``left_type`` event with the
    same user's ``right_type`` events that follow within
    ``within_minutes`` — the funnel/attribution shape (view→purchase).

    Both sides carry a watermark and the join condition bounds event-time
    distance in BOTH directions, so Spark can size the join state: a
    buffered left row is droppable once the right watermark passes
    ``l_ts + within``; an unmatched right row once the left watermark
    passes ``r_ts``. Without the time bound the state store grows without
    limit — the bound IS the operator's scale contract."""
    lhs = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("l_event_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    rhs = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("r_event_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES"))
    )
    return lhs.join(rhs, cond).select(
        "user_id",
        "l_event_id",
        "r_event_id",
        ((F.unix_micros("r_ts") - F.unix_micros("l_ts")) / 60000000.0).alias(
            "lag_minutes"
        ),
    )


def run_foreachbatch_upsert(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_source_files: int = 4,
) -> DataFrame:
    """``foreachBatch`` idempotent-upsert sink: maintain a per-event-type
    (n, total) aggregate across micro-batches by MERGING each batch's
    partial aggregate into a versioned parquet state store — the
    production pattern for sinks without native streaming support
    (JDBC, object stores): read current state, union the batch partial,
    re-aggregate, write state v+1. Distributive aggregates on the
    micro-unit grid merge exactly, so the final state equals the batch
    recompute REGARDLESS of how the stream was chopped into batches —
    which is what the catalog oracle (a plain GROUP BY over the same
    rows) hash-proves.

    The static events table is re-laid-out as ``n_source_files`` parquet
    files and streamed with ``maxFilesPerTrigger=1`` so the upsert path
    genuinely executes multiple merge rounds (a single-file source would
    collapse to one batch). Each batch writes a NEW state version and
    epoch-tagged directory — re-running a failed batch overwrites its
    own output (idempotent), never double-counts.
    """
    import os
    import shutil

    from ..functions import dsum
    from ..sources.readers import ensure_engine_conf, read_table

    ensure_engine_conf(spark)
    shutil.rmtree(work_dir, ignore_errors=True)
    src_dir = os.path.join(work_dir, "source")
    read_table(spark, sf_dir, "events").select("event_type", "value").repartition(
        n_source_files
    ).write.mode("overwrite").parquet(src_dir)

    state: dict[str, str] = {"path": ""}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total")
        )
        if state["path"]:
            prev = spark.read.parquet(state["path"])
            partial = (
                prev.unionByName(partial)
                .groupBy("event_type")
                .agg(
                    F.sum("n").alias("n"),
                    dsum(F.col("total")).alias("total"),
                )
            )
        new_path = os.path.join(work_dir, f"state_v{batch_id}")
        partial.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.read.parquet(state["path"])
    return final

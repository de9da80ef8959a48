"""Streaming variants differential-tested against their batch equivalents
on the same static events data (SURVEY.md §2.11)."""

from __future__ import annotations

from pyspark.sql import functions as F

from markt_database_analyzer_spark.sources import read_table
from markt_database_analyzer_spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    sliding_hourly_avg,
    stateful_per_key_deltas,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_tumbling_counts_match_batch(spark):
    stream = tumbling_counts(read_events_stream(spark, SF_DIR))
    got = {
        (r["window_start"], r["n_events"]) for r in run_stream_to_memory(stream).collect()
    }
    batch = (
        read_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), "n")
    )
    want = {(r["s"], r["n"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_sliding_avg_matches_batch(spark):
    stream = sliding_hourly_avg(read_events_stream(spark, SF_DIR))
    got = {r["window_start"]: (r["n_events"], r["avg_value"]) for r in run_stream_to_memory(stream).collect()}
    batch = (
        read_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "3 hours", "1 hour").alias("w"))
        .agg(F.avg("value").alias("a"), F.count(F.lit(1)).alias("n"))
    )
    want = {r["w"]["start"]: (r["n"], r["a"]) for r in batch.collect()}
    assert set(got) == set(want)
    for k in got:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-9


def test_stateful_deltas_match_batch_lag(spark):
    stream = stateful_per_key_deltas(read_events_stream(spark, SF_DIR))
    got = {
        r["event_id"]: (r["delta_value"], r["delta_minutes"])
        for r in run_stream_to_memory(stream, output_mode="append").collect()
    }
    from markt_database_analyzer_spark.operators import lag_deltas

    ev = read_table(spark, SF_DIR, "events").withColumn("us", F.unix_micros("ts"))
    batch = lag_deltas(
        ev,
        ["user_id"],
        [F.col("us"), F.col("event_id")],
        {"value": "value", "us": F.col("us").cast("double")},
    ).withColumn("delta_minutes", F.col("delta_us") / 60_000_000.0)
    want = {
        r["event_id"]: (r["delta_value"], r["delta_minutes"])
        for r in batch.select("event_id", "delta_value", "delta_minutes").collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k in got:
        assert abs(got[k][0] - want[k][0]) < 1e-9
        assert abs(got[k][1] - want[k][1]) < 1e-9


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """The late-data policy, observed end-to-end: an event arriving in a
    later micro-batch, older than the watermark, must be DROPPED from its
    (already-closed) window; on-time windows emit exactly once in append
    mode when the watermark passes their end."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "stream_in"
    d.mkdir()

    def write(name, ts_list):
        t = pa.table({"ts": pa.array(ts_list, type=pa.timestamp("us"))})
        pq.write_table(t, str(d / name))

    from datetime import datetime

    # batch 1: two events in the 10:00 window, one at 11:00 that advances
    # the watermark to 10:30 (30-min delay)
    write(
        "b1.parquet",
        [
            datetime(2024, 1, 1, 10, 0, 1),
            datetime(2024, 1, 1, 10, 5, 0),
            datetime(2024, 1, 1, 11, 0, 0),
        ],
    )

    stream = spark.readStream.schema("ts timestamp").parquet(str(d))
    from markt_database_analyzer_spark.streaming import tumbling_counts

    q = (
        tumbling_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_drop_test")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 → watermark becomes 10:30
        # batch 2: a late event at 09:50 (window end 10:00 <= watermark →
        # dropped) and an on-time event at 11:05 (its window stays open)
        write(
            "b2.parquet", [datetime(2024, 1, 1, 9, 50, 0), datetime(2024, 1, 1, 11, 5, 0)]
        )
        time.sleep(0.2)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        r["window_start"]: r["n_events"]
        for r in spark.table("wm_drop_test").collect()
    }
    # only the 10:00 window closed; the late 09:50 event created no window
    # and the 11:00/11:05 windows are still open (unemitted in append mode)
    assert rows == {datetime(2024, 1, 1, 10, 0, 0): 2}


def test_interval_join_matches_batch(spark):
    from markt_database_analyzer_spark.sources import read_table
    from markt_database_analyzer_spark.streaming import (
        interval_self_join,
        read_events_stream,
        run_stream_to_memory,
    )

    stream = interval_self_join(read_events_stream(spark, SF_DIR))
    got = {
        (r["user_id"], r["l_event_id"], r["r_event_id"], r["lag_minutes"])
        for r in run_stream_to_memory(stream, output_mode="append").collect()
    }
    ev = read_table(spark, SF_DIR, "events")
    lhs = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("l_event_id"), F.col("ts").alias("l_ts")
    )
    rhs = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    batch = lhs.join(
        rhs,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "user_id",
        "l_event_id",
        "r_event_id",
        ((F.unix_micros("r_ts") - F.unix_micros("l_ts")) / 60000000.0).alias("lag_minutes"),
    )
    want = {
        (r["user_id"], r["l_event_id"], r["r_event_id"], r["lag_minutes"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Fault-tolerance contract: a restarted query with the same
    checkpoint continues from the committed offset — already-processed
    files are NOT recounted, new files are. This is the exactly-once
    story for the file source; in production the same checkpoint
    mechanics cover executor loss mid-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_batch(name, ids):
        pq.write_table(pa.table({"doc_id": pa.array(ids, "int64")}), src / name)

    def run_once():
        stream = spark.readStream.schema("doc_id long").parquet(str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("a.parquet", [1, 2, 3])
    run_once()
    assert spark.read.parquet(out).count() == 3
    write_batch("b.parquet", [4, 5])
    run_once()
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5]  # batch a not reprocessed, batch b picked up


def test_observe_metrics_on_batch_pipeline(spark):
    """df.observe() attaches accumulator-backed metrics to a plan without
    a second pass — the audit hook a curation pipeline uses to count
    rows/nulls while writing. Pinned on the batch path via collect-time
    observation retrieval."""
    from pyspark.sql import Observation

    from markt_database_analyzer_spark.sources import read_table

    obs = Observation("audit")
    docs = read_table(spark, SF_DIR, "documents").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull() | (F.trim("text") == ""), 1).otherwise(0)).alias("n_blank"),
    )
    n = docs.count()
    got = obs.get
    assert got["n_rows"] == n
    assert 0 <= got["n_blank"] <= n


def test_session_counts_match_batch_session_window(spark):
    # the streaming merging-session operator must equal the batch
    # session_window over the same static input (§2.11 widening)
    from markt_database_analyzer_spark.streaming import session_counts

    stream = session_counts(read_events_stream(spark, SF_DIR))
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in run_stream_to_memory(stream, output_mode="complete").collect()
    }
    batch = (
        read_table(spark, SF_DIR, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s"), "n")
    )
    want = {(r["user_id"], r["s"], r["n"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_session_counts_merge_bridged_gaps(spark, tmp_path):
    # three events 20 min apart bridge into ONE session (each adjacent
    # gap < 30 min though the total span is 40 min); a fourth event 31
    # min later starts a new session — the merge semantics that make
    # session_window a dedicated operator rather than a tumbling bucket
    import pandas as pd

    ts = pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:20:00",
         "2024-01-01 00:40:00", "2024-01-01 01:11:00"]
    )
    pd.DataFrame(
        {"user_id": [1, 1, 1, 1], "event_id": [1, 2, 3, 4],
         "event_type": ["view"] * 4, "value": [1.0] * 4, "ts": ts}
    ).to_parquet(tmp_path / "events.parquet", index=False)
    from markt_database_analyzer_spark.streaming import session_counts

    stream = session_counts(read_events_stream(spark, str(tmp_path)))
    rows = sorted(
        (r["session_start"], r["n_events"])
        for r in run_stream_to_memory(stream, output_mode="complete").collect()
    )
    assert [n for _, n in rows] == [3, 1]

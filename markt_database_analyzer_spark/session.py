"""SparkSession factory.

Design decisions (SURVEY.md §7 Phase 0):

- **ANSI mode stays ON** (Spark 4.x default). The reference's pandas
  ``errors='coerce'`` semantics (analyse.py:29,175-176,183-184,386-387) are
  reproduced with ``try_cast`` / ``try_to_timestamp`` / ``try_divide`` in
  ``functions.cleaning`` — never by disabling ANSI, so genuine engine bugs
  still throw instead of silently nulling.
- **AQE on** with partition coalescing and skew-join handling: city/category
  style dimensions are skewed by nature (SURVEY.md §4.2); at 100 TB the
  runtime re-plan is what keeps one hot key from stalling a stage.
- **Session timezone pinned to UTC** so timestamp semantics agree with
  columnar at-rest data and with external oracles (DuckDB is UTC-naive).
- **Core count**: ``local[N]`` and ``shuffle.partitions`` both come from one
  read of ``$SPARK_GRAFT_CPUS`` at call time, defaulting to the cores this
  process may run on (``os.sched_getaffinity``). On a real cluster AQE
  coalescing makes the static partition count far less load-bearing, and
  callers can override via ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "markt_database_analyzer_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured; on a real deployment the master comes from spark-submit and
    this argument is left None.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (profiles-analogs, nation/region/customer) are
        # small; keep the default broadcast threshold but make the intent
        # explicit — operators also hint broadcast() where the small side is
        # known statically.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Some at-rest parquet carries TIMESTAMP(NANOS) (not in Spark's
        # type system): read as raw nanosecond longs; sources.read_table
        # converts to microsecond timestamps (identical to how µs-precision
        # engines truncate nanos).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Inferred size(e)>0 filters from explode re-evaluate computed
        # generator expressions at the scan — see sources.readers
        # ensure_engine_conf for the measured rationale.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

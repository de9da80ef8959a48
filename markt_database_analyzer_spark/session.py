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
- **Engine confs** (UTC session timezone, nanosecond parquet as longs,
  ``inferTimestampNTZ`` off, ``InferFiltersFromGenerate`` excluded) come
  from ``sources.readers.ensure_engine_conf``, the one list of them: it
  runs on every session built here and on any caller-provided session at
  its first read.
- **Core count**: ``local[N]`` and ``shuffle.partitions`` both come from one
  read of ``$SPARK_GRAFT_CPUS`` at call time, defaulting to the cores this
  process may run on (``os.sched_getaffinity``). On a real cluster AQE
  coalescing makes the static partition count far less load-bearing, and
  callers can override via ``extra_conf``.
- **Driver heap** (local mode only): ``$SPARK_GRAFT_DRIVER_MEM`` when set,
  otherwise half of ``MemTotal`` in ``/proc/meminfo`` read at call time,
  capped at 16g — a fixed 16g default asks a 15 GB host for more than it
  has.
- **Generated-code cache holds 1000 classes.** Spark's default of 100 is
  smaller than the working set of the paper's four requests: one pass of
  A, B1, B2 and C cycles through about 123 distinct generated classes, so
  the LRU evicts each class before its next use and every warm request
  pays Janino compilation (and JIT warm-up of the fresh class) again. At
  1000 a repeated request compiles nothing; each entry is one loaded
  class of a few KB. It is a *static* conf: ``CodeGenerator`` sizes its
  cache once per JVM from the conf of the first session, so it must be
  set here, where every session of this package is built, and cannot be
  changed by ``spark.conf.set`` later.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .sources.readers import ensure_engine_conf

MEMINFO = "/proc/meminfo"
MAX_DRIVER_MEM_MB = 16 * 1024


def _default_driver_memory() -> str:
    """Half of the host's ``MemTotal``, capped at 16g; the cap itself when
    ``/proc/meminfo`` cannot be read (not Linux)."""
    try:
        with open(MEMINFO) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024  # the file counts kB
                    return f"{min(total_mb // 2, MAX_DRIVER_MEM_MB)}m"
    except OSError:
        pass
    return f"{MAX_DRIVER_MEM_MB}m"


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
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (profiles-analogs, nation/region/customer) are
        # small; keep the default broadcast threshold but make the intent
        # explicit — operators also hint broadcast() where the small side is
        # known statically.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_engine_conf(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Schema-declared sources (SURVEY.md §2.1 S1–S3).

The reference reads two SQLite tables wholesale (`analyse.py:12-15`) or with
a column projection pushed into the SQL string (`analyse.py:158-164`,
`370-375`). Here the at-rest format is Parquet; column pruning and predicate
pushdown are Catalyst's job once the plan is declarative — ``read_table(...)
.select(...)`` reaches the scan as ``ReadSchema``/``PushedFilters``, so S2
needs no hand-rolled projection pushdown.

Schemas are **explicit**: the reference's implicit driver-default typing plus
defensive coercion (SURVEY.md §1.2) is reproduced by declaring the at-rest
types and funnelling every possibly-dirty column through
``functions.cleaning`` (``try_cast``-based), never through inference.

The reference's SQLite source is ingested by ``read_sqlite``: a
driver-side stdlib ``sqlite3`` read with an explicit schema (correct for
the small operational DBs SQLite holds — see its docstring for the scale
argument); everything downstream is format-agnostic DataFrames.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Reference-shaped schemas (SURVEY.md §1.3). Dirty columns arrive as strings
# (SQLite is dynamically typed); cleaning casts them with try_* downstream.
MONITOR_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ad_unique_id", T.StringType()),
        T.StructField("push_counter", T.IntegerType()),
        T.StructField("track_time", T.StringType()),
        T.StructField("ad_age_in_minutes", T.StringType()),
        T.StructField("views", T.StringType()),
    ]
)

PROFILES_SCHEMA = T.StructType(
    [
        T.StructField("ad_unique_id", T.StringType()),
        T.StructField("push_counter", T.IntegerType()),
        T.StructField("age", T.StringType()),
        T.StructField("profile_url", T.StringType()),
        T.StructField("posting_time", T.StringType()),
        T.StructField("city", T.StringType()),
    ]
)


def ensure_engine_conf(spark: SparkSession) -> None:
    """Set the two runtime confs the engine's semantics depend on, so
    every entry point works on ANY caller-provided SparkSession (the
    driver contract hands us one we didn't build):

    - ``nanosAsLong``: TIMESTAMP(NANOS) parquet (the events table in some
      testdata generations) is unreadable in Spark 4 without it — reads
      throw PARQUET_TYPE_ILLEGAL;
    - ``inferTimestampNTZ`` off: isAdjustedToUTC=false MICROS columns
      (the current testdata generation) otherwise arrive as
      TIMESTAMP_NTZ, which ``unix_micros`` and window/watermark APIs
      reject — read them as plain TIMESTAMP instead (micros unchanged
      under the UTC session timezone);
    - UTC session timezone: hour/day extractions and timestamp collection
      must agree with the UTC-naive at-rest data and external oracles.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # InferFiltersFromGenerate rewrites explode(e) into Filter(size(e)>0)
    # + explode(e) and pushes the filter to the scan. Every exploded array
    # in this engine is expression-COMPUTED (shingles, hashes, window
    # minima — never a stored column), so the inferred filter re-evaluates
    # the whole generator expression once per input row with no pruning
    # benefit; for winnowing it re-inlined the O(tokens·windows) md5 tree
    # the staged projection exists to avoid (measured: 26 s → 0.6 s at
    # sf0.1 with the rule excluded). Correctness is unaffected — explode
    # of an empty array emits nothing either way.
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    current = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    if not current:
        spark.conf.set("spark.sql.optimizer.excludedRules", rule)
    elif rule not in current:
        spark.conf.set("spark.sql.optimizer.excludedRules", f"{current},{rule}")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one at-rest Parquet table (S1). Projection after this call is
    pruned into the scan by Catalyst (S2).

    Temporal columns are normalized to plain TIMESTAMP (µs, UTC session)
    regardless of how the at-rest parquet spells them:

    - TIMESTAMP(NANOS) → nanosecond longs (session nanosAsLong), divided
      down to µs — exact for the full int64 range and identical to the
      truncation µs-precision engines apply;
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ on a
      session where a scan predates ensure_engine_conf — cast to
      TIMESTAMP, a no-op on the stored micros under the UTC session TZ.
    """
    ensure_engine_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name in ("ts",) and field.dataType.typeName() == "long":
            df = df.withColumn(field.name, F.expr(f"timestamp_micros({field.name} DIV 1000)"))
        elif field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def read_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    schema: T.StructType | None = None,
    columns: list[str] | None = None,
    batch_size: int = 50_000,
) -> DataFrame:
    """Ingest edge for the reference's native format (analyse.py:8,12-15).

    The driver reads the table with the standard library's ``sqlite3`` in
    ``batch_size`` row chunks and builds a DataFrame with the EXPLICIT
    ``schema``. ``columns`` renders a projected ``SELECT`` so pruning
    happens inside SQLite, exactly the reference's pushed-projection
    pattern (analyse.py:158-164, 370-375).

    The read is driver-side by design, not a limitation to engineer
    around: SQLite is a single-file, single-host operational format — the
    same topology the reference reads it with — and in a 100 TB pipeline it
    only ever appears as a small operational/dimension source. A SQLite
    file too big to pass through the driver should be ingested ONCE to
    parquet (``read_sqlite(...).write.parquet(...)``) and scanned
    distributively thereafter; there is no scalable way to read one
    B-tree file from a thousand executors.

    ``schema`` is mandatory (SQLite is dynamically typed; inference would
    reproduce the driver-default-typing bug class the SURVEY calls out).
    Declared STRING columns keep whatever repr SQLite holds, numeric
    columns pass through (dirty numerics should be declared STRING and
    cleaned with ``functions.cleaning``)."""
    if schema is None:
        raise RuntimeError(
            "read_sqlite needs an explicit schema; pass schema= (inference "
            "over a dynamically-typed file is not supported)"
        )
    import sqlite3

    proj = ", ".join(f'"{c}"' for c in columns) if columns else "*"
    names = [f.name for f in schema.fields]
    if columns:
        schema = T.StructType([f for f in schema.fields if f.name in set(columns)])
        names = [f.name for f in schema.fields]
    str_cols = {
        f.name for f in schema.fields if isinstance(f.dataType, T.StringType)
    }
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        cur = con.execute(f'SELECT {proj} FROM "{table}"')
        col_idx = [d[0] for d in cur.description]
        if set(col_idx) != set(names):
            raise ValueError(
                f"schema/table mismatch: table has {col_idx}, schema declares {names}"
            )
        order = [col_idx.index(n) for n in names]
        rows: list[tuple] = []
        while True:
            batch = cur.fetchmany(batch_size)
            if not batch:
                break
            for r in batch:
                rows.append(
                    tuple(
                        (str(r[i]) if (r[i] is not None and names[j] in str_cols) else r[i])
                        for j, i in enumerate(order)
                    )
                )
    finally:
        con.close()
    return spark.createDataFrame(rows, schema)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSONL (one JSON document per line) source with an EXPLICIT schema —
    the standard interchange format for document/training-data pipelines.

    Schema inference over JSON costs a full extra pass of the input and
    can silently widen types between runs; at 100 TB both are
    unacceptable, so the schema argument is mandatory. Corrupt lines land
    in ``_corrupt_record`` (PERMISSIVE mode) instead of failing the job —
    the reference's errors='coerce' philosophy applied to the source
    boundary.
    """
    full_schema = schema.add("_corrupt_record", T.StringType())
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV source with an EXPLICIT schema and corrupt-record capture —
    same contract as :func:`read_jsonl` (no inference pass, no silent
    type widening between runs; malformed rows land in
    ``_corrupt_record`` instead of failing the job). Dates/timestamps
    must be declared in the schema so parsing happens at scan time in
    the JVM, not in a downstream cast."""
    full_schema = schema.add("_corrupt_record", T.StringType())
    return (
        spark.read.schema(full_schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("enforceSchema", "true")
        .csv(path)
    )

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
argument); everything downstream is format-agnostic DataFrames. Each
fetched chunk becomes one Arrow record batch (``frame_from_rows``, which
the fixtures use too), so the rows reach the JVM without a Python worker.
A STRING column takes ``str()`` of any SQLite value; any other column
refuses a value its declared type does not hold instead of truncating it.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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


# The Python types a column accepts from the driver, by its declared Spark
# type (STRING values are mapped through str() first). A declared type not
# listed here (boolean, date, timestamp, decimal, ...) accepts only NULL:
# sqlite3 returns none of their Python types.
_ACCEPTED_TYPES = {
    T.ByteType: (int,),
    T.ShortType: (int,),
    T.IntegerType: (int,),
    T.LongType: (int,),
    T.FloatType: (float,),
    T.DoubleType: (float,),
    T.BinaryType: (bytes,),
    T.StringType: (str,),
}


def _arrow_column(field: T.StructField, arrow_type, values: Sequence) -> pa.Array:
    """One column of driver values as an Arrow array of its declared type.

    Declared STRING columns take ``str()`` of every non-NULL value. Any
    other column must hold the Python type its Spark type accepts: Arrow
    would truncate a float into an integer column or turn a string into a
    NULL, and both must fail loudly instead."""
    types = set(map(type, values))
    if type(None) in types and not field.nullable:
        raise ValueError(f"column {field.name!r} is not nullable but holds NULL")
    types.discard(type(None))
    if isinstance(field.dataType, T.StringType) and types - {str}:
        values = [None if v is None else str(v) for v in values]
        types = {str}
    accepted = _ACCEPTED_TYPES.get(type(field.dataType), ())
    rejected = sorted(t.__name__ for t in types if t not in accepted)
    if rejected:
        bad = next(v for v in values if v is not None and type(v) not in accepted)
        raise TypeError(
            f"column {field.name!r} declared {field.dataType.simpleString()} "
            f"holds {', '.join(rejected)} values, e.g. {bad!r}"
        )
    try:
        return pa.array(values, arrow_type)
    except pa.ArrowInvalid as e:
        raise ValueError(f"column {field.name!r} declared {field.dataType.simpleString()}: {e}") from e


def frame_from_rows(
    spark: SparkSession,
    chunks: Iterable[Sequence[tuple]],
    schema: T.StructType,
    order: Sequence[int] | None = None,
) -> DataFrame:
    """A DataFrame of driver-held rows, built from Arrow column batches.

    Each chunk of row tuples becomes one ``pyarrow.RecordBatch``, column
    by column (``_arrow_column``'s type rule); ``order[j]`` is the tuple
    position of ``schema``'s ``j``-th field (default: the same position).
    The batches reach the JVM through pyspark's Arrow table path, so no
    Python worker starts and no list of the whole table's rows is built,
    unlike ``createDataFrame(list_of_rows)``, which pickles every row
    through a ``PythonRDD``."""
    arrow_schema = to_arrow_schema(schema)
    order = range(len(schema.fields)) if order is None else order
    batches = []
    for rows in chunks:
        cols = list(zip(*rows))
        batches.append(
            pa.RecordBatch.from_arrays(
                [
                    _arrow_column(field, arrow_schema.field(j).type, cols[order[j]])
                    for j, field in enumerate(schema.fields)
                ],
                schema=arrow_schema,
            )
        )
    return spark.createDataFrame(pa.Table.from_batches(batches, arrow_schema), schema)


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
    ``batch_size`` row chunks; each chunk becomes one Arrow record batch
    (``frame_from_rows``), so at most one chunk of Python rows is alive at
    a time, the table is held as Arrow columns, and the frame reaches the
    JVM without a Python worker. ``columns`` renders a projected
    ``SELECT`` so pruning happens inside SQLite, exactly the reference's
    pushed-projection pattern (analyse.py:158-164, 370-375).

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
    Declared STRING columns keep ``str()`` of whatever SQLite holds
    (INTEGER 5 → ``'5'``, BLOB → ``"b'...'"``). Any other column must hold
    the Python type its declared type accepts — integral types ``int``,
    floating types ``float``, BINARY ``bytes`` — or the read raises a
    ``TypeError`` naming the column; an integer outside the declared
    range raises a ``ValueError``. Dirty numerics should be declared
    STRING and cleaned with ``functions.cleaning``."""
    if schema is None:
        raise RuntimeError(
            "read_sqlite needs an explicit schema; pass schema= (inference "
            "over a dynamically-typed file is not supported)"
        )
    import sqlite3

    proj = ", ".join(f'"{c}"' for c in columns) if columns else "*"
    if columns:
        schema = T.StructType([f for f in schema.fields if f.name in set(columns)])
    names = [f.name for f in schema.fields]
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        cur = con.execute(f'SELECT {proj} FROM "{table}"')
        col_idx = [d[0] for d in cur.description]
        if set(col_idx) != set(names):
            raise ValueError(
                f"schema/table mismatch: table has {col_idx}, schema declares {names}"
            )
        chunks = iter(lambda: cur.fetchmany(batch_size), [])
        return frame_from_rows(spark, chunks, schema, [col_idx.index(n) for n in names])
    finally:
        con.close()


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

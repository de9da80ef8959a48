"""Shared datapipe plumbing.

``fan_out`` exists because of a local[N]/small-file reality with a real
100 TB counterpart: Spark parallelism for a parquet scan is bounded by
file *splits*, and a parquet file is splittable only at row-group
boundaries. A small dimension-sized table (or, at 100 TB, the tail of a
skewed file-size distribution) can therefore arrive as one task — and any
CPU-bound per-row work downstream (per-token hashing, shingling, cosine
folds) runs on one core while the rest of the cluster idles.

``fan_out(df)`` round-robin-repartitions to the session default
parallelism *before* such compute. The shuffle moves only the narrow
input (ids + text/embedding), costs milliseconds at dimension scale, and
is dwarfed by the compute it parallelizes. An input that already arrives
in >= defaultParallelism splits is returned as it is (fan_out never
coalesces, it only widens).

``banded_pairs`` (and its DuckDB twin ``sql_banded_pairs``) is the one
candidate stage of banded LSH: MinHash, SimHash and SRP each reduce a
document to skinny ``(id, band_id, band_key)`` rows and pair the ids
that share a band. The self-join shuffles only those rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The ``df.rdd.getNumPartitions()`` probe forces a full physical-planning
# pass (logical plan -> executed plan -> RDD DAG) on every call, which is
# pure driver overhead in hot catalog paths that fan_out the same scan
# shape repeatedly. The count is a function of the analyzed plan within a
# session (file listing is session-cached), so memoize it per
# (application id, schema, semantic plan hash). applicationId — not
# id(session) — keys the session, so a recycled Python object id can
# never serve another app's counts; the schema string widens the 32-bit
# semanticHash against collisions. Residual staleness (files appended to
# a path mid-session, conf changes) can at worst serve an outdated
# count, whose failure mode is one missed or one redundant widening —
# perf-only and bounded. Cleared wholesale past _NPART_CACHE_MAX.
_NPART_CACHE: dict[tuple[str, str, int], int] = {}
_NPART_CACHE_MAX = 1024


def fan_out(df: DataFrame) -> DataFrame:
    """Widen ``df`` to at least the session's default parallelism ahead
    of CPU-bound per-row operators. No-op when the input is already at
    least that wide. The partition-count probe
    is memoized per (application, schema, semantic plan hash) — one
    physical planning pass per distinct plan shape, not per call."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    key = (sc.applicationId, df.schema.json(), df.semanticHash())
    n = _NPART_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_NPART_CACHE) >= _NPART_CACHE_MAX:
            _NPART_CACHE.clear()
        _NPART_CACHE[key] = n
    if n >= target:
        return df
    return df.repartition(target)


def banded_pairs(bands: DataFrame) -> DataFrame:
    """The banded-LSH candidate stage: distinct ``(id_a, id_b)`` pairs,
    ``id_a < id_b``, of rows of ``bands`` that share a
    ``(band_id, band_key)``.

    ``bands`` holds ``(id, band_id, band_key)`` rows, one per document and
    band; any further column rides through the join as ``<c>_a`` and
    ``<c>_b``. The frame is read on both sides of the self-join, so the
    caller pins it first (persist or checkpoint) when it is costly to
    recompute. Twin of :func:`sql_banded_pairs`."""
    extra = [c for c in bands.columns if c not in ("id", "band_id", "band_key")]
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in extra for s in "ab"],
        )
        .distinct()
    )


def sql_banded_pairs(bands: str) -> str:
    """DuckDB twin of :func:`banded_pairs` over the relation ``bands``
    with columns ``(id, band_id, band_key)``: a query for the distinct
    ``(id_a, id_b)`` pairs, ``id_a < id_b``, that share a band."""
    return f"""
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM {bands} a JOIN {bands} b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.id < b.id
"""

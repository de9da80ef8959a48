"""Skew mitigation: salted joins for hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime by splitting oversized shuffle partitions. Salting is the
*plan-level* tool for the cases AQE can't fix: a single join key so hot
that one hash bucket exceeds an executor (city/category power laws —
exactly the distributions the reference's data has), or aggregations
with non-combinable state.

``salted_join_hot`` spreads each hot fact-side key over ``buckets``
sub-keys via a deterministic salt (hash of a unique column — never
``rand()``, which breaks retry/replay determinism), and replicates the
matching dim rows once per bucket. The join result is identical to the
unsalted join; the shuffle partition for a hot key shrinks by
``buckets``×.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join_hot(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    salt_from: str,
    buckets: int = 16,
    hot_threshold: int = 1_000_000,
) -> DataFrame:
    """Inner equi-join with salting applied ONLY to hot keys.

    Salting every key would replicate the whole dim side ``buckets``×
    even though skew by definition lives in a handful of keys. Here the
    fact side is counted once (one map-side-combined agg whose output is
    one row per key), keys above ``hot_threshold`` become a broadcast
    hot-set, and:

    - fact rows on hot keys get ``hash(salt_from) % buckets``; all other
      rows get salt 0 — via a broadcast left join against the hot-set,
      so the fact never shuffles for the classification;
    - dim rows on hot keys are exploded ``buckets``×; the rest pass
      through once with salt 0.

    Result is row-identical to the plain join (the oracle pins this).
    At 100 TB the key count is the scalable way to find skew up front
    (its output is bounded by key cardinality), dim replication cost
    drops from ``|dim|·buckets`` to ``|hot|·buckets``, and the single
    over-large shuffle partition that neither AQE splitting nor an
    executor's memory could absorb is spread over ``buckets`` tasks."""
    hot = (
        fact.groupBy(*[F.col(c) for c in on])
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_threshold)
        .select(*on, F.lit(True).alias("_hot"))
    )
    fact_s = (
        fact.join(F.broadcast(hot), on, "left")
        .withColumn(
            "_salt",
            F.when(F.col("_hot"), F.pmod(F.hash(F.col(salt_from)), F.lit(buckets)))
            .otherwise(F.lit(0)),
        )
        .drop("_hot")
    )
    dim_flagged = dim.join(F.broadcast(hot), on, "left")
    dim_s = dim_flagged.withColumn(
        "_salt",
        F.explode(
            F.when(
                F.col("_hot"), F.sequence(F.lit(0), F.lit(buckets - 1))
            ).otherwise(F.array(F.lit(0)))
        ),
    ).drop("_hot")
    return fact_s.join(dim_s, [*on, "_salt"], "inner").drop("_salt")

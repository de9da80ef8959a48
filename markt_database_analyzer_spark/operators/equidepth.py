"""Exact order statistics and equi-depth bucketing without a total sort.

The scale path for every "rank the whole table" operator family
(equi-depth histograms, quantile scores, calibration bins, quantile
normalization): ``ntile``/``row_number`` over an un-partitioned Window
funnels the full table through ONE task — correct on a fixture, dead at
100 TB. The published replacement (equi-depth histogram construction in
every warehouse engine; SUMMARY/percentile pushdown in Spark itself via
``percentile_approx``) derives BUCKET BOUNDARIES from a value-domain
aggregation, broadcasts the (tiny) boundary list, and assigns buckets
with a map-only comparison. Here the boundaries are EXACT, not sketched,
so DuckDB oracles can replay them bit-for-bit:

1. ``groupBy(value) -> count`` — domain-sized, map-side combined;
2. a two-level distributed prefix sum over the ascending value domain
   (range partition -> per-partition totals, collected: one row per
   partition -> partitioned within-partition running sum + broadcast
   offsets) — no single-partition WindowExec anywhere;
3. ``min(v) where cum >= k`` for the (model-sized) target rank list —
   the exact k-th order statistics;
4. bucket assignment as ``1 + sum(value > boundary_b)`` over literal
   boundaries — pure map work, whole-stage codegen.

Cost: two small shuffles over the DISTINCT-VALUE frame (bounded by the
value domain, not the row count) plus one scan for assignment. Driver
traffic: one row per partition + one row per requested rank — the
sanctioned O(model) collect shape.

Reference parity: the reference has no order-statistic operators; this
module exists for the engine's own analytics entries (SURVEY.md §2 gaps
it fills are catalog-internal). Cross-engine determinism: rank targets
use exact integer arithmetic (``ceil(b*n/B)`` as ``(b*n + B - 1) div B``)
mirrored literally in the SQL oracles; boundary values are data values,
never interpolated floats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def value_counts_cum(
    df: DataFrame, value: Column, weight: Column | None = None
) -> tuple[DataFrame, int]:
    """Inclusive running count over the ascending distinct-value domain.

    Returns ``(frame, n)`` where the frame has columns ``v`` (distinct
    value), ``cnt`` (multiplicity — or the integral ``weight`` sum when
    given, e.g. token counts for equal-work sharding) and ``cum``
    (inclusive prefix total in value order), and ``n`` is the grand
    total. The prefix sum is two-level: ``repartitionByRange`` by value,
    per-partition totals (collected — one row per partition), then a
    PARTITIONED window for the within-partition running sum plus a
    broadcast offset map. The ``localCheckpoint`` pins partition ids so
    the totals job and the window job see the same physical
    partitioning.

    NULL contract: NULL values are EXCLUDED from the domain (and from
    ``n``) — Spark windows sort NULLs first while DuckDB's ``ORDER BY``
    puts them last, so a NULL row would silently shift every rank
    between the two engines. :func:`sql_cuts_ctes` applies the matching
    ``WHERE ... IS NOT NULL`` so the replay stays bit-for-bit.
    """
    agg = F.count(F.lit(1)) if weight is None else F.sum(weight)
    vc = (
        df.where(value.isNotNull())
        .groupBy(value.alias("v"))
        .agg(agg.alias("cnt"))
    )
    p = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        vc.repartitionByRange(p, "v")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = sorted(
        (r["pid"], r["t"])
        for r in ranged.groupBy("pid").agg(F.sum("cnt").alias("t")).collect()
    )
    n = int(sum(t for _, t in totals))
    offsets: dict[int, int] = {}
    acc = 0
    for pid, t in totals:
        offsets[pid] = acc
        acc += int(t)
    if offsets:
        off = F.create_map(
            *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
        )
        off_col = F.coalesce(off[F.col("pid")], F.lit(0))
    else:
        # empty domain (empty source / all-NULL value): an argless
        # create_map() types as map<void,void> and fails analysis
        off_col = F.lit(0)
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ranged.select(
        "v",
        "cnt",
        (F.sum("cnt").over(w) + off_col).alias("cum"),
    )
    return cum, n


def grouped_value_counts_cum(
    df: DataFrame,
    group: Column,
    value: Column,
    broadcast_offsets_above: int = 4096,
) -> tuple[DataFrame, dict]:
    """Per-group inclusive running count over each group's ascending
    distinct-value domain — the grouped form of :func:`value_counts_cum`
    and the scale path for every per-group rank window (a
    ``row_number().over(partitionBy(group))`` funnels a whole group —
    n/#groups rows — through one task; here no task ever sees more than
    one range slice). Range partition on (g, v); per-(partition, group)
    totals collected (at most partitions + groups rows — each group
    spans <= 2 range slices in expectation); PARTITIONED within-slice
    running sum plus per-(pid, g) offsets.
    Returns ``(frame(g, v, cnt, cum), {g: n_g})``.

    Offset application is two-geared: up to ``broadcast_offsets_above``
    (pid, g) keys the offsets ride as a ``create_map`` literal (zero
    extra plan nodes, constant-folded); above it they become a
    BROADCAST-JOINED frame — a plan-literal map over a high-cardinality
    group column would inflate the serialized plan linearly in #groups
    and re-ship it with every task. Both gears
    produce identical values (pinned by test).

    NULL contract: rows with a NULL group OR a NULL value are EXCLUDED —
    NULL values sort differently across engines (see
    :func:`value_counts_cum`) and a NULL group would collide in the
    'pid|g' offset key (``concat_ws`` drops NULL vs Python's 'None')."""
    vc = (
        df.where(group.isNotNull() & value.isNotNull())
        .groupBy(group.alias("g"), value.alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    p = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        vc.repartitionByRange(p, "g", "v")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = sorted(
        ((r["pid"], r["g"]), r["t"])
        for r in ranged.groupBy("pid", "g").agg(F.sum("cnt").alias("t")).collect()
    )
    n_g: dict = {}
    off_rows: list[tuple] = []
    for (pid, g), t in totals:
        off_rows.append((pid, g, n_g.get(g, 0)))
        n_g[g] = n_g.get(g, 0) + int(t)
    w = (
        Window.partitionBy("pid", "g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if not off_rows:
        joined = ranged  # empty domain — see value_counts_cum
        off_col = F.lit(0)
    elif len(off_rows) <= broadcast_offsets_above:
        off = F.create_map(
            *[F.lit(x) for pid, g, o in off_rows for x in (f"{pid}|{g}", o)]
        )
        key = F.concat_ws(
            "|", F.col("pid").cast("string"), F.col("g").cast("string")
        )
        joined = ranged
        off_col = F.coalesce(off[key], F.lit(0))
    else:
        from pyspark.sql import types as T

        off_df = df.sparkSession.createDataFrame(
            off_rows,
            T.StructType(
                [
                    T.StructField("pid", T.IntegerType(), False),
                    T.StructField("g", ranged.schema["g"].dataType, False),
                    T.StructField("goff", T.LongType(), False),
                ]
            ),
        )
        joined = ranged.join(F.broadcast(off_df), ["pid", "g"], "left")
        off_col = F.coalesce(F.col("goff"), F.lit(0))
    cum = joined.select(
        "g",
        "v",
        "cnt",
        (F.sum("cnt").over(w) + off_col).alias("cum"),
    )
    return cum, n_g


def grouped_values_at_ranks(cum: DataFrame, targets: dict) -> dict:
    """Per-group exact order statistics: ``targets`` maps each group to
    its 1-indexed rank list; returns ``{g: [v_k, ...]}``. One conditional
    min per (group, rank) inside a single aggregation — the collect is
    one row of sum(len(ranks)) scalars."""
    aggs = []
    names = []
    for g, ranks in targets.items():
        for i, k in enumerate(ranks):
            a = f"os_{len(names)}"
            aggs.append(
                F.min(
                    F.when((F.col("g") == g) & (F.col("cum") >= int(k)), F.col("v"))
                ).alias(a)
            )
            names.append((g, i))
    row = cum.agg(*aggs).collect()[0]
    out: dict = {g: [None] * len(r) for g, r in targets.items()}
    for j, (g, i) in enumerate(names):
        out[g][i] = row[f"os_{j}"]
    return out


def values_at_ranks(cum: DataFrame, ranks: list[int]) -> list:
    """Exact order statistics: for each 1-indexed rank ``k`` the smallest
    domain value whose inclusive prefix count reaches ``k``. One
    conditional-min per rank inside a SINGLE aggregation over the cum
    frame — map-side combined, no join, no window; the collect is one
    row of ``len(ranks)`` scalars."""
    aggs = [
        F.min(F.when(F.col("cum") >= int(k), F.col("v"))).alias(f"os_{i}")
        for i, k in enumerate(ranks)
    ]
    row = cum.agg(*aggs).collect()[0]
    return [row[f"os_{i}"] for i in range(len(ranks))]


def equi_depth_cut_points(
    df: DataFrame, value: Column, n_buckets: int, weight: Column | None = None
) -> list:
    """The ``n_buckets - 1`` exact equi-depth boundaries of ``value``:
    boundary ``b`` is the smallest value whose cumulative mass reaches
    ``ceil(b * n / B)`` (exact integer target math, mirrored by oracles
    as ``(b*n + B-1) // B``; ``n`` is the row count, or the integral
    ``weight`` total when given — equal-WORK sharding). Rows equal to a
    boundary fall in the LOWER bucket."""
    cum, n = value_counts_cum(df, value, weight)
    b = int(n_buckets)
    ranks = [(i * n + b - 1) // b for i in range(1, b)]
    return values_at_ranks(cum, ranks)


def bucket_by_cuts(value: Column, cuts: list) -> Column:
    """Map-only equi-depth bucket id (1-based) from literal boundaries:
    ``1 + sum(value > cut_b)`` — stays inside whole-stage codegen, no
    shuffle, no window."""
    out = F.lit(1)
    for c in cuts:
        out = out + F.when(value > F.lit(c), 1).otherwise(0)
    return out.cast("bigint")


def sql_cuts_ctes(
    source: str,
    value_sql: str,
    n_buckets: int,
    prefix: str = "",
    weight_sql: str | None = None,
) -> str:
    """DuckDB CTE fragment replaying :func:`equi_depth_cut_points`
    exactly: ``{prefix}cuts(b, c)`` holds the boundaries. ``source`` is a
    table name or CTE; ``value_sql`` the value expression;
    ``weight_sql`` an optional integral weight (mirrors the weighted
    Spark form). NULL values are excluded from the domain and from
    ``n``, matching :func:`value_counts_cum`'s NULL contract.

    Degenerate inputs (empty source / all-NULL value): the cuts CTE
    emits ZERO rows; a caller folding it with ``list(c ORDER BY b)``
    gets a NULL list (DuckDB aggregates over zero rows), which silently
    NULLs every downstream ``1 + len(list_filter(...))`` bucket while
    the Spark side (:func:`bucket_by_cuts` over all-NULL cut literals)
    yields bucket 1. Callers must therefore wrap the fold as
    ``coalesce(list(c ORDER BY b), [])`` — then both engines agree on
    bucket 1 for every surviving row."""
    b = int(n_buckets)
    agg = "count(*)" if weight_sql is None else f"sum({weight_sql})"
    notnull = f"({value_sql}) IS NOT NULL"
    return f"""{prefix}vc AS (
  SELECT {value_sql} AS v, {agg} AS cnt FROM {source} WHERE {notnull} GROUP BY 1
),
{prefix}cum AS (
  SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM {prefix}vc
),
{prefix}tot AS (SELECT CAST({agg} AS BIGINT) AS n FROM {source} WHERE {notnull}),
{prefix}cuts AS (
  SELECT b, min(v) AS c
  FROM {prefix}cum, {prefix}tot, (SELECT unnest(range(1, {b})) AS b)
  WHERE cum >= (b * n + {b - 1}) // {b}
  GROUP BY b
)"""

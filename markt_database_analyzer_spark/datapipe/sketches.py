"""Count-min sketch: fixed-size frequency estimation.

The CMS (Cormode & Muthukrishnan 2005) answers "how often did key k
occur?" with d*w counters regardless of key cardinality: d independent
hash rows of w buckets; update increments one bucket per row; the
estimate is the MIN over the d buckets, which never under-counts and
over-counts by <= eps*N (eps = e/w) with probability 1 - delta
(delta = e^-d).

Why it matters at 100 TB: the exact per-key count needs a shuffle keyed
by k (unbounded reducer state for heavy-hitter-rich streams); the sketch
needs a groupBy over at most d*w cells — partial aggregation collapses
every partition to <= d*w rows before the exchange, so shuffle volume is
CONSTANT in both row count and key cardinality. The same construction is
what `observe()`-style pipeline counters and streaming heavy-hitter
monitors use.

Hashing is the engine-portable md5-based :func:`hash60` family (one seed
per row) so an external SQL engine can replay the sketch bit-for-bit —
that is what makes the catalog entry value-oracled rather than
bound-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import hash60, sql_hash60


def sql_cms_bucket(expr: str, row: int, width: int) -> str:
    """DuckDB rendering of the bucket index of ``expr`` in sketch row
    ``row`` — the ``hash60(key, seed=row) % width`` that
    :func:`cms_cells` computes."""
    return f"(({sql_hash60(expr, seed=row)}) % {width})"


def cms_cells(df: DataFrame, key: Column, depth: int, width: int) -> DataFrame:
    """Build the d×w counter table from a key column.

    One explode (d structs per row, map-side) then one groupBy whose
    post-partial-agg output is <= d*w rows per partition — the exchange
    moves O(d*w * n_partitions) rows total, independent of data volume.
    Returns columns (d, b, c).
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("d"),
                        (hash60(key, seed=r) % F.lit(width)).alias("b"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("s")
    ).select("s.d", "s.b")
    return pairs.groupBy("d", "b").agg(F.count(F.lit(1)).alias("c"))


def cms_estimate(
    keys: DataFrame, key: Column, cells: DataFrame, depth: int, width: int
) -> DataFrame:
    """Point-query the sketch for each distinct key in ``keys``.

    ``cells`` is at most d*w rows — broadcast it; the per-key min over d
    probes is a tiny hash agg on the already-distinct key frame.
    Adds column ``est`` to ``keys``.
    """
    probes = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("d"),
                        (hash60(key, seed=r) % F.lit(width)).alias("b"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("s"),
    ).select("*", "s.d", "s.b").drop("s")
    joined = probes.join(F.broadcast(cells), ["d", "b"])
    group_cols = [c for c in keys.columns]
    return joined.groupBy(*group_cols).agg(F.min("c").alias("est"))


# ---------------------------------------------------------------------------
# HyperLogLog: fixed-size distinct-count estimation — round 12
# ---------------------------------------------------------------------------

HLL_P = 8                    # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_MAXRHO = 53              # hash60 gives 60 bits; 60 - p = 52 payload bits,
                             # so rho in [1, 53] (53 = all-zero payload)


def hll_registers(df: DataFrame, key: Column) -> DataFrame:
    """Build the m-register HLL table (Flajolet et al. 2007) from a
    string key column: bucket = hash60 mod m, rho = leading-zero count
    of the remaining 52 payload bits + 1, register = max(rho).

    Like the CMS, partial aggregation collapses every partition to
    <= m rows before the exchange — shuffle volume is CONSTANT in both
    row count and key cardinality, which is the whole point vs an exact
    countDistinct (whose distinct pre-aggregation state is unbounded).
    The rho extraction stays in exact integer arithmetic (bin() string
    length, not floating log2), so an external engine replays the
    registers bit-for-bit. Returns columns (bucket, mr)."""
    # integer DIV, never float division: hash60 values reach 2^60, past
    # the double mantissa — (h - h%m)/m through a double would corrupt
    # the payload bits
    hashed = df.select(hash60(key).alias("hv")).where(F.col("hv").isNotNull())
    payload = F.expr(f"hv DIV {HLL_M}")
    rho = F.when(payload == 0, F.lit(HLL_MAXRHO)).otherwise(
        F.lit(HLL_MAXRHO) - F.length(F.bin(payload))
    )
    return (
        hashed.select((F.col("hv") % F.lit(HLL_M)).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("mr"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Fold the register table (<= m rows) into the HLL estimate.

    The harmonic sum is computed as an exact BIGINT numerator
    (sum of 2^(MAXRHO - register), empty registers contributing
    2^MAXRHO each) so the only floating-point steps are one final
    division and the alpha scaling — identical in any engine. The
    standard small-range linear-counting correction applies when the
    raw estimate <= 2.5m and empty registers exist. One row out:
    (m, n_filled, v_empty, raw_est, est)."""
    two53 = float(1 << HLL_MAXRHO)
    agg = registers.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_filled"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_MAXRHO} - mr AS INT))")
        ).cast("bigint").alias("num_filled"),
    )
    v = F.lit(HLL_M) - F.col("n_filled")
    num = (
        F.coalesce(F.col("num_filled"), F.lit(0))
        + v.cast("bigint") * F.lit(1 << HLL_MAXRHO)
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(HLL_M)))
    raw = alpha * F.lit(float(HLL_M * HLL_M)) / (num.cast("double") / F.lit(two53))
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.lit(HLL_M).alias("m"),
        F.col("n_filled"),
        v.cast("bigint").alias("v_empty"),
        F.round(raw, 6).alias("raw_est"),
        F.round(est, 6).alias("est"),
    )


def sql_hll(expr: str, src: str) -> str:
    """DuckDB replay of hll_registers + hll_estimate over key ``expr``
    from relation ``src`` — same integer register build, same exact
    BIGINT numerator, same double composition order. Returns a CTE
    chain ending in ``hll_out(m, n_filled, v_empty, raw_est, est)``;
    callers embed it in their own WITH list and select from hll_out."""
    h = sql_hash60(expr)
    return f"""
hll_h AS (
  SELECT ({h}) AS hv FROM {src} WHERE {expr} IS NOT NULL
),
hll_cells AS (
  SELECT hv % {HLL_M} AS bucket,
         max(CASE WHEN hv // {HLL_M} = 0 THEN {HLL_MAXRHO}
                  ELSE {HLL_MAXRHO} - length(bin(hv // {HLL_M})) END) AS mr
  FROM hll_h GROUP BY 1
),
hll_agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_filled,
         CAST(sum(1::BIGINT << ({HLL_MAXRHO} - mr)) AS BIGINT) AS num_filled
  FROM hll_cells
),
hll_est AS (
  SELECT n_filled,
         ({HLL_M} - n_filled) AS v_empty,
         (coalesce(num_filled, 0)
          + ({HLL_M} - n_filled)::BIGINT * (1::BIGINT << {HLL_MAXRHO})) AS num
  FROM hll_agg
),
hll_out AS (
SELECT CAST({HLL_M} AS INT) AS m,
       n_filled,
       CAST(v_empty AS BIGINT) AS v_empty,
       round((0.7213 / (1.0 + 1.079 / {float(HLL_M)}))
             * {float(HLL_M * HLL_M)}
             / (CAST(num AS DOUBLE) / {float(1 << HLL_MAXRHO)}), 6) AS raw_est,
       round(CASE WHEN (0.7213 / (1.0 + 1.079 / {float(HLL_M)}))
                       * {float(HLL_M * HLL_M)}
                       / (CAST(num AS DOUBLE) / {float(1 << HLL_MAXRHO)})
                       <= {2.5 * HLL_M}
                  AND v_empty > 0
                  THEN {float(HLL_M)} * ln({float(HLL_M)} / CAST(v_empty AS DOUBLE))
                  ELSE (0.7213 / (1.0 + 1.079 / {float(HLL_M)}))
                       * {float(HLL_M * HLL_M)}
                       / (CAST(num AS DOUBLE) / {float(1 << HLL_MAXRHO)})
             END, 6) AS est
FROM hll_est
)"""


# ---------------------------------------------------------------------------
# Bloom filter: fixed-size set membership — round 12
# ---------------------------------------------------------------------------

BLOOM_M = 2048               # bits
BLOOM_K = 3                  # hash functions (hash60 seeds 0..k-1)


def bloom_bits(df: DataFrame, key: Column) -> DataFrame:
    """Build the set-bit table of a Bloom filter (Bloom 1970) from a
    string key column: k seeded hashes mod m, distinct positions.

    The CMS/HLL scale argument again: the distinct-aggregate output is
    <= m rows per partition after partial aggregation, so the exchange
    is CONSTANT in build-set cardinality; the resulting <= m-row bit
    table broadcasts to probes. Returns one column (pos)."""
    return (
        df.select(
            F.explode(
                F.array(
                    *[hash60(key, seed=s) % F.lit(BLOOM_M) for s in range(BLOOM_K)]
                )
            ).alias("pos")
        )
        .where(F.col("pos").isNotNull())
        .distinct()
    )


def bloom_maybe(probes: DataFrame, key: Column, bits: DataFrame) -> DataFrame:
    """Probe the filter: a key is maybe-present iff ALL k of its
    positions are set. Implemented as explode(k positions) → broadcast
    semi-match against the <= m-row bit table → per-key hit count == k.
    Adds column ``maybe`` to ``probes`` (which must be distinct on the
    probe key)."""
    exploded = probes.select(
        "*",
        F.explode(
            F.array(
                *[hash60(key, seed=s) % F.lit(BLOOM_M) for s in range(BLOOM_K)]
            )
        ).alias("pos"),
    )
    hits = exploded.join(F.broadcast(bits), "pos").groupBy(*probes.columns).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        probes.join(hits, probes.columns, "left")
        .withColumn("maybe", F.coalesce(F.col("n_hit"), F.lit(0)) == F.lit(BLOOM_K))
        .drop("n_hit")
    )


def sql_bloom(key_expr: str, build_src: str, probe_src: str) -> str:
    """DuckDB replay of bloom_bits + bloom_maybe: same seeded hash60
    positions, same all-k-set membership rule. Returns a CTE chain
    ending in ``bloom_probe(k, is_member, maybe)`` — one row per
    distinct probe key with its exact membership and the filter's
    answer."""
    bits_union = " UNION ALL ".join(
        f"SELECT DISTINCT {sql_hash60(key_expr, seed=s)} % {BLOOM_M} AS pos FROM {build_src}"
        for s in range(BLOOM_K)
    )
    return f"""
bloom_bits AS (
  SELECT DISTINCT pos FROM ({bits_union})
),
probe_keys AS (
  SELECT DISTINCT {key_expr} AS k,
         {key_expr} IN (SELECT {key_expr} FROM {build_src}) AS is_member
  FROM {probe_src} WHERE {key_expr} IS NOT NULL
),
probe_pos AS (
  SELECT k,
         unnest([{", ".join(f"{sql_hash60('k', seed=s)} % {BLOOM_M}" for s in range(BLOOM_K))}]) AS pos
  FROM probe_keys
),
probe_hits AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_hit
  FROM probe_pos WHERE pos IN (SELECT pos FROM bloom_bits)
  GROUP BY k
),
bloom_probe AS (
  SELECT p.k, p.is_member,
         coalesce(h.n_hit, 0) = {BLOOM_K} AS maybe
  FROM probe_keys p LEFT JOIN probe_hits h USING (k)
)"""


# ---------------------------------------------------------------------------
# Q-digest: deterministic mergeable QUANTILE sketch — round 13
# ---------------------------------------------------------------------------

QD_K = 10                    # dyadic levels; universe U = 2^k = 1024
QD_U = 1 << QD_K
QD_SIGMA = 64                # compression factor; thr = n // sigma


def qdigest_build(leaf_counts: dict[int, int]) -> tuple[list[tuple[int, int, int]], int]:
    """Bottom-up batch q-digest construction (Shrivastava et al. 2004)
    from an exact leaf histogram over the dyadic universe [0, 2^k):
    ascending level L, each parent absorbs its two children iff their
    combined count <= thr = n // sigma (children removed, frozen
    otherwise). Mass keeps climbing while sparse — dense leaves stay
    exact, which is why a leaf with cnt > thr contributes ZERO rank
    uncertainty (its range is one value). Returns (nodes, thr) with
    nodes = [(level, idx, cnt), ...], cnt > 0 — at most 2*sigma + 1 of
    them once compression engages (each freeze event needs a pair-sum
    > thr, and there are < n/thr = sigma such pairs; below sigma rows
    nothing compresses and the digest IS the exact histogram).

    Deterministic by construction — pure integer arithmetic over an
    exact histogram — so the DuckDB oracle replays it node-for-node."""
    n = sum(leaf_counts.values())
    thr = n // QD_SIGMA
    cl = [0] * QD_U
    for u, c in leaf_counts.items():
        if not 0 <= u < QD_U:
            raise ValueError(f"leaf key {u} outside the dyadic universe [0, {QD_U})")
        cl[u] = c
    frozen: list[tuple[int, int, int]] = []
    for level in range(QD_K):
        half = len(cl) // 2
        nxt = [0] * half
        for p in range(half):
            s = cl[2 * p] + cl[2 * p + 1]
            if s and s <= thr:
                nxt[p] = s
            else:
                if cl[2 * p]:
                    frozen.append((level, 2 * p, cl[2 * p]))
                if cl[2 * p + 1]:
                    frozen.append((level, 2 * p + 1, cl[2 * p + 1]))
        cl = nxt
    if cl[0]:
        frozen.append((QD_K, 0, cl[0]))
    return frozen, thr


def qdigest_quantile(nodes: list[tuple[int, int, int]], rank: int) -> int:
    """Quantile query: nodes ordered by (upper bound asc, level asc —
    smaller ranges first on ties), cumulative count; the estimate is
    the upper bound of the first node where the running sum reaches
    ``rank``. Integer-only, the same total order the oracle uses."""
    ordered = sorted(
        ((idx + 1) * (1 << level) - 1, level, cnt) for level, idx, cnt in nodes
    )
    cum = 0
    for upper, _, cnt in ordered:
        cum += cnt
        if cum >= rank:
            return upper
    return QD_U - 1


def qdigest_merge(
    a: list[tuple[int, int, int]], b: list[tuple[int, int, int]]
) -> tuple[list[tuple[int, int, int]], int]:
    """Merge two q-digests (the cross-partition / cross-corpus
    combiner): node counts add per (level, idx), then the standard
    re-compression runs bottom-up with the COMBINED threshold
    thr = (n_a + n_b) // sigma. Unlike the leaf build, nodes now exist
    at every level, so a parent's own pre-existing mass joins the
    merge test: at level L, total = parent + left + right merges iff
    0 < total <= thr (children dropped), else the children freeze with
    their counts and the parent keeps its own. Same guarantees as the
    build — never-undershoot survives because every counted node's
    range still lies wholly at-or-below its upper bound, and the
    per-level uncertainty stays <= thr (merged nodes are <= thr;
    frozen leaves are exact single values). Returns (nodes, thr)."""
    n = sum(c for _, _, c in a) + sum(c for _, _, c in b)
    thr = n // QD_SIGMA
    per_level: list[dict[int, int]] = [dict() for _ in range(QD_K + 1)]
    for nodes in (a, b):
        for level, idx, cnt in nodes:
            if not 0 <= level <= QD_K:
                raise ValueError(f"node level {level} outside [0, {QD_K}]")
            per_level[level][idx] = per_level[level].get(idx, 0) + cnt
    frozen: list[tuple[int, int, int]] = []
    for level in range(QD_K):
        cur, nxt = per_level[level], per_level[level + 1]
        for p in sorted({i // 2 for i in cur}):
            left = cur.get(2 * p, 0)
            right = cur.get(2 * p + 1, 0)
            total = nxt.get(p, 0) + left + right
            if 0 < total <= thr:
                nxt[p] = total
            else:
                if left:
                    frozen.append((level, 2 * p, left))
                if right:
                    frozen.append((level, 2 * p + 1, right))
    root = per_level[QD_K].get(0, 0)
    if root:
        frozen.append((QD_K, 0, root))
    return frozen, thr

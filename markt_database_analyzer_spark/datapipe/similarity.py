"""Similarity search over embedding columns (array<float>).

Two paths, same contract (query ids → top-k neighbors by cosine):

- ``brute_force_topk``: exact. Broadcast the (small) query set, score every
  corpus row, per-query top-k via window. Scoring is a JVM-side fold over
  the zipped arrays — no UDF, no Python. At 100 TB this is one scan +
  one small shuffle of (query_id, k) rows per partition.
- ``ivf_topk``: approximate scale path. A coarse quantizer (here: the
  pre-assigned ``label`` as the cell id, i.e. IVF with externally-trained
  centroids, the AnalyticDB-V/FAISS shape) restricts scoring to the
  ``nprobe`` cells nearest the query → touches 1/cells of the corpus.
  Centroids are computed distributively (posexplode + per-dimension mean).

Cosines are computed in float64 after casting (float32 arithmetic is not
portable across engines) and rounded to 9 dp so rank ties are stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.aggregates import NANO, sql_qlong
from .util import banded_pairs, fan_out, sql_banded_pairs


def _dlit(v: float) -> str:
    """SQL DOUBLE literal with exact round-trip: repr() is the shortest
    decimal that re-parses to the same double; the D suffix stops Spark
    from typing it DECIMAL."""
    return f"{float(v)!r}D"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (cast upstream),
    rounded to 9 dp."""
    return F.round(F.try_divide(_dot(a, b), _norm(a) * _norm(b)), 9)


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the two norms precomputed per *row* instead of per
    *pair* — bit-identical result (same expressions, evaluated once), 3×
    less interpreted-HOF fold work on pair-heavy plans. The folds sit
    outside whole-stage codegen, so hoisting them out of the O(pairs) loop
    is the single biggest lever in the similarity paths."""
    return F.round(F.try_divide(_dot(a, b), na * nb), 9)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query row.

    Output: (query_id, neighbor_id, cos, rank). Self-matches excluded.
    """
    c = fan_out(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec")
        )
    ).withColumn("cnrm", _norm(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qvec")
    ).withColumn("qnrm", _norm(F.col("qvec")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_with_norms(F.col("qvec"), F.col("cvec"), F.col("qnrm"), F.col("cnrm")))
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivf_centroids(corpus: DataFrame, cell_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Per-cell centroid vectors, computed distributively: posexplode the
    vectors, mean per (cell, dimension), re-assemble ordered arrays."""
    dims = (
        corpus.select(F.col(cell_col).alias("cell"), F.posexplode(F.col(vec_col).cast("array<double>")))
        .groupBy("cell", "pos")
        .agg(F.avg("col").alias("v"))
    )
    return dims.groupBy("cell").agg(
        F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv")
    ).select("cell", F.transform("pv", lambda s: s["v"]).alias("centroid"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k: score only rows in the ``nprobe`` cells whose
    centroids are nearest each query. Output as brute_force_topk plus the
    probed flag is implicit in the smaller candidate set.

    ``centroids``: the coarse quantizer's own centroids, driver-side (as
    :func:`kmeans_model` returns). FAISS-style IVF probes with the
    centroids that DEFINE the cells; passing them skips a two-shuffle
    distributed re-estimation pass. When absent (externally-labeled
    cells), centroids are computed from the corpus."""
    if centroids is not None:
        cents = corpus.sparkSession.createDataFrame(
            [(int(c), list(map(float, v))) for c, v in centroids],
            "cell int, centroid array<double>",
        )
    else:
        cents = ivf_centroids(corpus, cell_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.col("cell"))
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("ccos", cosine(F.col("qvec"), F.col("centroid")))
        .withColumn("crank", F.row_number().over(probe_w))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "qvec", "cell")
    )
    c = fan_out(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(cell_col).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
    ).withColumn("cnrm", _norm(F.col("cvec")))
    scored = (
        c.join(F.broadcast(probed.withColumn("qnrm", _norm(F.col("qvec")))), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_with_norms(F.col("qvec"), F.col("cvec"), F.col("qnrm"), F.col("cnrm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    min_cos: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by cell (IVF-style):
    only intra-cell pairs are scored — the standard recall/cost trade
    against a full O(n²) sweep."""
    c = fan_out(
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(cell_col).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
    ).withColumn("nrm", _norm(F.col("vec")))
    a, b = c.alias("a"), c.alias("b")
    # The cell join fans IN to one task per distinct cell, but emits
    # quadratically many pairs on which the (interpreted-fold) cosine is
    # the dominant cost — so re-spread the pairs round-robin before
    # scoring. At scale this is the same fix: all-pairs-within-cell is
    # quadratic work generated from linear input, and the exchange moves
    # only (ids, vecs, norms) for surviving pairs.
    pairs = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vec").alias("vec_a"),
            F.col("b.vec").alias("vec_b"),
            F.col("a.nrm").alias("nrm_a"),
            F.col("b.nrm").alias("nrm_b"),
        )
        .repartition(c.sparkSession.sparkContext.defaultParallelism)
    )
    return (
        pairs.withColumn(
            "cos", cosine_with_norms(F.col("vec_a"), F.col("vec_b"), F.col("nrm_a"), F.col("nrm_b"))
        )
        .filter(F.col("cos") >= min_cos)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    )


def assign_cells_local(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign each vector to its nearest centroid with the centroids
    injected as LITERALS (model state is O(k·dims) — it belongs in the
    plan, not in a join). The argmin is row-local column math: one
    ``transform`` computes all k squared distances, ``array_position`` of
    the min picks the cell. No crossJoin, no window, no shuffle — each
    Lloyd assignment pass is map-only, which is the property that makes
    the iteration count affordable at any corpus size.

    Ties break to the lowest cell id: centroids are laid out in
    ascending cell order and ``array_position`` returns the first
    occurrence of the min.

    The whole argmin is rendered as ONE SQL expression string: k·dims
    double literals via ``F.lit`` would be k·dims py4j round trips of
    driver time per pass (measured ~0.8 s for 10×64); ``repr(float)`` is
    shortest-round-trip decimal, so the parsed doubles are bit-identical.
    An Arrow-kernel form was measured slower at this model size: the
    Python-worker round trip costs more than the interpreted fold."""
    ordered = sorted(cents)

    def sqdist_sql(cvec: list[float]) -> str:
        arr = ", ".join(_dlit(v) for v in cvec)
        return (
            f"aggregate(zip_with(cast(`{vec_col}` as array<double>), array({arr}), "
            "(x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, x) -> acc + x)"
        )

    dists = "array(" + ", ".join(sqdist_sql(cvec) for _, cvec in ordered) + ")"
    cell_ids = "array(" + ", ".join(str(int(cell)) for cell, _ in ordered) + ")"
    best = (
        f"element_at({cell_ids}, cast(array_position({dists}, array_min({dists})) as int))"
    )
    return fan_out(corpus).withColumn("cell", F.expr(best))


def kmeans_cells(
    corpus: DataFrame,
    k: int = 10,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`kmeans_model` without the model — kept for callers that
    only need the assignment column."""
    assigned, _ = kmeans_model(corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    return assigned


def kmeans_model(
    corpus: DataFrame,
    k: int = 10,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Learn an IVF coarse quantizer with ``iters`` distributed Lloyd
    iterations: deterministic seeding (the k lowest-id vectors), then
    assign (literal centroids, map-only — :func:`assign_cells_local`) /
    re-estimate (posexplode + per-dimension mean) rounds. Returns
    ``(assigned corpus with a cell column, centroids)`` — the quantizer
    model ``ivf_topk`` probes with. Each iteration costs exactly one
    aggregation shuffle (the centroid mean); at 100 TB this is the
    standard Spark k-means shape (MLlib's kmeans|| differs only in
    seeding).

    Centroids are O(k·dims) model state, so each iteration materializes
    them on the driver (``collect`` of k tiny rows) and re-injects them
    as literals — truncating the lineage that would otherwise re-run
    every prior iteration in every consumer branch (MLlib keeps
    centroids driver-side for the same reason).

    The fan_out'ed corpus is pinned ONCE up front, so the seed collect,
    all ``iters`` Lloyd rounds (assignment pass + centroid
    re-estimation) and the returned assignment read the cached frame
    instead of re-scanning the source and re-paying the fan_out
    exchange (MEMORY_AND_DISK: spills, never OOMs). That pin is released
    before returning, once the returned assignment is materialized in its
    own cache; the assignment's cache is the caller's to release."""
    base = fan_out(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seed_rows = (
            base.orderBy(id_col)
            .limit(k)
            .select(F.col(vec_col).cast("array<double>").alias("centroid"))
            .collect()
        )
        # cell ids by ascending centroid (lexicographic — matches Spark's
        # array ordering), same as the historical row_number() seeding.
        cents = [(i, list(r["centroid"])) for i, r in enumerate(sorted(seed_rows, key=lambda r: list(r["centroid"])))]
        assigned = base
        for i in range(iters):
            assigned = assign_cells_local(base, cents, id_col, vec_col)
            if i < iters - 1:
                # Re-estimated centroids are rounded to 9 dp at the collect
                # boundary: the mean's last ulps depend on partial-agg merge
                # order (Spark) and engine (DuckDB oracle replay), so the
                # literals re-injected into the next assignment pass are pinned
                # to a representation every engine reproduces exactly. Seeds
                # are NOT rounded — they are raw corpus values (float32→double
                # is exact everywhere).
                cents = [
                    (int(r["cell"]), [round(float(v), 9) for v in r["centroid"]])
                    for r in ivf_centroids(assigned, cell_col="cell", vec_col=vec_col).collect()
                ]
        # persist the final assignment: every IVF consumer (centroid
        # estimation, probe, scoring) branches off it, and recomputing the
        # assignment pass per branch dominates otherwise. The caller owns the
        # cache lifetime (same contract as MLlib model dataframes). Materialize
        # it first so that releasing ``base`` costs no consumer a re-scan.
        assigned = assigned.persist()
        assigned.count()
    finally:
        base.unpersist()
    return assigned, cents


# ---------------------------------------------------------------------------
# Signed-random-projection LSH (hyperplane hashing, Charikar 2002 shape)
# ---------------------------------------------------------------------------

SRP_BITS = 16
SRP_BANDS = 4
SRP_DIM = 64  # embedding width the SRP oracles render their matrix for


def sql_kmeans_ctes(k: int = 10, iters: int = 3) -> tuple[str, str, str]:
    """Shared DuckDB replay of the distributed Lloyd iterations of
    :func:`kmeans_model`:
    deterministic seeding (k lowest-id vectors, cell ids by lexicographic
    centroid order), then ``iters`` unrolled rounds (argmin assignment
    with min-cell tiebreak / per-dimension mean rounded to 9 dp — the
    same pin the Spark side applies at its collect boundary). Returns
    ``(cte_body, final_assign_name, final_cents_name)`` for composition
    into a WITH chain (the chain must start with a ``corpus(vec_id, vec)``
    CTE)."""
    dist = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (e.vec[i] - c.centroid[i]) * (e.vec[i] - c.centroid[i])))"
    )

    def assign(n: int, cents: str) -> str:
        return f"""
assign{n} AS (
  SELECT vec_id, vec, cell FROM (
    SELECT e.vec_id, e.vec, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cell) AS rn
    FROM corpus e CROSS JOIN {cents} c
  ) WHERE rn = 1
)"""

    steps = [
        f"seedv AS (SELECT vec FROM corpus ORDER BY vec_id LIMIT {k})",
        "cents0 AS (SELECT row_number() OVER (ORDER BY vec) - 1 AS cell, vec AS centroid FROM seedv)",
    ]
    cents = "cents0"
    for i in range(iters):
        steps.append(assign(i, cents))
        if i < iters - 1:
            cents = f"cents{i + 1}"
            steps.append(
                f"""
cents{i + 1} AS (
  SELECT cell, list(cv ORDER BY pos) AS centroid FROM (
    SELECT cell, pos, round(avg(v), 9) AS cv FROM (
      SELECT cell, unnest(generate_series(1, 64)) AS pos, unnest(vec) AS v
      FROM assign{i}
    ) GROUP BY cell, pos
  ) GROUP BY cell
)"""
            )
    return ",".join(steps), f"assign{iters - 1}", cents

def srp_matrix(dim: int, bits: int = SRP_BITS) -> list[list[float]]:
    """±1 hyperplane normals derived from md5 — deterministic across runs,
    engines, and machines (no RNG state), so oracles can replay them.
    Rademacher (±1) projections satisfy the same Johnson-Lindenstrauss
    bounds as Gaussian ones and keep every literal exact in float64."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"srp|{p}|{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
            for i in range(dim)
        ]
        for p in range(bits)
    ]


def srp_band_codes(vec: Column, mat: list[list[float]], bands: int = SRP_BANDS) -> list[Column]:
    """One integer code per band: ``bits/bands`` sign bits packed together.
    Sign = round(dot, 9) >= 0 — the rounding pins boundary behavior to the
    same 9-dp grid both engines use for cosines. Row-local expression work,
    fully map-side."""
    bits = len(mat)
    rows = bits // bands
    bit = []
    for p, row in enumerate(mat):
        proj = F.array(*[F.lit(v) for v in row])
        bit.append(F.when(F.round(_dot(vec, proj), 9) >= 0, 1).otherwise(0))
    out = []
    for b in range(bands):
        code = F.lit(0)
        for j in range(rows):
            code = code + bit[b * rows + j] * F.lit(1 << j)
        out.append(code.cast("int"))
    return out


def srp_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = SRP_DIM,
    min_cos: float = 0.9,
    bits: int = SRP_BITS,
    bands: int = SRP_BANDS,
) -> DataFrame:
    """Embedding near-dup pairs via banded hyperplane LSH.

    bits=16 split into 4 bands of 4: a pair is a candidate iff all 4 sign
    bits of SOME band agree (for cos=0.95 that's ~98% recall vs ~18% for
    one 16-bit band). Candidates from the 4 band equi-joins are
    deduplicated, then verified with the exact cosine — the same
    generate-cheap/verify-exact split as MinHash LSH. Only
    (band_id, band_code, id) ever shuffles; vectors stay put until the
    (small) verified-candidate join."""
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vecs = corpus.select(F.col(id_col).alias("vid"), vecd.alias("vec"))
    # Skinny (vid, band_id, band_code) frame — the band self-join shuffles
    # 12-byte rows, never vectors. Codes come from the vectorized Arrow
    # projector (bit-identical to the per-bit expression fold — pinned by
    # test_srp_sized_agrees_with_expression_codes); the checkpoint keeps
    # the projection evaluated once for both sides of banded_pairs' join.
    codes = srp_codes_arrow(corpus, id_col, vec_col, dim, bits, bands).localCheckpoint(
        eager=True
    )
    cand = banded_pairs(
        codes.select(F.col("vid").alias("id"), "band_id", F.col("band_code").alias("band_key"))
    )
    scored = (
        fan_out(cand)
        .join(vecs.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a")), "id_a")
        .join(vecs.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b")), "id_b")
        .withColumn("cos", cosine(F.col("vec_a"), F.col("vec_b")))
    )
    return scored.filter(F.col("cos") >= min_cos).select("id_a", "id_b", "cos")


SRP_SIZED_BANDS = 16


def srp_sizing(n: int, bands: int = SRP_SIZED_BANDS) -> tuple[int, int]:
    """Corpus-sized SRP band geometry (the standard LSH sizing; Indyk &
    Motwani's rho-analysis specialized to hyperplane hashing): bits per
    band ``r = max(8, ceil(log2(n)))`` so the per-band random-pair
    collision rate ``~2^-r <= 1/n``. Expected random candidates are then
    ``bands * C(n,2) * 2^-r <= bands * n / 2`` — LINEAR in the corpus,
    vs the fixed-width demo geometry's ``Theta(n^2 * 2^-r)`` (measured
    r3: 13.1x wall / 57x shuffle on constant-density 10x data). The
    price of scale-safety is a log factor of per-row projection work
    (``bands * r`` sign bits instead of a constant 16); recall at a
    given cosine falls as r grows, which is the standard trade — at
    fixed recall targets, production systems raise ``bands`` with
    ``ln n`` too. Returns ``(bits_per_band, bands)``."""
    import math

    r = max(8, math.ceil(math.log2(max(n, 2))))
    return r, bands


def srp_codes_arrow(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bits: int,
    bands: int,
) -> DataFrame:
    """(vid, band_id, band_code) SRP codes via a vectorized Arrow
    projector. The sized geometry carries ``bands * r`` projections
    (176 at n=2k, 240 at n=20k); as per-bit column expressions those are
    interpreted HOF folds over a plan with bits x dim literal nodes —
    ~10 s of Catalyst analysis alone, then single-core evaluation. Here
    the batch does ``bits`` accumulations of ``dim`` elementwise
    products, ACCUMULATED IN ARRAY ORDER (``acc += v[:, i] * s_i`` per
    dim) — bit-identical to the sequential ``F.aggregate`` fold and to
    DuckDB's ``list_inner_product``, so the oracle still replays the
    sign bits exactly. The sign test mirrors ``round(dot, 9) >= 0``
    as ``dot > -5e-10`` (identical on every non-tie double). Map-only,
    partition-preserving; output rows are 12-byte (vid, band, code)."""
    import numpy as np
    import pyarrow as pa

    mat = np.array(srp_matrix(dim, bits), dtype=np.float64)  # bits x dim
    rows = bits // bands

    def project(batches):
        for batch in batches:
            vids = batch.column(id_col).to_numpy(zero_copy_only=False)
            arr = batch.column(vec_col)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            vecs = flat.reshape(len(vids), dim)
            m = len(vids)
            codes = np.zeros((m, bands), dtype=np.int32)
            for p in range(bits):
                acc = np.zeros(m, dtype=np.float64)
                for i in range(dim):
                    acc = acc + vecs[:, i] * mat[p, i]
                bit = (acc > -5e-10).astype(np.int32)
                codes[:, p // rows] |= bit << (p % rows)
            yield pa.record_batch(
                {
                    "vid": pa.array(np.repeat(vids, bands)),
                    "band_id": pa.array(np.tile(np.arange(bands, dtype=np.int32), m)),
                    "band_code": pa.array(codes.reshape(-1)),
                }
            )

    skinny = fan_out(corpus.select(F.col(id_col).alias(id_col), F.col(vec_col)))
    return skinny.mapInArrow(project, "vid long, band_id int, band_code int")


def srp_neardup_pairs_sized(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = SRP_DIM,
    min_cos: float = 0.9,
    n: int | None = None,
    bands: int = SRP_SIZED_BANDS,
) -> DataFrame:
    """:func:`srp_neardup_pairs` with ln(n)-sized bands (see
    :func:`srp_sizing`). ``n`` defaults to a ``count()`` of the corpus —
    on parquet sources that is metadata-cheap, and the sizing only needs
    the order of magnitude."""
    if n is None:
        n = corpus.count()
    r, b = srp_sizing(n, bands)
    return srp_neardup_pairs(corpus, id_col, vec_col, dim, min_cos, bits=r * b, bands=b)


def sql_srp_neardup_pairs(
    min_cos: float = 0.9,
    bits: int = SRP_BITS,
    bands: int = SRP_BANDS,
) -> str:
    """DuckDB rendering of :func:`srp_neardup_pairs` over
    :data:`SRP_DIM`-wide embeddings (same md5 matrix)."""
    mat = srp_matrix(SRP_DIM, bits)
    rows = bits // bands
    bit_exprs = [
        f"(CASE WHEN round(list_inner_product(vec, [{', '.join(repr(v) for v in row)}]), 9) >= 0 "
        f"THEN 1 ELSE 0 END)"
        for row in mat
    ]
    band_cols = ", ".join(
        "(" + " + ".join(f"{bit_exprs[b * rows + j]} * {1 << j}" for j in range(rows)) + f") AS b{b}"
        for b in range(bands)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT vid AS id, {b} AS band_id, b{b} AS band_key FROM codes" for b in range(bands)
    )
    return f"""
WITH corpus AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS vec FROM embeddings),
codes AS (SELECT vid, vec, {band_cols} FROM corpus),
bands AS ({band_union}),
cand AS ({sql_banded_pairs("bands")})
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(ca.vec, cb.vec), 9) AS cos
FROM cand c JOIN corpus ca ON c.id_a = ca.vid JOIN corpus cb ON c.id_b = cb.vid
WHERE round(list_cosine_similarity(ca.vec, cb.vec), 9) >= {min_cos}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Product quantization + asymmetric distance (Jégou et al. 2011 shape)
# ---------------------------------------------------------------------------

def pq_codebook(
    corpus: DataFrame, k: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic PQ codebook: the k lowest-id vectors, code = rank by
    id. (Training elided for oracle replayability — swap in one
    kmeans_model per subspace for trained codebooks; the encode/ADC
    machinery below is unchanged.) O(k·dims) model state — driver-side
    literals, the assign_cells_local contract."""
    rows = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    return [list(r["v"]) for r in rows]


def pq_encode_reconstruct(
    corpus: DataFrame,
    codebook: list[list[float]],
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector to m sub-codes (argmin squared-L2 per subspace
    against the shared codebook's subvectors, min-code tiebreak) and
    return the RECONSTRUCTED vector next to the codes. ADC equivalence:
    distance(query, reconstruction) == Σ_j LUT_j[code_j] — the scan-time
    lookup-table trick is an execution detail; the semantics live here.

    r14 (guide §4.2): the m·k literal-expression distance folds per row
    (the reference form tests/test_r14_optimization.py keeps) are
    interpreted HOFs; this Arrow kernel does the identical math vectorized —
    squared-distance terms accumulated IN SUBVECTOR ORDER (bit-identical
    to the sequential fold, the srp_codes_arrow pattern), argmin =
    ``np.argmin`` (first occurrence — identical to ``array_position`` of
    ``array_min``), and the reconstruction gathers the SAME float64
    codebook values the literal ``element_at`` returned. Bit-equality vs
    the expression form pinned there."""
    import numpy as np
    from pyspark.sql import types as T

    dims = len(codebook[0])
    if dims % m != 0:
        # a silent truncation here would reconstruct m*(dims//m) elements,
        # null-pad the downstream zip_with against the full-length query,
        # and turn the ADC top-k into a NULL-ordered arbitrary pick
        raise ValueError(
            f"PQ requires dims % m == 0 (got dims={dims}, m={m})"
        )
    sub = dims // m
    cb = np.array(codebook, dtype=np.float64)  # k x dims
    staged = fan_out(corpus).select(
        F.col(id_col),
        *extra_cols,
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    vec_pos = staged.columns.index("_v")
    schema = T.StructType(
        staged.schema.fields
        + [T.StructField(f"code{j}", T.IntegerType()) for j in range(m)]
        + [T.StructField("recon", T.ArrayType(T.DoubleType()))]
    )

    def encode(batches):
        import numpy as np
        import pyarrow as pa

        n_codes = cb.shape[0]
        for batch in batches:
            rows = batch.num_rows
            codes = np.zeros((rows, m), dtype=np.int32)
            recon = np.zeros((rows, dims), dtype=np.float64)
            if rows:
                flat = (
                    batch.column(vec_pos)
                    .flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.float64)
                )
                vecs = flat.reshape(rows, dims)
                for j in range(m):
                    dmat = np.empty((rows, n_codes), dtype=np.float64)
                    for ci in range(n_codes):
                        acc = np.zeros(rows, dtype=np.float64)
                        for i in range(j * sub, (j + 1) * sub):
                            d = vecs[:, i] - cb[ci, i]
                            acc = acc + d * d
                        dmat[:, ci] = acc
                    cj = np.argmin(dmat, axis=1)
                    codes[:, j] = cj
                    recon[:, j * sub : (j + 1) * sub] = cb[cj, j * sub : (j + 1) * sub]
            recon_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (rows + 1) * dims, dims, dtype=np.int32)),
                pa.array(recon.reshape(-1), type=pa.float64()),
            )
            yield pa.RecordBatch.from_arrays(
                list(batch.columns)
                + [pa.array(codes[:, j], type=pa.int32()) for j in range(m)]
                + [recon_arr],
                names=list(batch.schema.names)
                + [f"code{j}" for j in range(m)]
                + ["recon"],
            )

    return staged.mapInArrow(encode, schema)


def pq_adc_topk(
    corpus: DataFrame,
    n_queries: int = 10,
    topk: int = 5,
    k: int = 16,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: raw query vectors scored against the
    PQ-reconstructed corpus. The all-pairs crossJoin is the ADC scan by
    definition (queries broadcast; at scale the same scoring runs per
    IVF cell, composing with ivf_topk's probe exactly as IVF-PQ does)."""
    cb = pq_codebook(corpus, k=k, id_col=id_col, vec_col=vec_col)
    enc = pq_encode_reconstruct(corpus, cb, m=m, id_col=id_col, vec_col=vec_col)
    q = (
        corpus.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
    )
    l2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("recon"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        enc.select(F.col(id_col).alias("neighbor_id"), "recon")
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(l2, 9))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
        .orderBy("query_id", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    n_queries: int = 10,
    topk: int = 5,
    k_cells: int = 10,
    iters: int = 3,
    nprobe: int = 2,
    k_codes: int = 16,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full IVF-PQ: the learned coarse quantizer restricts the scan to
    ``nprobe`` cells per query, and within those cells queries score
    against PQ reconstructions (ADC). This is the standard billion-scale
    ANN memory tier — the coarse index bounds candidates, the product
    code bounds bytes/candidate — composed verbatim from kmeans_model,
    pq_encode_reconstruct, and the FAISS-style probe (rank cells by
    cosine to the quantizer's own centroids)."""
    assigned, cents = kmeans_model(corpus, k=k_cells, iters=iters, id_col=id_col, vec_col=vec_col)
    cb = pq_codebook(corpus, k=k_codes, id_col=id_col, vec_col=vec_col)
    enc = pq_encode_reconstruct(
        assigned, cb, m=m, id_col=id_col, vec_col=vec_col, extra_cols=("cell",)
    )
    cents_df = corpus.sparkSession.createDataFrame(
        [(int(c), list(map(float, v))) for c, v in cents],
        "cell int, centroid array<double>",
    )
    q = corpus.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.col("cell"))
    probed = (
        q.crossJoin(F.broadcast(cents_df))
        .withColumn("ccos", cosine(F.col("qv"), F.col("centroid")))
        .withColumn("crank", F.row_number().over(probe_w))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    l2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("recon"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        enc.select(F.col(id_col).alias("neighbor_id"), "cell", "recon")
        .join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(l2, 9))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# Greedy k-center (Gonzalez 1985) — the coreset-selection primitive of the
# data-pruning literature (select maximally-spread exemplars; every point
# is within the final max radius of some center, a 2-approximation of the
# optimal k-center cover).
# --------------------------------------------------------------------------

def _qdist_expr(vec_col: str, cvec: list[float]) -> str:
    """One SQL expression: nano-quantized squared L2 distance of
    ``vec_col`` to a literal centroid — per-TERM integer quantization so
    the sum is an order-free exact-integer reduction (the PCA/PageRank
    discipline), rendered as a single string to avoid k·dims py4j
    literal round trips (see assign_cells_local)."""
    arr = ", ".join(_dlit(v) for v in cvec)
    return (
        f"aggregate(zip_with(cast(`{vec_col}` as array<double>), array({arr}), "
        f"(x, y) -> {sql_qlong('(x - y) * (x - y)', NANO)}), "
        "cast(0 as bigint), (acc, t) -> acc + t)"
    )


def kcenter_select(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8
) -> DataFrame:
    """Greedy k-center selection. Seed = min id; each further center is
    the point FARTHEST (max min-distance, ties to min id) from the
    selected set. Returns one row per center: (rank, id, chosen_dq =
    its min-distance when selected, n_assigned, max_radius_q over its
    cell) — the coverage audit a pruning run reports.

    Execution shape: per step, ONE map-only column (quantized distance
    to the newly selected literal centroid), a least() fold into the
    running min-distance, and a 1-row argmax collect — k tiny driver
    rows total, the MLlib/kmeans_cells shape. Assignment reassigns on
    STRICT improvement, so ties keep the earlier center in both
    engines. At scale, persist the base projection once; each step is a
    single scan. The k sequential passes are inherent to Gonzalez (each
    pick depends on all previous picks); for large k pre-gate with a
    uniform hash sample or switch to afk-mc²-style seeding, trading
    Gonzalez's 2-approximation guarantee on the full corpus for
    cheaper passes."""
    rows = df.select(
        F.col(id_col).alias("pid"), F.col(vec_col).alias("vec")
    )
    seed = rows.orderBy("pid").limit(1).collect()[0]
    picks = [(0, seed["pid"], 0)]
    cvec = [float(v) for v in seed["vec"]]
    cur = rows.select(
        "pid",
        "vec",
        F.expr(_qdist_expr("vec", cvec)).alias("mind"),
        F.lit(0).alias("arank"),
    )
    # One eager cut per pick: the chained min-distance folds otherwise
    # stack k inlined-literal distance expressions (each carries the
    # full centroid vector as literals), and every argmax re-analyzes
    # and re-executes the whole chain — O(k^2) driver planning and
    # executor compute. Materialized, each step is one scan evaluating
    # exactly ONE new distance expression; same mind/arank data.
    cur = cur.localCheckpoint(eager=True)
    for i in range(1, k):
        far = cur.orderBy(F.desc("mind"), F.asc("pid")).limit(1).collect()[0]
        picks.append((i, far["pid"], far["mind"]))
        cvec = [float(v) for v in far["vec"]]
        nd = F.expr(_qdist_expr("vec", cvec))
        cur = cur.select(
            "pid",
            "vec",
            F.when(nd < F.col("mind"), nd).otherwise(F.col("mind")).alias("mind"),
            F.when(nd < F.col("mind"), F.lit(i)).otherwise(F.col("arank")).alias("arank"),
        )
        if i < k - 1:
            cur = cur.localCheckpoint(eager=True)
    stats = cur.groupBy("arank").agg(
        F.count(F.lit(1)).alias("n_assigned"), F.max("mind").alias("max_radius_q")
    )
    spark = df.sparkSession
    sel = spark.createDataFrame(
        [(r, int(p), int(d)) for r, p, d in picks], "rank int, pid bigint, chosen_dq bigint"
    )
    return (
        sel.join(stats, sel["rank"] == stats["arank"], "left")
        .select(
            "rank",
            F.col("pid").alias(id_col),
            "chosen_dq",
            F.coalesce("n_assigned", F.lit(0)).alias("n_assigned"),
            F.coalesce("max_radius_q", F.lit(0)).alias("max_radius_q"),
        )
        .orderBy("rank")
    )

"""Graph analytics as bounded-round joins (degrees, communities, walks).

Consolidated in round 9 from the round-named catalog shards (the
original per-round files are in git history; entry source text is
unchanged). Every entry registers in REGISTRY with a DuckDB oracle
unless documented otherwise; reference parity citations live in the
entry docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from .catalog import register, _t
from pyspark.sql import DataFrame, SparkSession, Window
from .catalog import SQL_DAVG, SQL_DSUM, register, _t
from .datapipe.clustering import triangle_stats
from .functions import dsum
from pyspark.sql import DataFrame, SparkSession
from .catalog import SQL_DAVG, register, _t
from .catalog import SQL_DAVG, SQL_NSUM, _t, register
from .functions import nsum


_PR_ITERS, _PR_D = 5, 0.85
def _pagerank_oracle() -> str:
    head = f"""
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY u),
verts AS (SELECT DISTINCT u AS v FROM edges),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM verts),
pr0 AS (SELECT v, 1.0 / (SELECT n FROM nn) AS pr FROM verts)"""
    iters = []
    for i in range(_PR_ITERS):
        iters.append(
            f""",
pr{i + 1} AS (
  SELECT e.v AS v,
         round((1.0 - {_PR_D}) / (SELECT n FROM nn)
               + {_PR_D} * {SQL_NSUM.format(x='p.pr / d.deg')}, 9) AS pr
  FROM edges e
  JOIN pr{i} p ON e.u = p.v
  JOIN deg d ON e.u = d.u
  GROUP BY e.v
)"""
        )
    tail = f"""
SELECT v AS vid,
       CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       v // 2 AS key, pr
FROM pr{_PR_ITERS}
ORDER BY pr DESC, vid LIMIT 20"""
    return head + "".join(iters) + tail
@register(
    "graph_pagerank_bipartite",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Brin-Page, damping 0.85, 5 synchronous iterations) over
    the undirected customer-supplier transaction graph. The Pregel-shape
    Spark program: the (edges JOIN deg) frame is built once and
    persisted; each iteration is one join (rank onto edge source) + one
    hash agg (sum contributions per destination) — the classic
    "iterative algorithms as repeated joins" pattern, with per-iteration
    plan truncation via the persisted edge frame rather than lineage
    growth. Each iteration's ranks are quantized on the NANO grid
    (contributions are ~1/(N*deg) — micro-units would erase them), which
    makes the whole 5-step trajectory bit-reproducible: the oracle
    replays it as 5 unrolled SQL CTEs and hash-matches the final top-20.
    At 100 TB: edges partition by source key; the per-iteration shuffle
    is degree-weighted rank mass, and a vertex-cut (GraphX-style) or
    salted hot-vertex split handles power-law degrees."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    edges = e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(deg, "u").persist()
    # |V| is a 1-row scalar (bounded driver state, the kcore count()
    # idiom); inlining it as a literal removes the nn broadcast subtree
    # every iteration used to rebuild. verts reads the persisted frame
    # so the base join runs once, not once per downstream branch.
    verts = edges_deg.select(F.col("u").alias("v")).distinct()
    n = verts.count()
    if n == 0:
        # Degenerate empty graph: the literal 1/n below would raise
        # ZeroDivisionError on the driver. Emit the empty output frame.
        return spark.createDataFrame(
            [], "vid bigint, kind string, key bigint, pr double"
        )
    # Python float division is the same IEEE-754 double op the old
    # lit(1.0)/col("n") evaluated in the JVM — bit-identical ranks.
    pr = verts.select("v", F.lit(1.0 / n).alias("pr"))
    for i in range(_PR_ITERS):
        pr_u = pr.select(F.col("v").alias("u"), F.col("pr").alias("pr_u"))
        # rank frame is vertex-cardinality — broadcast it so each
        # iteration is a map-side join + one partial-combined agg
        # (measured 14 s -> ~4 s at sf0.1). Above the broadcast
        # threshold a production run co-partitions ranks with the
        # persisted edge list instead (same plan minus the broadcast).
        s = (
            edges_deg.join(F.broadcast(pr_u), "u")
            .groupBy("v")
            .agg(nsum(F.col("pr_u") / F.col("deg")).alias("s"))
        )
        pr = s.select(
            "v",
            F.round(
                F.lit((1.0 - _PR_D) / n) + F.lit(_PR_D) * F.col("s"), 9
            ).alias("pr"),
        )
        # Lineage cut per iteration (the HITS/BFS discipline): without it
        # iteration i's broadcast subtree replays iterations 1..i-1, an
        # O(k^2) re-execution (174 Exchanges in the uncut plan).
        # The final iteration feeds TakeOrdered directly — no cut needed.
        if i < _PR_ITERS - 1:
            pr = pr.localCheckpoint(eager=True)
    out = pr.select(
        F.col("v").alias("vid"),
        F.when(F.col("v") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.expr("v div 2").alias("key"),
        "pr",
    ).orderBy(F.desc("pr"), "vid").limit(20)
    return out


_PATH_GAP_MIN = 30
_PATH_LEN = 3
@register(
    "paths_top_sequences",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > {_PATH_GAP_MIN} * 60000000 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(new_sess) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS BIGINT) AS sid
  FROM ordered
),
paths AS (
  SELECT user_id, sid,
         array_to_string(list(event_type ORDER BY ts, event_id)[1:{_PATH_LEN}],
                         '->') AS path
  FROM sess GROUP BY user_id, sid
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 20
""",
    tags=("paths", "sessionize", "sequence"),
)
def paths_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: sessionize per user (30-minute inactivity
    gap — the sessionize_events construction), take each session's
    first {_PATH_LEN} event types in (ts, event_id) order as its path
    signature, and rank the most common journeys. The collect per
    session is bounded at {_PATH_LEN} positions after an array_sort on
    a struct-encoded (ts, event_id, type) triple — deterministic
    ordering with one shuffle shared by both windows and the session
    group-by (same partitioning key). The path table is
    pattern-cardinality; this is the 'top user journeys' report every
    product-analytics engine ships."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _PATH_GAP_MIN * 60_000_000
    ordered = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
                > gap_us
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = ordered.withColumn(
        "sid", F.sum("new_sess").over(w).cast("bigint")
    )
    paths = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda s: s["event_type"],
                    ),
                    1,
                    _PATH_LEN,
                ),
                "->",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


def _copurchase_pairs(li: DataFrame, weighted: bool = False) -> DataFrame:
    """All (u < v) same-order part pairs in ONE aggregation pass —
    the shared edge build of every co-purchase graph entry. Per-order
    sorted item arrays (``collect_set`` partial-aggregates and dedups
    map-side when the consumer dedups anyway; ``collect_list`` when pair
    MULTIPLICITY feeds an edge weight) with the i<j position pairs
    unfolded row-locally, replacing the historical lineitem self-join
    that sort-merge-joined the fact table against itself and scanned it
    twice. Pair multiset identical to the self-join: the strict
    ``p.u < p.v`` residual excludes equal-partkey lineitem pairs exactly
    as ``a.l_partkey < b.l_partkey`` did, and sorted-array position
    pairs reproduce the cu*cv multiplicity of every u < v value pair
    (pinned by test_r14_optimization). Per-order fan-out is bounded by
    the order's item count (TPC-H: <= 7), so the unfold is O(k^2) on a
    tiny k, never a shuffle."""
    coll = F.collect_list if weighted else F.collect_set
    grouped = li.groupBy("l_orderkey").agg(
        F.array_sort(coll("l_partkey")).alias("ps")
    )
    return grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> filter(transform("
                "slice(ps, i + 2, size(ps)), y -> named_struct('u', x, 'v', y)), "
                "p -> p.u < p.v)))"
            )
        ).alias("p")
    ).select("p.u", "p.v")


def _sql_triangles() -> str:
    return """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS deg
  FROM (SELECT x AS node FROM e UNION ALL SELECT y AS node FROM e)
  GROUP BY node
),
o AS (
  SELECT CASE WHEN (dx.deg, e.x) < (dy.deg, e.y) THEN e.x ELSE e.y END AS a,
         CASE WHEN (dx.deg, e.x) < (dy.deg, e.y) THEN e.y ELSE e.x END AS b,
         CASE WHEN (dx.deg, e.x) < (dy.deg, e.y) THEN dy.deg ELSE dx.deg END AS db
  FROM e JOIN deg dx ON dx.node = e.x JOIN deg dy ON dy.node = e.y
),
w AS (
  SELECT o1.b AS w1, o2.b AS w2
  FROM o o1 JOIN o o2 ON o1.a = o2.a
  WHERE (o1.db, o1.b) < (o2.db, o2.b)
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM w JOIN o ON o.a = w.w1 AND o.b = w.w2
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges
  FROM deg
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(3.0 * n_triangles / nullif(CAST(n_wedges AS DOUBLE), 0.0), 9)
         AS global_clustering
FROM base, ne, tri
"""
@register(
    "graph_triangle_count",
    oracle=_sql_triangles(),
    tags=("graph", "triangle"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    co-purchase graph (parts sharing an order), via degree-ordered
    orientation (datapipe/clustering.py triangle_stats): every edge is
    oriented low→high under (degree, id), wedges are generated only from
    oriented adjacency, and each triangle is counted exactly once by
    closing the wedge against the oriented edge set. Out-degree after
    orientation is O(sqrt(m)) on ANY graph — the property that makes the
    wedge join survive power-law skew at 100 TB, where a raw neighbor
    self-join on a celebrity node would produce 1e14 wedge rows. All
    joins are equi-joins on node ids; the (deg, id) order is compared
    pairwise as a join residual, never materialized as a global rank.

    Edge build: the shared one-pass ``_copurchase_pairs`` — see
    its docstring for the equivalence argument vs the old self-join."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return triangle_stats(_copurchase_pairs(li))


_LP_ANCHOR_CAP = 200
_LP_MIN_COMMON = 2
_LP_TOPK = 20
_LP_MIN_W = 2  # edge weight threshold: co-purchased in >= 2 orders
def _sql_link_prediction() -> str:
    return f"""
WITH e AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_LP_MIN_W}
),
adj AS (
  SELECT x AS a, y AS n FROM e UNION ALL SELECT y AS a, x AS n FROM e
),
deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY a),
adjc AS (
  SELECT adj.a, adj.n FROM adj JOIN deg ON deg.node = adj.a
  WHERE deg.deg <= {_LP_ANCHOR_CAP}
),
wedge AS (
  SELECT a1.n AS u, a2.n AS v, CAST(count(*) AS BIGINT) AS common
  FROM adjc a1 JOIN adjc a2 ON a1.a = a2.a AND a1.n < a2.n
  GROUP BY a1.n, a2.n
  HAVING count(*) >= {_LP_MIN_COMMON}
),
nonedge AS (
  SELECT w.* FROM wedge w ANTI JOIN e ON w.u = e.x AND w.v = e.y
)
SELECT w.u, w.v, w.common AS common_neighbors,
       du.deg AS deg_u, dv.deg AS deg_v,
       round(CAST(w.common AS DOUBLE) / (du.deg + dv.deg - w.common), 9)
         AS jaccard_score
FROM nonedge w JOIN deg du ON du.node = w.u JOIN deg dv ON dv.node = w.v
ORDER BY jaccard_score DESC, common_neighbors DESC, u, v
LIMIT {_LP_TOPK}
"""
@register(
    "graph_link_prediction",
    oracle=_sql_link_prediction(),
    tags=("graph", "link-prediction"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the co-purchase graph: for
    unconnected part pairs sharing >= 2 neighbors, the neighborhood
    Jaccard score |N(u)∩N(v)| / |N(u)∪N(v)| — the classic
    recommendation/ER candidate generator. Wedges are generated through
    anchors capped at degree 200 (the winnowing max-df discipline:
    hubs contribute O(deg²) wedges and no signal — published link
    predictors log-discount or drop them), so the candidate volume is
    Σ min(deg, cap)² — linear in edges at fixed cap, never the raw
    Σ deg² that a celebrity node would explode at 100 TB. Everything is
    an equi-join on node ids; existing edges leave via a broadcast
    anti-join; the top-k is a TakeOrderedAndProject over a total order,
    with degrees taken from the UNcapped adjacency so scores are
    exact."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Two scale disciplines, both measured at sf0.1:
    #  - EDGE WEIGHT THRESHOLD (co-purchased in >= _LP_MIN_W orders):
    #    single-shared-order pairs are noise for prediction, and on a
    #    dense co-purchase graph they are 99.7% of edges (1.2M -> 3.9k
    #    at sf0.1, median degree 119). Without it the wedge enumeration
    #    is Sum(deg^2) ~ 300M rows — 62s; with it the graph is the
    #    signal subgraph and the whole entry is dominated by one
    #    co-occurrence groupBy. The published analog: association-rule
    #    min-support, CCNet's min-count vocabulary cut.
    #  - the edge frame is checkpointed: it feeds adj (x2), the
    #    anti-join, and transitively the degree frames.
    e = (
        _copurchase_pairs(li, weighted=True)
        .groupBy(F.col("u").alias("x"), F.col("v").alias("y"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _LP_MIN_W)
        .select("x", "y")
        .localCheckpoint(eager=True)
    )
    adj = e.select(F.col("x").alias("a"), F.col("y").alias("n")).unionAll(
        e.select(F.col("y").alias("a"), F.col("x").alias("n"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    adjc = adj.join(
        deg.filter(F.col("deg") <= _LP_ANCHOR_CAP).select("node"),
        adj["a"] == F.col("node"),
    ).select("a", "n").localCheckpoint(eager=True)
    wedge = (
        adjc.alias("a1")
        .join(adjc.alias("a2"), "a")
        .filter(F.col("a1.n") < F.col("a2.n"))
        .groupBy(F.col("a1.n").alias("u"), F.col("a2.n").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= _LP_MIN_COMMON)
    )
    nonedge = wedge.join(
        e, (wedge["u"] == e["x"]) & (wedge["v"] == e["y"]), "left_anti"
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    scored = (
        nonedge.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("common").alias("common_neighbors"),
            "deg_u",
            "deg_v",
            F.round(
                F.col("common").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common")),
                9,
            ).alias("jaccard_score"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard_score"), F.desc("common_neighbors"), "u", "v"
    ).limit(_LP_TOPK)


_GRID_EPS_MICRO = 40_000  # 0.04 in micro-units
_GRID_MINPTS = 3
_GRID_CC_ROUNDS = 20  # >= measured cell-graph diameter (16 at sf0.1) + margin
def _sql_grid_density() -> str:
    cell = (
        "CAST(floor(CAST(round(CAST(embedding[{i}] AS DOUBLE) * 1000000.0) AS BIGINT)"
        f" / CAST({_GRID_EPS_MICRO} AS DOUBLE)) AS BIGINT)"
    )
    # AS MATERIALIZED: without it DuckDB inlines each single-reference
    # CTE, nesting the whole chain into one expression whose shared
    # prefixes re-evaluate per round — measured 505s vs ~2s materialized
    # (the SQL mirror of the Spark side's localCheckpoint discipline).
    labs = ["lab0"]
    prop = []
    for r in range(1, _GRID_CC_ROUNDS + 1):
        prop.append(
            f"lab{r} AS MATERIALIZED (SELECT n.src AS cid, min(l.lab) AS lab "
            f"FROM nbr n JOIN lab{r-1} l ON l.cid = n.dst GROUP BY n.src)"
        )
        labs.append(f"lab{r}")
    return f"""
WITH pts AS (
  SELECT vec_id, {cell.format(i=1)} AS cx, {cell.format(i=2)} AS cy
  FROM embeddings
),
dense AS (
  SELECT cx, cy, CAST(count(*) AS BIGINT) AS npts
  FROM pts GROUP BY cx, cy HAVING count(*) >= {_GRID_MINPTS}
),
ids AS MATERIALIZED (
  SELECT cx, cy, npts, row_number() OVER (ORDER BY cx, cy) AS cid FROM dense
),
offs AS (
  SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
),
nbr AS MATERIALIZED (
  SELECT a.cid AS src, b.cid AS dst
  FROM ids a CROSS JOIN offs
  JOIN ids b ON b.cx = a.cx + offs.dx AND b.cy = a.cy + offs.dy
),
lab0 AS (SELECT cid, cid AS lab FROM ids),
{", ".join(prop)},
clusters AS (
  SELECT l.lab AS cluster_id, CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(i.npts) AS BIGINT) AS n_pts
  FROM lab{_GRID_CC_ROUNDS} l JOIN ids i USING (cid) GROUP BY l.lab
),
noise AS (
  SELECT CAST(-1 AS BIGINT) AS cluster_id, CAST(0 AS BIGINT) AS n_cells,
         (SELECT CAST(count(*) AS BIGINT) FROM pts)
           - (SELECT CAST(COALESCE(sum(n_pts), 0) AS BIGINT) FROM clusters) AS n_pts
)
SELECT * FROM clusters UNION ALL SELECT * FROM noise ORDER BY cluster_id
"""
@register(
    "cluster_grid_density",
    oracle=_sql_grid_density(),
    tags=("cluster", "embeddings", "ml"),
)
def cluster_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style density clustering on the embedding's first two
    dimensions: quantize to an eps-grid (exact integer cell indices from
    micro-quantized coordinates), keep cells with >= minPts points
    (core cells), connect 8-neighbor core cells, and label components by
    iterated min-label propagation — {_GRID_CC_ROUNDS} unrolled rounds
    over the CELL graph, whose size is bounded by the grid (never the
    corpus; the large-star/small-star alternative for general graphs is
    datapipe.clustering). Neighbor candidates come from an EQUI-join on
    shifted cell coordinates (offset explode), not an inequality join.
    Output: one row per cluster (+ the noise row, cluster_id = -1)."""
    emb = _t(spark, sf_dir, "embeddings")

    def cell(i: int) -> F.Column:
        micro = F.round(F.col("embedding").getItem(i).cast("double") * 1000000.0).cast(
            "long"
        )
        return F.floor(micro / F.lit(float(_GRID_EPS_MICRO))).cast("bigint")

    pts = emb.select("vec_id", cell(0).alias("cx"), cell(1).alias("cy"))
    dense = (
        pts.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("npts"))
        .filter(F.col("npts") >= _GRID_MINPTS)
    )
    ids = dense.select(
        "cx", "cy", "npts", F.row_number().over(Window.orderBy("cx", "cy")).alias("cid")
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    shifted = ids.crossJoin(F.broadcast(offs)).select(
        F.col("cid").alias("src"),
        (F.col("cx") + F.col("dx")).alias("nx"),
        (F.col("cy") + F.col("dy")).alias("ny"),
    )
    # The iterative loop follows datapipe.clustering's discipline:
    # localCheckpoint(eager) truncates lineage each round, so round r is
    # ONE tiny broadcast join over materialized cells — without it,
    # Catalyst replans (and recomputes) the full r-deep join chain every
    # round, which measured 500+s for 20 rounds vs ~10s checkpointed.
    nbr = (
        shifted.join(
            F.broadcast(ids.select(F.col("cid").alias("dst"), F.col("cx").alias("nx"), F.col("cy").alias("ny"))),
            ["nx", "ny"],
        )
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    labels = ids.select("cid", F.col("cid").alias("lab")).localCheckpoint(eager=True)
    for _ in range(_GRID_CC_ROUNDS):
        # Convergence early-exit, the kcore/CC discipline. Every
        # core cell has its (0,0)-offset self-edge in nbr, so the node's
        # own previous label rides through the min-aggregation as a
        # conditional max (one row per (src,dst) pair; dst == src is the
        # self-pair). Min-label only ever decreases, so changed ≡
        # strictly-lower; once 0, every remaining round is an algebraic
        # no-op and the final labels are identical without running it.
        stepped = (
            nbr.join(F.broadcast(labels.select(F.col("cid").alias("dst"), "lab")), "dst")
            .groupBy("src")
            .agg(
                F.min("lab").alias("lab"),
                F.max(F.when(F.col("dst") == F.col("src"), F.col("lab"))).alias(
                    "old_lab"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("lab") < F.col("old_lab")).count()
        labels = stepped.select(F.col("src").alias("cid"), "lab")
        if changed == 0:
            break
    clusters = (
        labels.join(F.broadcast(ids.select("cid", "npts")), "cid")
        .groupBy("lab")
        .agg(F.count(F.lit(1)).alias("n_cells"), F.sum("npts").alias("n_pts"))
        .select(F.col("lab").alias("cluster_id"), "n_cells", "n_pts")
    )
    total = pts.agg(F.count(F.lit(1)).alias("total"))
    clustered = clusters.agg(F.coalesce(F.sum("n_pts"), F.lit(0)).alias("inc"))
    noise = (
        total.crossJoin(F.broadcast(clustered))
        .select(
            F.lit(-1).cast("bigint").alias("cluster_id"),
            F.lit(0).cast("bigint").alias("n_cells"),
            (F.col("total") - F.col("inc")).alias("n_pts"),
        )
    )
    return clusters.unionByName(noise).orderBy("cluster_id")


_BFS_SEEDS = 5       # sources: p_partkey <= 5
_BFS_ROUNDS = 6      # relaxation rounds == max reported distance
def _sql_bfs() -> str:
    rounds = []
    for r in range(1, _BFS_ROUNDS + 1):
        rounds.append(f"""
d{r} AS MATERIALIZED (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{r-1}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM d{r-1} d JOIN edges e ON e.src = d.node
  ) GROUP BY node
)""")
    return f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (
  SELECT src, dst FROM pairs UNION ALL SELECT dst AS src, src AS dst FROM pairs
),
nodes AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
d0 AS (
  SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes WHERE node <= {_BFS_SEEDS}
),
{",".join(rounds)}
, hist AS (
  SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
  FROM d{_BFS_ROUNDS} GROUP BY dist
),
unreached AS (
  SELECT CAST(-1 AS BIGINT) AS dist,
         (SELECT CAST(count(*) AS BIGINT) FROM nodes)
           - (SELECT CAST(COALESCE(sum(n_nodes), 0) AS BIGINT) FROM hist) AS n_nodes
)
SELECT * FROM hist UNION ALL SELECT * FROM unreached ORDER BY dist
"""
@register(
    "graph_bfs_distance",
    oracle=_sql_bfs(),
    tags=("graph", "iterative", "bfs"),
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the part co-purchase graph: distance from
    the seed set (p_partkey <= {_BFS_SEEDS}) by {_BFS_ROUNDS} relaxation
    rounds — each round is frontier ⋈ edges followed by a min-dist merge,
    the Pregel step expressed as join + groupBy. The distance frame is
    localCheckpoint-ed per round (clustering.py discipline: round r is
    one shuffle, never a replay of rounds 1..r-1); edges materialize
    once. Distances beyond the round budget report as unreached (-1) —
    the bounded-diameter contract, replayed identically by the oracle's
    unrolled CTE chain. Output: nodes per distance (+ the -1 row)."""
    # Edge build: deliberately KEPT on the self-join form. The
    # shared one-pass _copurchase_pairs build is faster in isolation
    # (1.3-1.6 s vs 2.0 s for this edge checkpoint) and was adopted for
    # the other five co-purchase entries, but an interleaved same-session
    # ABAB of the FULL entry measured old 4.4-4.5 s vs new 7.0-7.3 s:
    # the relaxation rounds run measurably slower against the
    # explode-built checkpointed edge RDD (row clustering/partitioning
    # interaction with the per-round broadcast-join + min-merge), and a
    # fan_out before the pin did not recover it. Measured loss → keep
    # the measured-faster form here.
    li = _t(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey")
    a = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("pa"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("l_partkey"))
        .select(F.col("pa").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )
    edges = (
        pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    nodes = li.select(F.col("l_partkey").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    dist = (
        nodes.filter(F.col("node") <= _BFS_SEEDS)
        .select("node", F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint(eager=True)
    )
    n_reached = dist.count()
    for _ in range(_BFS_ROUNDS):
        relaxed = (
            dist.join(edges, dist["node"] == edges["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        # Early exit on the converged frontier: unit-weight BFS assigns a
        # node its FINAL distance the first round it is reached, so an
        # unchanged reached-count means no row of dist can change in any
        # later round — the remaining rounds are algebraic no-ops and the
        # output is identical without running them. One O(1) count per
        # round on the just-checkpointed frame.
        nr = dist.count()
        if nr == n_reached:
            break
        n_reached = nr
    hist = dist.groupBy("dist").agg(F.count(F.lit(1)).alias("n_nodes"))
    total = nodes.agg(F.count(F.lit(1)).alias("total"))
    reached = hist.agg(F.coalesce(F.sum("n_nodes"), F.lit(0)).alias("inc"))
    unreached = total.crossJoin(F.broadcast(reached)).select(
        F.lit(-1).cast("bigint").alias("dist"),
        (F.col("total") - F.col("inc")).alias("n_nodes"),
    )
    return hist.unionByName(unreached).orderBy("dist")


_KCORE_K = 3
_KCORE_ROUNDS = 8
_KCORE_MIN_W = 2  # same co-purchase weight threshold as link prediction
def _sql_kcore() -> str:
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
a{r} AS MATERIALIZED (
  SELECT node FROM (
    SELECT e.src AS node, count(*) AS d
    FROM edges e
    JOIN a{r-1} s ON s.node = e.src
    JOIN a{r-1} t ON t.node = e.dst
    GROUP BY e.src
  ) WHERE d >= {_KCORE_K}
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, (SELECT count(*) FROM a{r-1}) - (SELECT count(*) FROM a{r}) AS n_removed, (SELECT count(*) FROM a{r}) AS n_remaining"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return f"""
WITH pairs AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_KCORE_MIN_W}
),
edges AS MATERIALIZED (
  SELECT x AS src, y AS dst FROM pairs UNION ALL SELECT y, x FROM pairs
),
a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
{",".join(rounds)}
SELECT CAST(round AS BIGINT) AS round, CAST(n_removed AS BIGINT) AS n_removed,
       CAST(n_remaining AS BIGINT) AS n_remaining
FROM ({unions}) ORDER BY round
"""
@register(
    "graph_kcore",
    oracle=_sql_kcore(),
    tags=("graph", "iterative", "kcore"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core decomposition of the thresholded co-purchase graph
    by iterative peeling: each round recomputes degrees over the
    SURVIVING subgraph and removes nodes below k — the standard
    community-density primitive (a node is in the k-core iff it keeps k
    neighbors after everyone weaker is removed). {_KCORE_ROUNDS} fixed
    rounds (monotone: once stable, further rounds are no-ops — the
    bounded-iteration contract BFS also uses), localCheckpoint per round
    so round r is one degree aggregate + one semi-join over the current
    frontier, never a replay. Output: per-round removal counts and the
    final core size."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        _copurchase_pairs(li.select("l_orderkey", "l_partkey"), weighted=True)
        .groupBy(F.col("u").alias("x"), F.col("v").alias("y"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _KCORE_MIN_W)
        .select("x", "y")
    )
    edges = (
        pairs.select(F.col("x").alias("src"), F.col("y").alias("dst"))
        .unionByName(pairs.select(F.col("y").alias("src"), F.col("x").alias("dst")))
        .localCheckpoint(eager=True)
    )
    alive = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    history = []
    prev_n = alive.count()
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            edges.join(alive.select(F.col("node").alias("src")), "src")
            .join(alive.select(F.col("node").alias("dst")), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        alive = (
            deg.filter(F.col("d") >= _KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
        n = alive.count()  # O(1) driver state per round — the MLlib shape
        history.append((r, prev_n - n, n))
        if n == prev_n:
            # Converged: peeling is monotone (alive_r ⊆ alive_{r-1}), so an
            # unchanged count means an unchanged SET, and every remaining
            # round is the algebraic no-op (r, 0, n). Emit those rows
            # without running the no-op jobs — output identical by
            # construction to executing them.
            history.extend((rr, 0, n) for rr in range(r + 1, _KCORE_ROUNDS + 1))
            break
        prev_n = n
    return spark.createDataFrame(
        history, "round bigint, n_removed bigint, n_remaining bigint"
    ).orderBy("round")


def _sql_adamic_adar() -> str:
    return f"""
WITH e AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_LP_MIN_W}
),
adj AS (
  SELECT x AS a, y AS n FROM e UNION ALL SELECT y AS a, x AS n FROM e
),
deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY a),
adjc AS (
  SELECT adj.a, adj.n, d.deg AS adeg
  FROM adj JOIN deg d ON d.node = adj.a
  WHERE d.deg <= {_LP_ANCHOR_CAP}
),
wedge AS (
  SELECT a1.n AS u, a2.n AS v,
         CAST(count(*) AS BIGINT) AS common,
         CAST(sum(CAST(round(1e9 / ln(CAST(a1.adeg AS DOUBLE))) AS HUGEINT))
              AS BIGINT) AS aaq
  FROM adjc a1 JOIN adjc a2 ON a1.a = a2.a AND a1.n < a2.n
  GROUP BY a1.n, a2.n
  HAVING count(*) >= {_LP_MIN_COMMON}
),
nonedge AS (
  SELECT w.* FROM wedge w ANTI JOIN e ON w.u = e.x AND w.v = e.y
)
SELECT u, v, common AS common_neighbors,
       round(aaq / 1e9, 9) AS adamic_adar
FROM nonedge
ORDER BY adamic_adar DESC, common_neighbors DESC, u, v
LIMIT {_LP_TOPK}
"""
@register(
    "graph_adamic_adar",
    oracle=_sql_adamic_adar(),
    tags=("graph", "link-prediction", "adamic-adar"),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the co-purchase graph — the
    log-discounted twin of ``graph_link_prediction`` (same edge-weight
    threshold, anchor cap, and min-common gate; cites its scale
    rationale): AA(u,v) = Σ_{{w ∈ N(u)∩N(v)}} 1/ln(deg(w)), the score
    that down-weights promiscuous anchors instead of merely capping
    them — the published stronger baseline for co-occurrence link
    prediction. Anchors inside a wedge have degree >= 2 by
    construction, so ln(deg) > 0 always.

    Exactness: each anchor's 1/ln(deg) contribution is nano-quantized
    BEFORE the per-pair sum (HUGEINT/decimal accumulator) with the
    anchor's degree taken from the capped adjacency row it generated
    the wedge from; the top-k is a TakeOrdered over the
    (score, common, u, v) total order.

    Scale shape: identical to the Jaccard entry — threshold-filtered
    edges, capped anchors (candidate volume Σ min(deg, cap)², linear in
    edges at fixed cap), equi-joins throughout, broadcast anti-join of
    existing edges."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        _copurchase_pairs(li, weighted=True)
        .groupBy(F.col("u").alias("x"), F.col("v").alias("y"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _LP_MIN_W)
        .select("x", "y")
        .localCheckpoint(eager=True)
    )
    adj = e.select(F.col("x").alias("a"), F.col("y").alias("n")).unionAll(
        e.select(F.col("y").alias("a"), F.col("x").alias("n"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    adjc = (
        adj.join(
            deg.filter(F.col("deg") <= _LP_ANCHOR_CAP),
            adj["a"] == F.col("node"),
        )
        .select("a", "n", F.col("deg").alias("adeg"))
        .localCheckpoint(eager=True)
    )
    aaq_term = F.round(F.lit(1e9) / F.log(F.col("a1.adeg").cast("double"))).cast(
        "decimal(38,0)"
    )
    wedge = (
        adjc.alias("a1")
        .join(adjc.alias("a2"), "a")
        .filter(F.col("a1.n") < F.col("a2.n"))
        .groupBy(F.col("a1.n").alias("u"), F.col("a2.n").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(aaq_term).cast("bigint").alias("aaq"),
        )
        .filter(F.col("common") >= _LP_MIN_COMMON)
    )
    nonedge = wedge.join(
        e, (wedge["u"] == e["x"]) & (wedge["v"] == e["y"]), "left_anti"
    )
    return (
        nonedge.select(
            "u",
            "v",
            F.col("common").alias("common_neighbors"),
            F.round(F.col("aaq") / 1e9, 9).alias("adamic_adar"),
        )
        .orderBy(
            F.desc("adamic_adar"), F.desc("common_neighbors"), "u", "v"
        )
        .limit(_LP_TOPK)
    )


_ASSORT_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT x AS node FROM e UNION ALL SELECT y AS node FROM e)
  GROUP BY node
),
de AS (
  SELECT dx.deg AS du, dy.deg AS dv
  FROM e JOIN deg dx ON dx.node = e.x JOIN deg dy ON dy.node = e.y
),
sym AS (
  SELECT du AS a, dv AS b FROM de
  UNION ALL
  SELECT dv AS a, du AS b FROM de
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m2,
         CAST(sum(CAST(a AS HUGEINT)) AS DOUBLE) AS sa,
         CAST(sum(CAST(a AS HUGEINT) * a) AS DOUBLE) AS saa,
         CAST(sum(CAST(a AS HUGEINT) * b) AS DOUBLE) AS sab
  FROM sym
)
SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
       round((m2 * sab - sa * sa)
             / (m2 * saa - sa * sa), 9) AS assortativity
FROM s
"""
@register(
    "graph_degree_assortativity",
    oracle=_ASSORT_SQL,
    tags=("graph", "assortativity"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (parts sharing an
    order, the edge set every graph entry uses): the Pearson correlation
    of endpoint degrees over the symmetrized edge list — 'do hub parts
    co-occur with hubs (assortative, r>0) or with leaves (dis-
    assortative, r<0)?', the one-number mixing summary published next to
    the clustering coefficient. Degrees are exact integers, so every
    moment is an exact DECIMAL(38,0) integer sum (overflow-safe at any
    edge count) and r is one closed-form double expression over six
    integers — identical on both engines, no quantization needed. On the
    symmetrized list the two endpoint marginals coincide, so the usual
    four-moment formula collapses to three sums.

    Scale shape: the edge self-join shuffles on orderkey (bounded per-
    order fanout); degrees are one map-side-combined groupBy; the two
    degree lookups are equi-joins on node id; the rest is a 1-row
    reduce. No window, no driver state beyond the single output row."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        _copurchase_pairs(li)
        .select(F.col("u").alias("x"), F.col("v").alias("y"))
        .distinct()
        # the edge set feeds the degree build AND both lookup joins —
        # without the pin the edge build re-runs three times
        # (measured 34.5 s -> ~8 s at sf0.1, self-join era)
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint(eager=True)  # reused by both endpoint joins
    )
    de = (
        e.join(deg.withColumnRenamed("node", "x").withColumnRenamed("deg", "du"), "x")
        .join(deg.withColumnRenamed("node", "y").withColumnRenamed("deg", "dv"), "y")
        .select("du", "dv")
    )
    sym = de.select(F.col("du").alias("a"), F.col("dv").alias("b")).unionAll(
        de.select(F.col("dv").alias("a"), F.col("du").alias("b"))
    )
    ad = F.col("a").cast("decimal(38,0)")
    s = sym.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum(ad).cast("double").alias("sa"),
        F.sum(ad * F.col("a")).cast("double").alias("saa"),
        F.sum(ad * F.col("b")).cast("double").alias("sab"),
    )
    return s.select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        F.round(
            (F.col("m2") * F.col("sab") - F.col("sa") * F.col("sa"))
            / (F.col("m2") * F.col("saa") - F.col("sa") * F.col("sa")),
            9,
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities (round 9)
# --------------------------------------------------------------------------

_HITS_ITERS = 3


def _hits_oracle() -> str:
    head = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS u, l.l_suppkey AS v
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
h0 AS (SELECT DISTINCT u, 1.0 AS h FROM e)"""
    its = []
    for i in range(_HITS_ITERS):
        its.append(
            f""",
a{i + 1}r AS MATERIALIZED (
  SELECT e.v, {SQL_NSUM.format(x='h.h')} AS ar
  FROM e JOIN h{i} h USING (u) GROUP BY e.v
),
a{i + 1} AS MATERIALIZED (SELECT v, round(ar / (SELECT max(ar) FROM a{i + 1}r), 9) AS a FROM a{i + 1}r),
h{i + 1}r AS MATERIALIZED (
  SELECT e.u, {SQL_NSUM.format(x='a.a')} AS hr
  FROM e JOIN a{i + 1} a USING (v) GROUP BY e.u
),
h{i + 1} AS MATERIALIZED (SELECT u, round(hr / (SELECT max(hr) FROM h{i + 1}r), 9) AS h FROM h{i + 1}r)"""
        )
    tail = f"""
SELECT kind, key, score, rank FROM (
  SELECT 'hub' AS kind, u AS key, h AS score,
         row_number() OVER (ORDER BY h DESC, u) AS rank
  FROM h{_HITS_ITERS}
  UNION ALL
  SELECT 'authority' AS kind, v AS key, a AS score,
         row_number() OVER (ORDER BY a DESC, v) AS rank
  FROM a{_HITS_ITERS}
) WHERE rank <= 10 ORDER BY kind, rank"""
    return head + "".join(its) + tail


@register(
    "graph_hits_scores",
    oracle=_hits_oracle(),
    tags=("graph", "hits", "ranking"),
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) on the directed customer->supplier transaction
    graph, 3 synchronous iterations: authority(supplier) = Sigma hub
    scores of its customers, hub(customer) = Sigma authority scores of
    its suppliers, max-normalized each half-step (the documented
    variant — exact-friendly: one division by an already-quantized
    max). The dual-score complement of ``graph_pagerank_bipartite``:
    PageRank ranks one mixed vertex set by stationary mass, HITS
    separates "big buyers" from "widely-bought-from suppliers".

    Exactness: every half-step aggregates on the nano grid (nsum) and
    re-quantizes to 9 dp after the max division, so the 3-iteration
    trajectory is bit-reproducible and the oracle replays it as
    unrolled CTEs (the PageRank discipline). Tie-breaks by key make
    the top-10 total.

    Scale shape: the distinct edge list is built once and persisted;
    each half-step is one equi-join + one map-side-combined agg (rank
    frames are vertex-cardinality — broadcastable here, co-partitioned
    with edges in a production run). Power-law hubs salt-split exactly
    as in the PageRank entry."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_suppkey").alias("v"))
        .distinct()
        .persist()
    )
    h = e.select("u").distinct().withColumn("h", F.lit(1.0))
    a = None
    for _ in range(_HITS_ITERS):
        # each half-step frame feeds BOTH its max-normalizer and the
        # next join: localCheckpoint pins it (vertex-cardinality) so the
        # lineage doesn't re-run the whole prefix once per consumer
        # (the dedup_cluster_resolve per-round discipline — without it
        # the 3-iteration plan replays the base join ~4^3 times).
        ar = (
            e.join(F.broadcast(h), "u")
            .groupBy("v")
            .agg(nsum(F.col("h")).alias("ar"))
            .localCheckpoint(eager=True)
        )
        amax = ar.agg(F.max("ar").alias("am"))
        a = ar.crossJoin(F.broadcast(amax)).select(
            "v", F.round(F.col("ar") / F.col("am"), 9).alias("a")
        )
        hr = (
            e.join(F.broadcast(a), "v")
            .groupBy("u")
            .agg(nsum(F.col("a")).alias("hr"))
            .localCheckpoint(eager=True)
        )
        hmax = hr.agg(F.max("hr").alias("hm"))
        h = hr.crossJoin(F.broadcast(hmax)).select(
            "u", F.round(F.col("hr") / F.col("hm"), 9).alias("h")
        )
    # top-10 via orderBy().limit() — Spark plans TakeOrdered (per-partition
    # heap + driver merge), never a single-partition rank sort over the
    # vertex-cardinality frame; rank is then a window over 10 rows only.
    # Same total tiebreak (score DESC, key) as the oracle's row_number.
    wh = Window.orderBy(F.desc("score"), "key")

    def _top10(df: DataFrame) -> DataFrame:
        return (
            df.orderBy(F.desc("score"), "key")
            .limit(10)
            .withColumn("rank", F.row_number().over(wh))
        )

    hubs = _top10(
        h.select(
            F.lit("hub").alias("kind"),
            F.col("u").alias("key"),
            F.col("h").alias("score"),
        )
    )
    auth = _top10(
        a.select(
            F.lit("authority").alias("kind"),
            F.col("v").alias("key"),
            F.col("a").alias("score"),
        )
    )
    return hubs.unionByName(auth).orderBy("kind", "rank")

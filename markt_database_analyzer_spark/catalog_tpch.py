"""TPC-H anchor queries, second tranche — the remaining join/subquery
shapes expressible on the testdata's column subset.

The testdata ships no ``partsupp`` table and no
``l_commitdate/l_receiptdate/l_shipmode/l_shipinstruct/c_phone/p_container``
columns, so Q2/Q9/Q11/Q12/Q20/Q21 are not literally expressible; the
shapes below complete the set that is. Q19 and Q22 substitute available
columns for the missing ones (brand/size/quantity for container/shipmode;
nation key for phone country code) — the plan shape, which is what the
anchor pins, is unchanged.

Each docstring states the plan the query is *supposed* to produce at
scale; tests/test_plan_properties.py pins the load-bearing properties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import SQL_DAVG, SQL_DSUM, register, _t
from .functions import davg, dsum

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"


@register(
    "tpch_q8_market_share",
    oracle=f"""
SELECT o_year,
       ({SQL_DSUM.format(x="CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END")})
         / ({SQL_DSUM.format(x='volume')}) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         {_DISC_PRICE} AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA'
    AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
    tags=("tpch", "join"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — a conditional-share
    aggregate over a two-role snowflake. Seven relations, ONE shuffle
    join: every dimension (part filtered to one type, supplier+nation
    role, customer pre-joined to its AMERICA-filtered nation→region leg)
    broadcasts; only lineitem⋈orders moves data. The share is computed as
    two partial-aggregated sums in the same hash agg — never a pivot or a
    second pass — so the whole query is scan → 4 broadcast joins → one
    shuffle join → one agg."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust_leg = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_leg = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_leg, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(supp_leg, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.year("o_orderdate").alias("o_year"), volume.alias("volume"), "supp_nation")
    )
    return (
        joined.groupBy("o_year")
        .agg(
            dsum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
            ).alias("num"),
            dsum(F.col("volume")).alias("den"),
        )
        .select("o_year", (F.col("num") / F.col("den")).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       {SQL_DSUM.format(x=_DISC_PRICE)} AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("tpch", "join"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-N customers by returned-item revenue. Both
    selective filters (quarter on orders, returnflag on lineitem) are
    pushed into their scans BEFORE the fact⋈fact join; nation broadcasts
    onto the already-small grouped result, and the final ORDER BY+LIMIT
    is a TakeOrderedAndProject — no global sort of the full group set."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-10-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q14_promo_revenue",
    oracle=f"""
SELECT (100.0 * ({SQL_DSUM.format(x=f"CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE} ELSE 0.0 END")}))
       / ({SQL_DSUM.format(x=_DISC_PRICE)}) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
""",
    tags=("tpch", "aggregate"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — a conditional ratio over a
    broadcast dim join. The month filter prunes the fact scan; part
    broadcasts (only p_partkey+p_type read); numerator and denominator
    are partial-aggregated in one pass, division happens on the single
    result row."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-10-01")))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0)).alias("num"),
            dsum(disc).alias("den"),
        )
        .select(((F.lit(100.0) * F.col("num")) / F.col("den")).alias("promo_revenue"))
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         {SQL_DSUM.format(x=_DISC_PRICE)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
ORDER BY s_suppkey
""",
    tags=("tpch", "subquery"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar-subquery decorrelation. The per-supplier
    revenue agg is computed once and reused for both the max scalar and
    the equality filter (Spark: one cached-by-plan agg, crossJoin of a
    broadcast 1-row max — no self-join of two separately shuffled aggs).
    The deterministic dsum makes the double equality exact on both
    engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    top = revenue0.agg(F.max("total_revenue").alias("max_revenue"))
    supplier = _t(spark, sf_dir, "supplier")
    return (
        revenue0.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle=f"""
SELECT ({SQL_DSUM.format(x='l_extendedprice')}) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#15'
  AND l_quantity < (
    SELECT 0.2 * ({SQL_DAVG.format(x='l2.l_quantity')})
    FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
""",
    tags=("tpch", "subquery"),
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated-average subquery, decorrelated into a
    per-part threshold aggregate joined back to the fact. The brand
    filter broadcasts into BOTH the threshold build and the probe, so the
    per-part avg is computed only for the ~1/N surviving parts — the
    classic magic-set reduction — and the threshold join is a broadcast
    (few parts × 1 row each). The quantized davg makes the strict `<`
    comparison engine-portable."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#15")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    li_brand = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    thresholds = li_brand.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * davg(F.col("l_quantity"))).alias("qty_threshold")
    )
    return (
        li_brand.join(F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
SELECT {SQL_DSUM.format(x=_DISC_PRICE)} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#10' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
    tags=("tpch", "predicate"),
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR'd conjunct pairs across the join (brand/size
    stand in for the testdata's missing container/shipmode columns). The
    part-only disjunction (brand+size) is FACTORED OUT and pushed into
    the part scan before the broadcast, so the join probe only sees parts
    that could match some arm; the full mixed-column disjunction stays as
    a residual filter after the join. At 100 TB that factoring is the
    difference between broadcasting all of part and broadcasting ~3
    brands' worth."""
    arms = [
        ("Brand#1", 1, 15, 1, 11),
        ("Brand#10", 1, 25, 10, 20),
        ("Brand#15", 1, 35, 20, 30),
    ]
    part_only = None
    for brand, smin, smax, _, _ in arms:
        cond = (F.col("p_brand") == brand) & F.col("p_size").between(smin, smax)
        part_only = cond if part_only is None else (part_only | cond)
    part = (
        _t(spark, sf_dir, "part")
        .filter(part_only)
        .select("p_partkey", "p_brand", "p_size")
    )
    li = _t(spark, sf_dir, "lineitem")
    residual = None
    for brand, smin, smax, qmin, qmax in arms:
        cond = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(smin, smax)
            & (F.col("l_quantity") >= qmin)
            & (F.col("l_quantity") <= qmax)
        )
        residual = cond if residual is None else (residual | cond)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(residual)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "tpch_q22_sleeper_accounts",
    oracle=f"""
WITH eligible AS (
  SELECT c_custkey, c_nationkey, c_acctbal
  FROM customer
  WHERE c_nationkey IN (1, 3, 5, 7, 9)
)
SELECT c_nationkey AS cntrycode,
       count(*) AS numcust,
       {SQL_DSUM.format(x='c_acctbal')} AS totacctbal
FROM eligible
WHERE c_acctbal > (
    SELECT {SQL_DAVG.format(x='c_acctbal')} FROM eligible WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
    tags=("tpch", "subquery"),
)
def tpch_q22_sleeper_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global-scalar threshold + NOT EXISTS anti-join
    (nation key stands in for the missing phone country code). The
    positive-balance average is a broadcast 1-row aggregate (crossJoin),
    the NOT EXISTS decorrelates to a LEFT ANTI join on the customer key,
    and both run over the same pre-filtered customer projection — one
    scan feeds the scalar and the probe. The anti-join shuffles only
    (custkey) pairs; at 100 TB the orders side pre-projects to its join
    key, nothing wider."""
    eligible = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    avg_bal = eligible.filter(F.col("c_acctbal") > 0.0).agg(
        davg(F.col("c_acctbal")).alias("avg_bal")
    )
    orders_keys = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        eligible.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders_keys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# --------------------------------------------------------------------------
# Third tranche: the six shapes whose literal TPC-H text needs partsupp /
# commit-receipt dates / shipmodes, re-anchored on available columns. The
# *plan shape* — which is what each anchor pins — is preserved exactly;
# only the missing physical columns are substituted (lineitem unit price
# for ps_supplycost, l_returnflag for l_shipmode, shipdate-vs-orderdate
# lateness for commit/receipt lateness).
# --------------------------------------------------------------------------

@register(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
WITH eu_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
sized_part AS (
  SELECT p_partkey, p_brand FROM part
  WHERE p_size <= 10 AND p_type = 'ECONOMY'
),
offers AS (
  SELECT l_partkey, l_suppkey,
         min(round(l_extendedprice / l_quantity, 6)) AS supply_cost
  FROM lineitem
  JOIN sized_part ON l_partkey = p_partkey
  WHERE l_quantity > 0
    AND l_suppkey IN (SELECT s_suppkey FROM eu_supp)
  GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT l_partkey, min(supply_cost) AS min_cost FROM offers GROUP BY l_partkey
)
SELECT s_acctbal, s_name, n_name,
       o.l_partkey AS p_partkey, p_brand, o.supply_cost
FROM offers o
JOIN best USING (l_partkey)
JOIN eu_supp ON o.l_suppkey = s_suppkey
JOIN sized_part ON o.l_partkey = sized_part.p_partkey
WHERE o.supply_cost = best.min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    tags=("tpch", "subquery"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-min subquery over a supplier snowflake
    (lineitem unit price stands in for the missing ps_supplycost). The
    correlated `cost = (SELECT min ...)` decorrelates into a per-part min
    aggregate joined back to the offer set — computed ONCE, not
    re-evaluated per row. The supplier→nation→region leg collapses to a
    broadcast before it touches the fact; the unit price rounds at 6 dp
    BEFORE both mins so the equality probe is engine-portable. At 100 TB
    the offers/best aggregates are |part|-bounded — they stay in the
    shuffle tier (AQE), only the dimension legs broadcast."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation")
    eu_supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    sized_part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 10) & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey", "p_brand")
    )
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)
    offers = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .join(sized_part.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .join(eu_supp.select("s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(unit).alias("supply_cost"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("supply_cost").alias("min_cost")
    )
    return (
        offers.join(best, F.col("l_partkey") == F.col("b_partkey"))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .join(eu_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(sized_part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("l_partkey").alias("p_partkey"), "p_brand", "supply_cost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q9_product_profit",
    oracle=f"""
SELECT nation, o_year, {SQL_DSUM.format(x='amount')} AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) AS INTEGER) AS o_year,
         {_DISC_PRICE} - 0.8 * p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE 'red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
    tags=("tpch", "join"),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by nation and year (0.8 x
    p_retailprice stands in for the missing ps_supplycost). Five
    relations, one shuffle: the name-filtered part, supplier+nation, all
    broadcast; lineitem⋈orders is the only exchange, and the profit
    expression is computed pre-shuffle so only (nation, year, amount)
    moves. The LIKE prefix filter prunes the part scan before broadcast."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey", "p_retailprice")
    )
    nation = _t(spark, sf_dir, "nation")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.8 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("nation", F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount")).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "tpch_q11_important_stock",
    oracle=f"""
WITH asia_supp AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
v AS (
  SELECT l_partkey, {SQL_DSUM.format(x='l_extendedprice * l_quantity')} AS val
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM asia_supp)
  GROUP BY l_partkey
)
SELECT l_partkey, val
FROM v
WHERE val > 1.5 * (SELECT {SQL_DAVG.format(x='val')} FROM v)
ORDER BY val DESC, l_partkey
""",
    tags=("tpch", "subquery"),
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-key value share vs a global scalar threshold
    (lineitem value for one region's suppliers stands in for partsupp
    stock value; the TPC-H `fraction/SF` literal becomes the
    scale-invariant `1.5 x mean part value`). The value aggregate is
    computed ONCE and feeds both the 1-row global threshold (broadcast
    crossJoin) and the probe — no second scan, no self-join of two
    shuffles. At 100 TB: one fact shuffle on partkey, a 1-row broadcast,
    and a sort of the few survivors.

    The "computed ONCE" contract needs an explicit pin: Catalyst does
    NOT reuse the per-partkey aggregate across the threshold and probe
    branches (the unpinned plan holds the lineitem semi-join + groupBy
    subtree twice, no ReusedExchange), so ``v`` is eagerly
    localCheckpoint'ed — one row per partkey, the cheapest frame in the
    query — and both branches read the materialized copy."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    asia_supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    v = (
        _t(spark, sf_dir, "lineitem")
        .join(asia_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(dsum(F.col("l_extendedprice") * F.col("l_quantity")).alias("val"))
        .localCheckpoint(eager=True)
    )
    thr = v.agg((F.lit(1.5) * davg(F.col("val"))).alias("thr"))
    return (
        v.crossJoin(F.broadcast(thr))
        .filter(F.col("val") > F.col("thr"))
        .select("l_partkey", "val")
        .orderBy(F.col("val").desc(), "l_partkey")
    )


@register(
    "tpch_q12_shipmode_priority",
    oracle="""
SELECT l_returnflag,
       count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
       count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag IN ('A', 'R')
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND year(l_shipdate) = 1996
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("tpch", "join"),
)
def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipment priority split by mode
    (l_returnflag stands in for l_shipmode; `shipped > 90 days after
    order` for the commit/receipt lateness pair). Both fact filters (flag
    IN-list, shipdate year) push into the lineitem scan; the lateness
    predicate crosses the join and stays a post-join residual; the
    high/low split is two conditional counts in ONE hash agg — the
    pivot-free Q12 idiom."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R") & (F.year("l_shipdate") == 1996)
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(is_high, 1)).alias("high_line_count"),
            F.count(F.when(~is_high, 1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "tpch_q20_potential_promotion",
    oracle=f"""
WITH widget_parts AS (
  SELECT p_partkey FROM part WHERE p_name LIKE '%widget'
),
qty AS (
  SELECT l_partkey, l_suppkey, {SQL_DSUM.format(x='l_quantity')} AS supp_qty
  FROM lineitem
  JOIN widget_parts ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey
),
tot AS (
  SELECT l_partkey, {SQL_DSUM.format(x='supp_qty')} AS part_qty
  FROM qty GROUP BY l_partkey
),
excess AS (
  SELECT DISTINCT l_suppkey
  FROM qty JOIN tot USING (l_partkey)
  WHERE supp_qty > 0.3 * part_qty
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (SELECT l_suppkey FROM excess)
ORDER BY s_name, s_suppkey
""",
    tags=("tpch", "subquery"),
)
def tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: double-nested IN decorrelation — suppliers
    holding an outsized share of a name-filtered part's year volume
    (share of shipped quantity stands in for ps_availqty vs half the
    year's demand). The inner correlated `0.3 x part total` becomes a
    per-part aggregate OVER the already-grouped (part, supplier) sums —
    the second agg reuses the first's shuffle partitioning (same key
    prefix), so the threshold costs no extra exchange. The final
    membership test is a left-semi broadcast into the region-filtered
    supplier dimension."""
    widget = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").endswith("widget"))
        .select("p_partkey")
    )
    qty = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
        )
        .join(widget, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum(F.col("l_quantity")).alias("supp_qty"))
    )
    tot = qty.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        dsum(F.col("supp_qty")).alias("part_qty")
    )
    excess = (
        qty.join(tot, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("supp_qty") > 0.3 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation")
    return (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name", "s_suppkey")
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS is_late
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
),
per_ord AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
  FROM lo GROUP BY l_orderkey
),
waiting AS (
  SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
  FROM lo JOIN per_ord USING (l_orderkey)
  WHERE lo.is_late AND per_ord.n_supp >= 2 AND per_ord.n_late = 1
)
SELECT s_name, count(*) AS numwait
FROM waiting
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    tags=("tpch", "subquery"),
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who kept multi-supplier orders waiting
    — the EXISTS (another supplier in the order) AND NOT EXISTS (another
    LATE supplier) pair (`shipped > 90 days after order` stands in for
    receipt-after-commit lateness). Both correlated EXISTS decorrelate
    into ONE per-order aggregate (distinct suppliers, distinct late
    suppliers) joined back on the order key — not two self-joins of
    lineitem — so the fact shuffles twice on the same key and never
    pairs rows. The supplier name join runs on the tiny post-filter
    key set."""
    orders_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    lo = (
        _t(spark, sf_dir, "lineitem")
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("is_late"),
        )
    )
    per_ord = lo.groupBy(F.col("l_orderkey").alias("p_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late"),
    )
    waiting = (
        lo.filter(F.col("is_late"))
        .join(per_ord, F.col("l_orderkey") == F.col("p_orderkey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )

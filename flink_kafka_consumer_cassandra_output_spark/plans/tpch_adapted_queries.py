"""The remaining 18 TPC-H query shapes, adapted to the fixture's columns.

``tpch_queries.py`` implements Q1/Q3/Q5/Q14 directly; this module completes
the set (Q2, Q4, Q6-Q13, Q15-Q22) so the engine demonstrably covers every
canonical TPC-H plan shape: correlated scalar subqueries (Q2/Q11/Q15/Q17),
EXISTS/NOT-EXISTS semi/anti chains (Q4/Q20/Q21/Q22), left-outer double
aggregation (Q13), disjunctive join predicates (Q19), conditional-aggregate
shares (Q7/Q8/Q12), group-HAVING-in (Q18), and multi-way dim chains (Q9/Q10/
Q16).  The reference has none of this surface (SURVEY.md section 2, absence
cited at BackupMessageConsumer.java:39-61); these are the "general query
surface" rows of the checklist, widened to the full benchmark suite.

Adaptation notes (the fixture is TPC-H-ish, not TPC-H): there is no
``partsupp`` table, so Q2/Q11/Q20 derive supplier-part facts from lineitem
(min unit price as cost, summed extended price as stock value); no
commit/receipt dates, so Q4/Q12/Q21 use the ship-vs-order-date lag; no
phone/comment columns, so Q13/Q16/Q22 substitute priority/acctbal/segment
predicates.  Each adaptation preserves the original query's PLAN shape,
which is what the engine is being exercised on.

Each ``driver=False`` entry names the driver-checked sibling that
already proves its operator family under the driver's budget-capped sweep
(mapping recorded in COVERAGE.md); tests/test_oracle_parity.py hash-checks
every entry here against its DuckDB oracle at sf0.001 (and sf0.01 via
SPARK_GRAFT_PARITY_SF_DIR).

Determinism contract (registry.py docstring): money aggregates go through
the decimal-exact helpers; integer-valued doubles (l_quantity) sum exactly
below 2^53; every LIMIT carries a unique-key tiebreak; float ratios are
single double ops over exact sums, so cross-engine parity is bit-exact.

Scale notes use TPC-H's row-count ratios: lineitem is the 100 TB fact;
orders is 1/4 of it; part 1/30; customer 1/40; supplier 1/400 (broadcastable
through roughly SF 10k); nation/region constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import numeric as N
from ..materialize import session_memo
from ..operators.ordered import range_ordered_parts
from .registry import register
from .tpch_queries import _t, _ts


def _supplier_nations(
    spark: SparkSession, sf_dir: str, nation: str | None = None
) -> DataFrame:
    """supplier |x| broadcast(nation), optionally pruned to one nation --
    the dimension-side pattern the Q8/Q9/Q20/Q21 adaptations share."""
    n = _t(spark, sf_dir, "nation")
    if nation is not None:
        n = n.filter(F.col("n_name") == nation)
    return _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )


# --------------------------------------------------------------------------
# Q2 - min-cost supplier per part (correlated-min over a derived partsupp)
# --------------------------------------------------------------------------

@register(
    "q2_min_cost_supplier",
    oracle="""
WITH cost AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey
), eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT p_partkey, p_brand, s_name, n_name, s_acctbal, unit_cost
FROM cost
JOIN eu   ON l_suppkey = s_suppkey
JOIN part ON p_partkey = l_partkey
WHERE p_type = 'LARGE' AND p_size <= 10
QUALIFY ROW_NUMBER() OVER (PARTITION BY p_partkey
                           ORDER BY unit_cost, s_suppkey) = 1
""",
    doc="TPC-H Q2 adapted (no partsupp): supplier-part cost = min observed "
        "unit price from lineitem; cheapest EUROPE supplier per LARGE small "
        "part, ties broken by s_suppkey.  Plan: one shuffle agg builds the "
        "derived partsupp, then broadcast joins (supplier|x|nation|x|region "
        "and the pruned part side are both tiny) and a row_number window "
        "partitioned by p_partkey -- the correlated min-subquery of the "
        "original, decorrelated into a single window pass.  Unit-price "
        "division is one double op per row, bit-identical cross-engine; "
        "the l_quantity > 0 guard (both sides) pins that: at 0 Spark's "
        "non-ANSI division yields NULL where DuckDB yields +inf.",
    driver=False,
    sibling="q15_top_supplier",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "LARGE") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_brand")
    )
    # r17 (guide section 2.3 "shuffle fewer bytes" / 3.2 "reduce the big
    # side before shuffling"): the part predicate keeps ~3.5% of parts, so
    # joining the pruned part side BEFORE the (partkey, suppkey) aggregate
    # shrinks the agg's shuffle 28x -- the min per surviving group is
    # computed over exactly the same rows (grouping is per partkey, and
    # the old plan dropped non-LARGE partkeys right after the agg anyway).
    # p_brand rides the grouping key (functionally dependent on partkey).
    # s and p are SF-proportional (supplier/part x SF): no broadcast hint --
    # AQE picks BHJ when their pruned size fits, SMJ at 100 TB, and the
    # runtime Bloom filter can prune the lineitem side of the part join
    # before its exchange.
    cost = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "p_brand", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
        )
    )
    j = cost.join(s, F.col("l_suppkey") == F.col("s_suppkey")).withColumn(
        "p_partkey", F.col("l_partkey")
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("unit_cost").asc(), F.col("s_suppkey").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_brand", "s_name", "n_name", "s_acctbal", "unit_cost")
    )


# --------------------------------------------------------------------------
# Q4 - order priority checking (EXISTS semi join)
# --------------------------------------------------------------------------

@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate <  TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 adapted (ship lag for commit lag): orders in a quarter "
        "with at least one lineitem shipped after the order date, counted "
        "per priority.  Plan: date-pruned orders LEFT SEMI lineitem on the "
        "orderkey equi-condition plus the non-equi lag predicate -- the "
        "semi join never duplicates orders, and the 3-month partition "
        "prune reaches the orders scan (PushedFilters).",
    driver=False,
    sibling="q15_top_supplier",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-07-01"))
        & (F.col("o_orderdate") < _ts("1997-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sj = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return sj.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# --------------------------------------------------------------------------
# Q6 - forecasting revenue change (pure scan-filter-aggregate)
# --------------------------------------------------------------------------

@register(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
  AND l_quantity < 24
""",
    doc="TPC-H Q6: the canonical scan-dominated query -- year + discount "
        "band + quantity filters, one decimal-exact sum, zero joins and "
        "zero wide shuffles (partial agg collapses to one row).  All three "
        "predicates push to the parquet scan; at 100 TB this is the query "
        "whose cost IS the pruned scan.",
    driver=False,
    sibling="q15_top_supplier",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        # price*discount as exact 1e-4-unit longs (split-summed; the decimal
        # product's bit-identical fast form, functions/numeric.py)
        N.csum_double(N.cents("l_extendedprice") * N.cents("l_discount"), 4, "revenue")
    )


# --------------------------------------------------------------------------
# Q7 - volume shipping between two nations
# --------------------------------------------------------------------------

@register(
    "q7_volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {N.drevenue_expr()} AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7: bilateral trade volume between two nations by ship year. "
        "Plan: the nation pair prunes BOTH dimension paths before they "
        "touch lineitem -- customer|x|nation2 and supplier|x|nation1 are "
        "broadcast, the disjunctive pair predicate is applied after the "
        "two small joins, and lineitem shuffles only against pre-filtered "
        "orders.  Year bucketing is a scan-side expression, no extra "
        "shuffle beyond the final 4-group agg.",
    driver=False,
    sibling="q15_top_supplier",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    nat = _t(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    c = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(nat.filter(F.col("n_name").isin(pair))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.filter(F.col("n_name").isin(pair))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    # c and s are nation-pruned but still SF-proportional: AQE decides.
    o = _t(spark, sf_dir, "orders").join(
        c, F.col("o_custkey") == F.col("c_custkey")
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(N.drevenue("revenue"))


# --------------------------------------------------------------------------
# Q8 - national market share within a region
# --------------------------------------------------------------------------

@register(
    "q8_market_share",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n1.n_name = 'NATION_5' THEN {N.REVENUE_SQL}
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / {N.drevenue_expr()} AS mkt_share
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = n2.n_regionkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY o_year
""",
    doc="TPC-H Q8: NATION_5's share of ECONOMY-part revenue sold into ASIA "
        "customers, per order year.  Plan shape: the market side (customer"
        "|x|nation|x|region) and the shares side (supplier|x|nation) are "
        "independent broadcast prunes; part is the midsize dim joined on "
        "l_partkey (strategy left to AQE, see q14 note); the share is a "
        "conditional decimal aggregate -- numerator and denominator in ONE "
        "pass, one divide of exact sums at the end.",
    driver=False,
    sibling="q15_top_supplier",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    nat = _t(spark, sf_dir, "nation")
    s = _supplier_nations(spark, sf_dir).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = nat.select("n_nationkey", "n_regionkey").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    # customer/part/supplier grow with SF: no hints, AQE decides per size.
    j = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    rev4 = N.revenue_cents4()
    national4 = F.when(F.col("supp_nation") == "NATION_5", rev4).otherwise(F.lit(0))
    agg = j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        N.csum_double(national4, 4, "nat_rev"),
        N.csum_double(rev4, 4, "all_rev"),
    )
    return agg.select(
        "o_year", (F.col("nat_rev") / F.col("all_rev")).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# Q9 - product-type profit by nation and year
# --------------------------------------------------------------------------

@register(
    "q9_product_profit",
    oracle=f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM({N.REVENUE_SQL}) AS DOUBLE)
       - CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(0.10 AS DECIMAL(8,2))) AS DOUBLE) AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
""",
    doc="TPC-H Q9 adapted (no ps_supplycost): supply cost modeled as 10% of "
        "retail price per unit; profit on red parts by supplier nation and "
        "order year.  Determinism: revenue and cost are summed as SEPARATE "
        "exact decimals and subtracted once as doubles -- a per-row decimal "
        "subtraction would force a (37,4)x(38,6) scale unification whose "
        "overflow behavior differs between engines.  Plan: part pruned by "
        "the name filter before the fact join; supplier|x|nation broadcast; "
        "orders joined only for the year column.",
    driver=False,
    sibling="q15_top_supplier",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _supplier_nations(spark, sf_dir).select("s_suppkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    # name-pruned part and supplier are still SF-proportional: AQE decides.
    j = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    # retail*qty*0.10 as exact 1e-6-unit longs: cents*cents gives 1e-4
    # units, x10 appends the 0.10 factor's single significant cent digit
    cost6 = N.cents("p_retailprice") * N.cents("l_quantity") * F.lit(10)
    agg = j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(
        N.csum_double(N.revenue_cents4(), 4, "rev"),
        N.csum_double(cost6, 6, "cost"),
    )
    return agg.select(
        "nation", "o_year", (F.col("rev") - F.col("cost")).alias("profit")
    )


# --------------------------------------------------------------------------
# Q10 - returned-item reporting (top 20 lossy customers)
# --------------------------------------------------------------------------

@register(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name, {N.drevenue_expr()} AS revenue, c_acctbal, n_name
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-10-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10: top-20 customers by returned revenue in a quarter. "
        "Plan: returnflag and the quarter prune both fact scans before the "
        "orderkey shuffle join; customer+nation broadcast onto the "
        "aggregate; TakeOrderedAndProject does the global top-20 without a "
        "total sort (revenue is an exact-decimal double, c_custkey breaks "
        "ties deterministically).",
    driver=False,
    sibling="q15_top_supplier",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-10-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(_t(spark, sf_dir, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    # customer x nation is SF-proportional: no hint, AQE decides.
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        c.select("c_custkey", "c_name", "c_acctbal", "n_name"),
        F.col("c_custkey") == F.col("o_custkey"),
    )
    agg = j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        N.drevenue("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


# --------------------------------------------------------------------------
# Q11 - important stock values (scalar-subquery HAVING)
# --------------------------------------------------------------------------

@register(
    "q11_important_values",
    oracle="""
WITH v AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS pv
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(pv AS DOUBLE) AS part_value
FROM v
WHERE pv * (SELECT COUNT(*) FROM v) > (SELECT SUM(pv) FROM v) * 2
""",
    doc="TPC-H Q11 adapted (no partsupp): per-part traded value through "
        "NATION_3 suppliers, keeping parts whose value exceeds 2x the "
        "mean part value (TPC-H's own FRACTION is SF-dependent -- "
        "0.0001/SF -- and a fixed 0.5%-of-total cut returned ZERO rows at "
        "sf>=0.01, making the driver's hash check vacuous; the 2x-mean "
        "form is scale-free and non-empty at every fixture SF).  Plan: "
        "one shuffle agg builds the value table, the global (count, "
        "total) pair is a 1-row broadcast over the SAME aggregate, "
        "filter is map-side.  Determinism: the comparison is pv*n > "
        "total*2 -- DECIMAL times integer on both sides, no division, "
        "no doubles -- so the boundary is exact on both engines; only "
        "the OUTPUT column is surfaced as double.",
    driver=False,
    sibling="q15_top_supplier",
)
def q11_important_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _supplier_nations(spark, sf_dir, "NATION_3").select("s_suppkey")
    from ..materialize import materialize

    # Materialized (r17, guide section 1.2): v feeds the totals aggregate
    # AND the final threshold filter -- the lineitem|x|supplier join plus
    # per-part aggregate replayed per consumer.  (A whole-table window
    # over v instead would be a data-bound single-partition window, which
    # the plan gate forbids.)
    v = materialize(
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(N.dec2("l_extendedprice")).alias("pv"))
    )
    total = v.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("pv").alias("total_pv"),
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("pv") * F.col("n_parts") > F.col("total_pv") * 2)
        .select("l_partkey", F.col("pv").cast("double").alias("part_value"))
    )


# --------------------------------------------------------------------------
# Q12 - shipping-lag priority classes (conditional counts)
# --------------------------------------------------------------------------

@register(
    "q12_ship_lag_priority",
    oracle="""
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) >= 90
            THEN 'late' ELSE 'ontime' END AS lag_class,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             THEN 1 END) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY lag_class
""",
    doc="TPC-H Q12 adapted (ship lag for the shipmode/commit columns): "
        "lineitems shipped >= 90 days after ordering vs on time, with "
        "high/low-priority conditional counts.  Plan: year filter prunes "
        "the lineitem scan; one orderkey join (orders side carries only "
        "two columns); datediff is a scan-side expression; 2-group agg.  "
        "Fixture dates are midnight-aligned so day difference is exact on "
        "both engines.",
)
def q12_ship_lag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lag_class = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) >= 90, "late"
    ).otherwise("ontime")
    return j.groupBy(lag_class.alias("lag_class")).agg(
        F.count(F.when(high, 1)).alias("high_line_count"),
        F.count(F.when(~high, 1)).alias("low_line_count"),
    )


# --------------------------------------------------------------------------
# Q13 - customer order-count distribution (left outer + double aggregate)
# --------------------------------------------------------------------------

@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
""",
    doc="TPC-H Q13 adapted (priority filter for the comment filter): "
        "distribution of per-customer order counts, zero-order customers "
        "included via the LEFT join's null-preserving COUNT(o_orderkey).  "
        "Plan: the filter lives IN the join condition (a WHERE would turn "
        "the outer join inner and drop the zero bucket); first agg "
        "shuffles on c_custkey, second on the tiny c_count domain.",
    driver=False,
    sibling="q15_top_supplier",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# Q15 - top supplier (scalar-subquery max over a derived view)
# --------------------------------------------------------------------------

@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {N.drevenue_expr()} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
    doc="TPC-H Q15: the quarter's top-revenue supplier(s), via equality "
        "against a scalar MAX over the derived revenue view.  Exact-decimal "
        "revenue makes the float equality safe cross-engine (identical "
        "bits).  Plan: one shuffle agg on l_suppkey; the max is a 1-row "
        "broadcast; supplier joins by broadcast.  Ties all surface (the "
        "TPC-H spec's multi-winner semantics), so no tiebreak is needed.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        N.drevenue("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# Q16 - supplier variety per part group (NOT IN + COUNT DISTINCT)
# --------------------------------------------------------------------------

@register(
    "q16_supplier_part_variety",
    oracle="""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
    doc="TPC-H Q16 adapted (negative balance for the complaints filter): "
        "distinct supplier count per brand/type/size over a part whitelist, "
        "excluding flagged suppliers.  Plan: the NOT IN becomes a broadcast "
        "LEFT ANTI against the pruned supplier set (s_suppkey is non-null, "
        "so anti-join and NOT IN agree); part filters prune before the "
        "fact join; COUNT DISTINCT expands to a two-phase aggregate.",
    driver=False,
    sibling="agg_cube_orders",
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_type") != "PROMO")
            & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    # bad-supplier set and size-pruned part both grow with SF: AQE decides.
    j = li.join(
        bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    ).join(p, F.col("p_partkey") == F.col("l_partkey"))
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


# --------------------------------------------------------------------------
# Q17 - small-quantity-order revenue (correlated average threshold)
# --------------------------------------------------------------------------

@register(
    "q17_small_quantity_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       / CAST(7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#5'
  AND l_quantity < (SELECT CAST(0.2 AS DOUBLE)
                           * (SUM(l2.l_quantity) / COUNT(*))
                    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
""",
    doc="TPC-H Q17: revenue from orders of a brand's parts below 20% of "
        "that part's average order quantity.  The correlated AVG "
        "decorrelates to a window average over the brand-pruned lineitems "
        "(joining the brand's parts first keeps every lineitem of those "
        "parts, so the window sees exactly the subquery's rows).  "
        "Determinism: quantities are integer-valued doubles, so SUM/COUNT "
        "is exact and the 0.2x threshold is one multiply; AVG is spelled "
        "SUM/COUNT on both engines to force the same operation order.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p5 = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#5")
        .select("p_partkey")
    )
    li5 = li.join(p5, F.col("p_partkey") == F.col("l_partkey"))
    w = Window.partitionBy("l_partkey")
    thresh = F.lit(0.2) * (
        F.sum("l_quantity").over(w) / F.count(F.lit(1)).over(w)
    )
    return (
        li5.withColumn("qty_threshold", thresh)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (N.csum_double(N.cents("l_extendedprice"), 2) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


# --------------------------------------------------------------------------
# Q18 - large-volume customers (group-HAVING-in join)
# --------------------------------------------------------------------------

@register(
    "q18_large_volume_customers",
    oracle="""
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         AS qty_sum
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, qty_sum
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
    doc="TPC-H Q18: customers whose single orders exceed 200 units, top 20 "
        "by order price.  Plan: the HAVING aggregate runs on lineitem "
        "ALONE (orderkey shuffle with map-side partial sums) and only the "
        "few qualifying orderkeys join onward -- at 100 TB the big-order "
        "set is tiny, so both downstream joins broadcast it; top-20 via "
        "TakeOrderedAndProject with the o_orderkey tiebreak.",
    driver=False,
    sibling="window_order_running_total",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # split-cents sum; the >200 HAVING boundary is exact either way (sums
    # land on the 0.01 grid, exactly representable as double at this range)
    big = (
        li.groupBy("l_orderkey")
        .agg(N.csum_double(N.cents("l_quantity"), 2, "qty_sum"))
        .filter(F.col("qty_sum") > 200)
        .select("l_orderkey", "qty_sum")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # big is the HAVING-bounded order set (qty > 200): a legitimate hint.
    # customer is SF-proportional: no hint, AQE decides.
    j = o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")).join(
        c, F.col("c_custkey") == F.col("o_custkey")
    )
    return (
        j.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "qty_sum")
    )


# --------------------------------------------------------------------------
# Q19 - disjunctive join predicates
# --------------------------------------------------------------------------

@register(
    "q19_disjunctive_revenue",
    oracle=f"""
SELECT {N.drevenue_expr()} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 35)
""",
    doc="TPC-H Q19: revenue under three disjunctive brand/size/quantity "
        "bands -- the classic test that an OR across join-sides doesn't "
        "defeat the equi-join.  Plan: the join stays a p_partkey equi-join "
        "(BHJ/SMJ by size) with the disjunction as a post-join filter; "
        "Catalyst additionally pushes the derivable single-side bounds "
        "(p_size <= 35, l_quantity <= 35) down to both scans.",
    driver=False,
    sibling="q15_top_supplier",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 35)
        )
    )
    j = li.join(p, F.col("p_partkey") == F.col("l_partkey")).filter(band)
    return j.agg(N.drevenue("revenue"))


# --------------------------------------------------------------------------
# Q20 - suppliers with excess shipped quantity (IN over grouped HAVING)
# --------------------------------------------------------------------------

@register(
    "q20_excess_qty_suppliers",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = 'NATION_7'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
  )
""",
    doc="TPC-H Q20 adapted (shipped-quantity for availqty): NATION_7 "
        "suppliers who moved >100 units of any 'small' part.  Plan: the IN "
        "subquery aggregates lineitem against the name-pruned part "
        "broadcast, then collapses to a distinct supplier set that LEFT "
        "SEMI joins the nation-pruned supplier dim -- the semi join runs "
        "on the small side, never duplicating suppliers.",
    driver=False,
    sibling="q15_top_supplier",
)
def q20_excess_qty_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    movers = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        # filter-only aggregate: plain long cents sum, boundary exact on
        # the integer-cent grid (dec > 100 <=> cents > 10000)
        .agg(F.sum(N.cents("l_quantity")).alias("qty_c"))
        .filter(F.col("qty_c") > 10000)
        .select("l_suppkey")
        .distinct()
    )
    s = _supplier_nations(spark, sf_dir, "NATION_7").select("s_suppkey", "s_name")
    return s.join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")


# --------------------------------------------------------------------------
# Q21 - suppliers who shipped last (EXISTS + NOT EXISTS chain)
# --------------------------------------------------------------------------

@register(
    "q21_waiting_supplier",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON n_nationkey = s_nationkey
WHERE o_orderstatus = 'F'
  AND n_name = 'NATION_4'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
""",
    doc="TPC-H Q21 adapted (ship date for receipt/commit lag): NATION_4 "
        "suppliers who were the STRICTLY LAST shipper in finished "
        "multi-supplier orders.  Plan: the EXISTS becomes a LEFT SEMI and "
        "the NOT EXISTS a LEFT ANTI, both equi-joined on l_orderkey with "
        "the supplier-inequality (and date) conditions attached -- two "
        "orderkey shuffles against the same lineitem projection, no "
        "correlated re-execution.  The nation+status prunes shrink l1 "
        "before either.",
    driver=False,
    sibling="q15_top_supplier",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _supplier_nations(spark, sf_dir, "NATION_4").select("s_suppkey", "s_name")
    o_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "s_name")
    )
    # One shared projection feeds both probe sides.  NOTE (r7, measured on
    # the executed sort-merge-regime plan): ReuseExchange does NOT collapse
    # the two l_orderkey shuffles -- column pruning drops l_shipdate from
    # the semi's build side, so the exchanges differ (semi shuffles the
    # narrower (o2, s2), ~25% fewer bytes than the anti's (o2, s2, d2)).
    # The scale posture is two PRUNED orderkey shuffles + merge passes,
    # each linear; pinned by
    # tests/test_plan_invariants.py::test_q21_smj_regime_executed_plan.
    # r17 optimization note: the "decide with small rows" rewrite (one
    # per-(order, supplier) ship-max aggregate + two o2 window passes +
    # equi-join back) was MEASURED WORSE in a same-session A/B at sf0.1
    # (1.56-1.89s vs 1.17-1.38s, identical 46-row result): the o2 window
    # sort over the proxy costs more than the second probe shuffle saves.
    # The semi/anti chain stays (see OPTIMIZATION_r17.md).
    others = li.select(
        F.col("l_orderkey").alias("o2"),
        F.col("l_suppkey").alias("s2"),
        F.col("l_shipdate").alias("d2"),
    )
    waited = l1.join(
        others,
        (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        others,
        (F.col("l_orderkey") == F.col("o2"))
        & (F.col("l_suppkey") != F.col("s2"))
        & (F.col("d2") > F.col("l_shipdate")),
        "left_anti",
    )
    return waited.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


# --------------------------------------------------------------------------
# Q22 - dormant high-balance accounts (anti join + scalar threshold)
# --------------------------------------------------------------------------

@register(
    "q22_dormant_accounts",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS numcust,
       {N.dsum_expr('c_acctbal')} AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT {N.davg_expr('c_acctbal')}
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c.c_custkey
      AND o_orderdate >= (SELECT CAST(MAX(o_orderdate) - INTERVAL 6 MONTH AS DATE)
                          FROM orders)
  )
GROUP BY c_mktsegment
""",
    doc="TPC-H Q22 adapted (market segment for the phone country code): "
        "customers with above-average positive balances and NO ORDERS IN "
        "THE DATASET'S LAST SIX MONTHS (data-derived cutoff: max "
        "o_orderdate minus 6 months -- the literal no-orders-at-all form "
        "was vacuous on this fixture, where orders cover every customer "
        "at sf<=0.01, so the driver's hash check passed on zero rows), "
        "totalled per segment.  Plan: two 1-row broadcasts (decimal-exact "
        "average balance; the date cutoff), the dormancy test a LEFT ANTI "
        "against the recent-orders custkey projection (date filter + "
        "2-column pruned scan); final agg over 5 segments.",
    driver=False,
    sibling="q15_top_supplier",
)
def q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    avg_pos = c.filter(F.col("c_acctbal") > 0).agg(
        N.davg("c_acctbal", "avg_bal")
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    cutoff = o.agg(F.add_months(F.max("o_orderdate"), -6).alias("cutoff_date"))
    recent = (
        o.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") >= F.col("cutoff_date"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            N.dsum("c_acctbal", "totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Data-quality constraint suite (round 8)
# --------------------------------------------------------------------------

#: Declarative constraint thresholds, shared by builder and oracle.  The
#: suite deliberately contains constraints that PASS and constraints that
#: FAIL on the fixture (uniqueness_o_custkey fails by design: orders:customer
#: is many:1), so the `satisfied` column is non-vacuous in both directions.
DQ_MAX_TOTALPRICE = 600_000.0


@register(
    "dq_constraint_suite",
    oracle=f"""
WITH a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(o_custkey) AS BIGINT) AS nc,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS dok,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS dck,
         CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
              AS BIGINT) AS ncomp,
         MAX(o_totalprice) AS mx
  FROM orders
), v AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nviol
  FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT constraint_name, metric, satisfied FROM (
  SELECT 'completeness_o_custkey' AS constraint_name,
         CAST(nc AS DOUBLE) / CAST(n AS DOUBLE) AS metric,
         nc = n AS satisfied FROM a
  UNION ALL SELECT 'uniqueness_o_orderkey',
         CAST(dok AS DOUBLE) / CAST(n AS DOUBLE), dok = n FROM a
  UNION ALL SELECT 'uniqueness_o_custkey',
         CAST(dck AS DOUBLE) / CAST(n AS DOUBLE), dck = n FROM a
  UNION ALL SELECT 'compliance_o_orderstatus',
         CAST(ncomp AS DOUBLE) / CAST(n AS DOUBLE), ncomp = n FROM a
  UNION ALL SELECT 'bound_o_totalprice_max',
         mx, mx <= {DQ_MAX_TOTALPRICE!r} FROM a
  UNION ALL SELECT 'referential_o_custkey',
         CAST(nviol AS DOUBLE), nviol = 0 FROM a, v
)
""",
    doc="Declarative data-quality constraint engine (the Deequ/dbt-test "
        "shape): completeness, key uniqueness, domain compliance, value "
        "bounds, and referential integrity evaluated as ONE metrics "
        "aggregate over the fact table plus ONE anti-join for the RI "
        "probe, then unpivoted to (constraint_name, metric, satisfied) "
        "rows.  Every ratio is a single division of exact BIGINT counts "
        "(IEEE-exact cross-engine).  Scale: the metrics pass is a single "
        "scan with map-side partials (the two COUNT DISTINCTs share one "
        "Expand); the anti-join shuffles on custkey exactly like q22's -- "
        "no hint, AQE picks the strategy, and a constraint report over "
        "100 TB costs two scans regardless of how many constraints the "
        "suite declares.  The 1-row x 1-row combine is a "
        "BroadcastNestedLoopJoin over scalars, not a data cross product.",
    driver=False,
    sibling="supplier_delivery_scorecard",
)
def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    a = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nc"),
        F.countDistinct("o_orderkey").alias("dok"),
        F.countDistinct("o_custkey").alias("dck"),
        F.sum(
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("ncomp"),
        F.max("o_totalprice").alias("mx"),
    )
    v = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("nviol"))
    row = a.crossJoin(v)
    n_d = F.col("n").cast("double")

    def _ratio(num) -> F.Column:
        return num.cast("double") / n_d

    checks = [
        ("completeness_o_custkey", _ratio(F.col("nc")), F.col("nc") == F.col("n")),
        ("uniqueness_o_orderkey", _ratio(F.col("dok")), F.col("dok") == F.col("n")),
        ("uniqueness_o_custkey", _ratio(F.col("dck")), F.col("dck") == F.col("n")),
        ("compliance_o_orderstatus", _ratio(F.col("ncomp")), F.col("ncomp") == F.col("n")),
        ("bound_o_totalprice_max", F.col("mx"), F.col("mx") <= F.lit(DQ_MAX_TOTALPRICE)),
        ("referential_o_custkey", F.col("nviol").cast("double"), F.col("nviol") == 0),
    ]
    structs = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint_name"),
                metric.alias("metric"),
                sat.alias("satisfied"),
            )
            for name, metric, sat in checks
        ]
    )
    return (
        row.select(F.explode(structs).alias("c"))
        .select("c.constraint_name", "c.metric", "c.satisfied")
    )


# --------------------------------------------------------------------------
# Mergeable histogram quantile sketch (round 8)
# --------------------------------------------------------------------------

#: Equi-width bucket count and target percentiles (integer percent so rank
#: arithmetic stays integer-exact cross-engine).
HIST_B = 64
HIST_QS = (50, 90, 99)


@register(
    "agg_histogram_quantile_sketch",
    oracle=f"""
WITH o AS (
  SELECT o_totalprice AS x, o_orderkey AS k FROM orders
  WHERE o_totalprice IS NOT NULL
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(x) AS lo, MAX(x) AS hi FROM o
), ob AS (
  SELECT x, k,
         LEAST({HIST_B - 1},
               CAST(FLOOR(((x - lo) * {HIST_B}.0) / GREATEST(hi - lo, 1e-300))
                    AS BIGINT)) AS b
  FROM o, st
), hist AS (
  SELECT r.b, CAST(COALESCE(h.cnt, 0) AS BIGINT) AS cnt
  FROM (SELECT unnest(range({HIST_B})) AS b) r
  LEFT JOIN (SELECT b, COUNT(*) AS cnt FROM ob GROUP BY b) h ON h.b = r.b
), cumhist AS (
  SELECT b, cnt,
         SUM(cnt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
), qf AS (
  SELECT q, n, lo, hi, ((q * n + 99) // 100) AS r
  FROM st, (SELECT unnest([{', '.join(str(q) for q in HIST_QS)}]) AS q)
), pick AS (
  SELECT q, n, r, b, cum - cnt AS prev_cum,
         lo + (CAST(b + 1 AS DOUBLE) * (GREATEST(hi - lo, 1e-300) / {HIST_B}.0))
           AS est_upper,
         GREATEST(hi - lo, 1e-300) / {HIST_B}.0 AS width
  FROM (
    SELECT qf.*, c.b, c.cnt, c.cum,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY c.b) AS rn
    FROM qf JOIN cumhist c ON c.cum >= qf.r
  ) WHERE rn = 1
), exact AS (
  SELECT p.q, ob.x AS exact_value
  FROM pick p JOIN ob ON ob.b = p.b
  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.q ORDER BY ob.x, ob.k)
          = p.r - p.prev_cum
)
SELECT CAST(p.q AS BIGINT) AS q_pct, p.n, p.r AS rank, p.b AS bucket,
       p.est_upper, e.exact_value,
       p.est_upper - e.exact_value AS err, p.width
FROM pick p JOIN exact e ON e.q = p.q
""",
    doc="Mergeable equi-width histogram quantile sketch with a two-phase "
        "exact-rank certificate: 64 integer bucket counts summarize the "
        "whole distribution (cell-wise ADDITIVE like the CMS, so "
        "map-side partials / per-batch deltas merge exactly -- the "
        "quantile shape for 100 TB where the exact path would buffer the "
        "column), the p50/p90/p99 estimate is the covering bucket's "
        "upper edge, and the certificate narrows to THAT bucket and "
        "sorts only its ~n/64 rows to fetch the true rank-r value "
        "(never a global sort; rank arithmetic is integer: "
        "r = (q*n+99) div 100, bucket choice by integer cum >= r).  "
        "err = est - exact is emitted and pinned in [0, width] by "
        "tests -- the one-bucket error bound IS the sketch's contract.  "
        "Float bucket/edge expressions are mirrored node-for-node; the "
        "cum window runs over exactly 64 rows regardless of data size.",
    driver=False,
    sibling="approx_quantiles_price",
)
def agg_histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(F.col("o_totalprice").alias("x"), F.col("o_orderkey").alias("k"))
    )
    # NOT de-diamonded (r17 A/B): the sketch DAG re-scans orders ~5x in
    # one job (st feeds three subtrees, ob two, the final join replays
    # pick), so rebroadcast_small(st/cumhist) + materialize(ob) looked
    # right -- but it measured WORSE (1.25 -> 2.84 s min-of-3 at sf0.1):
    # the replays are narrow pushdown scans that run IN PARALLEL inside
    # the one job, while the fix serialized the query into four
    # driver-round-trip jobs.  At cluster scale the same de-diamonding is
    # the staging-table mode's job (stage ob once, derive the bounded
    # frames from it), not an eager local collect chain.
    st = o.agg(
        F.count(F.lit(1)).alias("n"), F.min("x").alias("lo"),
        F.max("x").alias("hi"),
    )
    # GREATEST(range, 1e-300) guards the all-equal-values corpus: a zero
    # range would make the bucket expression 0/0 = NaN, and a NaN->BIGINT
    # cast ABORTS under ANSI mode (found by the degenerate-tpch sweep);
    # with the floor the whole mass lands in bucket 0, which is correct.
    rng = F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-300))
    b = F.least(
        F.lit(HIST_B - 1),
        F.floor(
            ((F.col("x") - F.col("lo")) * F.lit(float(HIST_B))) / rng
        ).cast("long"),
    )
    ob = o.crossJoin(F.broadcast(st)).select("x", "k", b.alias("b"))
    hist = (
        st.select(F.explode(F.sequence(F.lit(0), F.lit(HIST_B - 1))).alias("b"))
        .join(ob.groupBy("b").agg(F.count(F.lit(1)).alias("cnt")), "b", "left")
        .select(
            F.col("b").cast("long").alias("b"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    # 64 rows total, always: the constant partition key keeps the window
    # single-partition WITHOUT tripping the no-partition-defined warning
    wcum = (
        Window.partitionBy(F.lit(0))
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cumhist = hist.withColumn("cum", F.sum("cnt").over(wcum))
    qf = st.select(
        "n", "lo", "hi",
        F.explode(F.array(*[F.lit(q) for q in HIST_QS])).alias("q"),
    ).selectExpr("q", "n", "lo", "hi", "(q * n + 99) div 100 as r")
    wq = Window.partitionBy("q").orderBy("b")
    width = F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-300)) / F.lit(
        float(HIST_B)
    )
    pick = (
        qf.join(F.broadcast(cumhist), F.col("cum") >= F.col("r"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select(
            "q", "n", "r", "b",
            (F.col("cum") - F.col("cnt")).alias("prev_cum"),
            (
                F.col("lo")
                + (F.col("b") + 1).cast("double") * width
            ).alias("est_upper"),
            width.alias("width"),
        )
    )
    we = Window.partitionBy("q").orderBy("x", "k")
    exact = (
        ob.join(
            F.broadcast(pick.select("q", "b", "r", "prev_cum")), "b"
        )
        .withColumn("rne", F.row_number().over(we))
        .filter(F.col("rne") == F.col("r") - F.col("prev_cum"))
        .select("q", F.col("x").alias("exact_value"))
    )
    return (
        pick.join(exact, "q")
        .select(
            F.col("q").cast("long").alias("q_pct"), "n",
            F.col("r").alias("rank"), F.col("b").alias("bucket"),
            "est_upper", "exact_value",
            (F.col("est_upper") - F.col("exact_value")).alias("err"),
            "width",
        )
    )


# --------------------------------------------------------------------------
# Entity resolution: blocking -> verify -> cluster -> golden record (r8)
# --------------------------------------------------------------------------

#: Every c_custkey % ER_MOD == 0 spawns a mangled duplicate record
#: (last two name chars swapped, all other fields copied) with
#: record_id = c_custkey + ER_ID_OFFSET, so ground truth is known:
#: each probe must land in its source's cluster and nowhere else.
ER_MOD = 29
ER_ID_OFFSET = 10_000_000


@register(
    "cust_entity_resolution",
    oracle=f"""
WITH RECURSIVE records AS (
  SELECT c_custkey AS record_id, c_name AS name,
         c_nationkey, c_mktsegment, c_acctbal
  FROM customer
  UNION ALL
  SELECT c_custkey + {ER_ID_OFFSET},
         substr(c_name, 1, length(c_name) - 2)
           || reverse(substr(c_name, length(c_name) - 1, 2)),
         c_nationkey, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % {ER_MOD} = 0
), pairs AS (
  SELECT x.record_id AS a, y.record_id AS b
  FROM records x JOIN records y
    ON substr(x.name, 1, 15) = substr(y.name, 1, 15)
   AND x.c_nationkey = y.c_nationkey
   AND x.c_mktsegment = y.c_mktsegment
   AND x.c_acctbal = y.c_acctbal
   AND x.record_id < y.record_id
  WHERE levenshtein(x.name, y.name) <= 2
), edges AS (
  SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
), reach AS (
  SELECT record_id AS v, record_id AS u FROM records
  UNION
  SELECT r.v, e.b AS u FROM reach r JOIN edges e ON e.a = r.u
), lbl AS (
  SELECT v AS record_id, MIN(u) AS cluster_id FROM reach GROUP BY v
), sized AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_records
  FROM lbl GROUP BY cluster_id
)
SELECT s.cluster_id, r.name AS canonical_name, s.n_records,
       s.n_records - 1 AS n_merged
FROM sized s JOIN records r ON r.record_id = s.cluster_id
""",
    doc="End-to-end entity resolution (the record-linkage pipeline): a "
        "known-truth duplicate set (every {m}th customer mangled by a "
        "last-two-character swap, fields copied) is resolved by "
        "multi-field BLOCKING (15-char name prefix + exact nationkey + "
        "mktsegment + acctbal -- Levenshtein alone cannot discriminate "
        "TPC-H serial names, where Customer#..042 vs ..043 is edit "
        "distance 1; composite-field agreement is the Fellegi-Sunter "
        "lesson baked into the block key), Levenshtein<=2 verify inside "
        "blocks, connected components (the SAME pointer-jumping "
        "similarity.connected_components the dedup clusters use -- the "
        "operator is graph-generic), and a golden-record projection: "
        "min-record_id canonical name per cluster.  Scale: blocking is "
        "the shuffle key (never all-pairs), the edit distance runs only "
        "inside blocks, CC rounds are O(log d), and the golden-record "
        "join is on the tiny cluster table.".format(m=ER_MOD),
)
def cust_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM

    c = _t(spark, sf_dir, "customer")
    ln = F.length("c_name")
    originals = c.select(
        F.col("c_custkey").alias("record_id"), F.col("c_name").alias("name"),
        "c_nationkey", "c_mktsegment", "c_acctbal",
    )
    probes = c.filter(F.col("c_custkey") % ER_MOD == 0).select(
        (F.col("c_custkey") + F.lit(ER_ID_OFFSET)).alias("record_id"),
        F.concat(
            F.col("c_name").substr(F.lit(1), ln - 2),
            F.reverse(F.col("c_name").substr(ln - 1, F.lit(2))),
        ).alias("name"),
        "c_nationkey", "c_mktsegment", "c_acctbal",
    )
    # Materialized (r17, guide section 1.2): records feeds the block
    # self-join's two sides, the CC node list, and the golden-record
    # join -- without the checkpoint the customer scan + probe union
    # re-evaluated per consumer (3-4 scans per run at every scale).
    from ..materialize import materialize

    records = materialize(originals.unionByName(probes))
    x = records.select(
        F.col("record_id").alias("a"), F.col("name").alias("name_a"),
        F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    y = records.select(
        F.col("record_id").alias("b"), F.col("name").alias("name_b"),
        F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    pairs = (
        x.join(
            y,
            (F.substring("name_a", 1, 15) == F.substring("name_b", 1, 15))
            & (x["nk"] == y["nk"]) & (x["seg"] == y["seg"])
            & (x["bal"] == y["bal"]) & (x["a"] < y["b"]),
        )
        .filter(F.levenshtein("name_a", "name_b") <= 2)
        .select(
            "a", "b",
            F.substring("name_a", 1, 15).alias("blk_p"), x["nk"].alias("blk_n"),
        )
    )
    # Block-confined CC (r18): every edge requires equal (15-char prefix,
    # nationkey), so components never cross those blocks and the O(log d)
    # iterative label loop -- 3-4 eager materialized rounds per build --
    # collapses to one grouped union-find crossing over the pair relation
    # (see blockwise_connected_components' docstring for the equality and
    # scale argument).  Isolated records re-enter via left-join+coalesce,
    # exactly the generic loop's init labels.
    noniso = SIM.blockwise_connected_components(pairs, ["blk_p", "blk_n"])
    labels = (
        records.select(F.col("record_id").alias("v"))
        .join(noniso, "v", "left")
        .select("v", F.coalesce("lbl", F.col("v")).alias("lbl"))
    )
    sized = labels.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_records")
    )
    return sized.join(
        records, records["record_id"] == sized["cluster_id"]
    ).select(
        "cluster_id", F.col("name").alias("canonical_name"), "n_records",
        (F.col("n_records") - 1).alias("n_merged"),
    )


#: Minimum pair support for basket_copurchase_lift (orders containing both).
BASKET_MIN_SUPPORT = 2


def _order_part_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (l_orderkey, l_partkey) -- the basket item set THREE
    registered queries start from (item-item CF, co-purchase lift,
    co-purchase PageRank).  Session-memoized (r11): one distinct per
    sweep, not three."""

    def build() -> DataFrame:
        return _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).distinct()

    return session_memo(spark, f"order_part_items:{sf_dir}", build)


def _copurchase_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a < part_b, supp_ab >= BASKET_MIN_SUPPORT) co-purchase pair
    counts over the memoized basket items -- the bounded per-order pair
    self-join all three basket queries share.  Scale: the self-join is
    keyed on l_orderkey and bounded by basket size (never |parts|^2);
    memoizing it makes a sweep pay that join once."""

    def build() -> DataFrame:
        items = _order_part_items(spark, sf_dir)
        a = items.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
        )
        b = items.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
        )
        return (
            a.join(b, ["ok"])
            .filter(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).alias("supp_ab"))
            .filter(F.col("supp_ab") >= BASKET_MIN_SUPPORT)
        )

    return session_memo(spark, f"copurchase_pairs:{sf_dir}", build)



@register(
    "basket_copurchase_lift",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
), supp AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS supp
  FROM items GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS supp_ab
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
)
SELECT p.part_a, p.part_b, p.supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
       (1000000 * n.n_orders * p.supp_ab) // (sa.supp * sb.supp) AS lift_ppm
FROM pairs p
JOIN supp sa ON sa.l_partkey = p.part_a
JOIN supp sb ON sb.l_partkey = p.part_b
CROSS JOIN n
ORDER BY lift_ppm DESC, part_a, part_b
LIMIT 100
""",
    doc="Market-basket co-purchase mining (the association-rule support/"
        "lift primitive): top-100 part pairs by lift among pairs bought "
        "together in >= {m} orders.  Lift is kept EXACT as parts-per-"
        "million via pure BIGINT arithmetic -- (1e6 * N * supp_ab) DIV "
        "(supp_a * supp_b) -- so the ranking is engine-independent with "
        "no float division anywhere; the (lift_ppm, part_a, part_b) "
        "order is total.  Scale: the pair generation self-joins the "
        "DISTINCT (order, part) item table on l_orderkey, so work per "
        "order is C(items,2) with items <= 13 on TPC-H shapes -- bounded "
        "fan-out, never all-pairs across parts; supports are map-side-"
        "combined counts; the support lookups are plain equi-joins AQE "
        "can broadcast when part is small; the 1-row order count rides "
        "an explicit bounded broadcast; top-100 is "
        "TakeOrderedAndProject.".format(m=BASKET_MIN_SUPPORT),
    driver=False,
    sibling="part_copurchase_pagerank",
)
def basket_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = _order_part_items(spark, sf_dir)
    n = items.agg(
        F.count_distinct(F.col("l_orderkey")).alias("n_orders")
    )
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    pairs = _copurchase_pair_counts(spark, sf_dir)
    sa = supp.select(
        F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a")
    )
    sb = supp.select(
        F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b")
    )
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "supp_ab", "supp_a", "supp_b",
            F.expr(
                "(1000000L * n_orders * supp_ab) div (supp_a * supp_b)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "part_a", "part_b")
        .limit(100)
    )


#: Survivorship fixture constants: every SURV_MOD-th customer gets a probe
#: duplicate whose name is mangled (last-two-char swap), whose segment is
#: LOST (NULL), and whose balance drifts by +SURV_DRIFT -- so the golden
#: record genuinely has to pick fields from different cluster members.
SURV_MOD = 6
SURV_ID_OFFSET = 20_000_000
SURV_DRIFT = "0.05"
SURV_BAL_TOL = "0.10"


@register(
    "cust_survivorship_golden",
    oracle=f"""
WITH RECURSIVE records AS (
  SELECT c_custkey AS record_id, c_name AS name, c_nationkey,
         c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer
  UNION ALL
  SELECT c_custkey + {SURV_ID_OFFSET},
         substr(c_name, 1, length(c_name) - 2)
           || reverse(substr(c_name, length(c_name) - 1, 2)),
         c_nationkey, NULL,
         CAST(c_acctbal AS DECIMAL(18,2)) + CAST({SURV_DRIFT} AS DECIMAL(18,2))
  FROM customer WHERE c_custkey % {SURV_MOD} = 0
), pairs AS (
  SELECT x.record_id AS a, y.record_id AS b
  FROM records x JOIN records y
    ON substr(x.name, 1, 15) = substr(y.name, 1, 15)
   AND x.c_nationkey = y.c_nationkey
   AND x.record_id < y.record_id
  WHERE levenshtein(x.name, y.name) <= 2
    AND abs(x.bal - y.bal) <= CAST({SURV_BAL_TOL} AS DECIMAL(18,2))
), edges AS (
  SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
), reach AS (
  SELECT record_id AS v, record_id AS u FROM records
  UNION
  SELECT r.v, e.b AS u FROM reach r JOIN edges e ON e.a = r.u
), lbl AS (
  SELECT v AS record_id, MIN(u) AS cluster_id FROM reach GROUP BY v
), seg_votes AS (
  SELECT l.cluster_id, r.c_mktsegment AS seg, COUNT(*) AS votes
  FROM lbl l JOIN records r USING (record_id)
  WHERE r.c_mktsegment IS NOT NULL
  GROUP BY 1, 2
), seg_pick AS (
  SELECT cluster_id, seg FROM (
    SELECT cluster_id, seg,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY votes DESC, seg) AS rn
    FROM seg_votes
  ) WHERE rn = 1
), agg AS (
  SELECT l.cluster_id,
         CAST(COUNT(*) AS BIGINT) AS n_records,
         CAST(MAX(r.bal) AS DOUBLE) AS golden_acctbal
  FROM lbl l JOIN records r USING (record_id)
  GROUP BY 1
)
SELECT a.cluster_id, r.name AS golden_name, s.seg AS golden_segment,
       a.golden_acctbal, a.n_records
FROM agg a
JOIN records r ON r.record_id = a.cluster_id
LEFT JOIN seg_pick s ON s.cluster_id = a.cluster_id
""",
    doc="Field-level SURVIVORSHIP golden record (the master-data-"
        "management step after entity resolution): a probe set with "
        "per-field damage (mangled name, LOST segment, +{d} balance "
        "drift) is clustered by tolerance-based matching -- block on "
        "(15-char name prefix, nationkey), verify levenshtein <= 2 AND "
        "|bal diff| <= {t} in exact DECIMAL -- then each cluster's "
        "golden row picks each field by its own rule: name from the "
        "min-record_id representative, segment by deterministic majority "
        "vote over non-null values (votes DESC, value ASC -- mode() "
        "alone is tie-unspecified in both engines), balance as the "
        "cluster MAX in DECIMAL.  Scale: blocking is the shuffle key "
        "and the balance tolerance is BANDED into the block key (exact "
        "decimal buckets at the tolerance width, 3-bucket probe side -- "
        "lossless and duplicate-free), so the levenshtein verify runs "
        "on ~1-2-record bands instead of whole (prefix, nation) blocks; "
        "O(log d) CC rounds; the vote and max aggregates ride one "
        "cluster_id shuffle over the small label "
        "table.".format(d=SURV_DRIFT, t=SURV_BAL_TOL),
    driver=False,
    sibling="cust_entity_resolution",
)
def cust_survivorship_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM

    c = _t(spark, sf_dir, "customer")
    ln = F.length("c_name")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    originals = c.select(
        F.col("c_custkey").alias("record_id"),
        F.col("c_name").alias("name"),
        "c_nationkey",
        "c_mktsegment",
        bal.alias("bal"),
    )
    probes = c.filter(F.col("c_custkey") % SURV_MOD == 0).select(
        (F.col("c_custkey") + F.lit(SURV_ID_OFFSET)).alias("record_id"),
        F.concat(
            F.col("c_name").substr(F.lit(1), ln - 2),
            F.reverse(F.col("c_name").substr(ln - 1, F.lit(2))),
        ).alias("name"),
        "c_nationkey",
        F.lit(None).cast("string").alias("c_mktsegment"),
        (bal + F.lit(SURV_DRIFT).cast("decimal(18,2)")).alias("bal"),
    )
    # Materialized (r17): same multi-consumer shape as
    # cust_entity_resolution's records -- banded self-join (x explodes 3
    # bucket probes), CC node list, member join, golden-name join.
    from ..materialize import materialize

    records = materialize(originals.unionByName(probes))
    # banded range-join bucketing: the |bal diff| <= 0.10 tolerance is a
    # range predicate, so bucket balances at the tolerance width (exact
    # decimal*10 -> floor) and probe each record against buckets
    # {b-1, b, b+1} -- LOSSLESS (a 0.10 gap moves the scaled value by
    # exactly 1.0, so matching pairs are never >1 bucket apart) and
    # duplicate-free (each pair matches on exactly one probe value).
    # This turns the (prefix, nation) blocks -- up to ~40 records each at
    # ANY scale factor -- into (prefix, nation, bal-band) blocks of ~1-2,
    # so the levenshtein verify runs on near-candidates only: the same
    # equi-join reduction every range join in this repo uses.
    bkt = F.floor(F.col("bal") * 10)
    x = records.select(
        F.col("record_id").alias("a"), F.col("name").alias("name_a"),
        F.col("c_nationkey").alias("nk"), F.col("bal").alias("bal_a"),
        F.explode(
            F.array(bkt - 1, bkt, bkt + 1)
        ).alias("bb"),
    )
    y = records.select(
        F.col("record_id").alias("b"), F.col("name").alias("name_b"),
        F.col("c_nationkey").alias("nk"), F.col("bal").alias("bal_b"),
        bkt.alias("bb"),
    )
    pairs = (
        x.join(
            y,
            (F.substring("name_a", 1, 15) == F.substring("name_b", 1, 15))
            & (x["nk"] == y["nk"]) & (x["bb"] == y["bb"]) & (x["a"] < y["b"]),
        )
        .filter(
            (F.levenshtein("name_a", "name_b") <= 2)
            & (
                F.abs(F.col("bal_a") - F.col("bal_b"))
                <= F.lit(SURV_BAL_TOL).cast("decimal(18,2)")
            )
        )
        .select(
            "a", "b",
            F.substring("name_a", 1, 15).alias("blk_p"), x["nk"].alias("blk_n"),
        )
    )
    # Block-confined CC (r18): every edge requires equal (15-char prefix,
    # nationkey) -- the bal BAND is a filter inside those blocks, not a
    # partition, so (prefix, nationkey) still confines every component --
    # and the iterative label loop collapses to one grouped union-find
    # crossing (blockwise_connected_components docstring has the equality
    # and scale argument).  Isolated records re-enter via
    # left-join+coalesce, exactly the generic loop's init labels.
    noniso = SIM.blockwise_connected_components(pairs, ["blk_p", "blk_n"])
    # Materialized: labels feed TWO aggregate branches (seg_votes and the
    # max/count agg), and the replayed subtree -- banded self-join +
    # levenshtein + the union-find crossing -- is exactly the
    # shuffle/Python-crossing shape the r17 A/B rule says to checkpoint
    # (one job here still beats the 3-4 the old CC loop paid).
    labels = materialize(
        records.select(F.col("record_id").alias("v"))
        .join(noniso, "v", "left")
        .select(
            F.col("v").alias("record_id"),
            F.coalesce("lbl", F.col("v")).alias("cluster_id"),
        )
    )
    member = labels.join(records, "record_id")
    seg_votes = (
        member.filter(F.col("c_mktsegment").isNotNull())
        .groupBy("cluster_id", F.col("c_mktsegment").alias("seg"))
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = Window.partitionBy("cluster_id").orderBy(
        F.col("votes").desc(), F.col("seg")
    )
    seg_pick = (
        seg_votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("seg").alias("golden_segment"))
    )
    agg = member.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.max("bal").cast("double").alias("golden_acctbal"),
    )
    return (
        agg.join(
            records.select(
                F.col("record_id").alias("cluster_id"),
                F.col("name").alias("golden_name"),
            ),
            "cluster_id",
        )
        .join(seg_pick, "cluster_id", "left")
        .select(
            "cluster_id", "golden_name", "golden_segment",
            "golden_acctbal", "n_records",
        )
    )


@register(
    "orders_skyline_pareto",
    oracle="""
WITH bydate AS (
  SELECT o_orderdate AS d, MAX(o_totalprice) AS mx
  FROM orders GROUP BY 1
), runmax AS (
  SELECT d, mx,
         MAX(mx) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_prior
  FROM bydate
)
SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
FROM orders o JOIN runmax r ON r.d = o.o_orderdate
WHERE o.o_totalprice = r.mx
  AND (r.m_prior IS NULL OR o.o_totalprice > r.m_prior)
""",
    doc="Pareto-skyline query (earliest-date / highest-price frontier): "
        "the orders not dominated by any other -- b dominates a iff "
        "b.date <= a.date AND b.price >= a.price with one strict -- the "
        "record-setting-orders multi-objective primitive.  Computed by "
        "DECOMPOSITION, not the naive all-pairs NOT EXISTS (which is "
        "quadratic -- measured: DuckDB IEJoin takes 3.7s at sf0.01 and "
        "times out at sf0.1; this form is milliseconds): (1) per-date "
        "max price -- a map-side-combined aggregate that collapses the "
        "xSF fact to ONE row per date, (2) a running max over the "
        "date-count-bounded table (the single-partition window is over "
        "calendar metadata, ~2.5k rows at ANY scale factor, never the "
        "fact), (3) one equi-join back; a row survives iff it holds its "
        "date's max AND strictly beats every prior date's.  Same "
        "three-step plan on both engines; pure comparisons on the "
        "2-dp-clean price, bit-exact parity.",
    driver=False,
    sibling="window_order_running_total",
)
def orders_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bydate = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.max("o_totalprice").alias("mx")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    runmax = bydate.withColumn("m_prior", F.max("mx").over(w))
    return (
        o.join(
            F.broadcast(runmax),
            o["o_orderdate"] == runmax["d"],
        )
        .filter(
            (F.col("o_totalprice") == F.col("mx"))
            & (
                F.col("m_prior").isNull()
                | (F.col("o_totalprice") > F.col("m_prior"))
            )
        )
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


@register(
    "cust_rfm_segmentation",
    oracle="""
WITH anchor AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS d0 FROM orders
), base AS (
  SELECT o_custkey AS custkey,
         CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                         (SELECT d0 FROM anchor)) AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
), thr AS (
  SELECT quantile_cont(recency_days, 0.2) AS r1,
         quantile_cont(recency_days, 0.4) AS r2,
         quantile_cont(recency_days, 0.6) AS r3,
         quantile_cont(recency_days, 0.8) AS r4,
         quantile_cont(frequency, 0.2) AS f1,
         quantile_cont(frequency, 0.4) AS f2,
         quantile_cont(frequency, 0.6) AS f3,
         quantile_cont(frequency, 0.8) AS f4,
         quantile_cont(monetary, 0.2) AS m1,
         quantile_cont(monetary, 0.4) AS m2,
         quantile_cont(monetary, 0.6) AS m3,
         quantile_cont(monetary, 0.8) AS m4
  FROM base
)
SELECT custkey, recency_days, frequency, monetary,
       5 - (CAST(recency_days > r1 AS BIGINT) + CAST(recency_days > r2 AS BIGINT)
            + CAST(recency_days > r3 AS BIGINT) + CAST(recency_days > r4 AS BIGINT))
         AS r_score,
       1 + CAST(frequency > f1 AS BIGINT) + CAST(frequency > f2 AS BIGINT)
         + CAST(frequency > f3 AS BIGINT) + CAST(frequency > f4 AS BIGINT)
         AS f_score,
       1 + CAST(monetary > m1 AS BIGINT) + CAST(monetary > m2 AS BIGINT)
         + CAST(monetary > m3 AS BIGINT) + CAST(monetary > m4 AS BIGINT)
         AS m_score
FROM base CROSS JOIN thr
""",
    doc="RFM customer segmentation (recency / frequency / monetary "
        "quintile scores, the classic CRM feature): per customer, days "
        "since last order (anchored at the corpus max date), order "
        "count, and exact-decimal spend; each metric scored 1-5 by "
        "comparison against its four exact quintile thresholds "
        "(recency inverted so 5 = most recent).  DELIBERATELY not a "
        "global NTILE window -- that is a single-task total sort at 100 "
        "TB; threshold bucketing needs only a 1-row percentile "
        "aggregate broadcast back over the per-customer frame, is "
        "fully distributed, and gives tied metric values tied scores "
        "(arguably the better semantics).  Bit-exact: thresholds ride "
        "the percentile()==quantile_cont path, monetary is an exact "
        "decimal sum, comparisons and the small-integer adds are "
        "exact.  Customers with zero orders are out of scope (RFM is "
        "defined on purchasers).",
    driver=False,
    sibling="cust_entity_resolution",
)
def cust_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("d0"))
    base = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast(N.DEC)).cast("double")
            .alias("monetary"),
        )
        .crossJoin(anchor)
        .select(
            "custkey",
            F.datediff(F.col("d0"), F.col("last_d")).cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    thr = base.agg(
        *[
            F.percentile(F.col(c), F.lit(q)).alias(f"{c[0]}{i + 1}")
            for c in ("recency_days", "frequency", "monetary")
            for i, q in enumerate(qs)
        ]
    )

    def _bucket(col: str, pfx: str) -> F.Column:
        s = sum(
            (F.col(col) > F.col(f"{pfx}{i}")).cast("long") for i in (1, 2, 3, 4)
        )
        return s

    return base.crossJoin(thr).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(5) - _bucket("recency_days", "r")).alias("r_score"),
        (F.lit(1) + _bucket("frequency", "f")).alias("f_score"),
        (F.lit(1) + _bucket("monetary", "m")).alias("m_score"),
    )


@register(
    "part_itemsim_cf",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), supp AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS supp
  FROM items GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS supp_ab
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
)
SELECT p.part_a, p.part_b, p.supp_ab,
       p.supp_ab / sqrt(CAST(sa.supp * sb.supp AS DOUBLE)) AS cosine
FROM pairs p
JOIN supp sa ON sa.l_partkey = p.part_a
JOIN supp sb ON sb.l_partkey = p.part_b
ORDER BY cosine DESC, part_a, part_b
LIMIT 20
""",
    doc="Item-item collaborative filtering: cosine similarity between "
        "parts over the binary order-basket incidence matrix -- "
        "cooc(a,b) / sqrt(freq(a)*freq(b)), the memory-based recommender "
        "primitive (basket_copurchase_lift is the association-rule view "
        "of the SAME co-occurrence frame; this is the vector-space "
        "view).  Top-20 with full (cosine DESC, part_a, part_b) "
        "tiebreak.  Bit-exact despite the float: the only non-integer "
        "ops are one BIGINT->double cast, one sqrt and one division -- "
        "each correctly rounded per IEEE-754 on identical operands, so "
        "unlike ln/pow no libm variance exists to leak in.  Scale: "
        "pair generation is the bounded per-order self-join (never "
        "all-pairs across parts), min-support prunes the tail before "
        "the frequency joins, and the top-k is TakeOrderedAndProject.",
    driver=False,
    sibling="part_copurchase_pagerank",
)
def part_itemsim_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = _order_part_items(spark, sf_dir)
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    pairs = _copurchase_pair_counts(spark, sf_dir)
    sa = supp.select(
        F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a")
    )
    sb = supp.select(
        F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b")
    )
    cos = F.col("supp_ab") / F.sqrt(
        (F.col("supp_a") * F.col("supp_b")).cast("double")
    )
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .select("part_a", "part_b", "supp_ab", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "cust_interpurchase_gaps",
    oracle="""
WITH o AS (
  SELECT c.c_mktsegment AS segment,
         datediff('day',
                  lag(o.o_orderdate) OVER (
                    PARTITION BY o.o_custkey
                    ORDER BY o.o_orderdate, o.o_orderkey
                  ),
                  o.o_orderdate) AS gap
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), g AS (
  SELECT segment, gap FROM o WHERE gap IS NOT NULL
), r AS (
  SELECT segment, gap,
         row_number() OVER (PARTITION BY segment ORDER BY gap) AS rn,
         COUNT(*) OVER (PARTITION BY segment) AS n
  FROM g
)
SELECT segment,
       CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS BIGINT)
         AS median_gap_days,
       CAST(MIN(CASE WHEN rn = (9 * n + 9) // 10 THEN gap END) AS BIGINT)
         AS p90_gap_days
FROM r GROUP BY segment
""",
    doc="Inter-purchase cadence by market segment: per customer the days "
        "between consecutive orders (lag over the total (o_orderdate, "
        "o_orderkey) key), then the DISCRETE median and p90 gap per "
        "segment by rank selection -- the purchase-frequency half of the "
        "RFM picture (cust_rfm_segmentation buckets recency; this "
        "measures the rhythm).  Same integer discipline as "
        "doc_winsorized_stats: rank k = (n+1) div 2 / ceil(9n/10) in "
        "pure integer arithmetic, order statistics picked by "
        "row_number, day gaps are exact integers -- no interpolation, "
        "no float.  Scale: one shuffle on o_custkey for the lag, one on "
        "the bounded segment key for the rank window; the customer join "
        "is an equi-join AQE sizes.",
    driver=False,
    sibling="cust_entity_resolution",
)
def cust_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.join(c, "o_custkey")
        .select(
            "segment",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap"),
        )
        .where(F.col("gap").isNotNull())
    )
    part = Window.partitionBy("segment")
    r = g.select(
        "segment", "gap",
        F.row_number().over(part.orderBy("gap")).alias("rn"),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    med_k = F.expr("(n + 1) div 2")
    p90_k = F.expr("(9 * n + 9) div 10")
    return r.groupBy("segment").agg(
        F.max("n").alias("n_gaps"),
        F.min(F.when(F.col("rn") == med_k, F.col("gap"))).cast("long").alias(
            "median_gap_days"
        ),
        F.min(F.when(F.col("rn") == p90_k, F.col("gap"))).cast("long").alias(
            "p90_gap_days"
        ),
    )


@register(
    "supplier_delivery_scorecard",
    oracle="""
WITH s AS (
  SELECT l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(COUNT(CASE WHEN datediff('day', o_orderdate, l_shipdate) >= 90
                         THEN 1 END) AS BIGINT) AS n_late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY l_suppkey
  HAVING COUNT(*) >= 10
)
SELECT l_suppkey, n_lines, n_late,
       CAST(n_late AS DOUBLE) / n_lines AS late_rate
FROM s
ORDER BY late_rate DESC, l_suppkey
LIMIT 20
""",
    doc="Supplier delivery-reliability scorecard: the 20 worst late-"
        "delivery rates (ship >=90 days after order, the adapted Q12 "
        "lag convention -- the fixture carries no receipt/commit dates) "
        "among suppliers with >=10 shipped lines -- the "
        "minimum-volume HAVING is what keeps a 1-for-1 supplier from "
        "topping the board.  One map-side-combined aggregate over "
        "l_suppkey, one conditional count, a single-division double "
        "(exact integers in, deterministic out), TakeOrderedAndProject "
        "for the cut with the suppkey tie-break.  Scale: one equi-join "
        "AQE sizes plus the supplier-keyed agg -- the scorecard pattern "
        "at 100 TB is 'join narrow, reduce first, rank the "
        "reduction'.",
)
def supplier_delivery_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) >= 90
    s = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(F.when(late, F.lit(1))).alias("n_late"),
        )
        .where(F.col("n_lines") >= 10)
    )
    return (
        s.select(
            "l_suppkey", "n_lines", "n_late",
            (F.col("n_late").cast("double") / F.col("n_lines")).alias(
                "late_rate"
            ),
        )
        .orderBy(F.desc("late_rate"), F.asc("l_suppkey"))
        .limit(20)
    )


@register(
    "orders_abc_classification",
    oracle="""
WITH p AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY l_partkey
), r AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS cum_rev,
         SUM(rev) OVER () AS tot
  FROM p
), c AS (
  SELECT CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8
              THEN 'A'
              WHEN CAST(cum_rev AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95
              THEN 'B'
              ELSE 'C' END AS abc_class,
         rev, tot
  FROM r
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS DOUBLE) AS class_revenue,
       CAST(SUM(rev) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE) AS revenue_share
FROM c GROUP BY abc_class
""",
    doc="ABC (Pareto 80/95) inventory classification: parts ranked by "
        "exact DECIMAL revenue, cumulative share along the (rev DESC, "
        "partkey) total order, class A up to 80%%, B to 95%%, C the tail "
        "-- the working-capital cut behind every stocking policy.  The "
        "cumulative sum is exact decimal over an explicit ROWS frame on "
        "a total order; each share is ONE double division of exact "
        "decimals, so the class boundary is bit-deterministic "
        "cross-engine.  Scale: one part-keyed aggregate collapses the "
        "fact table, then the cumulative sum runs as a DISTRIBUTED "
        "prefix sum over the (rev DESC, partkey) total order -- "
        "repartitionByRange on the order key, per-partition window "
        "sums, and a broadcast-joined offsets table built from the "
        "TINY one-row-per-partition partial sums (the doc_weighted_"
        "sample machinery) -- so no single-partition window ever sees "
        "the full catalog.  Decimal addition is exact/associative, so "
        "the decomposed cum_rev is bit-identical to the oracle's "
        "global-window form regardless of where the sampled range "
        "boundaries land.",
    driver=False,
    sibling="window_order_running_total",
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # r17: the fact-table collapse carries the exact sum as split long
    # cents (functions/numeric.py) and reassembles to the SAME
    # DECIMAL(18,2) the old form produced (values are 2-dp-clean and fit
    # (18,2)), so the decimal prefix-sum machinery downstream -- whose
    # exactness/associativity argument the doc relies on -- is unchanged.
    v = N.cents("l_extendedprice")
    p = li.groupBy("l_partkey").agg(
        (
            (
                F.sum(F.shiftright(v, 20)).cast("decimal(38,0)") * F.lit(1 << 20)
                + F.sum(F.pmod(v, F.lit(1 << 20)))
            )
            / F.lit(100)
        )
        .cast(N.DEC)
        .alias("rev")
    )
    parts = range_ordered_parts(p, F.desc("rev"), F.asc("l_partkey"))
    psums = parts.groupBy("pid").agg(F.sum("rev").alias("psum"))
    wo = Window.orderBy("pid")  # nparts rows: constant-size, not data-bound
    offsets = psums.select(
        "pid",
        F.coalesce(
            F.sum("psum").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast(N.DEC),
        ).alias("offset"),
        F.sum("psum").over(Window.partitionBy()).alias("tot"),
    )
    win = Window.partitionBy("pid").orderBy(
        F.desc("rev"), F.asc("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = parts.join(F.broadcast(offsets), "pid").select(
        "rev",
        (F.col("offset") + F.sum("rev").over(win)).alias("cum_rev"),
        "tot",
    )
    share = F.col("cum_rev").cast("double") / F.col("tot").cast("double")
    c = r.select(
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
        "rev",
        "tot",
    )
    return c.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("double").alias("class_revenue"),
        (F.sum("rev").cast("double") / F.max("tot").cast("double")).alias(
            "revenue_share"
        ),
    )

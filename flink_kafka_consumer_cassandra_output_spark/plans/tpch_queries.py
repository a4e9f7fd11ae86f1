"""General query surface over the TPC-H-ish fixture tables.

The reference has no SQL layer, no joins, no windowing, no set ops
(SURVEY.md section 2 "absent operator categories"; absence cited at
/root/reference/src/main/java/com/cansever/consumer/BackupMessageConsumer.java:39-61
-- a single fully-chained stream with no keyBy/join anywhere).  The engine
provides the whole category checklist from Spark built-ins; each query here
is one checklist row, oracle-checked against DuckDB.

Scale design notes (the 100 TB lens), per query in its docstring.  Common
rules: dimension tables are broadcast explicitly (region/nation/supplier/
customer are tiny relative to fact tables at every sf); money aggregates use
the decimal-exact helpers in ``functions/numeric.py`` (order-insensitive
across 1000 partial aggregates); every top-k has a unique-key tiebreak so
LIMIT is deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import numeric as N
from ..sources import tables
from .registry import register

_DEC8 = "decimal(8,2)"  # discounts/taxes in [0,1]; narrow scale keeps
# decimal multiply chains inside 38-digit precision on both engines.


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


def _ts(lit: str):
    return F.lit(lit).cast("timestamp")


# --------------------------------------------------------------------------
# Aggregation family
# --------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {N.dsum_expr('l_quantity')} AS sum_qty,
  {N.dsum_expr('l_extendedprice')} AS sum_base_price,
  {N.drevenue_expr()} AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))
           * (CAST(1 AS DECIMAL(8,2)) + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE)
    AS sum_charge,
  {N.davg_expr('l_quantity')} AS avg_qty,
  {N.davg_expr('l_extendedprice')} AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary: multi-aggregate hash aggregation with "
        "decimal-exact sums/avgs; map-side partial agg into a 6-group shuffle",
    driver=False,
    sibling="q15_top_supplier",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= _ts("2001-09-02"))
    # price*(1-disc)*(1+tax) as exact 1e-6-unit longs (split-summed; the
    # decimal chain's bit-identical fast form -- see functions/numeric.py
    # and tests/test_numeric_cents.py::test_charge_scale6_bitequal)
    charge_cents6 = N.revenue_cents4() * (F.lit(100) + N.cents("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        N.dsum("l_quantity", "sum_qty"),
        N.dsum("l_extendedprice", "sum_base_price"),
        N.drevenue("sum_disc_price"),
        N.csum_double(charge_cents6, 6, "sum_charge"),
        N.davg("l_quantity", "avg_qty"),
        N.davg("l_extendedprice", "avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_rollup_lineitem",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {N.dsum_expr('l_quantity')} AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="ROLLUP hierarchy (flag -> flag+status -> grand total); Spark expands "
        "to one Expand + single hash aggregate, no extra shuffle per level",
    driver=False,
    sibling="agg_cube_orders",
)
def agg_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        N.dsum("l_quantity", "sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_cube_orders",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       {N.dsum_expr('o_totalprice')} AS sum_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE over two low-cardinality dims (all 2^2 grouping combinations)",
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        N.dsum("o_totalprice", "sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {N.dsum_expr('l_quantity')} AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""".strip()


@register(
    "sql_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    doc="GROUPING SETS via the spark.sql parser surface -- the same ANSI text "
        "runs verbatim on both engines (SURVEY.md section 2: SQL parser row)",
    driver=False,
    sibling="agg_cube_orders",
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables.register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


#: approx_count_distinct's default relative standard deviation, and the
#: certificate's tolerance: 3 sigma of the sketch's own guarantee, not a
#: tuned constant (HLL++ at rsd=0.05 stays within 15% with probability
#: ~0.997; tests/test_approx.py pins the fixture tighter at <10%).
_HLL_RSD = 0.05
_HLL_BOUND = 3 * _HLL_RSD


def distinct_bound_certificate(agg: DataFrame) -> DataFrame:
    """Boolean error-bound certificate for a per-group HLL distinct sketch.

    ``agg`` carries (l_returnflag, approx_parts, exact_parts, n_rows); the
    returned frame replaces the engine-specific sketch VALUE with the
    sketch's accuracy GUARANTEE as a hashable boolean — the same
    graduation trick as ``quantile_rank_certificate``.  Split out so tests
    can feed a deliberately broken sketch and watch the boolean flip (a
    certificate nobody can falsify proves nothing)."""
    rel = (
        F.abs(
            F.col("approx_parts").cast("double")
            - F.col("exact_parts").cast("double")
        )
        / F.col("exact_parts").cast("double")
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_parts",
        (rel <= F.lit(_HLL_BOUND)).alias("within_bound"),
    )


@register(
    "approx_distinct_parts",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS within_bound
FROM lineitem
GROUP BY l_returnflag
""",
    doc="approx_count_distinct (HyperLogLog++) per return flag -- the "
        "sketch-based path for cardinalities too large for exact distinct "
        "at 100 TB.  Sketch VALUES are engine-specific (DuckDB has no "
        "bit-compatible HLL), so the hash-matched contract is the sketch's "
        "error GUARANTEE: the engine re-derives the exact distinct count in "
        "the same aggregation and emits a boolean within_bound (|approx - "
        "exact| / exact <= 3*rsd); the oracle computes the exact keys/counts "
        "and asserts TRUE.  A sketch outside its bound flips the boolean and "
        "fails the driver's value hash; raw sketch accuracy stays pinned by "
        "tests/test_approx.py.  The exact column exists FOR the certificate "
        "-- production users keep only the sketch and skip that pass",
    driver=False,
    sibling="approx_quantiles_price",
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=_HLL_RSD).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return distinct_bound_certificate(agg)


@register(
    "null_semantics_orders",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey, NULLIF(o_orderstatus, 'P') AS status_or_null
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       COUNT(status_or_null) AS n_nonnull,
       CAST(SUM(CASE WHEN status_or_null IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT status_or_null) AS n_distinct_nonnull,
       CAST(SUM(CASE WHEN status_or_null IS NOT DISTINCT FROM NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq_null,
       COUNT(*) FILTER (WHERE coalesce(status_or_null, 'P') = 'P') AS n_coalesced_p
FROM o
""",
    doc="NULL-semantics pinned in one aggregate: COUNT(*) vs COUNT(col) "
        "(NULLs excluded), COUNT(DISTINCT col) ignoring NULLs, null-safe "
        "equality (Spark <=> == ANSI IS NOT DISTINCT FROM), NULLIF/COALESCE "
        "round-trip, conditional-count FILTER.  The fixtures have no NULL "
        "cells, so NULLIF manufactures them in-query -- these are exactly "
        "the semantics a user silently relies on when switching engines",
    driver=False,
    sibling="q15_top_supplier",
)
def null_semantics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_or_null"),
    )
    s = F.col("status_or_null")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(s).alias("n_nonnull"),
        F.sum(F.when(s.isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
        F.countDistinct(s).alias("n_distinct_nonnull"),
        F.sum(F.when(s.eqNullSafe(F.lit(None)), 1).otherwise(0))
        .cast("long")
        .alias("n_nullsafe_eq_null"),
        F.count(F.when(F.coalesce(s, F.lit("P")) == "P", 1)).alias("n_coalesced_p"),
    )


_EXISTS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT'
    AND o.o_totalprice > 250000
)
AND NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    AND o.o_orderdate < TIMESTAMP '1996-01-01'
)
"""


@register(
    "sql_correlated_exists",
    oracle=_EXISTS_SQL,
    doc="correlated EXISTS + NOT EXISTS through the SQL parser (same ANSI "
        "text on both engines): customers with a big urgent order but no "
        "old finished one.  Catalyst decorrelates both subqueries into a "
        "left-semi and a left-anti join on c_custkey -- the rewrite "
        "(DecorrelateInnerQuery) that makes correlated subqueries usable "
        "at scale instead of per-row re-execution",
    driver=False,
    sibling="q15_top_supplier",
)
def sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_EXISTS_SQL)


_SX = "SUM(CAST(l_quantity AS DECIMAL(18,2)))"
_SY = "SUM(CAST(l_extendedprice AS DECIMAL(18,2)))"
_SXX = "SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)))"
_SYY = "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)))"
_SXY = "SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)))"


@register(
    "agg_stats_moments",
    oracle=f"""
WITH s AS (
  -- decimal -> VARCHAR -> DOUBLE, not a direct cast: DuckDB's wide-DECIMAL
  -- to DOUBLE cast rounds twice (int128 -> double, then / 10^scale) and can
  -- land 1 ulp off Java's correctly-rounded BigDecimal.doubleValue once the
  -- scaled integer exceeds 2^53; the string parse is correctly rounded.
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(CAST({_SX} AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST({_SY} AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST({_SXX} AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST({_SYY} AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST({_SXY} AS VARCHAR) AS DOUBLE) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       sx / n AS mean_qty,
       (sxx - sx * sx / n) / (n - 1) AS var_qty,
       sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
       (sxy - sx * sy / n)
         / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_qty_price
FROM s
""",
    doc="statistical aggregates (mean/variance/stddev/correlation) from "
        "decimal-exact power sums.  The builtin stddev/corr accumulate "
        "doubles in partition order -- nondeterministic across runs and "
        "engines -- so the moments are gathered as DECIMAL sums (exact, "
        "order-insensitive, the same trick as the money aggregates) and "
        "combined in ONE identical double-expression shape on both sides; "
        "every double op is correctly rounded, so parity is bitwise (the "
        "oracle's decimal->double hop goes through VARCHAR -- see the SQL "
        "comment -- because DuckDB's direct wide-decimal cast double-rounds). "
        "Scale: "
        "this is also the 100 TB-correct formulation -- one pass, map-side "
        "partial sums, no second pass for the mean",
    driver=False,
    sibling="agg_cube_orders",
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # Split-long cents sums for the power sums (r18, completing the r17
    # cents rewrite): sum(DECIMAL) runs through the non-codegen-friendly
    # Decimal128 path (~4x slower on this shape, the q1 lesson).  The
    # linear sums use the 2-long split; the PRODUCT sums (1e-4 units,
    # up to ~1.3e14 per row for price^2) need numeric.csum3_double's
    # 3-long split to keep the 100 TB per-group overflow budget.  Each
    # reassembled value is the same exact rational the decimal sums
    # produced, so every output double is bit-identical (pinned per
    # value by tests/test_numeric_cents.py; the oracle's decimal text
    # is untouched).
    cq, cp = N.cents("l_quantity"), N.cents("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        N.csum_double(cq, 2, "sx"),
        N.csum_double(cp, 2, "sy"),
        N.csum3_double(cq * cq, 4, "sxx"),
        N.csum3_double(cp * cp, 4, "syy"),
        N.csum3_double(cq * cp, 4, "sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var_q = (sxx - sx * sx / n) / (n - 1)
    return s.select(
        "l_returnflag",
        "n",
        (sx / n).alias("mean_qty"),
        var_q.alias("var_qty"),
        F.sqrt(var_q).alias("stddev_qty"),
        (
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
        ).alias("corr_qty_price"),
    )


@register(
    "date_functions_orders",
    oracle="""
SELECT o_orderkey,
       date_trunc('month', o_orderdate) AS order_month,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS order_quarter,
       CAST(extract(dow FROM o_orderdate) AS BIGINT) AS order_dow,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
       CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS TIMESTAMP) AS plus3m,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT)
         AS days_to_y2k
FROM orders
WHERE o_orderkey % 100 = 0
""",
    doc="date/time scalar-function family: date_trunc, extract "
        "(year/quarter/day-of-week), last_day, add_months, datediff -- all "
        "JVM built-ins; Spark dayofweek is 1=Sunday vs DuckDB dow 0=Sunday, "
        "reconciled explicitly (dayofweek - 1), the kind of off-by-one "
        "convention divergence the oracle gate exists to pin",
    driver=False,
    sibling="ev_hourly_gapfill",
)
def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).alias("order_month"),
        F.year(d).cast("long").alias("order_year"),
        F.quarter(d).cast("long").alias("order_quarter"),
        (F.dayofweek(d) - 1).cast("long").alias("order_dow"),
        # DATE-typed results surface as Python date objects vs pandas
        # Timestamps across engines; both sides emit TIMESTAMP instead
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.add_months(d, 3).cast("timestamp").alias("plus3m"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date"))
        .cast("long")
        .alias("days_to_y2k"),
    )


#: approx_percentile accuracy knob and the quantiles checked.
_QUANTILE_ACCURACY = 10000
_QUANTILES = (0.25, 0.5, 0.75, 0.9)


@register(
    "approx_quantiles_price",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS p90_ok
FROM orders
GROUP BY o_orderstatus
""",
    doc="approx_percentile (quantile sketch) of order prices per status -- "
        "the sketch path for percentiles at cardinalities where an exact "
        "sort is wasteful.  Sketch VALUES are engine-specific (no "
        "bit-compatible sketch exists in DuckDB), so the hash-matched "
        "contract is the sketch's accuracy GUARANTEE instead: for each "
        "quantile q, the engine re-derives the returned element's exact "
        "rank interval [count(<v)+1, count(<=v)] in a second pass over "
        "orders and asserts it intersects [q*n - eps*n - 1, q*n + eps*n "
        "+ 1] (eps = 1/accuracy), emitting the verdict as a boolean "
        "column; the oracle computes the exact group keys/counts and "
        "asserts TRUE.  A sketch outside its error bound flips a boolean "
        "and fails the driver's value hash.  Raw sketch values stay "
        "pinned by tests/test_approx.py's rank-error test.  Scale: one "
        "sketch aggregation + one broadcast-join counting pass, both "
        "shuffle-on-status",
)
def approx_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    agg = o.groupBy("o_orderstatus").agg(
        F.percentile_approx(
            "o_totalprice", list(_QUANTILES), _QUANTILE_ACCURACY
        ).alias("q"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return quantile_rank_certificate(o, agg)


def quantile_rank_certificate(o: DataFrame, agg: DataFrame) -> DataFrame:
    """Boolean rank-error certificate for a per-status quantile sketch.

    ``agg`` carries (o_orderstatus, q: array of len(_QUANTILES) sketch
    values, n_orders); the returned frame re-derives each value's exact
    rank interval from ``o`` and asserts the sketch's accuracy guarantee.
    Split out so tests can feed a deliberately broken sketch and watch the
    booleans flip (the certificate must be falsifiable, or the oracle's
    TRUE columns prove nothing)."""
    j = o.join(F.broadcast(agg), "o_orderstatus")
    # expr-string forms (r17 plan-construction optimization): one parse
    # per aggregate/flag instead of ~15 py4j round-trips each; repr()
    # double literals round-trip bit-exact.
    cnt_cols = []
    for i in range(len(_QUANTILES)):
        for op, tag in (("<", "lt"), ("<=", "le")):
            cnt_cols.append(
                F.expr(
                    f"sum(CASE WHEN o_totalprice {op} element_at(q, {i + 1}) "
                    "THEN 1 ELSE 0 END)"
                ).alias(f"{tag}{i}")
            )
    chk = j.groupBy("o_orderstatus", "n_orders").agg(*cnt_cols)
    eps = 1.0 / _QUANTILE_ACCURACY
    n = "CAST(n_orders AS DOUBLE)"
    oks = []
    for i, (q, name) in enumerate(zip(_QUANTILES, ("p25", "p50", "p75", "p90"))):
        slack = f"(({eps!r}D * {n}) + 1.0D)"  # +1 absorbs rank-rounding conventions
        lo = f"(({q!r}D * {n}) - {slack})"
        hi = f"(({q!r}D * {n}) + {slack})"
        oks.append(
            F.expr(
                f"((CAST(lt{i} AS DOUBLE) + 1.0D) <= {hi}) "
                f"AND (CAST(le{i} AS DOUBLE) >= {lo})"
            ).alias(f"{name}_ok")
        )
    return chk.select("o_orderstatus", "n_orders", *oks)


@register(
    "str_functions_nation",
    oracle="""
SELECT n_name,
       lower(n_name) AS name_lower,
       substr(n_name, 1, 3) AS name_prefix,
       replace(n_name, 'A', '@') AS name_replaced,
       reverse(n_name) AS name_reversed,
       lpad(n_name, 20, '.') AS name_padded,
       CAST(levenshtein(n_name, 'FRANCE') AS BIGINT) AS edit_dist_france,
       concat_ws('-', n_name, CAST(n_regionkey AS VARCHAR)) AS name_region,
       CAST(length(n_name) AS BIGINT) AS name_len
FROM nation
""",
    doc="string scalar-function family in one projection (lower/substr/"
        "replace/reverse/lpad/levenshtein/concat_ws/length), all JVM "
        "built-ins inside whole-stage codegen; levenshtein doubles as the "
        "edit-distance primitive of the near-dup toolbox (exact verify for "
        "SHORT strings -- titles, names -- where shingle Jaccard is too "
        "coarse; O(len^2) per pair, so at scale it only ever runs on "
        "candidate pairs, never all-pairs)",
    driver=False,
    sibling="cust_entity_resolution",
)
def str_functions_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    c = F.col("n_name")
    return n.select(
        "n_name",
        F.lower(c).alias("name_lower"),
        F.substring(c, 1, 3).alias("name_prefix"),
        F.regexp_replace(c, "A", "@").alias("name_replaced"),
        F.reverse(c).alias("name_reversed"),
        F.lpad(c, 20, ".").alias("name_padded"),
        F.levenshtein(c, F.lit("FRANCE")).cast("long").alias("edit_dist_france"),
        F.concat_ws("-", c, F.col("n_regionkey").cast("string")).alias("name_region"),
        F.length(c).cast("long").alias("name_len"),
    )


@register(
    "distinct_agg_lineitem",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_supps,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    doc="multiple exact COUNT(DISTINCT) in one aggregate (Catalyst plans one "
        "Expand + two-phase distinct aggregation, not N scans)",
    driver=False,
    sibling="agg_cube_orders",
)
def distinct_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Join family
# --------------------------------------------------------------------------

@register(
    "q5_revenue_by_nation",
    oracle=f"""
SELECT n_name, {N.drevenue_expr()} AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    doc="TPC-H Q5: five-way join chain region->nation->customer->orders->"
        "lineitem->supplier with a theta condition (s_nationkey=c_nationkey). "
        "Scale: only the fixed-cardinality dims (region 5, nation 25) carry "
        "broadcast hints; customer and supplier grow with SF (150k/10k x SF "
        "-- ~15B/1B rows at 100 TB), so AQE picks BHJ vs SMJ from runtime "
        "sizes instead of a hint that would OOM the driver at scale.",
    driver=False,
    sibling="q15_top_supplier",
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    li = _t(spark, sf_dir, "lineitem").join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    s = _t(spark, sf_dir, "supplier")
    j = li.join(
        s,
        (F.col("s_suppkey") == F.col("l_suppkey"))
        & (F.col("s_nationkey") == F.col("c_nationkey")),
    )
    return j.groupBy("n_name").agg(N.drevenue("revenue"))


@register(
    "q14_promo_revenue",
    oracle=f"""
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {N.REVENUE_SQL}
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
       {N.drevenue_expr()} AS total_revenue,
       (CAST(100 AS DOUBLE)
        * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {N.REVENUE_SQL}
                   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE))
       / {N.drevenue_expr()} AS promo_pct
FROM lineitem
JOIN part ON p_partkey = l_partkey
GROUP BY ship_month
""",
    doc="TPC-H Q14 promo revenue, per ship month: lineitem |x| part with a "
        "conditional decimal-exact aggregate (promo share of revenue).  "
        "Join-strategy note: part is the MIDSIZE dimension (200k rows/SF in "
        "TPC-H -- ~26B rows at 100 TB, NOT broadcastable unlike "
        "region/nation), so the build side is pruned to (p_partkey, p_type) "
        "and the strategy is left to Catalyst/AQE: BHJ under the broadcast "
        "threshold at small sf, sort-merge on l_partkey beyond it -- where "
        "co-bucketing lineitem and part by partkey removes the shuffle "
        "(tests/test_bucketing.py demonstrates the mechanism).  promo_pct "
        "is one double multiply + one divide of exact decimal sums, so "
        "cross-engine parity is exact",
    driver=False,
    sibling="q15_top_supplier",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev4 = N.revenue_cents4()
    promo4 = F.when(F.col("p_type").startswith("PROMO"), rev4).otherwise(F.lit(0))
    j = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    agg = j.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")).agg(
        N.csum_double(promo4, 4, "promo_revenue"),
        N.csum_double(rev4, 4, "total_revenue"),
    )
    return agg.select(
        "ship_month",
        "promo_revenue",
        "total_revenue",
        ((F.lit(100.0) * F.col("promo_revenue")) / F.col("total_revenue")).alias("promo_pct"),
    )


_Q3_SQL = f"""
SELECT o_orderkey,
       {N.drevenue_expr()} AS revenue,
       o_orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""".strip()


@register(
    "sql_q3_shipping_priority",
    oracle=_Q3_SQL,
    doc="TPC-H Q3 through spark.sql: join + filter + aggregate + "
        "deterministic top-10 (revenue DESC with unique o_orderkey tiebreak); "
        "identical ANSI text on both engines",
    driver=False,
    sibling="q15_top_supplier",
)
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables.register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


@register(
    "join_semi_big_spenders",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
""",
    doc="LEFT SEMI join: customers with at least one >400k order "
        "(EXISTS form in the oracle). Scale: semi join never duplicates the "
        "probe side, so output is bounded by |customer|",
    driver=False,
    sibling="set_ops_customer_activity",
)
def join_semi_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_anti_quiet_customers",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '2001-01-01'
)
""",
    doc="LEFT ANTI join: customers with no orders in 2001+ (NOT EXISTS form). "
        "The build side is date-pruned before the join",
    driver=False,
    sibling="set_ops_customer_activity",
)
def join_anti_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= _ts("2001-01-01"))
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "scalar_subquery_above_avg_balance",
    oracle=f"""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT {N.davg_expr('c_acctbal')} FROM customer)
""",
    doc="scalar-subquery predicate: customers above the global average "
        "balance (decimal-exact avg so the threshold is bit-identical); "
        "Spark side: broadcast 1-row aggregate cross join",
    driver=False,
    sibling="q15_top_supplier",
)
def scalar_subquery_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.agg(N.davg("c_acctbal", "avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

@register(
    "window_order_running_total",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
       ROW_NUMBER() OVER w AS order_seq,
       LAG(o_totalprice) OVER w AS prev_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    doc="window functions: row_number + lag + running decimal-exact sum with "
        "an explicit ROWS frame; one shuffle on o_custkey serves all three "
        "(same window spec). Order total: (o_orderdate, unique o_orderkey)",
)
def window_order_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        N.dsum_over("o_totalprice", wsum).alias("running_spend"),
    )


@register(
    "topk_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) t
WHERE rk <= 3
""",
    doc="top-k per group via row_number (k=3; o_orderkey tiebreak per the "
        "registry determinism contract). Scale: rank-then-filter shuffles "
        "once on the group key; no global sort",
    driver=False,
    sibling="window_order_running_total",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@register(
    "window_trailing_90d_revenue",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_90d_revenue,
       CAST(COUNT(*) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS trailing_90d_orders
FROM orders
""",
    doc="event-time RANGE window frame: per order, the customer's revenue "
        "and order count over the trailing 90 days (7776000 s) -- a VALUE-"
        "based frame, not a row count, so same-timestamp peers are always "
        "in-frame together on both engines (what makes the result "
        "deterministic without a unique-key tiebreak).  Ordering key is "
        "epoch seconds because Spark's rangeBetween takes numeric offsets.  "
        "Scale: one shuffle + sort per customer partition, frame evaluated "
        "by a sliding accumulator, decimal-exact sums",
    driver=False,
    sibling="window_order_running_total",
)
def window_trailing_90d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        N.dsum_over("o_totalprice", w).alias("trailing_90d_revenue"),
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_90d_orders"),
    )


@register(
    "window_functions_extended",
    oracle="""
SELECT o_orderkey, o_custkey,
       DENSE_RANK() OVER w AS price_rank,
       NTILE(4) OVER w AS price_quartile,
       LEAD(o_orderdate) OVER w AS next_order_date,
       FIRST_VALUE(o_totalprice) OVER w AS cheapest_price,
       PERCENT_RANK() OVER w AS price_pct_rank,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         AS trailing3_avg_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
    doc="extended window-function coverage: dense_rank, ntile, lead, "
        "first_value, percent_rank, and a sliding ROWS-frame decimal-exact "
        "average -- all over ONE window spec, so Catalyst plans a single "
        "shuffle + sort on o_custkey for every function",
    driver=False,
    sibling="window_order_running_total",
)
def window_functions_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    w3 = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).alias("price_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.lead("o_orderdate").over(w).alias("next_order_date"),
        F.first("o_totalprice").over(w).alias("cheapest_price"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        (N.dsum_over("o_totalprice", w3) / F.count(F.lit(1)).over(w3))
        .alias("trailing3_avg_price"),
    )


@register(
    "asof_last_order_before_event",
    oracle="""
SELECT event_id, user_id, ts, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate, o.o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY e.event_id
           ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
         ) AS rn
  FROM (SELECT * FROM events WHERE event_id % 100 = 0) e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
WHERE rn = 1
""",
    doc="AS-OF join (point-in-time lookup): for each sampled event, the "
        "user's most recent order at-or-before the event time; LEFT "
        "semantics keep events with no matching order.  Spark form: "
        "equi-join on the user key + range predicate, then per-event argmax "
        "-- the range never becomes a cross product because the equi-key "
        "partitions the join. 100 TB shape: shuffle both sides on the user "
        "key once; the window touches only each event's own matches",
    driver=False,
    sibling="ev_hourly_gapfill",
)
def asof_last_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    o = _t(spark, sf_dir, "orders")
    j = ev.join(
        o,
        (F.col("o_custkey") == F.col("user_id")) & (F.col("o_orderdate") <= F.col("ts")),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc_nulls_last(), F.col("o_orderkey").desc_nulls_last()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "o_orderkey", "o_orderdate", "o_totalprice")
    )


# --------------------------------------------------------------------------
# Sorts / limits / set ops
# --------------------------------------------------------------------------

@register(
    "orderby_limit_top20_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
    doc="global top-20 by price (unique-key tiebreak). Scale: Spark plans "
        "TakeOrderedAndProject -- per-partition top-20 then a 20-row merge on "
        "the driver, never a full global sort",
    driver=False,
    sibling="window_order_running_total",
)
def orderby_limit_top20_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "set_ops_customer_activity",
    oracle="""
WITH open_c AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
     done_c AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
SELECT 'both' AS activity, o_custkey FROM (SELECT * FROM open_c INTERSECT SELECT * FROM done_c)
UNION ALL
SELECT 'open_only' AS activity, o_custkey FROM (SELECT * FROM open_c EXCEPT SELECT * FROM done_c)
UNION ALL
SELECT 'done_only' AS activity, o_custkey FROM (SELECT * FROM done_c EXCEPT SELECT * FROM open_c)
""",
    doc="set operations: INTERSECT + EXCEPT + UNION ALL classifying customers "
        "by order-status activity; distinct key sets keep inputs small",
)
def set_ops_customer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    done_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    tag = lambda df, t: df.select(F.lit(t).alias("activity"), "o_custkey")  # noqa: E731
    return (
        tag(open_c.intersect(done_c), "both")
        .unionAll(tag(open_c.exceptAll(done_c), "open_only"))
        .unionAll(tag(done_c.exceptAll(open_c), "done_only"))
    )


@register(
    "agg_exact_percentiles",
    oracle="""
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS p50_price,
       quantile_cont(o_totalprice, 0.9) AS p90_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
""",
    doc="EXACT percentiles (median + p90 per priority): Spark's sort-based "
        "percentile() vs DuckDB's quantile_cont -- both linear-interpolate "
        "at rank (n-1)*p over the sorted group, so the doubles match "
        "bit-for-bit (the approx sketch family is approx_quantiles_price; "
        "this is the exact path users reach for at dimension-sized "
        "groups).  Scale note: exact percentile buffers each group's "
        "values -- right for the 5-priority grouping here, wrong for "
        "high-cardinality groups, where the sketch variant is the "
        "documented alternative.",
    driver=False,
    sibling="ev_anomaly_zscore",
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("p50_price"),
        F.percentile(F.col("o_totalprice"), F.lit(0.9)).alias("p90_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "cust_fuzzy_match_blocked",
    oracle="""
WITH probes AS (
  SELECT c_custkey AS probe_id,
         substr(c_name, 1, length(c_name) - 2)
           || reverse(substr(c_name, length(c_name) - 1, 2)) AS probe_name
  FROM customer WHERE c_custkey % 97 = 0
)
SELECT probe_id, c_custkey, c_name,
       CAST(levenshtein(probe_name, c_name) AS BIGINT) AS distance
FROM probes
JOIN customer ON substr(probe_name, 1, 15) = substr(c_name, 1, 15)
WHERE levenshtein(probe_name, c_name) <= 2
""",
    doc="blocked fuzzy matching (entity resolution): a probe set of "
        "deterministically mangled names (last two characters swapped) is "
        "matched back to the customer table by 15-char-prefix BLOCKING "
        "plus a Levenshtein<=2 verify.  The record-linkage shape: never "
        "all-pairs -- candidates come from the block equi-join, the "
        "quadratic edit-distance only runs inside blocks (same posture as "
        "the similarity module's candidate-then-verify rule).  At 100 TB "
        "the block key is the shuffle key; skewed blocks take the salting "
        "path (tests/test_salting.py).  Every probe provably matches its "
        "source at distance <= 2, so the result is never empty.",
    # cust_entity_resolution embeds the same blocked fuzzy matching stage.
    driver=False,
    sibling="cust_entity_resolution",
)
def cust_fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    ln = F.length("c_name")
    probes = c.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("probe_id"),
        F.concat(
            F.col("c_name").substr(F.lit(1), ln - 2),
            F.reverse(F.col("c_name").substr(ln - 1, F.lit(2))),
        ).alias("probe_name"),
    )
    j = c.join(
        F.broadcast(probes),
        F.substring("probe_name", 1, 15) == F.substring("c_name", 1, 15),
    )
    return j.filter(F.levenshtein("probe_name", "c_name") <= 2).select(
        "probe_id",
        "c_custkey",
        "c_name",
        F.levenshtein("probe_name", "c_name").cast("long").alias("distance"),
    )


@register(
    "window_rank_family",
    oracle="""
SELECT o_orderkey,
       o_orderpriority,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist() OVER w AS cdist,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM orders
WHERE o_orderkey % 10 = 0
WINDOW w AS (
  PARTITION BY o_orderpriority
  ORDER BY o_totalprice, o_orderkey
)
""",
    doc="The remaining window-rank surface in one query: rank, dense_rank, "
        "percent_rank, cume_dist and ntile(4) over the same "
        "(o_totalprice, o_orderkey)-totally-ordered priority partitions "
        "-- the five functions the curated suite had not yet pinned "
        "cross-engine (row_number and integer running sums are covered "
        "elsewhere; ntile's uneven-bucket rule -- first n%%4 buckets get "
        "the extra row -- and percent_rank's (rank-1)/(n-1) and "
        "cume_dist's rn/n single divisions are all standard-specified "
        "and bit-deterministic over a total order).  Scale: one shuffle "
        "on the bounded priority key; all five functions share one "
        "window frame and one sort.",
    driver=False,
    sibling="window_order_running_total",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )

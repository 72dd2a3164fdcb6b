"""The 13 reference analytics queries (SURVEY.md §2.12), re-expressed
Spark-first over the driver's TPC-H-ish star schema.

Mapping of the reference's star schema onto the testdata tables:
``fact_sales`` → ``lineitem`` (+ ``orders`` for dates/status),
``dim_customers`` → ``customer`` (+ ``nation``/``region`` geo),
``dim_products`` → ``part``, plus ``supplier`` as a second dimension the
reference lacks. Each query cites the reference script whose operator mix it
reproduces and carries a DuckDB oracle with IDENTICAL aliases and arithmetic.

Determinism contract (critical for the driver's value-hash comparison and for
reproducible results on a real cluster): every money/quantity aggregation is
cast to decimal BEFORE summing (exact, order-independent — double sums over a
shuffled 100 TB dataset differ run-to-run in the last ulp), and only the
final result is cast back to double. Ratios divide two already-exact doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query
from .sources import tpch
from .sources.local import local_frame
from .tsql import (
    datediff_month,
    datediff_year,
    money,
    rate,
    sql_datediff_month,
    sql_datediff_year,
)

# ---------------------------------------------------------------------------
# shared expression fragments (Spark Column + DuckDB SQL text kept in sync)
# ---------------------------------------------------------------------------

# net line revenue, exact decimal: price * (1 - discount)
SQL_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))"
SQL_QTY = "CAST(l_quantity AS DECIMAL(18,2))"
SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"
SQL_TOTALPRICE = "CAST(o_totalprice AS DECIMAL(18,2))"


def rev_col():
    return money("l_extendedprice") * (F.lit(1) - rate("l_discount"))


def qty_col():
    return money("l_quantity")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tpch.load(spark, sf_dir, name)


def sales_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⨝ orders: the reference's fact grain with order dates.

    o_orderkey is the join key on both sides; at scale this is a
    co-partitioned sort-merge join (both sides shuffle once on orderkey);
    Catalyst/AQE handles broadcast if orders is small enough.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "left")


# ---------------------------------------------------------------------------
# Q01 — database exploration (catalog scan; ref: 01_database_exploration.sql)
# Rows-only check: information_schema type vocabularies differ across engines.
# ---------------------------------------------------------------------------


@query("q01_database_exploration", oracle=None)
def q01_database_exploration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog scan: table → column → Spark type for every source table.

    Mirrors INFORMATION_SCHEMA.TABLES/COLUMNS exploration
    (ref: scripts/Data Analytics/01_database_exploration.sql:16-30).
    """
    rows = []
    for t in tpch.TABLES:
        for f in _t(spark, sf_dir, t).schema.fields:
            rows.append((t, f.name, f.dataType.simpleString()))
    return local_frame(spark, rows, "table_name string, column_name string, data_type string")


# ---------------------------------------------------------------------------
# Q02 — dimensions exploration (DISTINCT + ORDER BY; ref: 02_dimensions_exploration.sql)
# ---------------------------------------------------------------------------

_Q02_SQL = """
SELECT DISTINCT r.r_name AS region_name, n.n_name AS nation_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
ORDER BY region_name, nation_name
"""


@query("q02_dimensions_exploration", oracle=_Q02_SQL)
def q02_dimensions_exploration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT geography dimension walk (ref: 02_dimensions_exploration.sql:15-26)."""
    nation = _t(spark, sf_dir, "nation")
    region = tpch.dim(spark, sf_dir, "region")
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .select(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .distinct()
        .orderBy("region_name", "nation_name")
    )


# ---------------------------------------------------------------------------
# Q03 — date ranges (MIN/MAX + T-SQL DATEDIFF; ref: 03_date_range_exploration.sql)
# ---------------------------------------------------------------------------

_Q03_SQL = f"""
SELECT
  CAST(MIN(o_orderdate) AS DATE) AS first_order_date,
  CAST(MAX(o_orderdate) AS DATE) AS last_order_date,
  {sql_datediff_month('MIN(o_orderdate)', 'MAX(o_orderdate)')} AS range_months,
  {sql_datediff_year('MIN(o_orderdate)', 'MAX(o_orderdate)')} AS range_years
FROM orders
"""


@query("q03_date_range_exploration", oracle=_Q03_SQL)
def q03_date_range_exploration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX order dates + boundary-count DATEDIFF spans
    (ref: 03_date_range_exploration.sql:15-27; DATEDIFF semantics per SURVEY §7.4)."""
    orders = _t(spark, sf_dir, "orders")
    agg = orders.agg(F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx"))
    return agg.select(
        F.col("mn").cast("date").alias("first_order_date"),
        F.col("mx").cast("date").alias("last_order_date"),
        datediff_month(F.col("mn"), F.col("mx")).alias("range_months"),
        datediff_year(F.col("mn"), F.col("mx")).alias("range_years"),
    )


# ---------------------------------------------------------------------------
# Q04 — key metrics report (scalar aggs + UNION ALL; ref: 04_measures_exploration.sql)
# ---------------------------------------------------------------------------

_Q04_SQL = f"""
SELECT 'total_revenue' AS measure_name,
       CAST(SUM({SQL_REV}) AS DOUBLE) AS measure_value FROM lineitem
UNION ALL
SELECT 'total_quantity', CAST(SUM({SQL_QTY}) AS DOUBLE) FROM lineitem
UNION ALL
SELECT 'avg_price', CAST(SUM({SQL_PRICE}) AS DOUBLE) / COUNT(*) FROM lineitem
UNION ALL
SELECT 'total_orders', CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) FROM orders
UNION ALL
SELECT 'total_customers', CAST(COUNT(*) AS DOUBLE) FROM customer
UNION ALL
SELECT 'total_parts', CAST(COUNT(*) AS DOUBLE) FROM part
UNION ALL
SELECT 'total_lineitems', CAST(COUNT(*) AS DOUBLE) FROM lineitem
"""


@query("q04_measures_exploration", oracle=_Q04_SQL)
def q04_measures_exploration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI one-pager: 7 scalar aggregates stacked with UNION ALL
    (ref: 04_measures_exploration.sql:15-47, operators A1+U1)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")

    def one(name: str, df: DataFrame, value) -> DataFrame:
        return df.agg(value.alias("measure_value")).select(
            F.lit(name).alias("measure_name"), F.col("measure_value").cast("double")
        )

    li_aggs = li.agg(
        F.sum(rev_col()).cast("double").alias("total_revenue"),
        F.sum(qty_col()).cast("double").alias("total_quantity"),
        (F.sum(money("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
        F.count(F.lit(1)).cast("double").alias("total_lineitems"),
    )
    parts_list = [
        li_aggs.select(F.lit("total_revenue").alias("measure_name"), F.col("total_revenue").alias("measure_value")),
        li_aggs.select(F.lit("total_quantity").alias("measure_name"), F.col("total_quantity").alias("measure_value")),
        li_aggs.select(F.lit("avg_price").alias("measure_name"), F.col("avg_price").alias("measure_value")),
        one("total_orders", orders, F.countDistinct("o_orderkey").cast("double")),
        one("total_customers", customer, F.count(F.lit(1)).cast("double")),
        one("total_parts", part, F.count(F.lit(1)).cast("double")),
        li_aggs.select(F.lit("total_lineitems").alias("measure_name"), F.col("total_lineitems").alias("measure_value")),
    ]
    out = parts_list[0]
    for p in parts_list[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Q05 — magnitude analysis (GROUP BY + LEFT JOIN dims; ref: 05_magnitude_analysis.sql)
# ---------------------------------------------------------------------------

_Q05_NATION_SQL = f"""
SELECT n.n_name AS nation_name,
       CAST(SUM({SQL_REV}) AS DOUBLE) AS total_revenue,
       CAST(SUM({SQL_QTY}) AS DOUBLE) AS total_quantity,
       COUNT(DISTINCT l.l_orderkey) AS n_orders,
       COUNT(DISTINCT c.c_custkey) AS n_customers
FROM lineitem l
LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY total_revenue DESC
"""


def q05_magnitude_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue magnitude by customer nation — the flagship query.

    Reference operator mix: fact LEFT JOIN dims + multi-agg GROUP BY
    (ref: 05_magnitude_analysis.sql:48-55, J4+A2+A5+O1).

    r18 two-level plan: the flat GROUP BY carried TWO COUNT(DISTINCT)s, so
    Catalyst planned an Expand that tripled every joined fact row through
    the aggregation exchange (guide §2.3: shuffle fewer bytes). Both
    distincts collapse to plain counts under the key hierarchy
    l_orderkey → o_custkey → nation: lineitem partial-aggregates to order
    grain first (map-side combine; the orderkey shuffle carries one narrow
    row per order), orders→customer attaches the hierarchy, and the
    per-customer rollup makes n_orders a SUM and n_customers a COUNT of
    already-unique rows. Decimal sums are exact, so regrouping is
    bit-identical; LEFT-join null groups flow through the o_custkey=NULL /
    n_name=NULL rows exactly as the flat plan's (COUNT(DISTINCT) and
    COUNT(col) both skip NULLs). No Expand node, no tripled shuffle —
    plan-pinned in tests/test_plans.py.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = tpch.dim(spark, sf_dir, "nation")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(rev_col()).alias("_rev"), F.sum(qty_col()).alias("_qty")
    )
    per_cust = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey, "left")
        .groupBy("o_custkey")
        .agg(
            F.sum("_rev").alias("_rev"),
            F.sum("_qty").alias("_qty"),
            F.count("l_orderkey").alias("_n_orders"),
        )
    )
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey, "left")
        .join(nation, customer.c_nationkey == nation.n_nationkey, "left")
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.sum("_rev").cast("double").alias("total_revenue"),
            F.sum("_qty").cast("double").alias("total_quantity"),
            F.sum("_n_orders").alias("n_orders"),
            F.count("c_custkey").alias("n_customers"),
        )
        .orderBy(F.desc("total_revenue"))
    )


_Q05_SEGMENT_SQL = f"""
SELECT c.c_mktsegment AS segment,
       CAST(SUM({SQL_TOTALPRICE}) AS DOUBLE) AS total_order_value,
       COUNT(DISTINCT o.o_orderkey) AS n_orders,
       COUNT(DISTINCT c.c_custkey) AS n_customers
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY total_order_value DESC
"""


def q05_magnitude_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order value by market segment (ref: 05_magnitude_analysis.sql:16-45, A2/A3).

    r18 two-level plan (same rationale as the nation leg): pre-aggregate
    orders to customer grain — o_orderkey is unique in orders and
    customer is unique per o_custkey, so COUNT(DISTINCT o_orderkey) is an
    exact SUM of per-customer order counts and COUNT(DISTINCT c_custkey)
    an exact COUNT of the already-unique joined rows. Removes the Expand
    that tripled the orders shuffle."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("_tp"),
        F.count("o_orderkey").alias("_n_orders"),
    )
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey, "left")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum("_tp").cast("double").alias("total_order_value"),
            F.sum("_n_orders").alias("n_orders"),
            F.count("c_custkey").alias("n_customers"),
        )
        .orderBy(F.desc("total_order_value"))
    )


_Q05_BRAND_SQL = f"""
SELECT p.p_brand AS brand, p.p_type AS part_type,
       CAST(SUM({SQL_REV}) AS DOUBLE) AS total_revenue,
       CAST(SUM({SQL_QTY}) AS DOUBLE) AS total_quantity,
       COUNT(DISTINCT p.p_partkey) AS n_parts
FROM lineitem l
LEFT JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand, p.p_type
ORDER BY total_revenue DESC
"""


def q05_magnitude_by_brand_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key GROUP BY over fact⨝product dim (ref: 05_magnitude_analysis.sql:59-71, A3).

    r18 two-level plan (same rationale as the nation leg): lineitem
    partial-aggregates to part grain first — p_partkey is unique per
    l_partkey, so COUNT(DISTINCT p_partkey) is an exact COUNT over the
    per-part rows — and the brand/type rollup runs over dim-sized rows.
    Removes the Expand that doubled the fact shuffle; decimal sums are
    exact under regrouping."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(rev_col()).alias("_rev"), F.sum(qty_col()).alias("_qty")
    )
    return (
        per_part.join(part, per_part.l_partkey == part.p_partkey, "left")
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_type").alias("part_type"))
        .agg(
            F.sum("_rev").cast("double").alias("total_revenue"),
            F.sum("_qty").cast("double").alias("total_quantity"),
            F.count("p_partkey").alias("n_parts"),
        )
        .orderBy(F.desc("total_revenue"))
    )


# Composite registration: script 05 is ONE reference file emitting three
# result sets (by nation / by segment / by brand+type); the registered query
# unions all three into a uniform typed schema so the whole script gets a
# single driver CORRECTNESS row (the driver caps checked queries at 50).
_Q05_SQL = f"""
SELECT 'by_nation' AS grain, nation_name AS dim_a, CAST(NULL AS VARCHAR) AS dim_b,
       total_revenue, total_quantity, CAST(NULL AS DOUBLE) AS total_value,
       n_orders, n_customers, CAST(NULL AS BIGINT) AS n_parts
FROM ({_Q05_NATION_SQL})
UNION ALL
SELECT 'by_segment', segment, CAST(NULL AS VARCHAR),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), total_order_value,
       n_orders, n_customers, CAST(NULL AS BIGINT)
FROM ({_Q05_SEGMENT_SQL})
UNION ALL
SELECT 'by_brand_type', brand, part_type,
       total_revenue, total_quantity, CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), n_parts
FROM ({_Q05_BRAND_SQL})
ORDER BY grain, dim_a, dim_b
"""


@query("q05_magnitude", oracle=_Q05_SQL, headline=True)
def q05_magnitude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All of 05_magnitude_analysis.sql in one result: the three grain legs
    (nation / segment / brand+type) union-tagged into a shared schema. Each
    leg keeps its own optimal plan (broadcast dims + one agg shuffle); the
    union is plan-level concatenation, no extra shuffle."""
    _ns = F.lit(None).cast("string")
    _nd = F.lit(None).cast("double")
    _nl = F.lit(None).cast("bigint")
    nation = q05_magnitude_by_nation(spark, sf_dir).select(
        F.lit("by_nation").alias("grain"),
        F.col("nation_name").alias("dim_a"),
        _ns.alias("dim_b"),
        "total_revenue",
        "total_quantity",
        _nd.alias("total_value"),
        "n_orders",
        "n_customers",
        _nl.alias("n_parts"),
    )
    segment = q05_magnitude_by_segment(spark, sf_dir).select(
        F.lit("by_segment").alias("grain"),
        F.col("segment").alias("dim_a"),
        _ns.alias("dim_b"),
        _nd.alias("total_revenue"),
        _nd.alias("total_quantity"),
        F.col("total_order_value").alias("total_value"),
        "n_orders",
        "n_customers",
        _nl.alias("n_parts"),
    )
    brand = q05_magnitude_by_brand_type(spark, sf_dir).select(
        F.lit("by_brand_type").alias("grain"),
        F.col("brand").alias("dim_a"),
        F.col("part_type").alias("dim_b"),
        "total_revenue",
        "total_quantity",
        _nd.alias("total_value"),
        _nl.alias("n_orders"),
        _nl.alias("n_customers"),
        "n_parts",
    )
    return nation.unionByName(segment).unionByName(brand).orderBy("grain", "dim_a", "dim_b")


# ---------------------------------------------------------------------------
# Q06 — ranking (window RANK top-k + TOP-N; ref: 06_ranking_analysis.sql)
# ---------------------------------------------------------------------------

_Q06_RANK_SQL = f"""
WITH part_rev AS (
  SELECT p.p_partkey, p.p_name,
         SUM({SQL_REV}) AS rev_dec
  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_partkey, p.p_name
)
SELECT p_partkey, p_name,
       CAST(rev_dec AS DOUBLE) AS total_revenue,
       CAST(RANK() OVER (ORDER BY rev_dec DESC) AS BIGINT) AS revenue_rank
FROM part_rev
QUALIFY revenue_rank <= 5
ORDER BY revenue_rank, p_partkey
"""


def q06_rank_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 parts by revenue via RANK window over an aggregate
    (ref: 06_ranking_analysis.sql:27-38, W3+O3). Rank ties computed on the
    exact decimal revenue so both engines pick the identical row set."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    part_rev = (
        li.join(part, li.l_partkey == part.p_partkey, "left")
        .groupBy("p_partkey", "p_name")
        .agg(F.sum(rev_col()).alias("rev_dec"))
    )
    w = Window.orderBy(F.desc("rev_dec"))
    return (
        part_rev.withColumn("revenue_rank", F.rank().over(w).cast("bigint"))
        .filter(F.col("revenue_rank") <= 5)
        .select(
            "p_partkey",
            "p_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
            "revenue_rank",
        )
        .orderBy("revenue_rank", "p_partkey")
    )


_Q06_TOPN_SQL = f"""
SELECT c.c_custkey, c.c_name,
       CAST(SUM({SQL_TOTALPRICE}) AS DOUBLE) AS total_spend
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY SUM({SQL_TOTALPRICE}) DESC, c.c_custkey
LIMIT 10
"""


def q06_top10_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-N by aggregate with deterministic key tiebreak
    (ref: 06_ranking_analysis.sql:41-48, O2 → Catalyst TakeOrderedAndProject)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(money("o_totalprice")).alias("spend_dec"))
        .orderBy(F.desc("spend_dec"), F.asc("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", F.col("spend_dec").cast("double").alias("total_spend"))
    )


_Q06_BOTTOM_SQL = f"""
SELECT s.s_suppkey, s.s_name,
       CAST(SUM({SQL_REV}) AS DOUBLE) AS total_revenue
FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
ORDER BY SUM({SQL_REV}) ASC, s.s_suppkey
LIMIT 3
"""


def q06_bottom3_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-N performers (ref: 06_ranking_analysis.sql:51-66)."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey, "left")
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum(rev_col()).alias("rev_dec"))
        .orderBy(F.asc("rev_dec"), F.asc("s_suppkey"))
        .limit(3)
        .select("s_suppkey", "s_name", F.col("rev_dec").cast("double").alias("total_revenue"))
    )


# Composite registration for script 06 (see q05_magnitude note).
_Q06_SQL = f"""
SELECT 'top_parts' AS ranking, CAST(p_partkey AS BIGINT) AS entity_key,
       p_name AS entity_name, total_revenue AS measure, revenue_rank AS rnk
FROM ({_Q06_RANK_SQL})
UNION ALL
SELECT 'top_customers', CAST(c_custkey AS BIGINT), c_name, total_spend,
       CAST(NULL AS BIGINT)
FROM ({_Q06_TOPN_SQL})
UNION ALL
SELECT 'bottom_suppliers', CAST(s_suppkey AS BIGINT), s_name, total_revenue,
       CAST(NULL AS BIGINT)
FROM ({_Q06_BOTTOM_SQL})
ORDER BY ranking, entity_key
"""


@query("q06_ranking", oracle=_Q06_SQL)
def q06_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All of 06_ranking_analysis.sql: window-RANK top-5 parts, TOP-10
    customers, bottom-3 suppliers, union-tagged. Each leg stays a
    TakeOrderedAndProject / partition-local rank — no global sort of raw
    data at any scale."""
    _nl = F.lit(None).cast("bigint")
    parts = q06_rank_top_parts(spark, sf_dir).select(
        F.lit("top_parts").alias("ranking"),
        F.col("p_partkey").cast("bigint").alias("entity_key"),
        F.col("p_name").alias("entity_name"),
        F.col("total_revenue").alias("measure"),
        F.col("revenue_rank").alias("rnk"),
    )
    custs = q06_top10_customers(spark, sf_dir).select(
        F.lit("top_customers").alias("ranking"),
        F.col("c_custkey").cast("bigint").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.col("total_spend").alias("measure"),
        _nl.alias("rnk"),
    )
    supps = q06_bottom3_suppliers(spark, sf_dir).select(
        F.lit("bottom_suppliers").alias("ranking"),
        F.col("s_suppkey").cast("bigint").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.col("total_revenue").alias("measure"),
        _nl.alias("rnk"),
    )
    return parts.unionByName(custs).unionByName(supps).orderBy("ranking", "entity_key")


# ---------------------------------------------------------------------------
# Q07 — change over time (GROUP BY year/month, DATETRUNC; ref: 07_change_over_time_analysis.sql)
# ---------------------------------------------------------------------------

_Q07_YEAR_SQL = f"""
SELECT CAST(YEAR(o.o_orderdate) AS BIGINT) AS order_year,
       CAST(SUM({SQL_REV}) AS DOUBLE) AS total_revenue,
       CAST(SUM({SQL_QTY}) AS DOUBLE) AS total_quantity,
       COUNT(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate IS NOT NULL
GROUP BY YEAR(o.o_orderdate)
ORDER BY order_year
"""


def q07_change_over_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly trend (ref: 07_change_over_time_analysis.sql:18-27, A4+P2)."""
    base = sales_base(spark, sf_dir).filter(F.col("o_orderdate").isNotNull())
    return (
        base.groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            F.sum(rev_col()).cast("double").alias("total_revenue"),
            F.sum(qty_col()).cast("double").alias("total_quantity"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("order_year")
    )


_Q07_MONTH_SQL = f"""
SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS DATE) AS order_month,
       CAST(SUM({SQL_REV}) AS DOUBLE) AS total_revenue,
       COUNT(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate IS NOT NULL
GROUP BY DATE_TRUNC('month', o.o_orderdate)
ORDER BY order_month
"""


def q07_change_over_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly trend via DATETRUNC (ref: 07_change_over_time_analysis.sql:31-38, A4)."""
    base = sales_base(spark, sf_dir).filter(F.col("o_orderdate").isNotNull())
    return (
        base.groupBy(F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month"))
        .agg(
            F.sum(rev_col()).cast("double").alias("total_revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("order_month")
    )


_Q07_LABEL_SQL = f"""
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
       CAST(MONTH(o_orderdate) AS BIGINT) AS order_month_num,
       strftime(o_orderdate, '%Y-%b') AS month_label,
       CAST(SUM({SQL_TOTALPRICE}) AS DOUBLE) AS total_order_value
FROM orders
GROUP BY 1, 2, 3
ORDER BY order_year, order_month_num
"""


def q07_month_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORMAT(d,'yyyy-MMM')-style labels (ref: 07_change_over_time_analysis.sql:42-49).

    Locale-sensitive month abbreviations — session pins en-US-style output;
    oracle uses DuckDB strftime '%Y-%b' which is also English.
    """
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.month("o_orderdate").cast("bigint").alias("order_month_num"),
            F.date_format("o_orderdate", "yyyy-MMM").alias("month_label"),
        )
        .agg(F.sum(money("o_totalprice")).cast("double").alias("total_order_value"))
        .orderBy("order_year", "order_month_num")
    )


# Composite registration for script 07 (see q05_magnitude note).
_Q07_SQL = f"""
SELECT 'yearly' AS grain, order_year, CAST(NULL AS BIGINT) AS order_month_num,
       CAST(NULL AS DATE) AS month_start, CAST(NULL AS VARCHAR) AS month_label,
       total_revenue, total_quantity, CAST(NULL AS DOUBLE) AS total_value, n_orders
FROM ({_Q07_YEAR_SQL})
UNION ALL
SELECT 'monthly', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       order_month, CAST(NULL AS VARCHAR),
       total_revenue, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), n_orders
FROM ({_Q07_MONTH_SQL})
UNION ALL
SELECT 'month_labels', order_year, order_month_num,
       CAST(NULL AS DATE), month_label,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), total_order_value,
       CAST(NULL AS BIGINT)
FROM ({_Q07_LABEL_SQL})
ORDER BY grain, order_year, order_month_num, month_start
"""


@query("q07_change_over_time", oracle=_Q07_SQL)
def q07_change_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All of 07_change_over_time_analysis.sql: yearly trend, DATETRUNC
    monthly trend, and FORMAT-label months, union-tagged."""
    _nl = F.lit(None).cast("bigint")
    _nd = F.lit(None).cast("double")
    _ns = F.lit(None).cast("string")
    _ndt = F.lit(None).cast("date")
    yearly = q07_change_over_years(spark, sf_dir).select(
        F.lit("yearly").alias("grain"),
        "order_year",
        _nl.alias("order_month_num"),
        _ndt.alias("month_start"),
        _ns.alias("month_label"),
        "total_revenue",
        "total_quantity",
        _nd.alias("total_value"),
        "n_orders",
    )
    monthly = q07_change_over_months(spark, sf_dir).select(
        F.lit("monthly").alias("grain"),
        _nl.alias("order_year"),
        _nl.alias("order_month_num"),
        F.col("order_month").alias("month_start"),
        _ns.alias("month_label"),
        "total_revenue",
        _nd.alias("total_quantity"),
        _nd.alias("total_value"),
        "n_orders",
    )
    labels = q07_month_labels(spark, sf_dir).select(
        F.lit("month_labels").alias("grain"),
        "order_year",
        "order_month_num",
        _ndt.alias("month_start"),
        "month_label",
        _nd.alias("total_revenue"),
        _nd.alias("total_quantity"),
        F.col("total_order_value").alias("total_value"),
        _nl.alias("n_orders"),
    )
    return (
        yearly.unionByName(monthly)
        .unionByName(labels)
        .orderBy("grain", "order_year", "order_month_num", "month_start")
    )


# ---------------------------------------------------------------------------
# Q08 — cumulative analysis (running totals; ref: 08_cumulative_analysis.sql)
# ---------------------------------------------------------------------------

_Q08_SQL = f"""
WITH yearly AS (
  SELECT CAST(YEAR(o.o_orderdate) AS BIGINT) AS order_year,
         SUM({SQL_REV}) AS rev_dec
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate IS NOT NULL
  GROUP BY YEAR(o.o_orderdate)
)
SELECT order_year,
       CAST(rev_dec AS DOUBLE) AS yearly_revenue,
       CAST(SUM(rev_dec) OVER (ORDER BY order_year) AS DOUBLE) AS running_total_revenue,
       CAST(SUM(rev_dec) OVER (ORDER BY order_year) AS DOUBLE)
         / COUNT(*) OVER (ORDER BY order_year) AS moving_avg_revenue
FROM yearly
ORDER BY order_year
"""


@query("q08_cumulative_revenue", oracle=_Q08_SQL, headline=True)
def q08_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + cumulative moving average over yearly aggregates
    (ref: 08_cumulative_analysis.sql:17-31, W4+W5). The window input is the
    exact decimal so the running sum is order-exact; the cumulative average
    divides the exact running sum by the running count (default ANSI RANGE
    frame in both engines)."""
    base = sales_base(spark, sf_dir).filter(F.col("o_orderdate").isNotNull())
    yearly = base.groupBy(F.year("o_orderdate").cast("bigint").alias("order_year")).agg(
        F.sum(rev_col()).alias("rev_dec")
    )
    w = Window.orderBy("order_year")
    running = F.sum("rev_dec").over(w).cast("double")
    return yearly.select(
        "order_year",
        F.col("rev_dec").cast("double").alias("yearly_revenue"),
        running.alias("running_total_revenue"),
        (running / F.count(F.lit(1)).over(w)).alias("moving_avg_revenue"),
    ).orderBy("order_year")


# ---------------------------------------------------------------------------
# Q09 — performance analysis (AVG-over-partition + LAG YoY; ref: 09_performance_analysis.sql)
# ---------------------------------------------------------------------------

_Q09_SQL = f"""
WITH brand_year AS (
  SELECT p.p_brand AS brand,
         CAST(YEAR(o.o_orderdate) AS BIGINT) AS order_year,
         SUM({SQL_REV}) AS rev_dec
  FROM lineitem l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN part p ON l.l_partkey = p.p_partkey
  WHERE o.o_orderdate IS NOT NULL
  GROUP BY p.p_brand, YEAR(o.o_orderdate)
)
SELECT brand, order_year,
       CAST(rev_dec AS DOUBLE) AS yearly_revenue,
       CAST(SUM(rev_dec) OVER (PARTITION BY brand) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY brand) AS avg_revenue,
       CAST(rev_dec AS DOUBLE)
         - CAST(SUM(rev_dec) OVER (PARTITION BY brand) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY brand) AS diff_avg,
       CASE WHEN CAST(rev_dec AS DOUBLE)
                 - CAST(SUM(rev_dec) OVER (PARTITION BY brand) AS DOUBLE)
                   / COUNT(*) OVER (PARTITION BY brand) > 0 THEN 'Above Avg'
            WHEN CAST(rev_dec AS DOUBLE)
                 - CAST(SUM(rev_dec) OVER (PARTITION BY brand) AS DOUBLE)
                   / COUNT(*) OVER (PARTITION BY brand) < 0 THEN 'Below Avg'
            ELSE 'Avg' END AS avg_change,
       CAST(LAG(rev_dec) OVER (PARTITION BY brand ORDER BY order_year) AS DOUBLE) AS py_revenue,
       CAST(rev_dec AS DOUBLE)
         - CAST(LAG(rev_dec) OVER (PARTITION BY brand ORDER BY order_year) AS DOUBLE) AS diff_py,
       CASE WHEN rev_dec - LAG(rev_dec) OVER (PARTITION BY brand ORDER BY order_year) > 0 THEN 'Increase'
            WHEN rev_dec - LAG(rev_dec) OVER (PARTITION BY brand ORDER BY order_year) < 0 THEN 'Decrease'
            ELSE 'No Change' END AS py_change
FROM brand_year
ORDER BY brand, order_year
"""


@query("q09_performance_yoy", oracle=_Q09_SQL, headline=True)
def q09_performance_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year brand performance vs own history
    (ref: 09_performance_analysis.sql:19-52, W6+W7+P6). The per-partition
    average is computed as exact-decimal SUM / COUNT (both engines), avoiding
    engine-specific decimal AVG scale rules."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    brand_year = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(part, li.l_partkey == part.p_partkey, "left")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(F.sum(rev_col()).alias("rev_dec"))
    )
    wp = Window.partitionBy("brand")
    wo = Window.partitionBy("brand").orderBy("order_year")
    avg_rev = F.sum("rev_dec").over(wp).cast("double") / F.count(F.lit(1)).over(wp)
    cur = F.col("rev_dec").cast("double")
    prev_dec = F.lag("rev_dec").over(wo)
    diff_avg = cur - avg_rev
    diff_py_dec = F.col("rev_dec") - prev_dec
    return brand_year.select(
        "brand",
        "order_year",
        cur.alias("yearly_revenue"),
        avg_rev.alias("avg_revenue"),
        diff_avg.alias("diff_avg"),
        F.when(diff_avg > 0, "Above Avg").when(diff_avg < 0, "Below Avg").otherwise("Avg").alias("avg_change"),
        prev_dec.cast("double").alias("py_revenue"),
        (cur - prev_dec.cast("double")).alias("diff_py"),
        F.when(diff_py_dec > 0, "Increase")
        .when(diff_py_dec < 0, "Decrease")
        .otherwise("No Change")
        .alias("py_change"),
    ).orderBy("brand", "order_year")


# ---------------------------------------------------------------------------
# Q10 — data segmentation (CASE bucketing + two-level agg; ref: 10_data_segmentation.sql)
# ---------------------------------------------------------------------------

_Q10_PART_SQL = """
WITH bucketed AS (
  SELECT p_partkey,
         CASE WHEN p_retailprice < 1000 THEN 'Below 1000'
              WHEN p_retailprice BETWEEN 1000 AND 1400 THEN '1000-1400'
              WHEN p_retailprice BETWEEN 1400 AND 1800 THEN '1400-1800'
              ELSE 'Above 1800' END AS price_range
  FROM part
)
SELECT price_range, COUNT(*) AS n_parts
FROM bucketed
GROUP BY price_range
ORDER BY n_parts DESC, price_range
"""


def q10_part_price_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-range bucketing + count per bucket
    (ref: 10_data_segmentation.sql:17-35, P6+P8+A7)."""
    part = _t(spark, sf_dir, "part")
    bucketed = part.select(
        "p_partkey",
        F.when(F.col("p_retailprice") < 1000, "Below 1000")
        .when(F.col("p_retailprice").between(1000, 1400), "1000-1400")
        .when(F.col("p_retailprice").between(1400, 1800), "1400-1800")
        .otherwise("Above 1800")
        .alias("price_range"),
    )
    return (
        bucketed.groupBy("price_range")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy(F.desc("n_parts"), F.asc("price_range"))
    )


_Q10_CUST_SQL = f"""
WITH spend AS (
  SELECT c.c_custkey,
         SUM({SQL_TOTALPRICE}) AS total_spend,
         {sql_datediff_month('MIN(o.o_orderdate)', 'MAX(o.o_orderdate)')} AS lifespan_months
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT CASE WHEN lifespan_months >= 12 AND total_spend > 1000000 THEN 'VIP'
            WHEN lifespan_months >= 12 THEN 'Regular'
            ELSE 'New' END AS customer_segment,
       COUNT(*) AS n_customers,
       CAST(SUM(total_spend) AS DOUBLE) AS segment_spend
FROM spend
GROUP BY 1
ORDER BY n_customers DESC, customer_segment
"""


def q10_customer_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIP/Regular/New segmentation: per-customer agg → CASE → re-agg
    (ref: 10_data_segmentation.sql:43-69, A7 two-level aggregation)."""
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    spend = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.sum(money("o_totalprice")).alias("total_spend"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .withColumn("lifespan_months", datediff_month(F.col("first_order"), F.col("last_order")))
    )
    seg = F.when(
        (F.col("lifespan_months") >= 12) & (F.col("total_spend") > 1000000), "VIP"
    ).when(F.col("lifespan_months") >= 12, "Regular").otherwise("New")
    return (
        spend.select(seg.alias("customer_segment"), "total_spend")
        .groupBy("customer_segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("total_spend").cast("double").alias("segment_spend"),
        )
        .orderBy(F.desc("n_customers"), F.asc("customer_segment"))
    )


# Composite registration for script 10 (see q05_magnitude note).
_Q10_SQL = f"""
SELECT 'part_price' AS segmentation, price_range AS bucket,
       n_parts AS n, CAST(NULL AS DOUBLE) AS segment_spend
FROM ({_Q10_PART_SQL})
UNION ALL
SELECT 'customer', customer_segment, n_customers, segment_spend
FROM ({_Q10_CUST_SQL})
ORDER BY segmentation, bucket
"""


@query("q10_segmentation", oracle=_Q10_SQL, headline=True)
def q10_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All of 10_data_segmentation.sql: part price-range bucketing and
    VIP/Regular/New customer segmentation, union-tagged."""
    part = q10_part_price_segmentation(spark, sf_dir).select(
        F.lit("part_price").alias("segmentation"),
        F.col("price_range").alias("bucket"),
        F.col("n_parts").alias("n"),
        F.lit(None).cast("double").alias("segment_spend"),
    )
    cust = q10_customer_segmentation(spark, sf_dir).select(
        F.lit("customer").alias("segmentation"),
        F.col("customer_segment").alias("bucket"),
        F.col("n_customers").alias("n"),
        "segment_spend",
    )
    return part.unionByName(cust).orderBy("segmentation", "bucket")


# ---------------------------------------------------------------------------
# Q11 — part-to-whole (window grand total + %; ref: 11_part_to_whole_analysis.sql)
# ---------------------------------------------------------------------------

_Q11_SQL = f"""
WITH region_rev AS (
  SELECT r.r_name AS region_name,
         SUM({SQL_REV}) AS rev_dec
  FROM lineitem l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name
)
SELECT region_name,
       CAST(rev_dec AS DOUBLE) AS total_revenue,
       CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER () AS DOUBLE) * 100 AS pct_of_total
FROM region_rev
ORDER BY total_revenue DESC
"""


@query("q11_part_to_whole_region", oracle=_Q11_SQL, headline=True)
def q11_part_to_whole_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regional revenue share of the whole via empty-window grand total
    (ref: 11_part_to_whole_analysis.sql:16-31, W8)."""
    base = sales_base(spark, sf_dir)
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = tpch.dim(spark, sf_dir, "nation")
    region = tpch.dim(spark, sf_dir, "region")
    region_rev = (
        base.join(customer, base.o_custkey == customer.c_custkey, "left")
        .join(nation, customer.c_nationkey == nation.n_nationkey, "left")
        .join(region, nation.n_regionkey == region.r_regionkey, "left")
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.sum(rev_col()).alias("rev_dec"))
    )
    grand = F.sum("rev_dec").over(Window.partitionBy())
    return region_rev.select(
        "region_name",
        F.col("rev_dec").cast("double").alias("total_revenue"),
        (F.col("rev_dec").cast("double") / grand.cast("double") * 100).alias("pct_of_total"),
    ).orderBy(F.desc("total_revenue"))


# ---------------------------------------------------------------------------
# Q12 — customer report (3-stage KPI view; ref: 12_report_customers.sql)
# ---------------------------------------------------------------------------

# Fixed as-of date for recency KPIs: injectable in the engine, pinned here so
# repeated runs and the oracle agree (SURVEY §7.4 non-determinism note).
AS_OF_DATE = "1998-12-31"

_Q12_SQL = f"""
WITH base AS (
  SELECT l.l_orderkey, l.l_partkey, l.l_quantity,
         {SQL_REV} AS line_rev,
         o.o_orderdate, c.c_custkey, c.c_name, c.c_mktsegment, n.n_name
  FROM lineitem l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderdate IS NOT NULL
),
agg AS (
  SELECT c_custkey, c_name, c_mktsegment, n_name AS nation_name,
         COUNT(DISTINCT l_orderkey) AS total_orders,
         SUM(line_rev) AS total_sales_dec,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity,
         COUNT(DISTINCT l_partkey) AS total_parts,
         CAST(MAX(o_orderdate) AS DATE) AS last_order_date,
         {sql_datediff_month('MIN(o_orderdate)', 'MAX(o_orderdate)')} AS lifespan_months
  FROM base
  GROUP BY c_custkey, c_name, c_mktsegment, n_name
)
SELECT c_custkey, c_name, c_mktsegment, nation_name,
       total_orders,
       CAST(total_sales_dec AS DOUBLE) AS total_sales,
       total_quantity, total_parts, last_order_date, lifespan_months,
       CASE WHEN lifespan_months >= 12 AND total_sales_dec > 500000 THEN 'VIP'
            WHEN lifespan_months >= 12 THEN 'Regular'
            ELSE 'New' END AS customer_segment,
       {sql_datediff_month('last_order_date', f"DATE '{AS_OF_DATE}'")} AS recency_months,
       CAST(total_sales_dec AS DOUBLE) / total_orders AS avg_order_value,
       CASE WHEN lifespan_months = 0 THEN CAST(total_sales_dec AS DOUBLE)
            ELSE CAST(total_sales_dec AS DOUBLE) / lifespan_months END AS avg_monthly_spend
FROM agg
ORDER BY c_custkey
"""


@query("q12_report_customers", oracle=_Q12_SQL, headline=True)
def q12_report_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer KPI report: base join → per-customer agg → derived KPIs
    (ref: 12_report_customers.sql:31-106 — the full intended schema including
    both lifespan and segment; the reference view drops lifespan via a known
    missing-comma typo at 12_report_customers.sql:96-97, see SURVEY §2.12)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    nation = tpch.dim(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(customer, orders.o_custkey == customer.c_custkey, "left")
        .join(nation, customer.c_nationkey == nation.n_nationkey, "left")
        .filter(F.col("o_orderdate").isNotNull())
    )
    agg = (
        base.groupBy("c_custkey", "c_name", "c_mktsegment", F.col("n_name").alias("nation_name"))
        .agg(
            F.countDistinct("l_orderkey").alias("total_orders"),
            F.sum(rev_col()).alias("total_sales_dec"),
            F.sum(qty_col()).cast("double").alias("total_quantity"),
            F.countDistinct("l_partkey").alias("total_parts"),
            F.max("o_orderdate").cast("date").alias("last_order_date"),
            F.min("o_orderdate").alias("first_order_date"),
        )
        .withColumn("lifespan_months", datediff_month(F.col("first_order_date"), F.col("last_order_date")))
    )
    total_sales = F.col("total_sales_dec").cast("double")
    return agg.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "nation_name",
        "total_orders",
        total_sales.alias("total_sales"),
        "total_quantity",
        "total_parts",
        "last_order_date",
        "lifespan_months",
        F.when((F.col("lifespan_months") >= 12) & (F.col("total_sales_dec") > 500000), "VIP")
        .when(F.col("lifespan_months") >= 12, "Regular")
        .otherwise("New")
        .alias("customer_segment"),
        datediff_month(F.col("last_order_date"), F.lit(AS_OF_DATE).cast("date")).alias("recency_months"),
        (total_sales / F.col("total_orders")).alias("avg_order_value"),
        F.when(F.col("lifespan_months") == 0, total_sales)
        .otherwise(total_sales / F.col("lifespan_months"))
        .alias("avg_monthly_spend"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Q13 — product report (3-stage KPI view; ref: 13_report_products.sql)
# ---------------------------------------------------------------------------

_Q13_SQL = f"""
WITH base AS (
  SELECT l.l_orderkey, l.l_quantity, l.l_extendedprice,
         {SQL_REV} AS line_rev,
         o.o_orderdate, o.o_custkey,
         p.p_partkey, p.p_name, p.p_brand, p.p_type
  FROM lineitem l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN part p ON l.l_partkey = p.p_partkey
  WHERE o.o_orderdate IS NOT NULL
),
agg AS (
  SELECT p_partkey, p_name, p_brand, p_type,
         COUNT(DISTINCT l_orderkey) AS total_orders,
         COUNT(DISTINCT o_custkey) AS total_customers,
         SUM(line_rev) AS total_sales_dec,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity,
         CAST(MAX(o_orderdate) AS DATE) AS last_sale_date,
         {sql_datediff_month('MIN(o_orderdate)', 'MAX(o_orderdate)')} AS lifespan_months,
         CAST(SUM(CAST(FLOOR(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
                             / NULLIF(l_quantity, 0) * 1000000.0) AS BIGINT)) AS DOUBLE)
           / 1000000.0 / COUNT(*) AS avg_unit_price
  FROM base
  GROUP BY p_partkey, p_name, p_brand, p_type
)
SELECT p_partkey, p_name, p_brand, p_type,
       total_orders, total_customers,
       CAST(total_sales_dec AS DOUBLE) AS total_sales,
       total_quantity, last_sale_date, lifespan_months, avg_unit_price,
       {sql_datediff_month('last_sale_date', f"DATE '{AS_OF_DATE}'")} AS recency_months,
       CASE WHEN total_sales_dec > 400000 THEN 'High-Performer'
            WHEN total_sales_dec >= 150000 THEN 'Mid-Range'
            ELSE 'Low-Performer' END AS product_segment,
       CAST(total_sales_dec AS DOUBLE) / total_orders AS avg_order_revenue,
       CASE WHEN lifespan_months = 0 THEN CAST(total_sales_dec AS DOUBLE)
            ELSE CAST(total_sales_dec AS DOUBLE) / lifespan_months END AS avg_monthly_revenue
FROM agg
ORDER BY p_partkey
"""


@query("q13_report_products", oracle=_Q13_SQL, headline=True)
def q13_report_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product KPI report (ref: 13_report_products.sql:30-114).

    avg_unit_price reproduces the reference's AVG(price/NULLIF(qty,0)) with a
    divide-by-zero guard (ref: 13_report_products.sql:69, A8); the per-row
    double ratio is snapped to DECIMAL(18,6) before summing so the average is
    order-independent across engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_type")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(part, li.l_partkey == part.p_partkey, "left")
        .filter(F.col("o_orderdate").isNotNull())
    )
    # per-row ratio snapped to 6-dp fixed point via FLOOR: floor of the same
    # IEEE double is bit-identical in every engine, and the resulting integer
    # sum is exact/order-independent (a decimal cast would round engine-
    # specifically at exact binary midpoints like price/32)
    unit_price_ratio = F.floor(
        money("l_extendedprice").cast("double")
        / F.nullif(F.col("l_quantity"), F.lit(0))
        * F.lit(1000000.0)
    ).cast("bigint")
    # r19 two-level plan (the q05 pattern, VERDICT r18 ask #5): pre-aggregate
    # to (part-group, orderkey) grain first — o_custkey and o_orderdate are
    # functional on l_orderkey, so min() recovers them exactly, and
    # COUNT(DISTINCT l_orderkey) becomes a plain COUNT of the pre-agg rows.
    # The final aggregate keeps ONE distinct (customers), which Catalyst
    # plans WITHOUT Expand — the old 2-distinct form tripled every joined
    # fact row through the aggregation exchange. Decimal/bigint sums are
    # exact under regrouping; measured 1.18x on the noop sink, bit-identical
    # (tools/r19_q1213.py; the same rework on q12 was REJECTED — its group
    # key is customer-side, so the parts distinct needs a second leg and a
    # null-safe join-back that measured 23% slower under the bench's count).
    gk = ["p_partkey", "p_name", "p_brand", "p_type"]
    pre = base.groupBy(*gk, "l_orderkey").agg(
        F.min("o_custkey").alias("_cust"),
        F.min("o_orderdate").alias("_od"),
        F.sum(rev_col()).alias("_rev"),
        F.sum(qty_col()).alias("_qty"),
        F.sum(unit_price_ratio).alias("_upr"),
        F.count(F.lit(1)).alias("_nl"),
    )
    agg = (
        pre.groupBy(*gk)
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.countDistinct("_cust").alias("total_customers"),
            F.sum("_rev").alias("total_sales_dec"),
            F.sum("_qty").cast("double").alias("total_quantity"),
            F.max("_od").cast("date").alias("last_sale_date"),
            F.min("_od").alias("first_sale_date"),
            (F.sum("_upr").cast("double") / F.lit(1000000.0) / F.sum("_nl")).alias(
                "avg_unit_price"
            ),
        )
        .withColumn("lifespan_months", datediff_month(F.col("first_sale_date"), F.col("last_sale_date")))
    )
    total_sales = F.col("total_sales_dec").cast("double")
    return agg.select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "total_orders",
        "total_customers",
        total_sales.alias("total_sales"),
        "total_quantity",
        "last_sale_date",
        "lifespan_months",
        "avg_unit_price",
        datediff_month(F.col("last_sale_date"), F.lit(AS_OF_DATE).cast("date")).alias("recency_months"),
        F.when(F.col("total_sales_dec") > 400000, "High-Performer")
        .when(F.col("total_sales_dec") >= 150000, "Mid-Range")
        .otherwise("Low-Performer")
        .alias("product_segment"),
        (total_sales / F.col("total_orders")).alias("avg_order_revenue"),
        F.when(F.col("lifespan_months") == 0, total_sales)
        .otherwise(total_sales / F.col("lifespan_months"))
        .alias("avg_monthly_revenue"),
    ).orderBy("p_partkey")

"""Ad-hoc analytics over the gold star schema as Spark SQL text (EP3).

The reference's 13 analytics scripts are plain SQL against gold tables
(ref: scripts/Data Analytics/01…13; SURVEY §3 EP3). The oracle-checked
DataFrame twins live in analytics.py; this module carries the *SQL-text*
form of the surface over the warehouse's own star schema, so a reference
user can keep writing SQL: ``register_gold_views(ctx)`` then
``spark.sql(ADHOC_SQL[name])`` (or :func:`run`).

Dialect adaptations (T-SQL → Spark SQL), each noted inline:
- ``TOP n`` → ``LIMIT n``; ``DATETRUNC`` → ``date_trunc`` (cast to date);
  ``FORMAT(d,'yyyy-MMM')`` → ``date_format``;
- ``DATEDIFF(MONTH/YEAR, …)`` → explicit boundary-count arithmetic
  (tsql.py semantics, SURVEY §7.4.1);
- ``GETDATE()`` → the run's injectable ``as_of`` date, substituted via
  :func:`run` for deterministic recency/age KPIs.

Catalyst plans these identically to the DataFrame forms (same logical
plan after parsing) — broadcast dim joins, pushed filters, pruned scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.local import local_frame
from .audit import RunContext

GOLD_VIEWS = {
    "gold_fact_sales": "gold.fact_sales",
    "gold_dim_customers": "gold.dim_customers",
    "gold_dim_products": "gold.dim_products",
}


def register_gold_views(ctx: RunContext) -> None:
    for view, table in GOLD_VIEWS.items():
        ctx.catalog.read(table).createOrReplaceTempView(view)


# {AS_OF} is replaced with the run's frozen clock date by run().
ADHOC_SQL: dict[str, str] = {
    # ref: 02_dimensions_exploration.sql:15-26 (DISTINCT + ORDER BY)
    "q02_countries": """
        SELECT DISTINCT country FROM gold_dim_customers ORDER BY country
    """,
    "q02_product_dims": """
        SELECT DISTINCT category, subcategory, product_name
        FROM gold_dim_products ORDER BY category, subcategory, product_name
    """,
    # ref: 03_date_range_exploration.sql:15-27 (MIN/MAX + boundary DATEDIFF)
    "q03_order_range": """
        SELECT MIN(order_date) AS first_order_date,
               MAX(order_date) AS last_order_date,
               (YEAR(MAX(order_date)) - YEAR(MIN(order_date))) * 12
                 + (MONTH(MAX(order_date)) - MONTH(MIN(order_date))) AS order_range_months
        FROM gold_fact_sales
    """,
    "q03_customer_ages": """
        SELECT MIN(birthdate) AS oldest_birthdate,
               YEAR(DATE '{AS_OF}') - YEAR(MIN(birthdate)) AS oldest_age,
               MAX(birthdate) AS youngest_birthdate,
               YEAR(DATE '{AS_OF}') - YEAR(MAX(birthdate)) AS youngest_age
        FROM gold_dim_customers
    """,
    # ref: 04_measures_exploration.sql:37-47 (scalar aggs + UNION ALL report)
    "q04_key_metrics": """
        SELECT 'Total Sales' AS measure_name, CAST(SUM(sales_amount) AS DOUBLE) AS measure_value FROM gold_fact_sales
        UNION ALL SELECT 'Total Quantity', CAST(SUM(quantity) AS DOUBLE) FROM gold_fact_sales
        UNION ALL SELECT 'Average Price', CAST(AVG(price) AS DOUBLE) FROM gold_fact_sales
        UNION ALL SELECT 'Total Orders', CAST(COUNT(DISTINCT order_number) AS DOUBLE) FROM gold_fact_sales
        UNION ALL SELECT 'Total Products', CAST(COUNT(DISTINCT product_name) AS DOUBLE) FROM gold_dim_products
        UNION ALL SELECT 'Total Customers', CAST(COUNT(customer_key) AS DOUBLE) FROM gold_dim_customers
    """,
    # ref: 05_magnitude_analysis.sql:16-22 (GROUP BY magnitude)
    "q05_customers_by_country": """
        SELECT country, COUNT(customer_key) AS total_customers
        FROM gold_dim_customers GROUP BY country ORDER BY total_customers DESC, country
    """,
    # ref: 06_ranking_analysis.sql:17-24 (TOP n → LIMIT)
    "q06_top5_products": """
        SELECT p.product_name, SUM(f.sales_amount) AS total_revenue
        FROM gold_fact_sales f
        LEFT JOIN gold_dim_products p ON p.product_key = f.product_key
        GROUP BY p.product_name ORDER BY total_revenue DESC LIMIT 5
    """,
    # ref: 06_ranking_analysis.sql:27-38 (window-rank top-k variant)
    "q06_rank_products": """
        SELECT * FROM (
            SELECT p.product_name, SUM(f.sales_amount) AS total_revenue,
                   RANK() OVER (ORDER BY SUM(f.sales_amount) DESC) AS rank_products
            FROM gold_fact_sales f
            LEFT JOIN gold_dim_products p ON p.product_key = f.product_key
            GROUP BY p.product_name
        ) WHERE rank_products <= 5
    """,
    # ref: 07_change_over_time_analysis.sql:18-28 (year/month trend)
    "q07_sales_over_months": """
        SELECT YEAR(order_date) AS order_year, MONTH(order_date) AS order_month,
               SUM(sales_amount) AS total_sales,
               COUNT(DISTINCT customer_key) AS total_customers,
               SUM(quantity) AS total_quantity
        FROM gold_fact_sales WHERE order_date IS NOT NULL
        GROUP BY YEAR(order_date), MONTH(order_date)
        ORDER BY order_year, order_month
    """,
    # ref: 08_cumulative_analysis.sql:17-31 (running total over yearly agg;
    # DATETRUNC → date_trunc cast to date)
    "q08_cumulative_sales": """
        SELECT order_date, total_sales,
               SUM(total_sales) OVER (ORDER BY order_date) AS running_total_sales,
               AVG(avg_price) OVER (ORDER BY order_date) AS moving_average_price
        FROM (
            SELECT CAST(date_trunc('year', order_date) AS DATE) AS order_date,
                   SUM(sales_amount) AS total_sales,
                   AVG(price) AS avg_price
            FROM gold_fact_sales WHERE order_date IS NOT NULL
            GROUP BY date_trunc('year', order_date)
        )
    """,
    # ref: 09_performance_analysis.sql:19-52 (LAG YoY + avg-vs-current CASE)
    "q09_product_yoy": """
        WITH yearly AS (
            SELECT YEAR(f.order_date) AS order_year, p.product_name,
                   SUM(f.sales_amount) AS current_sales
            FROM gold_fact_sales f
            LEFT JOIN gold_dim_products p ON f.product_key = p.product_key
            WHERE f.order_date IS NOT NULL
            GROUP BY YEAR(f.order_date), p.product_name
        )
        SELECT order_year, product_name, current_sales,
               AVG(current_sales) OVER (PARTITION BY product_name) AS avg_sales,
               CASE WHEN current_sales > AVG(current_sales) OVER (PARTITION BY product_name) THEN 'Above Avg'
                    WHEN current_sales < AVG(current_sales) OVER (PARTITION BY product_name) THEN 'Below Avg'
                    ELSE 'Avg' END AS avg_change,
               LAG(current_sales) OVER (PARTITION BY product_name ORDER BY order_year) AS prev_year_sales,
               CASE WHEN current_sales > LAG(current_sales) OVER (PARTITION BY product_name ORDER BY order_year) THEN 'Increase'
                    WHEN current_sales < LAG(current_sales) OVER (PARTITION BY product_name ORDER BY order_year) THEN 'Decrease'
                    ELSE 'No Change' END AS py_change
        FROM yearly ORDER BY product_name, order_year
    """,
    # ref: 10_data_segmentation.sql:17-35 (CASE bucket + re-aggregate)
    "q10_cost_segments": """
        SELECT cost_range, COUNT(product_key) AS total_products
        FROM (
            SELECT product_key,
                   CASE WHEN cost < 100 THEN 'Below 100'
                        WHEN cost BETWEEN 100 AND 500 THEN '100-500'
                        WHEN cost BETWEEN 500 AND 1000 THEN '500-1000'
                        ELSE 'Above 1000' END AS cost_range
            FROM gold_dim_products
        )
        GROUP BY cost_range ORDER BY total_products DESC, cost_range
    """,
    # ref: 11_part_to_whole_analysis.sql:16-31 (window grand total + %)
    "q11_category_share": """
        WITH category_sales AS (
            SELECT p.category, SUM(f.sales_amount) AS total_sales
            FROM gold_fact_sales f
            LEFT JOIN gold_dim_products p ON p.product_key = f.product_key
            GROUP BY p.category
        )
        SELECT category, total_sales,
               SUM(total_sales) OVER () AS overall_sales,
               ROUND(CAST(total_sales AS DOUBLE) / CAST(SUM(total_sales) OVER () AS DOUBLE) * 100, 2)
                 AS percentage_of_total
        FROM category_sales ORDER BY total_sales DESC
    """,
}


def catalog_exploration(ctx: RunContext) -> tuple[DataFrame, DataFrame]:
    """Q01 database exploration (operator S8): the INFORMATION_SCHEMA.TABLES /
    .COLUMNS introspection (ref: scripts/Data Analytics/01_database_exploration
    .sql:16-30) over the warehouse catalog — (tables_df, columns_df)."""
    import os

    spark = ctx.catalog.spark
    tables: list[tuple[str, str]] = []
    columns: list[tuple[str, str, str, str]] = []
    root = ctx.catalog.root
    for db in sorted(os.listdir(root)):
        dbdir = os.path.join(root, db)
        if not os.path.isdir(dbdir):
            continue
        for table in sorted(os.listdir(dbdir)):
            name = f"{db}.{table}"
            if not ctx.catalog.exists(name):
                continue
            tables.append((db, table))
            for f in ctx.catalog.read(name).schema.fields:
                columns.append((db, table, f.name, f.dataType.simpleString()))
    col_ddl = "table_schema string, table_name string, column_name string, data_type string"
    return (
        local_frame(spark, tables, "table_schema string, table_name string"),
        local_frame(spark, columns, col_ddl),
    )


def run(ctx: RunContext, name: str) -> DataFrame:
    """Execute one ad-hoc script against the registered gold views."""
    register_gold_views(ctx)
    sql = ADHOC_SQL[name].replace("{AS_OF}", ctx.as_of.date().isoformat())
    return ctx.catalog.spark.sql(sql)


def run_all(ctx: RunContext) -> dict[str, DataFrame]:
    register_gold_views(ctx)
    return {name: run(ctx, name) for name in ADHOC_SQL}

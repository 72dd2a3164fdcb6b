"""Gold layer: star schema build (W2, J1–J4, S3, S5; SURVEY §1.4, §2.3).

Re-expresses ``gold.load_gold`` (ref: scripts/gold/proc_load_gold.sql:30-190):
dims rebuilt with ROW_NUMBER surrogate keys while preserving the seeded -1
"Unknown" member (ref: ddl_gold.sql:42-43,70-71; DELETE WHERE key <> -1 at
proc_load_gold.sql:38,92), fact reloaded with unmatched keys mapped to -1
(ISNULL(key,-1), ref: proc_load_gold.sql:153-154), partitioned by order year
(ref: ddl_gold.sql:78-103).

Documented deviation (SURVEY §2.3 ⚠): the reference joins the fact to
dim_products through SUBSTRING(sls_prd_key,7,…) even though sales carry the
short product number already, which maps *every* row to -1; we implement the
intended direct join ``sls_prd_key = product_number`` that the reference's
own orphan checks presume (ref: tests/quality_checks_gold.sql:45-51).

Surrogate keys at scale: ``surrogate_mode="scale"`` (the DEFAULT, r02)
computes the reference's deterministic dense numbering distributively:
range-partition on the order key, number within partitions, add broadcast
per-partition offsets — three narrow stages, no single-node bottleneck.
``parity`` mode reproduces the reference's literal global
``ROW_NUMBER() OVER (ORDER BY id)`` — a single-partition window, identical
output but hostile at 100 TB (SURVEY §7.4.3); keep it for oracle
comparisons only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.local import range_offsets
from .audit import RunContext

DIM_CUSTOMERS_COLS = [
    "customer_key", "customer_id", "customer_number", "first_name", "last_name",
    "country", "marital_status", "gender", "birthdate", "create_date",
]
DIM_PRODUCTS_COLS = [
    "product_key", "product_id", "product_number", "product_name", "category_id",
    "category", "subcategory", "maintenance", "cost", "product_line", "start_date",
]


def surrogate_key(df: DataFrame, order_col: str, mode: str = "parity") -> DataFrame:
    """Add ``_sk`` = deterministic 1-based dense row numbering by ``order_col``.

    parity: ROW_NUMBER over a global window (ref: proc_load_gold.sql:54,109).
    scale:  ``range_offsets`` on order_col → per-partition row_number +
            the broadcast count of earlier partitions.
    Both orderings break ties identically only when order_col is unique —
    which the silver PKs guarantee (ref: ddl_silver.sql:32).
    """
    if mode == "parity":
        return df.withColumn("_sk", F.row_number().over(Window.orderBy(order_col)))
    # No single-partition Exchange anywhere in the plan (a global window
    # over the per-partition counts — r01 — had one, tiny but flag-worthy).
    ranged, _ = range_offsets(df, [F.col(order_col)], {"n": F.count(F.lit(1))})
    local = F.row_number().over(Window.partitionBy("_pid").orderBy(order_col))
    return ranged.withColumn("_sk", (local + F.col("_off_n")).cast("int")).drop(
        "_pid", "_off_n"
    )


def _unknown_member(spark, cols: list[str], template: DataFrame) -> DataFrame:
    """The seeded -1 row (ref: ddl_gold.sql:42-43,70-71): key/id -1,
    business key 'n/a', name 'Unknown', everything else NULL."""
    values = {cols[0]: -1, cols[1]: -1, cols[2]: "n/a", cols[3]: "Unknown"}
    types = dict(template.dtypes)
    exprs = [F.lit(values.get(c)).cast(types[c]).alias(c) for c in cols]
    return spark.range(1).select(*exprs)


def build_dim_customers(ctx: RunContext, surrogate_mode: str = "scale") -> DataFrame:
    """ref: proc_load_gold.sql:41-69 — CRM base, ERP enrichment via broadcast
    left joins on the normalized business key, CRM-primary gender fallback."""
    cat = ctx.catalog
    ci = cat.read("silver.crm_cust_info")
    ca = cat.read("silver.erp_cust_az12")
    la = cat.read("silver.erp_loc_a101")
    joined = (
        ci.join(F.broadcast(ca), ci.cst_key == ca.cid, "left")
        .join(F.broadcast(la), ci.cst_key == la.cid, "left")
    )
    dim = surrogate_key(joined, "cst_id", surrogate_mode).select(
        F.col("_sk").alias("customer_key"),
        F.col("cst_id").alias("customer_id"),
        F.col("cst_key").alias("customer_number"),
        F.col("cst_firstname").alias("first_name"),
        F.col("cst_lastname").alias("last_name"),
        F.col("cntry").alias("country"),
        F.col("cst_marital_status").alias("marital_status"),
        F.when(F.col("cst_gndr") != "n/a", F.col("cst_gndr"))
        .otherwise(F.coalesce(F.col("gen"), F.lit("n/a")))
        .alias("gender"),
        F.col("bdate").alias("birthdate"),
        F.col("cst_create_date").alias("create_date"),
    )
    return dim.unionByName(_unknown_member(cat.spark, DIM_CUSTOMERS_COLS, dim))


def build_dim_products(ctx: RunContext, surrogate_mode: str = "scale") -> DataFrame:
    """ref: proc_load_gold.sql:95-122 — current SCD2 versions only,
    category enrichment, surrogate key by prd_id."""
    cat = ctx.catalog
    pn = cat.read("silver.crm_prd_info").filter(F.col("is_current") == 1)
    pc = cat.read("silver.erp_px_cat_g1v2")
    joined = pn.join(F.broadcast(pc), pn.cat_id == pc.id, "left")
    dim = surrogate_key(joined, "prd_id", surrogate_mode).select(
        F.col("_sk").alias("product_key"),
        F.col("prd_id").alias("product_id"),
        F.col("prd_key").alias("product_number"),
        F.col("prd_nm").alias("product_name"),
        F.col("cat_id").alias("category_id"),
        F.col("cat").alias("category"),
        F.col("subcat").alias("subcategory"),
        "maintenance",
        F.col("prd_cost").cast("decimal(19,4)").alias("cost"),
        F.col("prd_line").alias("product_line"),
        F.col("effective_date").alias("start_date"),
    )
    return dim.unionByName(_unknown_member(cat.spark, DIM_PRODUCTS_COLS, dim))


def build_fact_sales(
    ctx: RunContext,
    dim_customers: DataFrame,
    dim_products: DataFrame,
    years: list[int] | None = None,
) -> DataFrame:
    """ref: proc_load_gold.sql:135-165 — dim-key lookups via broadcast left
    joins, unmatched → -1, partition column = order year.

    At 100 TB the fact is the only big table: both lookups broadcast (dims
    are bounded by customer/product population), so the whole build is a
    scan → two broadcast joins → partitioned write. No shuffle. With
    ``years``, only those order years are built (the filter is applied AT
    the silver scan, before the joins — the incremental-maintenance path,
    see :func:`refresh_fact_partitions`).
    """
    sd = ctx.catalog.read("silver.crm_sales_details")
    if years is not None:
        sd = sd.filter(F.coalesce(F.year("sls_order_dt"), F.lit(0)).isin(years))
    pr = dim_products.select("product_key", "product_number")
    cu = dim_customers.select("customer_key", "customer_id")
    return (
        # intended direct join, not the SUBSTRING defect (module docstring)
        sd.join(F.broadcast(pr), sd.sls_prd_key == pr.product_number, "left")
        .join(F.broadcast(cu), sd.sls_cust_id.cast("int") == cu.customer_id, "left")
        .select(
            F.col("sls_ord_num").alias("order_number"),
            F.coalesce("product_key", F.lit(-1)).alias("product_key"),
            F.coalesce("customer_key", F.lit(-1)).alias("customer_key"),
            F.col("sls_order_dt").alias("order_date"),
            F.col("sls_ship_dt").alias("shipping_date"),
            F.col("sls_due_dt").alias("due_date"),
            F.col("sls_sales").alias("sales_amount"),
            F.col("sls_quantity").alias("quantity"),
            F.col("sls_price").alias("price"),
        )
        .withColumn("order_year", F.coalesce(F.year("order_date"), F.lit(0)))
    )


def refresh_fact_partitions(ctx: RunContext, years: list[int]) -> int:
    """Incremental gold-fact maintenance: rebuild ONLY the given order-year
    partitions from silver and dynamic-partition-overwrite them in place;
    every other year's files are untouched (asserted byte-level in
    tests/test_warehouse.py).

    The full rebuild in :func:`load_gold` mirrors the reference's
    truncate-and-reload (ref: proc_load_gold.sql:30-38); at 100 TB a delta
    load touches a handful of years, so the incremental path recomputes just
    those partitions — same scan→broadcast-joins→write plan, with a
    partition-pruning filter pushed into the silver scan."""
    cat = ctx.catalog
    dimc = cat.read("gold.dim_customers")
    dimp = cat.read("gold.dim_products")
    fact = build_fact_sales(ctx, dimc, dimp, years=years)
    n = cat.overwrite_partitions("gold.fact_sales", fact, ["order_year"])
    ctx.log("gold.fact_sales[incremental]", n)
    return n


def load_gold(ctx: RunContext, surrogate_mode: str = "scale") -> dict[str, int]:
    """EP1 gold phase (ref: proc_load_gold.sql:30-190) with inline DQ."""
    cat = ctx.catalog
    dimc = build_dim_customers(ctx, surrogate_mode)
    n = cat.overwrite("gold.dim_customers", dimc)
    dimc = cat.read("gold.dim_customers")
    dup = dimc.groupBy("customer_key").count().filter("count > 1").count()
    ctx.dq_compare("gold.dim_customers", "Uniqueness Check", 0, dup, "Duplicate customer_key detected", "Gold")
    ctx.log("gold.dim_customers", n)

    dimp = build_dim_products(ctx, surrogate_mode)
    np_ = cat.overwrite("gold.dim_products", dimp)
    dimp = cat.read("gold.dim_products")
    dupp = dimp.groupBy("product_key").count().filter("count > 1").count()
    ctx.dq_compare("gold.dim_products", "Uniqueness Check", 0, dupp, "Duplicate product_key detected", "Gold")
    ctx.log("gold.dim_products", np_)

    fact = build_fact_sales(ctx, dimc, dimp)
    nf = cat.overwrite("gold.fact_sales", fact, partition_by=["order_year"])
    orphans = (
        cat.read("gold.fact_sales")
        .filter((F.col("customer_key") == -1) | (F.col("product_key") == -1))
        .count()
    )
    # ref: proc_load_gold.sql:170-174 — orphan rows are *logged*, not fatal
    ctx.dq_compare("gold.fact_sales", "Referential Integrity", 0, orphans, "Missing key mappings (-1) found in fact table", "Gold")
    ctx.log("gold.fact_sales", nf)
    return {"gold.dim_customers": n, "gold.dim_products": np_, "gold.fact_sales": nf}

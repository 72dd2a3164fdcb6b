"""Silver layer: cleaning + SCD1 / SCD2 / watermark delta (C1–C5, S4, S6, S7).

Re-expresses ``silver.load_silver`` (ref: scripts/silver/proc_load_silver.sql)
and ``silver.load_metadata_driven`` (ref: scripts/silver/proc_load_metadata_driven.sql)
Spark-first. Every MERGE/UPDATE is a declarative DataFrame transform +
atomic table swap (Delta `MERGE INTO` on a production lake — SURVEY §7.3);
the *semantics* (hash change detection, keep-latest dedup, watermark deltas,
SCD2 expire+insert) are identical.

Documented deviations from as-implemented reference behavior (SURVEY §7.4.6 —
we implement the *intended* semantics, as its own quality checks expect):
- watermark delta re-load: the reference's 1-day safety buffer re-INSERTS the
  last loaded day on every run (ref: proc_load_silver.sql:242,250) which
  duplicates those sales rows; we anti-join the delta against already-loaded
  line identities so the buffer catches late rows *idempotently*.
- ERP metadata loads: the reference copies ERP tables raw
  (ref: proc_load_metadata_driven.sql:71-77) yet its quality checks expect
  normalized keys/domains (ref: tests/quality_checks_silver.sql:124-142);
  the metadata engine here supports per-target transform hooks and registers
  the intended normalizations (NAS-prefix strip, dash removal, country/gender
  standardization, birthdate range guard).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..tsql import MONEY, row_hash, yyyymmdd_to_date
from .audit import RunContext

# ------------------------------------------------------------------ hashes


def _cust_hash() -> Column:
    """ref: proc_load_silver.sql:63-71 — 5 business columns, NULL→''."""
    return row_hash("cst_key", "cst_firstname", "cst_lastname", "cst_marital_status", "cst_gndr")


def _prd_hash(nm: Column, cost: Column, line: Column) -> Column:
    """ref: proc_load_silver.sql:155-161 — note NULL cost hashes as '0'."""
    return F.sha2(
        F.concat_ws(
            "|",
            F.coalesce(nm, F.lit("")),
            F.coalesce(cost.cast("string"), F.lit("0")),
            F.coalesce(F.trim(line), F.lit("")),
        ),
        256,
    )


# ------------------------------------------------- customers (SCD Type 1)


def _clean_customers(bronze: DataFrame, watermark: dt.datetime) -> DataFrame:
    """Delta-filter → keep-latest dedup → trim + decode.

    ref: proc_load_silver.sql:72-97. The ROW_NUMBER dedup partitions by
    cst_id — a shuffle on the business key, which is exactly the partitioning
    the subsequent merge needs (no second shuffle at scale).
    """
    w = Window.partitionBy("cst_id").orderBy(F.desc("cst_create_date"))
    return (
        bronze.filter(F.col("cst_id").isNotNull())
        .filter(F.col("cst_create_date") > F.lit(watermark))
        .withColumn("flag_last", F.row_number().over(w))
        .filter(F.col("flag_last") == 1)
        .select(
            "cst_id",
            "cst_key",
            F.trim("cst_firstname").alias("cst_firstname"),
            F.trim("cst_lastname").alias("cst_lastname"),
            F.when(F.upper(F.trim("cst_marital_status")) == "S", "Single")
            .when(F.upper(F.trim("cst_marital_status")) == "M", "Married")
            .otherwise("n/a")
            .alias("cst_marital_status"),
            F.when(F.upper(F.trim("cst_gndr")) == "F", "Female")
            .when(F.upper(F.trim("cst_gndr")) == "M", "Male")
            .otherwise("n/a")
            .alias("cst_gndr"),
            "cst_create_date",
        )
        .withColumn("dwh_hash_full", _cust_hash())
    )


def load_silver_customers(ctx: RunContext) -> int:
    """SCD1 merge with hash change detection + watermark advance.

    ref: proc_load_silver.sql:57-123. Fallback MERGE = full outer join on the
    business key + per-branch select; on Delta this is a single `MERGE INTO`
    with `whenMatchedUpdate(condition=hash<>hash)` — same plan shape (one
    shuffle on cst_id, both sides already partitioned by it).
    """
    cat, name = ctx.catalog, "silver.crm_cust_info"
    wm = ctx.get_watermark(name)
    bronze = cat.read("bronze.crm_cust_info")
    source = _clean_customers(bronze, wm)

    if cat.exists(name):
        target = cat.read(name)
    else:
        target = None

    if target is None:
        merged = source.withColumn("dwh_create_date", F.lit(ctx.as_of))
    else:
        s = source.select(
            F.col("cst_id").alias("s_cst_id"),
            *[F.col(c).alias(f"s_{c}") for c in source.columns if c != "cst_id"],
        )
        j = target.join(s, target.cst_id == s.s_cst_id, "full_outer")
        changed = F.col("s_cst_id").isNotNull() & F.col("cst_id").isNotNull() & (
            F.col("dwh_hash_full") != F.col("s_dwh_hash_full")
        )
        inserted = F.col("cst_id").isNull()

        def pick(col: str, on_update: bool) -> Column:
            if on_update:
                # Assign the source value DIRECTLY on matched-and-changed rows,
                # as T-SQL MERGE WHEN MATCHED UPDATE does: coalesce(source,
                # target) could never clear a column to NULL, so the hash
                # would flag the row changed on every run while the value
                # never converged (ADVICE r01).
                return F.when(changed | inserted, F.col(f"s_{col}")).otherwise(F.col(col))
            # WHEN MATCHED does NOT update this column (e.g. cst_create_date)
            return F.when(inserted, F.col(f"s_{col}")).otherwise(F.col(col))

        merged = j.select(
            F.coalesce(F.col("cst_id"), F.col("s_cst_id")).alias("cst_id"),
            pick("cst_key", True).alias("cst_key"),
            pick("cst_firstname", True).alias("cst_firstname"),
            pick("cst_lastname", True).alias("cst_lastname"),
            pick("cst_marital_status", True).alias("cst_marital_status"),
            pick("cst_gndr", True).alias("cst_gndr"),
            pick("cst_create_date", False).alias("cst_create_date"),
            pick("dwh_hash_full", True).alias("dwh_hash_full"),
            F.when(changed | inserted, F.lit(ctx.as_of)).otherwise(F.col("dwh_create_date")).alias(
                "dwh_create_date"
            ),
        )
        affected = j.filter(changed | inserted).count()

    slv = cat.overwrite(name, merged)
    if target is None:
        affected = slv  # a first load inserts every row

    # Watermark advance with 1-day safety buffer (ref: proc_load_silver.sql:119-122)
    if affected > 0:
        mx = (
            bronze.filter(F.col("cst_create_date") > F.lit(wm))
            .agg(F.max("cst_create_date"))
            .first()[0]
        )
        if mx is not None:
            ctx.set_watermark(name, dt.datetime.combine(mx, dt.time()) - dt.timedelta(days=1))

    # DQ: distinct bronze ids vs silver rows (ref: proc_load_silver.sql:127-132)
    brz = bronze.filter(F.col("cst_id").isNotNull()).select("cst_id").distinct().count()
    ctx.dq_compare(name, "Row Count", brz, slv, "Customer record mismatch", "Silver")
    ctx.log(name, affected)
    return affected


# -------------------------------------------------- products (SCD Type 2)


def _clean_products(bronze: DataFrame) -> DataFrame:
    """Derive cat_id / product number, decode line, default cost.

    ref: proc_load_silver.sql:171-193. prd_key chars 1-5 → category id with
    '-'→'_', chars 7+ → product number.
    """
    return bronze.select(
        "prd_id",
        F.replace(F.substring("prd_key", 1, 5), F.lit("-"), F.lit("_")).alias("cat_id"),
        F.expr("substring(prd_key, 7, length(prd_key))").alias("prd_key_short"),
        "prd_nm",
        F.coalesce("prd_cost", F.lit(0)).alias("prd_cost"),
        F.when(F.upper(F.trim("prd_line")) == "M", "Mountain")
        .when(F.upper(F.trim("prd_line")) == "R", "Road")
        .when(F.upper(F.trim("prd_line")) == "S", "Other Sales")
        .when(F.upper(F.trim("prd_line")) == "T", "Touring")
        .otherwise("n/a")
        .alias("prd_line"),
        _prd_hash(F.col("prd_nm"), F.col("prd_cost"), F.col("prd_line")).alias("source_hash"),
    ).withColumnRenamed("prd_key_short", "prd_key")


def load_silver_products(ctx: RunContext) -> int:
    """SCD2: expire changed current versions, insert new versions.

    ref: proc_load_silver.sql:146-201. Two reference statements (UPDATE-expire
    + INSERT-where-no-current) become one lineage: target rows pass through
    with expiry applied where the joined source hash differs, then bronze
    rows lacking a current version are appended as new versions.
    """
    cat, name = ctx.catalog, "silver.crm_prd_info"
    bronze = cat.read("bronze.crm_prd_info").dropDuplicates(["prd_id"])
    source = _clean_products(bronze)

    if cat.exists(name):
        target = cat.read(name)
        hashes = source.select("prd_id", "source_hash")
        # Step 1 — expire (ref :148-165): is_current=1 AND hash differs
        t = target.join(hashes, "prd_id", "left")
        expire = (F.col("is_current") == 1) & F.col("source_hash").isNotNull() & (
            F.col("dwh_hash_full") != F.col("source_hash")
        )
        kept = t.select(
            *[
                F.when(expire, F.lit(ctx.as_of)).otherwise(F.col("expiry_date")).alias("expiry_date")
                if c == "expiry_date"
                else F.when(expire, F.lit(0)).otherwise(F.col("is_current")).alias("is_current")
                if c == "is_current"
                else F.col(c)
                for c in target.columns
            ]
        )
        # Step 2 — insert where no current version remains (ref :168-198)
        still_current = kept.filter(F.col("is_current") == 1).select("prd_id")
        news = source.join(still_current, "prd_id", "left_anti")
    else:
        kept = None
        news = source

    inserts = news.select(
        "prd_id",
        "cat_id",
        "prd_key",
        "prd_nm",
        "prd_cost",
        "prd_line",
        F.lit(ctx.as_of).alias("effective_date"),
        F.lit(None).cast("timestamp").alias("expiry_date"),
        F.lit(1).alias("is_current"),
        F.col("source_hash").alias("dwh_hash_full"),
        F.lit(ctx.as_of).alias("dwh_create_date"),
    )
    merged = inserts if kept is None else kept.unionByName(inserts)
    n_inserted = inserts.count()
    cat.overwrite(name, merged)

    # DQ: active versions == distinct bronze keys (ref: proc_load_silver.sql:205-210)
    slv = cat.read(name).filter(F.col("is_current") == 1).count()
    brz = bronze.select("prd_key").distinct().count()
    ctx.dq_compare(name, "Duplicate Check", brz, slv, "Duplicate active product keys detected", "Silver")
    ctx.log(name, n_inserted)
    return n_inserted


# ------------------------------------------------- sales (watermark delta)


def _clean_sales(bronze: DataFrame) -> DataFrame:
    """Date repair + sales/price reconstruction (ref: proc_load_silver.sql:232-241)."""
    qty_abs_price = (F.col("sls_quantity") * F.abs("sls_price")).cast(MONEY)
    bad_sales = (
        F.col("sls_sales").isNull()
        | (F.col("sls_sales") <= 0)
        | (F.col("sls_sales") != F.col("sls_quantity") * F.abs("sls_price"))
    )
    bad_price = F.col("sls_price").isNull() | (F.col("sls_price") <= 0)
    return bronze.select(
        "sls_ord_num",
        "sls_prd_key",
        "sls_cust_id",
        yyyymmdd_to_date("sls_order_dt").alias("sls_order_dt"),
        yyyymmdd_to_date("sls_ship_dt").alias("sls_ship_dt"),
        yyyymmdd_to_date("sls_due_dt").alias("sls_due_dt"),
        F.when(bad_sales, qty_abs_price).otherwise(F.col("sls_sales").cast(MONEY)).alias("sls_sales"),
        "sls_quantity",
        F.when(bad_price, (F.col("sls_sales") / F.nullif(F.col("sls_quantity"), F.lit(0))).cast(MONEY))
        .otherwise(F.col("sls_price").cast(MONEY))
        .alias("sls_price"),
    )


def _wm_int(wm: dt.datetime) -> int:
    """CONVERT(VARCHAR, @wm, 112) AS INT (ref: proc_load_silver.sql:242)."""
    return wm.year * 10000 + wm.month * 100 + wm.day


def load_silver_sales(ctx: RunContext) -> int:
    """Insert-only delta past the watermark, idempotent on the safety-buffer
    overlap (documented deviation — see module docstring).

    ref: proc_load_silver.sql:228-252. At 100 TB the delta filter is the
    whole point: only files whose order-date stats pass the predicate are
    read (parquet min/max pruning), and the append lands in new partitions.
    """
    cat, name = ctx.catalog, "silver.crm_sales_details"
    wm = ctx.get_watermark(name)
    bronze = cat.read("bronze.crm_sales_details")
    delta_clean = _clean_sales(bronze.filter(F.col("sls_order_dt") > F.lit(_wm_int(wm))))

    if cat.exists(name):
        existing = cat.read(name).select("sls_ord_num", "sls_prd_key").distinct()
        delta = delta_clean.join(existing, ["sls_ord_num", "sls_prd_key"], "left_anti")
        n = cat.append(name, delta)
    else:
        n = cat.overwrite(name, delta_clean)

    if n > 0:
        # Advance from the REPAIRED dates, not the raw bronze ints: bronze
        # deliberately carries malformed yyyymmdd values (that's what
        # yyyymmdd_to_date repairs) — strptime on the raw max would crash the
        # load on a 9-digit int and a parseable-but-garbage future value
        # would silently skip all subsequent deltas (ADVICE r01).
        # try_to_date has already nulled anything unparseable here. A
        # parseable-but-garbage FUTURE date (99991231) is additionally
        # clamped to the run clock: the watermark may never pass as_of, so
        # one bad row cannot make every later delta load skip real data
        # (re-scanning the clamped tail is idempotent via the anti-join).
        mx = delta_clean.agg(F.max("sls_order_dt")).first()[0]
        if mx is not None:
            d = min(dt.datetime.combine(mx, dt.time()), ctx.as_of)
            ctx.set_watermark(name, d - dt.timedelta(days=1))

    # DQ: revenue reconciliation bronze-vs-silver over the delta window
    # (ref: proc_load_silver.sql:256-268)
    repaired = _clean_sales(bronze.filter(F.col("sls_order_dt") > F.lit(_wm_int(wm))))
    brz_sum = repaired.agg(F.sum("sls_sales")).first()[0] or 0
    slv_sum = (
        cat.read(name).filter(F.col("sls_order_dt") > F.lit(wm.date())).agg(F.sum("sls_sales")).first()[0]
        or 0
    )
    ctx.dq_compare(name, "Revenue Check", brz_sum, slv_sum, "Sales amount mismatch during delta load", "Silver")
    ctx.log(name, n)
    return n


# ------------------------------------- ERP tables (metadata-driven, S7)

# Intended-semantics transforms (SURVEY §7.4.6a) keyed by *target* table.
def _clean_erp_cust_az12(df: DataFrame, ctx: RunContext) -> DataFrame:
    today = ctx.as_of.date()
    return df.select(
        F.when(F.col("cid").startswith("NAS"), F.expr("substring(cid, 4, length(cid))"))
        .otherwise(F.col("cid"))
        .alias("cid"),
        F.when(F.col("bdate") > F.lit(today), F.lit(None).cast("date")).otherwise(F.col("bdate")).alias("bdate"),
        F.when(F.upper(F.trim("gen")).isin("F", "FEMALE"), "Female")
        .when(F.upper(F.trim("gen")).isin("M", "MALE"), "Male")
        .otherwise("n/a")
        .alias("gen"),
    )


def _clean_erp_loc_a101(df: DataFrame, ctx: RunContext) -> DataFrame:
    c = F.trim("cntry")
    return df.select(
        F.replace(F.col("cid"), F.lit("-"), F.lit("")).alias("cid"),
        F.when(c == "DE", "Germany")
        .when(c.isin("US", "USA"), "United States")
        .when((c == "") | c.isNull(), "n/a")
        .otherwise(c)
        .alias("cntry"),
    )


def _clean_erp_px_cat(df: DataFrame, ctx: RunContext) -> DataFrame:
    return df.select(*[F.trim(c).alias(c) for c in df.columns])


ERP_TRANSFORMS = {
    "silver.erp_cust_az12": _clean_erp_cust_az12,
    "silver.erp_loc_a101": _clean_erp_loc_a101,
    "silver.erp_px_cat_g1v2": _clean_erp_px_cat,
}


def load_metadata_driven(ctx: RunContext) -> dict[str, int]:
    """Config-table-driven loads with column intersection (operator S7).

    ref: scripts/silver/proc_load_metadata_driven.sql:26-94 — a T-SQL cursor
    builds dynamic TRUNCATE+INSERT statements intersecting sys.columns of
    source and target. Spark form: a driver-side loop over the (tiny) config
    table; intersection via Python sets on df.columns; each copy is a fully
    parallel read→write with an optional registered transform.
    """
    counts: dict[str, int] = {}
    for row in ctx.etl_config_rows():
        src, tgt = row["source_table"], row["target_table"]
        df = ctx.catalog.read(src)
        if ctx.catalog.exists(tgt):
            common = [c for c in df.columns if c in set(ctx.catalog.read(tgt).columns)]
            df = df.select(*common)
        fn = ERP_TRANSFORMS.get(tgt)
        if fn is not None:
            df = fn(df, ctx)
        n = ctx.catalog.overwrite(tgt, df)
        counts[tgt] = n
        ctx.log(tgt, n)
    return counts


def load_silver(ctx: RunContext) -> dict[str, int]:
    """EP1 silver phase ordering (ref: proc_load_silver.sql:40-295)."""
    out = {
        "silver.crm_cust_info": load_silver_customers(ctx),
        "silver.crm_prd_info": load_silver_products(ctx),
        "silver.crm_sales_details": load_silver_sales(ctx),
    }
    out.update(load_metadata_driven(ctx))
    return out

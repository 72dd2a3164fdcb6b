"""End-to-end Medallion warehouse tests (SURVEY §5).

Ports the reference's 17 "Expectation: No Results" DQ assertions
(tests/quality_checks_silver.sql, tests/quality_checks_gold.sql) against the
engine's own silver/gold output, plus the two-run SCD scenario from
FIXTURES.md: run 1 loads a dirty base snapshot; run 2 loads a delta snapshot
exercising SCD1 hash-updates, SCD2 expire+insert, and idempotent watermark
delta appends.
"""

from __future__ import annotations

import pytest

import datetime as dt
import filecmp
import os

from pyspark.sql import functions as F

from conftest import jobs_run_by
from sql_data_warehouse_and_analytics_project_spark.sources.local import local_frame
from sql_data_warehouse_and_analytics_project_spark.warehouse import Catalog, RunContext, run_pipeline
from sql_data_warehouse_and_analytics_project_spark.warehouse import quality as Q
from sql_data_warehouse_and_analytics_project_spark.warehouse.fixtures import write_fixture
from sql_data_warehouse_and_analytics_project_spark.warehouse.gold import build_dim_customers, surrogate_key
from sql_data_warehouse_and_analytics_project_spark.warehouse.pipeline import ConfigValidationError
from sql_data_warehouse_and_analytics_project_spark.warehouse.security import (
    masked_fact_sales,
    rls_fact_sales,
)

AS_OF1 = dt.datetime(2024, 4, 20, 12, 0, 0)
AS_OF2 = dt.datetime(2024, 5, 20, 12, 0, 0)


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    """Run the full pipeline twice (base then delta snapshot); capture
    intermediate state needed by assertions before run 2 overwrites it."""
    base = tmp_path_factory.mktemp("wh")
    root = str(base / "warehouse")
    csv1 = write_fixture(str(base / "csv1"), delta=False)
    csv2 = write_fixture(str(base / "csv2"), delta=True)

    ctx1 = run_pipeline(spark, root, csv1, AS_OF1)
    cat = ctx1.catalog
    snap1 = {
        "silver_sales_count": cat.read("silver.crm_sales_details").count(),
        "silver_cust_count": cat.read("silver.crm_cust_info").count(),
        "silver_prd_count": cat.read("silver.crm_prd_info").count(),
        "fact_count": cat.read("gold.fact_sales").count(),
        "dim_cust_count": cat.read("gold.dim_customers").count(),
        "dim_prd_count": cat.read("gold.dim_products").count(),
        "cust_rows": {r["cst_id"]: r.asDict() for r in cat.read("silver.crm_cust_info").collect()},
        "wm_sales": ctx1.get_watermark("silver.crm_sales_details"),
        "wm_cust": ctx1.get_watermark("silver.crm_cust_info"),
    }
    ctx2 = run_pipeline(spark, root, csv2, AS_OF2)
    return {"ctx1": ctx1, "ctx2": ctx2, "snap1": snap1, "root": root}


def test_fixture_deterministic(tmp_path):
    a = write_fixture(str(tmp_path / "a"), delta=False)
    b = write_fixture(str(tmp_path / "b"), delta=False)
    for f in os.listdir(a):
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f


def test_run1_counts(wh):
    s = wh["snap1"]
    # 200 non-null distinct customer ids (dups collapse via keep-latest)
    assert s["silver_cust_count"] == 200
    # 40 products + 1 bad-dates row, all current on first load
    assert s["silver_prd_count"] == 41
    # 2000 sales minus rows whose int order date (0 / wrong length) fails the
    # watermark delta predicate sls_order_dt > 19000101 — the reference never
    # loads those rows either (ref: proc_load_silver.sql:242)
    assert s["silver_sales_count"] == 1960
    assert s["fact_count"] == s["silver_sales_count"]
    assert s["dim_cust_count"] == 201  # +1 unknown member
    assert s["dim_prd_count"] == 42


def test_run1_watermarks_advanced(wh):
    s = wh["snap1"]
    # max cst_create_date = day 89 (dup rows) − 1-day buffer
    assert s["wm_cust"] == dt.datetime(2024, 3, 29)
    # max sls_order_dt = day 84 (2024-03-25) − 1 day
    assert s["wm_sales"] == dt.datetime(2024, 3, 24)


def test_silver_quality_checks(wh):
    """The 13 silver checks (quality_checks_silver.sql) return no rows."""
    ctx = wh["ctx2"]
    for check in Q.SILVER_CHECKS:
        bad = check(ctx)
        assert bad.limit(5).count() == 0, f"{check.__name__}: {bad.limit(5).collect()}"


def test_silver_birthdate_future_cleaned(wh):
    """quality_checks_silver.sql:124-128 — future birthdates nulled by the
    intended ERP normalization (pre-1924 rows are flagged-not-repaired)."""
    t = wh["ctx2"].catalog.read("silver.erp_cust_az12")
    assert t.filter(F.col("bdate") > F.lit(AS_OF2.date())).count() == 0


def test_gold_quality_checks(wh):
    ctx = wh["ctx2"]
    for check in Q.GOLD_CHECKS:
        bad = check(ctx)
        assert bad.limit(5).count() == 0, f"{check.__name__}: {bad.limit(5).collect()}"


def test_gold_unknown_member_and_minus1_mapping(wh):
    cat = wh["ctx2"].catalog
    dim = cat.read("gold.dim_customers")
    unk = dim.filter("customer_key = -1").collect()
    assert len(unk) == 1 and unk[0]["first_name"] == "Unknown" and unk[0]["customer_number"] == "n/a"
    # deliberately-unknown sls_cust_id=99999 rows map to -1, never dropped
    fact = cat.read("gold.fact_sales")
    assert fact.filter("customer_key = -1").count() > 0
    assert fact.filter("product_key = -1").count() == 0  # every product resolves


def test_run2_scd1_customers(wh):
    ctx2, snap1 = wh["ctx2"], wh["snap1"]
    cur = {r["cst_id"]: r.asDict() for r in ctx2.catalog.read("silver.crm_cust_info").collect()}
    assert len(cur) == 210  # 200 base + 10 new
    # customer 11023 (i=23): marital flipped in delta → hash-detected update
    before, after = snap1["cust_rows"][11023], cur[11023]
    assert before["cst_marital_status"] != after["cst_marital_status"]
    assert after["dwh_create_date"] == AS_OF2
    # WHEN MATCHED does NOT update cst_create_date (ref: proc_load_silver.sql:102-110)
    assert after["cst_create_date"] == before["cst_create_date"]
    # untouched customer keeps its run-1 audit timestamp (merge didn't churn)
    assert cur[11001]["dwh_create_date"] == AS_OF1
    assert cur[11001] == snap1["cust_rows"][11001]
    # new customer inserted
    assert 11205 in cur and cur[11205]["dwh_create_date"] == AS_OF2


def test_run2_scd2_products(wh):
    ctx2 = wh["ctx2"]
    prd = ctx2.catalog.read("silver.crm_prd_info")
    # 41 base versions + 4 new versions for prd_id 200,211,222,233 (i%11==0)
    assert prd.count() == 45
    assert prd.filter("is_current = 1").count() == 41
    hist = prd.filter("prd_id = 211").orderBy("effective_date").collect()
    assert len(hist) == 2
    old, new = hist
    assert old["is_current"] == 0 and old["expiry_date"] == AS_OF2
    assert old["effective_date"] == AS_OF1
    assert new["is_current"] == 1 and new["expiry_date"] is None
    assert new["prd_cost"] == 2011  # deterministic delta cost 2000 + i
    assert new["effective_date"] == AS_OF2
    # unchanged product kept its single current version
    assert prd.filter("prd_id = 201").count() == 1


def test_run2_watermark_delta_sales(wh):
    ctx2, snap1 = wh["ctx2"], wh["snap1"]
    silver = ctx2.catalog.read("silver.crm_sales_details")
    # exactly the 300 April rows appended; the 1-day safety-buffer overlap
    # (2024-03-25 rows) was NOT re-inserted (idempotent delta, module doc)
    assert silver.count() == snap1["silver_sales_count"] + 300
    assert silver.filter(F.col("sls_order_dt") >= "2024-04-01").count() == 300
    # the safety-buffer window (2024-03-25, the run-1 max) was not re-inserted:
    # run-2 still holds exactly the run-1 rows for that day
    assert (
        silver.filter(F.col("sls_order_dt") < "2024-04-01").count() == snap1["silver_sales_count"]
    )
    # max delta order date = day 110 (2024-04-20) − the 1-day safety buffer
    assert ctx2.get_watermark("silver.crm_sales_details") == dt.datetime(2024, 4, 19)
    # fact rebuilt over the full accumulated silver
    assert ctx2.catalog.read("gold.fact_sales").count() == snap1["silver_sales_count"] + 300


def test_audit_log_and_dq_issues(wh):
    cat = wh["ctx2"].catalog
    log = cat.read("audit.etl_log")
    master = log.filter("table_name = 'MASTER_PIPELINE'")
    assert master.filter("status = 'Success'").count() == 2
    assert master.filter("status = 'Failed'").count() == 0
    assert log.filter("table_name = 'gold.fact_sales' AND status = 'Success'").count() == 2
    # only the expected DQ finding: deliberate -1 orphans logged as
    # Referential Integrity issues (ref: proc_load_gold.sql:170-174)
    issues = cat.read("audit.data_quality_issues")
    kinds = {r["check_name"] for r in issues.collect()}
    assert kinds == {"Referential Integrity"}


def test_surrogate_scale_mode_matches_parity(wh):
    ctx = wh["ctx2"]
    parity = build_dim_customers(ctx, "parity").orderBy("customer_key").collect()
    scale = build_dim_customers(ctx, "scale").orderBy("customer_key").collect()
    assert parity == scale


def test_surrogate_key_dense_and_ordered(spark):
    df = spark.range(0, 1000).withColumn("k", (F.col("id") * 37) % 1000)
    out = surrogate_key(df.select("k"), "k", "scale").orderBy("k").collect()
    assert [r["_sk"] for r in out] == list(range(1, 1001))


def test_rls_fact_sales(wh):
    ctx = wh["ctx2"]
    cat = ctx.catalog
    fact = cat.read("gold.fact_sales")
    dim = cat.read("gold.dim_customers")
    expected = (
        fact.join(dim.filter(F.col("country") == "United States").select("customer_key"), "customer_key")
        .count()
    )
    got = rls_fact_sales(ctx, "USUser")
    assert got.count() == expected > 0
    # a user with no mapping sees nothing
    assert rls_fact_sales(ctx, "NoSuchUser").count() == 0


def test_masked_fact_sales(wh):
    ctx = wh["ctx2"]
    masked = masked_fact_sales(ctx, "analyst")
    vals = masked.select("sales_amount").distinct().collect()
    assert [v["sales_amount"] for v in vals] == [0]
    clear = masked_fact_sales(ctx, "GlobalManager")
    assert clear.filter("sales_amount > 0").count() > 0


def test_config_validation_hard_stop(spark, tmp_path):
    """THROW 50001 analog (ref: init_load_all.sql:43-47)."""
    root = str(tmp_path / "wh")
    ctx = RunContext(catalog=Catalog(spark, root), as_of=AS_OF1)
    ctx.init_audit_tables()
    cfg = ctx.catalog.read("audit.etl_config").withColumn("is_active", F.lit(0))
    ctx.catalog.overwrite("audit.etl_config", cfg)
    csv = write_fixture(str(tmp_path / "csv"), delta=False, n_customers=5, n_products=5, n_sales=10)
    with pytest.raises(ConfigValidationError):
        run_pipeline(spark, root, csv, AS_OF1)
    # failure recorded to the audit log (CATCH-block pattern)
    log = ctx.catalog.read("audit.etl_log")
    assert log.filter("status = 'Failed'").count() == 1


def test_report_customers_view(wh, spark):
    from sql_data_warehouse_and_analytics_project_spark.warehouse import reports

    ctx = wh["ctx2"]
    rep = reports.report_customers(ctx)
    rows = {r["customer_key"]: r for r in rep.collect()}
    fact = ctx.catalog.read("gold.fact_sales").filter(F.col("order_date").isNotNull())
    # one row per customer that has dated sales (incl. the -1 unknown member)
    assert len(rows) == fact.select("customer_key").distinct().count()
    assert set(rep.select("customer_segment").distinct().toPandas()["customer_segment"]) <= {
        "VIP", "Regular", "New",
    }
    # KPI arithmetic: AOV * orders ≈ total sales (4-dp money division)
    some = next(r for r in rows.values() if r["total_orders"] > 1)
    assert abs(float(some["avg_order_value"]) * some["total_orders"] - float(some["total_sales"])) < some["total_orders"]
    # intended schema: both total_products AND lifespan survive (the reference
    # view loses lifespan to a missing-comma typo — SURVEY §2.12 ⚠)
    assert "total_products" in rep.columns and "lifespan" in rep.columns


def test_report_products_view(wh, spark):
    from sql_data_warehouse_and_analytics_project_spark.warehouse import reports

    ctx = wh["ctx2"]
    rep = reports.report_products(ctx)
    fact = ctx.catalog.read("gold.fact_sales").filter(F.col("order_date").isNotNull())
    assert rep.count() == fact.select("product_key").distinct().count()
    assert set(rep.select("product_segment").distinct().toPandas()["product_segment"]) <= {
        "High-Performer", "Mid-Range", "Low-Performer",
    }
    reports.register_views(ctx)
    via_sql = spark.sql("SELECT COUNT(*) AS n FROM gold_report_products").first()["n"]
    assert via_sql == rep.count()


def test_adhoc_analytics_surface(wh):
    """Every EP3 ad-hoc SQL script runs over the gold views and returns rows
    with sane shapes (ref: scripts/Data Analytics/02..11)."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse import adhoc

    ctx = wh["ctx2"]
    results = adhoc.run_all(ctx)
    for name, df in results.items():
        assert df.count() > 0, name
    # q04 report stacks exactly 6 labeled measures
    assert results["q04_key_metrics"].count() == 6
    # part-to-whole percentages sum to 100
    pct = sum(r["percentage_of_total"] for r in results["q11_category_share"].collect())
    assert abs(pct - 100.0) < 0.1
    # top-k forms agree on the winner
    top_limit = results["q06_top5_products"].first()["product_name"]
    top_rank = results["q06_rank_products"].orderBy("rank_products").first()["product_name"]
    assert top_limit == top_rank
    # cumulative running total ends at the grand total
    rows = results["q08_cumulative_sales"].orderBy("order_date").collect()
    assert float(rows[-1]["running_total_sales"]) == sum(float(r["total_sales"]) for r in rows)


def test_catalog_exploration(wh):
    """Q01 analog (S8): the warehouse catalog lists its schemas/tables/columns."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse import adhoc

    tables, columns = adhoc.catalog_exploration(wh["ctx2"])
    names = {f"{r['table_schema']}.{r['table_name']}" for r in tables.collect()}
    assert {"bronze.crm_cust_info", "silver.crm_sales_details", "gold.fact_sales",
            "audit.etl_log"} <= names
    fact_cols = [r["column_name"] for r in columns.collect()
                 if r["table_schema"] == "gold" and r["table_name"] == "fact_sales"]
    assert "sales_amount" in fact_cols and "order_year" in fact_cols


# --- ADVICE r01 regressions -------------------------------------------------


def _sales_ctx(spark, tmp_path, rows, as_of=AS_OF2):
    """Minimal catalog with a bronze sales table for watermark tests."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse.audit import RunContext

    cat = Catalog(spark, str(tmp_path / "wh"))
    ctx = RunContext(catalog=cat, as_of=as_of)
    ctx.init_audit_tables()
    schema = (
        "sls_ord_num string, sls_prd_key string, sls_cust_id int, sls_order_dt int,"
        " sls_ship_dt int, sls_due_dt int, sls_sales int, sls_quantity int, sls_price int"
    )
    cat.overwrite("bronze.crm_sales_details", spark.createDataFrame(rows, schema))
    return ctx


def test_sales_watermark_survives_malformed_bronze_max(spark, tmp_path):
    """A 9-digit / impossible yyyymmdd max in bronze must not crash the load
    (round-1 code strptime'd the raw int) and must not advance the
    watermark; the repaired-date max drives it instead."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse.silver import load_silver_sales

    rows = [
        ("SO1", "P1", 1, 20240310, 20240312, 20240315, 100, 1, 100),
        # impossible month/day sorts above every real date as a raw int
        ("SO2", "P2", 2, 20241399, 0, 0, 50, 1, 50),
        # wrong length: filtered by the repair to NULL, never loaded as a date
        ("SO3", "P3", 3, 202403101, 0, 0, 75, 1, 75),
    ]
    ctx = _sales_ctx(spark, tmp_path, rows)
    n = load_silver_sales(ctx)
    assert n == 3
    wm = ctx.get_watermark("silver.crm_sales_details")
    assert wm == dt.datetime(2024, 3, 9)  # max repaired date 2024-03-10 − 1 day


def test_sales_watermark_clamped_to_run_clock(spark, tmp_path):
    """A parseable-but-garbage future date (99991231) must not push the
    watermark past as_of — later deltas would silently skip all real data."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse.silver import load_silver_sales

    rows = [
        ("SO1", "P1", 1, 20240310, 20240312, 20240315, 100, 1, 100),
        ("SO2", "P2", 2, 99991231, 0, 0, 50, 1, 50),
    ]
    ctx = _sales_ctx(spark, tmp_path, rows)
    load_silver_sales(ctx)
    wm = ctx.get_watermark("silver.crm_sales_details")
    assert wm == AS_OF2 - dt.timedelta(days=1)
    # and a re-run with one later real row still picks it up
    rows.append(("SO4", "P4", 4, 20240601, 0, 0, 25, 1, 25))
    ctx.catalog.overwrite(
        "bronze.crm_sales_details",
        spark.createDataFrame(
            rows,
            "sls_ord_num string, sls_prd_key string, sls_cust_id int, sls_order_dt int,"
            " sls_ship_dt int, sls_due_dt int, sls_sales int, sls_quantity int, sls_price int",
        ),
    )
    n2 = load_silver_sales(ctx)
    assert n2 == 1
    assert ctx.catalog.read("silver.crm_sales_details").filter("sls_ord_num = 'SO4'").count() == 1


def test_scd1_null_overwrites_matched_value(spark, tmp_path):
    """T-SQL MERGE WHEN MATCHED assigns source NULLs; the round-1
    coalesce(source, target) could never clear a column, so the hash
    flagged the row changed forever while the value never converged."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse.audit import RunContext
    from sql_data_warehouse_and_analytics_project_spark.warehouse.silver import load_silver_customers

    cat = Catalog(spark, str(tmp_path / "wh"))
    ctx = RunContext(catalog=cat, as_of=AS_OF1)
    ctx.init_audit_tables()
    schema = (
        "cst_id int, cst_key string, cst_firstname string, cst_lastname string,"
        " cst_marital_status string, cst_gndr string, cst_create_date date"
    )
    cat.overwrite(
        "bronze.crm_cust_info",
        spark.createDataFrame([(1, "K1", "Ann", "Lee", "S", "F", dt.date(2024, 3, 1))], schema),
    )
    load_silver_customers(ctx)

    # run 2: the same customer re-arrives with firstname cleared to NULL
    ctx2 = RunContext(catalog=cat, as_of=AS_OF2)
    cat.overwrite(
        "bronze.crm_cust_info",
        spark.createDataFrame([(1, "K1", None, "Lee", "S", "F", dt.date(2024, 4, 1))], schema),
    )
    load_silver_customers(ctx2)
    row = cat.read("silver.crm_cust_info").first()
    assert row["cst_firstname"] is None

    # run 3: identical source → hash converged, nothing flagged changed
    ctx3 = RunContext(catalog=cat, as_of=AS_OF2 + dt.timedelta(days=30))
    cat.overwrite(
        "bronze.crm_cust_info",
        spark.createDataFrame([(1, "K1", None, "Lee", "S", "F", dt.date(2024, 5, 1))], schema),
    )
    affected = load_silver_customers(ctx3)
    assert affected == 0


def test_overwrite_partitions_touches_only_present_partitions(spark, tmp_path):
    """Catalog.overwrite_partitions replaces only the partitions present in
    the incoming frame; every other partition's files stay untouched."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    full = spark.range(300).select(
        F.col("id"), (2020 + F.col("id") % 3).cast("int").alias("y")
    )
    cat.overwrite("gold.t", full, partition_by=["y"])
    p = cat.data_dir("gold.t")

    def snapshot(y):
        d = os.path.join(p, f"y={y}")
        return {f: os.path.getmtime(os.path.join(d, f)) for f in sorted(os.listdir(d))}

    before = {y: snapshot(y) for y in (2020, 2021, 2022)}
    upd = spark.range(1000, 1010).select(F.col("id"), F.lit(2021).cast("int").alias("y"))
    n = cat.overwrite_partitions("gold.t", upd, ["y"])
    assert n == 10
    assert snapshot(2020) == before[2020] and snapshot(2022) == before[2022]
    assert snapshot(2021) != before[2021]
    got = cat.read("gold.t")
    assert got.count() == 100 + 100 + 10
    assert got.filter("y = 2021").agg(F.min("id")).first()[0] == 1000


_CATALOG_WRITES = {
    "overwrite": (lambda cat, df: cat.overwrite("gold.t", df), None),
    "overwrite_partition_by": (lambda cat, df: cat.overwrite("gold.t", df, partition_by=["k"]), "k"),
    "overwrite_partitions": (lambda cat, df: cat.overwrite_partitions("gold.t", df, ["k"]), "k"),
    "append": (lambda cat, df: cat.append("gold.t", df), None),
}


@pytest.mark.parametrize("rows", [7, 0])
@pytest.mark.parametrize("write", sorted(_CATALOG_WRITES))
def test_catalog_write_counts_rows_within_its_write_job(spark, tmp_path, write, rows):
    """Every catalog write returns the rows it wrote, empty frames
    included, counted by the write job itself: it runs no more jobs than a
    bare parquet write of the same frame."""

    def frame():
        if not rows:
            return local_frame(spark, [], "k bigint, n bigint")
        return spark.range(100).groupBy((F.col("id") % rows).alias("k")).agg(F.count("id").alias("n"))

    catalog_write, part = _CATALOG_WRITES[write]

    def bare():
        writer = frame().write
        writer = writer.partitionBy(part) if part else writer
        writer.parquet(str(tmp_path / "bare"))

    _, bare_jobs = jobs_run_by(spark, bare)
    n, jobs = jobs_run_by(spark, lambda: catalog_write(Catalog(spark, str(tmp_path / "wh")), frame()))
    assert n == rows
    assert len(jobs) <= len(bare_jobs), (jobs, bare_jobs)


def test_incremental_fact_refresh_idempotent(wh):
    """refresh_fact_partitions on the warehouse's order year reproduces the
    full rebuild's rows exactly (same silver input → idempotent refresh),
    exercising the scan-filtered build + dynamic-overwrite path end-to-end."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse.gold import (
        refresh_fact_partitions,
    )

    ctx = wh["ctx2"]
    cat = ctx.catalog
    years = [
        r["order_year"]
        for r in cat.read("gold.fact_sales").select("order_year").distinct().collect()
    ]
    target = max(years)
    before = {
        tuple(r)
        for r in cat.read("gold.fact_sales").filter(F.col("order_year") == target).collect()
    }
    n = refresh_fact_partitions(ctx, [target])
    after_df = cat.read("gold.fact_sales").filter(F.col("order_year") == target)
    assert n == after_df.count()
    assert {tuple(r) for r in after_df.collect()} == before


def test_classification_labels_as_table_properties(wh):
    """X4 (r4): sensitivity labels persist as TBLPROPERTIES-style catalog
    properties, survive a full-table overwrite swap, and read back per
    column (ref: ddl_security.sql:118-128)."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse.security import (
        apply_classification_labels,
        classified_columns,
    )

    ctx = wh["ctx2"]
    cat = ctx.catalog
    applied = apply_classification_labels(ctx)
    assert "gold.dim_customers" in applied

    cols = classified_columns(ctx, "gold.dim_customers")
    assert cols["first_name"] == {"label": "Confidential", "info_type": "Personal Data"}
    assert cols["birthdate"] == {"label": "Sensitive", "info_type": "Personal Data"}

    # properties are catalog state: a truncate-and-reload swap keeps them
    dim = cat.read("gold.dim_customers")
    cat.overwrite("gold.dim_customers", dim)
    assert classified_columns(ctx, "gold.dim_customers")["last_name"]["label"] == "Confidential"

    # and the data files still read cleanly with the sidecar in place
    assert cat.read("gold.dim_customers").count() > 0


def test_rbac_secure_read_and_access_audit(wh):
    """X1 + X5 (r4): role grants gate reads, UNMASK decides masking, and
    every attempt — including the denied one — lands in audit.access_log
    (ref: ddl_security.sql:21-26, 149-153, 169-179)."""
    import pytest as _pytest

    from sql_data_warehouse_and_analytics_project_spark.warehouse.audit import ACCESS_LOG
    from sql_data_warehouse_and_analytics_project_spark.warehouse.security import (
        AccessDeniedError,
        has_privilege,
        roles_of,
        secure_read,
    )

    ctx = wh["ctx2"]
    assert roles_of("GlobalManager") == {"gold_manager"}
    assert has_privilege("IndiaUser", "gold.fact_sales", "SELECT")
    assert not has_privilege("IndiaUser", "gold.fact_sales", "UNMASK")
    assert not has_privilege("intruder", "gold.fact_sales", "SELECT")

    # analyst: RLS-filtered AND masked (USUser — fixture customers are US)
    analyst_df = secure_read(ctx, "USUser", "gold.fact_sales")
    assert analyst_df.count() > 0
    vals = [r["sales_amount"] for r in analyst_df.select("sales_amount").distinct().collect()]
    assert vals == [0]

    # manager: clear values, full mapped visibility
    mgr_df = secure_read(ctx, "GlobalManager", "gold.fact_sales")
    assert mgr_df.filter("sales_amount > 0").count() > 0

    # classification-labeled dim columns mask through the SAME read path —
    # the X4 label is the policy, no per-table code (r4 review fix)
    dim_a = secure_read(ctx, "USUser", "gold.dim_customers")
    firsts = {r["first_name"] for r in dim_a.select("first_name").distinct().collect()}
    assert firsts == {"xxxx"}
    dim_m = secure_read(ctx, "GlobalManager", "gold.dim_customers")
    assert {r["first_name"] for r in dim_m.select("first_name").distinct().collect()} != {"xxxx"}

    # no grant → denied, but still audited
    with _pytest.raises(AccessDeniedError):
        secure_read(ctx, "intruder", "gold.fact_sales")

    ctx.flush_audit()
    log = {
        (r["user_name"], r["succeeded"])
        for r in ctx.catalog.read(ACCESS_LOG).collect()
    }
    assert ("USUser", 1) in log and ("GlobalManager", 1) in log and ("intruder", 0) in log


def test_snapshot_diff_planted_statuses(spark):
    """etl_snapshot_diff's core: added/removed/changed classification with
    null-safe compares — a value→NULL transition counts as changed, and
    unchanged rows (including NULL == NULL) are dropped."""
    from pyspark.sql import functions as F  # noqa: F401

    from sql_data_warehouse_and_analytics_project_spark.operators.etl_queries import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (3, None, "C"), (4, 40.0, None)],
        "k long, price double, status string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 21.0, "B"), (3, None, "C"), (4, None, None), (5, 50.0, "E")],
        "k long, price double, status string",
    )
    got = {
        r["k"]: r["status"]
        for r in snapshot_diff(old, new, "k", ["price", "status"]).collect()
    }
    # k=1 unchanged (dropped), k=3 NULL==NULL unchanged (dropped)
    assert got == {2: "changed", 4: "changed", 5: "added"}, got

    removed = snapshot_diff(new, old, "k", ["price", "status"]).collect()
    assert {r["k"]: r["status"] for r in removed} == {
        2: "changed",
        4: "changed",
        5: "removed",
    }


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    """warehouse.incremental: bootstrapping on a third of lineitem and
    folding the other two thirds in as deltas yields BIT-IDENTICAL rollup
    state to a single full-scan build — the algebraic-merge property that
    makes per-ingest cost O(delta) instead of a corpus scan."""
    from conftest import SF_DIR

    from sql_data_warehouse_and_analytics_project_spark.sources import tpch
    from sql_data_warehouse_and_analytics_project_spark.warehouse import incremental

    li = tpch.load(spark, SF_DIR, "lineitem")
    keys, measure = ["l_returnflag", "l_linestatus"], "l_quantity"
    p_inc = str(tmp_path / "inc")
    p_full = str(tmp_path / "full")

    part = F.col("l_orderkey") % 3
    incremental.build_rollup(li.filter(part == 0), keys, measure, p_inc)
    incremental.refresh_rollup(spark, p_inc, li.filter(part == 1), keys, measure)
    incremental.refresh_rollup(spark, p_inc, li.filter(part == 2), keys, measure)

    incremental.build_rollup(li, keys, measure, p_full)

    got = [tuple(r) for r in incremental.read_rollup(spark, p_inc, li, keys, measure).collect()]
    want = [tuple(r) for r in incremental.read_rollup(spark, p_full, li, keys, measure).collect()]
    assert got == want and len(got) > 0

    # a delta with a brand-new key shows up after refresh
    extra = spark.createDataFrame(
        [("Z", "Z", 5.0), ("Z", "Z", 7.0)],
        "l_returnflag string, l_linestatus string, l_quantity double",
    )
    incremental.refresh_rollup(spark, p_inc, extra, keys, measure)
    z = [
        r
        for r in incremental.read_rollup(spark, p_inc, li, keys, measure).collect()
        if r["l_returnflag"] == "Z"
    ]
    assert len(z) == 1 and z[0]["n_rows"] == 2 and z[0]["total"] == 12.0
    assert z[0]["min_value"] == 5.0 and z[0]["max_value"] == 7.0 and z[0]["avg_value"] == 6.0

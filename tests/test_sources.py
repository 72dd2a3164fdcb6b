"""Source contract: declared schemas, zero-job reads, JVM-local driver frames.

``sources.tpch`` reads every table with a declared DDL schema, so a read
submits no schema-inference job; ``sources.local.local_frame`` turns driver
rows into a ``LocalRelation``, so no plan reads a Python RDD.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR

from sql_data_warehouse_and_analytics_project_spark.registry import all_queries
from sql_data_warehouse_and_analytics_project_spark.sources import tpch
from sql_data_warehouse_and_analytics_project_spark.sources.local import local_frame

STAR_HEADLINERS = (
    "q05_magnitude",
    "q08_cumulative_revenue",
    "q11_part_to_whole_region",
    "q12_report_customers",
    "q13_report_products",
    "olap_abc_parts",
    "warehouse_incremental_rollup",
)


def _jobs_in(spark, fn) -> list[int]:
    """The Spark job ids ``fn()`` submits, through a job group."""
    sc = spark.sparkContext
    group = "test_sources_zero_jobs"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _python_rdd_leaves(df) -> list[str]:
    """Leaves of the optimized plan whose RDD lineage runs Python tasks.
    The lineage is checked, not the node name: eager checkpoints are
    ``LogicalRDD`` leaves too."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString():
            out.append(leaf.toString())
    return out


@pytest.mark.parametrize(
    "sf_dir", sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")))
)
def test_declared_schemas_match_the_files(spark, sf_dir):
    """A DDL typo would read as silent NULLs, so every declared schema must
    equal what Spark infers from the reference files."""
    from pyspark.sql import types as T

    for t in tpch.TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{t}.parquet").schema
        assert T.StructType.fromDDL(tpch.SCHEMAS[t]) == inferred, (sf_dir, t)


def test_loads_submit_no_jobs(spark):
    def load_all():
        for _ in range(2):
            for df in tpch.load_all(spark, SF_DIR).values():
                assert df.schema.fields

    assert _jobs_in(spark, load_all) == []
    assert dict(tpch.load(spark, SF_DIR, "events").dtypes)["ts"] == "timestamp"


def _write_events(path: str, ts_values: list, variant: str, spark) -> None:
    ids = list(range(len(ts_values)))
    if variant == "spark":
        spark.createDataFrame(
            [(i, t, 7, "view", 1.0, "{}") for i, t in zip(ids, ts_values)],
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(path)
        return
    unit = {"nanos": "ns", "micros_ntz": "us", "int96": "us"}[variant]
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts_values, pa.timestamp(unit)),
            "user_id": pa.array([7] * len(ids), pa.int64()),
            "event_type": pa.array(["view"] * len(ids)),
            "value": pa.array([1.0] * len(ids)),
            "props": pa.array(["{}"] * len(ids)),
        }
    )
    int96 = variant == "int96"  # the pre-3.0 Spark default physical type
    pq.write_table(table, path, coerce_timestamps=None, use_deprecated_int96_timestamps=int96)


def test_events_timestamp_variants_probe_once_per_file(spark, tmp_path):
    """The physical forms of ``events.ts`` (legacy NANOS, MICROS NTZ,
    INT96, Spark-written TIMESTAMP) all load as the same session-tz
    timestamps, with no Spark job, each declared as the type Spark infers;
    a file rewritten in place is probed again."""
    ts = [dt.datetime(2024, 2, 29, 23, 59, 59, 123456), dt.datetime(2040, 6, 1, 9)]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = f"{sf}/events.parquet"
    for n, variant in enumerate(("nanos", "micros_ntz", "int96", "spark")):
        if os.path.isfile(path):
            os.remove(path)
        _write_events(path, ts, variant, spark)
        stamp = 1_700_000_000_000_000_000 + n * 1_000_000_000
        os.utime(path, ns=(stamp, stamp))  # a distinct mtime per rewrite
        frames = []

        def load_twice():
            frames.extend(tpch.load(spark, sf, "events") for _ in range(2))

        assert _jobs_in(spark, load_twice) == []
        for df in frames:
            assert dict(df.dtypes)["ts"] == "timestamp", variant
            got = sorted(r["ts"] for r in df.select("ts").collect())
            assert got == ts, (variant, got)
        # the probe declares the type Spark itself infers for this file
        inferred = spark.read.parquet(path).schema["ts"].dataType.simpleString()
        assert tpch._ts_type(path, os.stat(path).st_mtime_ns) == inferred, variant


@pytest.mark.parametrize("name", STAR_HEADLINERS)
def test_star_headliners_read_no_python_rdd(spark, name):
    df = all_queries()[name].fn(spark, SF_DIR)
    assert _python_rdd_leaves(df) == []


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(0, Decimal(0)), (1, Decimal(10**37)), (2, None)], "_pid int, _off decimal(38,0)"),
        ([(1, [1.5, -2.0]), (2, []), (3, None)], "k int, v array<double>"),
        ([(1, dt.datetime(2038, 1, 19, 3, 14, 8, 5)), (2, None)], "k bigint, t timestamp"),
        ([(None, None, None)], "k bigint, s string, x double"),
        ([], "k bigint, s string"),
    ],
    ids=["decimal38", "array_double", "timestamp", "nulls", "empty"],
)
def test_local_frame_matches_create_dataframe(spark, rows, ddl):
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))
    assert _python_rdd_leaves(got) == []
    assert _python_rdd_leaves(want) != []  # the plan shape local_frame replaces

"""Readers for the driver's TPC-H-ish parquet star schema (TESTDATA.md).

Parquet is already columnar + typed, so this layer stays thin: a named-table
reader that Catalyst can push filters/column pruning into. Every table's
schema is declared (``SCHEMAS``, PAPER.md §1.2: "fixed, explicitly declared
(DDL) schema — no inference"), so a read submits no footer-inference job.
Dimension tables are tagged so join sites can wrap them in ``broadcast()`` —
at 100 TB the fact tables (lineitem/orders/events/documents) are the only
non-broadcastable relations in this schema.
"""

from __future__ import annotations

import functools
import glob
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The types Spark infers from the reference files (TESTDATA.md): TIMESTAMP
# (MICROS) without UTC adjustment reads as timestamp_ntz. events.ts comes in
# three physical forms; ``_ts_type`` picks its declared type per file.
_EVENTS = "event_id bigint, ts {}, user_id bigint, event_type string, value double, props string"
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, "
    "p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, "
    "o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz",
    "events": _EVENTS.format("timestamp_ntz"),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

# Small at every scale factor (region/nation are fixed-cardinality); always
# safe to broadcast. customer/supplier/part grow with SF but remain dim-like.
ALWAYS_BROADCAST = {"region", "nation"}


@functools.lru_cache(maxsize=64)
def _ts_type(path: str, _mtime_ns: int) -> str:
    """The Spark type of ``ts`` in the file (or Spark-written dir) ``path``,
    from one driver-side footer read cached on (path, mtime): legacy
    TIMESTAMP(NANOS) is ``bigint`` under nanosAsLong, MICROS without UTC
    adjustment ``timestamp_ntz``, Spark-written INT96/UTC ``timestamp``."""
    file = path if os.path.isfile(path) else sorted(glob.glob(f"{path}/*.parquet"))[0]
    schema = pq.ParquetFile(file).schema
    col = schema.column(schema.names.index("ts"))
    logical = json.loads(col.logical_type.to_json())
    if logical.get("timeUnit") == "nanoseconds":
        return "bigint"
    utc = col.physical_type == "INT96" or logical.get("isAdjustedToUTC")
    return "timestamp" if utc else "timestamp_ntz"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    # Nanos are converted with exact integer division (float division of
    # epoch-nanos would lose precision past 2^53); NTZ micros cast to
    # session-tz TIMESTAMP, value-preserving under the pinned UTC session.
    ts_type = _ts_type(path, os.stat(path).st_mtime_ns)
    # Spark's reader rejects TIMESTAMP(NANOS) without the legacy conf
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.schema(_EVENTS.format(ts_type)).parquet(path)
    if ts_type == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a dimension with a broadcast hint applied."""
    return F.broadcast(load(spark, sf_dir, name))

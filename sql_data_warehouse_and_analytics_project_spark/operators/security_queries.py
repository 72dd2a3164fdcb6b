"""Security operators as oracle-checked queries (SURVEY §2.11 X2/X3).

The warehouse module applies RLS/masking to the gold star schema
(warehouse/security.py); these register the same operator shapes over the
driver's TPC-H tables so they pass through the DuckDB correctness gate:

- X2 row-level security (ref: scripts/security/ddl_security.sql:69-97):
  a user→region mapping table drives a LEFT SEMI filter — the fact table
  never shuffles, the policy costs one broadcast probe.
- X3 dynamic data masking (ref: scripts/security/ddl_security.sql:104-111):
  a conditional projection; non-managers see the default mask (0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tpch
from ..sources.local import local_frame

# Demo access mapping, analog of Security.UserCountryMapping
# (ref: ddl_security.sql:52-58) at TPC-H's region grain.
USER_REGION_MAPPING = [
    ("amr_analyst", "AMERICA"),
    ("eur_analyst", "EUROPE"),
    ("global_manager", "AMERICA"),
    ("global_manager", "EUROPE"),
]

_RLS_SQL = """
WITH mapping(user_name, region_name) AS (
    VALUES ('amr_analyst', 'AMERICA'), ('eur_analyst', 'EUROPE'),
           ('global_manager', 'AMERICA'), ('global_manager', 'EUROPE')
)
SELECT n.n_name AS nation, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN (SELECT region_name FROM mapping WHERE user_name = 'amr_analyst')
GROUP BY n.n_name
ORDER BY nation
"""


@query("security_rls_orders", oracle=_RLS_SQL, defer=True)
def security_rls_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders visible to ``amr_analyst`` under region RLS, summarized by
    nation. Plan: orders ⋈ broadcast(customer-keys-in-allowed-regions) as
    LEFT SEMI — the policy predicate never moves the fact."""
    orders = tpch.load(spark, sf_dir, "orders")
    customer = tpch.load(spark, sf_dir, "customer")
    nation = tpch.load(spark, sf_dir, "nation")
    region = tpch.load(spark, sf_dir, "region")
    mapping = local_frame(spark, USER_REGION_MAPPING, "user_name string, region_name string")

    allowed_regions = mapping.filter(F.col("user_name") == "amr_analyst").select(
        F.col("region_name").alias("r_name")
    )
    visible_nations = (
        nation.join(
            F.broadcast(region.join(F.broadcast(allowed_regions), "r_name", "left_semi")),
            nation.n_regionkey == region.r_regionkey,
            "left_semi",
        )
    )
    visible_customers = customer.join(
        F.broadcast(visible_nations), customer.c_nationkey == visible_nations.n_nationkey, "left_semi"
    )
    return (
        orders.join(F.broadcast(visible_customers.select("c_custkey", "c_nationkey")),
                    orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
        .orderBy("nation")
    )


_MASK_SQL = """
SELECT c_custkey, c_name, c_mktsegment,
       CAST(0 AS DOUBLE) AS acctbal_masked
FROM customer
ORDER BY c_custkey
LIMIT 100
"""


@query("security_masked_customer", oracle=_MASK_SQL, defer=True)
def security_masked_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyst-view customer projection with the account balance masked to
    the numeric default (0), mirroring MASKED WITH (FUNCTION='default()').
    The mask is a projection expression — zero plan cost beyond the scan."""
    customer = tpch.load(spark, sf_dir, "customer")
    is_manager = False  # analyst role; gold_manager holds UNMASK (ref :152)
    masked = (
        F.col("c_acctbal").cast("decimal(12,2)").cast("double")
        if is_manager
        else F.lit(0).cast("double")
    )
    return (
        customer.select("c_custkey", "c_name", "c_mktsegment", masked.alias("acctbal_masked"))
        .orderBy("c_custkey")
        .limit(100)
    )

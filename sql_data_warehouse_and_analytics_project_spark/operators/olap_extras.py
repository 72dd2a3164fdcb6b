"""OLAP operators beyond the reference's surface, oracle-checked.

The reference uses no LEAD/NTILE/FIRST_VALUE windows, no set operators
besides UNION ALL, and no grouping sets (SURVEY §2.5, §2.7 explicitly note
the absences). A user migrating real analytics workloads expects them, so
the engine carries them as first-class, DuckDB-verified operators:

- W+: LEAD (inter-order gap), NTILE (customer quartiles),
  FIRST_VALUE/LAST_VALUE with an explicit frame (order bracketing)
- U+: INTERSECT / EXCEPT (distinct set semantics)
- A+: ROLLUP hierarchy totals with GROUPING() disambiguation

All are single-shuffle window or aggregation plans — nothing here changes
the scale posture of the queries they'd be embedded in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tpch
from ..sources.local import range_offsets


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tpch.load(spark, sf_dir, name)


_LEAD_SQL = """
WITH seq AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderkey,
         LEAD(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey) AS next_orderdate
  FROM orders
)
SELECT o_custkey, o_orderdate, o_orderkey,
       CAST(next_orderdate - o_orderdate AS BIGINT) AS days_to_next_order
FROM seq
WHERE next_orderdate IS NOT NULL
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


def olap_lead_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD window: days between a customer's consecutive orders."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    return (
        orders.select(
            "o_custkey",
            d.alias("o_orderdate"),
            "o_orderkey",
            F.lead(d).over(w).alias("next_orderdate"),
        )
        .filter(F.col("next_orderdate").isNotNull())
        .select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            F.datediff("next_orderdate", "o_orderdate").cast("bigint").alias("days_to_next_order"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


_NTILE_SQL = """
WITH spend AS (
  SELECT c.c_custkey, SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS total_spend
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT quartile, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(total_spend) AS DOUBLE) AS min_spend,
       CAST(MAX(total_spend) AS DOUBLE) AS max_spend
FROM (SELECT c_custkey, total_spend,
             NTILE(4) OVER (ORDER BY total_spend DESC, c_custkey) AS quartile
      FROM spend)
GROUP BY quartile
ORDER BY quartile
"""


def _dist_ntile(df: DataFrame, sort_cols: list, k: int, out: str) -> DataFrame:
    """NTILE(k) over ``sort_cols`` with NO single-partition window (r17,
    VERDICT r16 ask #3: the per-customer NTILE tables grow with the
    corpus). Two-pass exact rank — repartitionByRange(sort_cols) →
    per-partition row_number + ``range_offsets``' broadcast prefix counts —
    then the SQL-standard tile formula from the exact global rank rn and
    total n (q = n div k, r = n mod k; the first r tiles hold q+1 rows):

        tile = ceil(rn/(q+1))                     if rn <= r·(q+1)
               r + ceil((rn − r·(q+1))/q)         otherwise

    which reproduces Spark's and DuckDB's NTILE bit-for-bit (both follow
    the larger-buckets-first standard)."""
    ranged, totals = range_offsets(df, sort_cols, {"n": F.count(F.lit(1))})
    n = totals["n"]
    w_local = Window.partitionBy("_pid").orderBy(*sort_cols)
    joined = ranged.withColumn(
        "_rn", (F.row_number().over(w_local) + F.col("_off_n")).cast("bigint")
    )
    q, r = n // k, n % k
    if q == 0:  # fewer rows than tiles: every row is its own tile
        tile = F.col("_rn")
    else:
        # ceil(a/b) over positive ints as (a + b − 1) div b — exact, no floats
        tile = F.when(
            F.col("_rn") <= F.lit(r * (q + 1)),
            F.expr(f"(_rn + {q}) div {q + 1}"),
        ).otherwise(F.expr(f"{r} + (_rn - {r * (q + 1)} + {q - 1}) div {q}"))
    return joined.withColumn(out, tile.cast("int")).drop("_pid", "_off_n", "_rn")


def olap_ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) spend quartiles with per-quartile bounds. The custkey
    tiebreak pins tile assignment for equal spends (cross-engine
    determinism)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    spend = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .groupBy("c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_spend"))
    )
    tiled = _dist_ntile(
        spend, [F.desc("total_spend"), F.col("c_custkey")], 4, "quartile"
    )
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("total_spend").cast("double").alias("min_spend"),
            F.max("total_spend").cast("double").alias("max_spend"),
        )
        .orderBy("quartile")
    )


_BRACKET_SQL = """
SELECT DISTINCT o_custkey,
       FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_orderkey,
       LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_orderkey
FROM orders
ORDER BY o_custkey
"""


def olap_first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE/LAST_VALUE with an explicit unbounded ROWS frame —
    LAST_VALUE under the default frame stops at the current row, the classic
    frame trap; the explicit frame is the correct bracketing form."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.select(
            "o_custkey",
            F.first("o_orderkey").over(w).alias("first_orderkey"),
            F.last("o_orderkey").over(w).alias("last_orderkey"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 1996
ORDER BY o_custkey
"""


def olap_intersect_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers ordering in both 1995 and 1996."""
    orders = _t(spark, sf_dir, "orders")
    y = F.year(F.col("o_orderdate").cast("date"))
    a = orders.filter(y == 1995).select("o_custkey")
    b = orders.filter(y == 1996).select("o_custkey")
    return a.intersect(b).orderBy("o_custkey")


_EXCEPT_SQL = """
SELECT o_custkey FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 1996
ORDER BY o_custkey
"""


def olap_except_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): 1995 customers who did not order in 1996."""
    orders = _t(spark, sf_dir, "orders")
    y = F.year(F.col("o_orderdate").cast("date"))
    a = orders.filter(y == 1995).select("o_custkey")
    b = orders.filter(y == 1996).select("o_custkey")
    # subtract = EXCEPT DISTINCT; exceptAll would only cancel per-occurrence
    # (a 2×1995 / 1×1996 customer would wrongly survive)
    return a.subtract(b).orderBy("o_custkey")


_ROLLUP_SQL = """
SELECT COALESCE(r.r_name, 'ALL') AS region,
       CASE WHEN GROUPING(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r.r_name, n.n_name)
ORDER BY region, nation
"""


@query("olap_rollup_region_nation", oracle=_ROLLUP_SQL, headline=True, defer=True)
def olap_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total) with GROUPING()
    labels. Catalyst expands the rollup into one Expand + aggregation — a
    single shuffle for all three grouping levels."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    base = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        base.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
            # grouping() is only valid inside the aggregate list
            F.grouping("n_name").alias("_g_nation"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.when(F.col("_g_nation") == 1, "ALL").otherwise(F.col("n_name")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
        .orderBy("region", "nation")
    )


_PIVOT_SQL = """
SELECT c.c_mktsegment AS mktsegment,
       CAST(SUM(CASE WHEN YEAR(CAST(o.o_orderdate AS DATE)) = 1995
                THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS y1995,
       CAST(SUM(CASE WHEN YEAR(CAST(o.o_orderdate AS DATE)) = 1996
                THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS y1996,
       CAST(SUM(CASE WHEN YEAR(CAST(o.o_orderdate AS DATE)) = 1997
                THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS y1997
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY mktsegment
"""


@query("olap_pivot_segment_year", oracle=_PIVOT_SQL, defer=True)
def olap_pivot_segment_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: revenue by market segment × year. Spark's pivot with an
    explicit value list compiles to conditional aggregation — a single
    shuffle, same as the CASE-form oracle (never use implicit pivot values
    at scale: that adds a distinct-scan pass to discover them)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            F.col("c_mktsegment").alias("mktsegment"),
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .groupBy("mktsegment")
        .pivot("yr", [1995, 1996, 1997])
        .sum("price")
        .select(
            "mktsegment",
            F.col("1995").cast("double").alias("y1995"),
            F.col("1996").cast("double").alias("y1996"),
            F.col("1997").cast("double").alias("y1997"),
        )
        .orderBy("mktsegment")
    )


_PCTL_SQL = """
SELECT c.c_mktsegment AS mktsegment,
       CAST(quantile_cont(CAST(o.o_totalprice AS DOUBLE), 0.5) AS DOUBLE) AS p50,
       CAST(quantile_cont(CAST(o.o_totalprice AS DOUBLE), 0.9) AS DOUBLE) AS p90,
       CAST(quantile_cont(CAST(o.o_totalprice AS DOUBLE), 0.99) AS DOUBLE) AS p99
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY mktsegment
"""


def olap_percentiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear-interpolating). At 100 TB the same
    query swaps to `percentile_approx` (t-digest sketch, mergeable
    map-side) — exact percentile is the oracle-checkable twin."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    price = F.col("o_totalprice").cast("double")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.percentile(price, F.lit(0.5)).alias("p50"),
            F.percentile(price, F.lit(0.9)).alias("p90"),
            F.percentile(price, F.lit(0.99)).alias("p99"),
        )
        .orderBy("mktsegment")
    )

# ---------------------------------------------------------------------------
# Composite registrations (driver 50-query cap; legs stay importable).
# ---------------------------------------------------------------------------

_ORDER_SEQ_SQL = f"""
SELECT 'lead_gap' AS leg, CAST(o_custkey AS BIGINT) AS o_custkey, o_orderdate,
       CAST(o_orderkey AS BIGINT) AS o_orderkey, days_to_next_order,
       CAST(NULL AS BIGINT) AS first_orderkey, CAST(NULL AS BIGINT) AS last_orderkey
FROM ({_LEAD_SQL})
UNION ALL
SELECT 'first_last', CAST(o_custkey AS BIGINT), CAST(NULL AS DATE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(first_orderkey AS BIGINT), CAST(last_orderkey AS BIGINT)
FROM ({_BRACKET_SQL})
ORDER BY leg, o_custkey, o_orderdate, o_orderkey
"""


@query("olap_order_sequence", oracle=_ORDER_SEQ_SQL, defer=True)
def olap_order_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD inter-order gaps + FIRST_VALUE/LAST_VALUE order bracketing,
    union-tagged; both legs ride the same per-customer sort."""
    _nl = F.lit(None).cast("bigint")
    _ndt = F.lit(None).cast("date")
    lead = olap_lead_order_gap(spark, sf_dir).select(
        F.lit("lead_gap").alias("leg"),
        F.col("o_custkey").cast("bigint").alias("o_custkey"),
        "o_orderdate",
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "days_to_next_order",
        _nl.alias("first_orderkey"),
        _nl.alias("last_orderkey"),
    )
    bracket = olap_first_last_order(spark, sf_dir).select(
        F.lit("first_last").alias("leg"),
        F.col("o_custkey").cast("bigint").alias("o_custkey"),
        _ndt.alias("o_orderdate"),
        _nl.alias("o_orderkey"),
        _nl.alias("days_to_next_order"),
        F.col("first_orderkey").cast("bigint").alias("first_orderkey"),
        F.col("last_orderkey").cast("bigint").alias("last_orderkey"),
    )
    return lead.unionByName(bracket).orderBy("leg", "o_custkey", "o_orderdate", "o_orderkey")


_DISTRIBUTION_SQL = f"""
SELECT 'ntile_quartiles' AS leg, CAST(quartile AS VARCHAR) AS bucket,
       n_customers, min_spend AS v1, max_spend AS v2, CAST(NULL AS DOUBLE) AS v3
FROM ({_NTILE_SQL})
UNION ALL
SELECT 'percentiles', mktsegment, CAST(NULL AS BIGINT), p50, p90, p99
FROM ({_PCTL_SQL})
ORDER BY leg, bucket
"""


@query("olap_distribution", oracle=_DISTRIBUTION_SQL, defer=True)
def olap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) spend quartiles + exact continuous percentiles per segment,
    union-tagged."""
    ntile = olap_ntile_customer_quartiles(spark, sf_dir).select(
        F.lit("ntile_quartiles").alias("leg"),
        F.col("quartile").cast("string").alias("bucket"),
        "n_customers",
        F.col("min_spend").alias("v1"),
        F.col("max_spend").alias("v2"),
        F.lit(None).cast("double").alias("v3"),
    )
    pctl = olap_percentiles_by_segment(spark, sf_dir).select(
        F.lit("percentiles").alias("leg"),
        F.col("mktsegment").alias("bucket"),
        F.lit(None).cast("bigint").alias("n_customers"),
        F.col("p50").alias("v1"),
        F.col("p90").alias("v2"),
        F.col("p99").alias("v3"),
    )
    return ntile.unionByName(pctl).orderBy("leg", "bucket")


_SET_OPS_SQL = f"""
SELECT 'intersect' AS op, CAST(o_custkey AS BIGINT) AS o_custkey
FROM ({_INTERSECT_SQL})
UNION ALL
SELECT 'except', CAST(o_custkey AS BIGINT) FROM ({_EXCEPT_SQL})
ORDER BY op, o_custkey
"""


@query("olap_set_ops", oracle=_SET_OPS_SQL, defer=True)
def olap_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + EXCEPT (both DISTINCT semantics), union-tagged."""
    inter = olap_intersect_repeat_customers(spark, sf_dir).select(
        F.lit("intersect").alias("op"), F.col("o_custkey").cast("bigint").alias("o_custkey")
    )
    exc = olap_except_churned_customers(spark, sf_dir).select(
        F.lit("except").alias("op"), F.col("o_custkey").cast("bigint").alias("o_custkey")
    )
    return inter.unionByName(exc).orderBy("op", "o_custkey")


# --- RFM customer segmentation (r12) -----------------------------------------
#
# The classic warehouse marketing segmentation the reference's
# segmentation script (q10) approximates with fixed spend bands:
# Recency / Frequency / Monetary quintile scores (NTILE(5), custkey
# tiebreak pins assignment cross-engine; score 1 = best in all three)
# and a rule-based segment label. The recency anchor is the corpus max
# order date, so the query is deterministic with no injected clock.
# Scale shape: one orders groupBy(custkey) partial agg; the three
# quintile windows run over the CUSTOMER-grain aggregate (a row per
# customer, orders of magnitude below fact grain).

_RFM_SQL = """
WITH anchor AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
per_cust AS (
  SELECT o_custkey AS c_custkey,
         CAST(date_diff('day', MAX(o_orderdate), (SELECT maxd FROM anchor)) AS BIGINT)
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT c_custkey, recency_days, n_orders,
         CAST(total_spend AS DOUBLE) AS total_spend,
         NTILE(5) OVER (ORDER BY recency_days ASC, c_custkey) AS r_score,
         NTILE(5) OVER (ORDER BY n_orders DESC, c_custkey) AS f_score,
         NTILE(5) OVER (ORDER BY total_spend DESC, c_custkey) AS m_score
  FROM per_cust
)
SELECT c_custkey, recency_days, n_orders, total_spend,
       r_score, f_score, m_score,
       CASE WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2 THEN 'champion'
            WHEN f_score <= 2 THEN 'loyal'
            WHEN m_score <= 2 THEN 'big_spender'
            WHEN r_score >= 4 AND f_score <= 3 THEN 'at_risk'
            WHEN r_score >= 4 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM scored
ORDER BY c_custkey
"""


@query("olap_rfm_segmentation", oracle=_RFM_SQL, defer=True)
def olap_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM quintile scores and rule-based segment — the
    marketing-segmentation upgrade of q10's fixed spend bands; see the
    section note."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend_dec"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("maxd"))
    scored = per_cust.crossJoin(F.broadcast(anchor)).select(
        "c_custkey",
        F.datediff("maxd", "last_order").cast("bigint").alias("recency_days"),
        "n_orders",
        F.col("spend_dec").cast("double").alias("total_spend"),
    )
    scored = _dist_ntile(scored, [F.asc("recency_days"), F.col("c_custkey")], 5, "r_score")
    scored = _dist_ntile(scored, [F.desc("n_orders"), F.col("c_custkey")], 5, "f_score")
    scored = _dist_ntile(scored, [F.desc("total_spend"), F.col("c_custkey")], 5, "m_score")
    segment = (
        F.when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2) & (F.col("m_score") <= 2),
            "champion",
        )
        .when(F.col("f_score") <= 2, "loyal")
        .when(F.col("m_score") <= 2, "big_spender")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 3), "at_risk")
        .when(F.col("r_score") >= 4, "hibernating")
        .otherwise("regular")
    )
    return scored.select("*", segment.alias("segment")).orderBy("c_custkey")


# --- Benford first-digit audit (r13) --------------------------------------------
#
# The classic fabricated-data / DQ detector: naturally-occurring amounts
# follow Benford's law (P(d) = log10(1 + 1/d)); uniform-synthetic or
# hand-keyed amounts do not, and the per-digit chi² terms say WHERE the
# distribution breaks. First significant digit is extracted through the
# string of FLOOR(amount) cast to bigint — decimal/double stringification
# differs across engines, the bigint string does not (amount ≥ 1 holds
# for o_totalprice by construction). Counts are exact bigints; expected
# shares are ln((d+1)/d)/ln(10) on identical double literals; one
# grand-total broadcast. KB-sized output at any scale — one partial-agg
# groupBy over 9 digit groups.


def benford_digits(df: DataFrame, amount: str) -> DataFrame:
    """(digit, n, obs_share, exp_share, chi_term) for the first
    significant digit of ``amount``. The ``amount >= 1`` precondition is
    ENFORCED (not assumed): a value in [0, 1) would yield digit 0 and an
    Inf/NaN chi term (ln(1/0)), with a different failure mode per engine,
    so sub-1 amounts are filtered out on both sides (r13 ADVICE)."""
    d = F.substring(
        F.floor(F.col(amount)).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        df.filter(F.col(amount).isNotNull() & (F.col(amount) >= 1))
        .groupBy(d.alias("digit"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    dd = F.col("digit").cast("double")
    exp_share = F.log((dd + 1) / dd) / F.log(F.lit(10.0))
    nd = F.col("n").cast("double")
    td = F.col("total").cast("double")
    e = td * exp_share
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(nd / td, 6).alias("obs_share"),
            F.round(exp_share, 6).alias("exp_share"),
            F.round((nd - e) * (nd - e) / e, 6).alias("chi_term"),
        )
        .orderBy("digit")
    )


_BENFORD_SQL = """
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
           AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS obs_share,
       ROUND(ln((CAST(digit AS DOUBLE) + 1) / CAST(digit AS DOUBLE)) / ln(10.0), 6)
         AS exp_share,
       ROUND((CAST(n AS DOUBLE)
              - CAST(total AS DOUBLE)
                * (ln((CAST(digit AS DOUBLE) + 1) / CAST(digit AS DOUBLE)) / ln(10.0)))
             * (CAST(n AS DOUBLE)
                - CAST(total AS DOUBLE)
                  * (ln((CAST(digit AS DOUBLE) + 1) / CAST(digit AS DOUBLE)) / ln(10.0)))
             / (CAST(total AS DOUBLE)
                * (ln((CAST(digit AS DOUBLE) + 1) / CAST(digit AS DOUBLE)) / ln(10.0))),
             6) AS chi_term
FROM counts CROSS JOIN tot
ORDER BY digit
"""


@query("olap_benford_totalprice", oracle=_BENFORD_SQL, defer=True)
def olap_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — per-digit observed vs
    expected share and the chi² contribution."""
    return benford_digits(_t(spark, sf_dir, "orders"), "o_totalprice")


# --- Gini revenue concentration (r13) --------------------------------------------
#
# Inequality reporting: how concentrated is order revenue across the
# customers of each nation? Gini via the exact rank formula over the
# ascending-sorted totals
#     G = (2·Σ i·x_i) / (n·Σ x_i) − (n + 1)/n
# with x in cents (exact bigint via FLOOR(100·total)), i = row_number
# ordered by (x, custkey) — ties pinned, every sum an exact bigint, one
# final float expression on identical integers. Scale shape: one
# partial-agg groupBy(custkey), one nation-partitioned rank window over
# the per-customer totals (bounded by customers, not orders), one
# groupBy(nation) fold. Σ i·x can exceed int64 at extreme scale (1e7
# customers × 1e9-cent totals ≈ 1e23), so the rank-weighted leg sums as
# DECIMAL(38,0) — exact to 1e38, and DuckDB's HUGEINT sum matches it
# digit for digit.


def gini_by_group(df: DataFrame, group: str, key: str, amount_cents) -> DataFrame:
    """(group, n, total_cents, gini) per group over per-key exact cent
    totals — ``amount_cents`` is a bigint Column of the row amount."""
    per_key = df.groupBy(group, key).agg(F.sum(amount_cents).cast("bigint").alias("x"))
    w = Window.partitionBy(group).orderBy("x", key)
    ranked = per_key.select(
        group, "x", F.row_number().over(w).cast("bigint").alias("i")
    )
    agg = ranked.groupBy(group).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        # cast BEFORE the multiply: an int64 i·x product can wrap silently
        # in Spark (ANSI off) while DuckDB raises — the decimal(38,0)
        # widening must cover the product, not just the SUM (r13 ADVICE)
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("six"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        group,
        F.col("n"),
        F.col("sx").alias("total_cents"),
        F.round(
            (F.lit(2.0) * F.col("six").cast("double"))
            / (nd * F.col("sx").cast("double"))
            - (nd + 1.0) / nd,
            6,
        ).alias("gini"),
    ).orderBy(group)


_GINI_SQL = """
WITH per_key AS (
  SELECT n.n_name AS nation, c.c_custkey AS k,
         CAST(SUM(CAST(FLOOR(100.0 * o.o_totalprice) AS BIGINT)) AS BIGINT) AS x
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, c.c_custkey
),
ranked AS (
  SELECT nation, x,
         CAST(row_number() OVER (PARTITION BY nation ORDER BY x, k) AS BIGINT) AS i
  FROM per_key
),
agg AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         SUM(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS six
  FROM ranked GROUP BY nation
)
SELECT nation, n, sx AS total_cents,
       ROUND((2.0 * CAST(six AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM agg
ORDER BY nation
"""


@query("olap_gini_revenue_by_nation", oracle=_GINI_SQL)
def olap_gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue within each nation —
    the concentration/inequality report."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_custkey").alias("k"),
            F.floor(F.lit(100.0) * F.col("o_totalprice")).cast("bigint").alias("cents"),
        )
    )
    return gini_by_group(joined, "nation", "k", F.col("cents"))


# --- market-basket affinity (r13) -------------------------------------------------
#
# The classic association-rule surface (Agrawal et al. 1993) over order
# baskets: for the 20 most co-ordered part pairs, support, confidence
# and lift from EXACT integer counts (one final float expression each).
# Scale shape: the within-order self-join fans out by basket size (≤
# C(13,2) pairs per order here; bounded by the largest basket, never
# the catalog), the pair table partial-aggregates map-side, the top-20
# cut is TakeOrderedAndProject with a full deterministic tie-break, and
# the per-item support table (|parts| rows) broadcasts back.


def basket_affinity(lineitem: DataFrame, k: int = 20) -> DataFrame:
    """(part_a, part_b, pair_orders, orders_a, orders_b, support,
    confidence_a_to_b, lift) for the top-k co-ordered part pairs."""
    baskets = lineitem.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    n_orders = baskets.agg(F.countDistinct("okey").cast("bigint").alias("n")) 
    item = baskets.groupBy("part").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") < F.col("b.part")))
        .groupBy(F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_orders"))
        .orderBy(F.desc("pair_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(k)
    )
    ia = item.select(F.col("part").alias("part_a"), F.col("cnt").alias("orders_a"))
    ib = item.select(F.col("part").alias("part_b"), F.col("cnt").alias("orders_b"))
    out = (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_orders))
    )
    pd_ = F.col("pair_orders").cast("double")
    return out.select(
        "part_a",
        "part_b",
        "pair_orders",
        "orders_a",
        "orders_b",
        F.round(pd_ / F.col("n").cast("double"), 6).alias("support"),
        F.round(pd_ / F.col("orders_a").cast("double"), 6).alias("confidence_a_to_b"),
        F.round(
            (pd_ * F.col("n").cast("double"))
            / (F.col("orders_a").cast("double") * F.col("orders_b").cast("double")),
            6,
        ).alias("lift"),
    ).orderBy(F.desc("pair_orders"), F.asc("part_a"), F.asc("part_b"))


_BASKET_SQL = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
),
n_orders AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM baskets),
item AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS cnt FROM baskets GROUP BY part),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, CAST(COUNT(*) AS BIGINT) AS pair_orders
  FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.part < b.part
  GROUP BY a.part, b.part
  ORDER BY pair_orders DESC, part_a, part_b
  LIMIT 20
)
SELECT p.part_a, p.part_b, p.pair_orders,
       ia.cnt AS orders_a, ib.cnt AS orders_b,
       ROUND(CAST(p.pair_orders AS DOUBLE) / CAST(n.n AS DOUBLE), 6) AS support,
       ROUND(CAST(p.pair_orders AS DOUBLE) / CAST(ia.cnt AS DOUBLE), 6) AS confidence_a_to_b,
       ROUND((CAST(p.pair_orders AS DOUBLE) * CAST(n.n AS DOUBLE))
             / (CAST(ia.cnt AS DOUBLE) * CAST(ib.cnt AS DOUBLE)), 6) AS lift
FROM pairs p
JOIN item ia ON ia.part = p.part_a
JOIN item ib ON ib.part = p.part_b
CROSS JOIN n_orders n
ORDER BY p.pair_orders DESC, p.part_a, p.part_b
"""


@query("olap_basket_affinity", oracle=_BASKET_SQL, defer=True)
def olap_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-ordered part pairs with support/confidence/lift — the
    association-rule affinity surface over order baskets."""
    return basket_affinity(_t(spark, sf_dir, "lineitem"))


# --- ABC (Pareto) revenue classification (r17) ---------------------------------
#
# The inventory-analytics classic: rank parts by revenue, class A = every
# part that starts before the 80% cumulative-revenue boundary, B before
# 95%, C the tail. The per-part revenue table is CORPUS-CARDINALITY, so
# the cumulative fold reuses ``abstats._value_cumsums`` (the two-pass
# range-partitioned exact cumsum — its first reuse outside the
# experimentation tier) over the per-DISTINCT-revenue group table with
# v = −revenue_fp (ascending v = descending revenue; ties share a group
# and therefore a class, which is what makes the classification
# deterministic cross-engine). Class boundaries compare exact integers
# (cum_before·100 < total·80 in decimal(38,0)) — no floats anywhere in
# classification; only the reported shares are doubles.

_ABC_FP = 10_000  # revenue fixed-point (1e-4 currency units)


def abc_parts(lineitem: DataFrame) -> DataFrame:
    """(abc_class, n_parts, revenue, revenue_share, parts_share): Pareto
    classification of parts by exact fixed-point revenue."""
    from .abstats import _value_cumsums

    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(float(_ABC_FP))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("rev_fp")
    )
    groups = per_part.groupBy((-F.col("rev_fp")).alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
    ).withColumn(
        "grev", (F.lit(-1) * F.col("v")).cast("decimal(38,0)") * F.col("n_parts")
    )
    cum, tot = _value_cumsums(groups, ["grev"])
    total = int(tot["grev"])
    cum_before = F.col("cum_grev") - F.col("grev")
    klass = (
        F.when(cum_before * 100 < F.lit(total).cast("decimal(38,0)") * 80, "A")
        .when(cum_before * 100 < F.lit(total).cast("decimal(38,0)") * 95, "B")
        .otherwise("C")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rolled = (
        cum.withColumn("abc_class", klass)
        .groupBy("abc_class")
        .agg(
            F.sum("n_parts").cast("bigint").alias("n_parts"),
            F.sum("grev").cast("decimal(38,0)").alias("rev"),
        )
    )
    nall = F.broadcast(
        rolled.agg(F.sum("n_parts").cast("bigint").alias("np_all"))
    )
    return (
        rolled.crossJoin(nall)
        .select(
            "abc_class",
            "n_parts",
            F.round(d("rev") / F.lit(float(_ABC_FP)), 2).alias("revenue"),
            F.round(d("rev") / F.lit(float(total)), 6).alias("revenue_share"),
            F.round(d("n_parts") / d("np_all"), 6).alias("parts_share"),
        )
        .orderBy("abc_class")
    )


_ABC_SQL = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * {float(_ABC_FP)}) AS BIGINT)) AS BIGINT) AS rev_fp
  FROM lineitem GROUP BY l_partkey
),
groups AS (
  SELECT -rev_fp AS v,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(-(-rev_fp) AS HUGEINT) * COUNT(*) AS grev
  FROM per_part GROUP BY 1
),
cum AS (
  SELECT v, n_parts, grev,
         SUM(grev) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_grev,
         SUM(grev) OVER () AS total
  FROM groups
),
classed AS (
  SELECT CASE WHEN (cum_grev - grev) * 100 < total * 80 THEN 'A'
              WHEN (cum_grev - grev) * 100 < total * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         n_parts, grev, total
  FROM cum
),
rolled AS (
  SELECT abc_class,
         CAST(SUM(n_parts) AS BIGINT) AS n_parts,
         SUM(grev) AS rev,
         MAX(total) AS total
  FROM classed GROUP BY abc_class
)
SELECT abc_class,
       n_parts,
       ROUND(CAST(rev AS DOUBLE) / {float(_ABC_FP)}, 2) AS revenue,
       ROUND(CAST(rev AS DOUBLE) / CAST(total AS DOUBLE), 6) AS revenue_share,
       ROUND(CAST(n_parts AS DOUBLE)
             / CAST(SUM(n_parts) OVER () AS DOUBLE), 6) AS parts_share
FROM rolled
ORDER BY abc_class
"""


@query("olap_abc_parts", oracle=_ABC_SQL, headline=True)
def olap_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of parts by exact fixed-point revenue —
    class boundaries decided on exact integers, ties share a class, the
    corpus-cardinality cumulative fold rides _value_cumsums. DuckDB
    replays the revenue collapse, the distinct-revenue groups, the
    cumulative fold, and the integer boundary compares."""
    return abc_parts(tpch.load(spark, sf_dir, "lineitem"))


# --- HHI supplier concentration (r18) ------------------------------------------
#
# The antitrust-standard Herfindahl-Hirschman index, applied to supplier
# revenue within each supplier nation: HHI = Σ share_i² ∈ (0, 1], with
# 1/HHI the "effective number" of equally-sized suppliers. Complements
# the Gini/ABC inequality views: Gini ranks the whole distribution, ABC
# cuts it at fixed mass boundaries, HHI is the single concentration
# scalar procurement dashboards alert on. Exactness discipline: per-line
# revenue lands as exact cents (FLOOR(100·extprice·(1−disc)) — the
# gini_by_group convention), per-supplier cents and their SQUARES
# accumulate in bigint / decimal(38,0), and doubles appear only in the
# final share division. One keyed groupBy + a 25-row nation rollup.


def hhi_by_nation(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame) -> DataFrame:
    """(nation, n_suppliers, total_cents, hhi, effective_suppliers) per
    supplier nation."""
    per_supp = (
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            lineitem["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("s_suppkey"))
        .agg(
            F.sum(
                F.floor(
                    F.lit(100.0)
                    * F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    agg = per_supp.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast("decimal(38,0)").alias("total"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("sum_sq"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    hhi = d("sum_sq") / F.nullif(d("total") * d("total"), F.lit(0.0))
    return agg.select(
        "nation",
        "n_suppliers",
        F.col("total").cast("bigint").alias("total_cents"),
        F.round(hhi, 6).alias("hhi"),
        F.round(F.lit(1.0) / F.nullif(hhi, F.lit(0.0)), 6).alias("effective_suppliers"),
    ).orderBy("nation")


_HHI_SQL = """
WITH per_supp AS (
  SELECT n.n_name AS nation, l.l_suppkey,
         CAST(SUM(CAST(FLOOR(100.0 * l.l_extendedprice * (1.0 - l.l_discount)) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, l.l_suppkey
),
agg AS (
  SELECT nation,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(cents) AS HUGEINT) AS total,
         SUM(CAST(cents AS HUGEINT) * cents) AS sum_sq
  FROM per_supp GROUP BY nation
)
SELECT nation, n_suppliers,
       CAST(total AS BIGINT) AS total_cents,
       ROUND(CAST(sum_sq AS DOUBLE)
             / NULLIF(CAST(total AS DOUBLE) * CAST(total AS DOUBLE), 0.0), 6) AS hhi,
       ROUND(1.0 / NULLIF(CAST(sum_sq AS DOUBLE)
             / NULLIF(CAST(total AS DOUBLE) * CAST(total AS DOUBLE), 0.0), 0.0), 6) AS effective_suppliers
FROM agg
ORDER BY nation
"""


@query("olap_hhi_suppliers", oracle=_HHI_SQL, defer=True)
def olap_hhi_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier revenue concentration per supplier
    nation, with the 1/HHI effective-supplier count — exact-integer
    cores, doubles only in the final shares. DuckDB replays the cent
    collapse and both rollups."""
    return hhi_by_nation(
        tpch.load(spark, sf_dir, "lineitem"),
        tpch.load(spark, sf_dir, "supplier"),
        tpch.load(spark, sf_dir, "nation"),
    )


# --- Theil T inequality (r18) --------------------------------------------------
#
# The decomposable inequality index (Theil 1967): T = (1/n)·Σ (x/μ)·ln(x/μ)
# over per-customer revenue within each nation — 0 at perfect equality,
# ln(n) at total concentration. Beside Gini (rank-based, bounded [0,1))
# the Theil index is the one that decomposes additively across segments,
# which is why inequality dashboards carry both. Float discipline: the
# per-customer term is quantized to decimal(18,6) BEFORE the sum (the
# text-tier logprob convention) so the cross-nation fold is exact
# decimal addition — order-independent, and the ≤1-ULP JVM-vs-DuckDB
# libm ln() difference is invisible at the 6-dp quantization. Customers
# are revenue > 0 by construction (cents from positive order totals).


def theil_by_nation(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """(nation, n_customers, total_cents, theil_t) per customer nation."""
    per_cust = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("c_custkey"))
        .agg(
            F.sum(F.floor(F.lit(100.0) * F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    totals = per_cust.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("total"),
    )
    joined = per_cust.join(F.broadcast(totals), "nation")
    ratio = (
        F.col("cents").cast("double")
        * F.col("n").cast("double")
        / F.col("total").cast("double")
    )
    term = (ratio * F.log(ratio)).cast("decimal(18,6)")
    return (
        joined.groupBy("nation", "n", "total")
        .agg(F.sum(term).alias("s"))
        .select(
            "nation",
            F.col("n").alias("n_customers"),
            F.col("total").cast("bigint").alias("total_cents"),
            F.round(
                F.col("s").cast("double") / F.nullif(F.col("n").cast("double"), F.lit(0.0)),
                6,
            ).alias("theil_t"),
        )
        .orderBy("nation")
    )


_THEIL_SQL = """
WITH per_cust AS (
  SELECT n.n_name AS nation, o.o_custkey,
         CAST(SUM(CAST(FLOOR(100.0 * o.o_totalprice) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, o.o_custkey
),
totals AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS HUGEINT) AS total
  FROM per_cust GROUP BY nation
),
terms AS (
  SELECT p.nation, t.n, t.total,
         CAST((CAST(p.cents AS DOUBLE) * CAST(t.n AS DOUBLE) / CAST(t.total AS DOUBLE))
              * ln(CAST(p.cents AS DOUBLE) * CAST(t.n AS DOUBLE) / CAST(t.total AS DOUBLE))
              AS DECIMAL(18,6)) AS term
  FROM per_cust p JOIN totals t ON p.nation = t.nation
)
SELECT nation, n AS n_customers,
       CAST(total AS BIGINT) AS total_cents,
       ROUND(CAST(SUM(term) AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0), 6) AS theil_t
FROM terms
GROUP BY nation, n, total
ORDER BY nation
"""


@query("olap_theil_revenue", oracle=_THEIL_SQL, defer=True)
def olap_theil_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of per-customer order revenue within each
    nation — the additively decomposable companion of the Gini report.
    DuckDB replays the cent collapse, the quantized-term fold, and the
    closed form."""
    return theil_by_nation(
        tpch.load(spark, sf_dir, "orders"),
        tpch.load(spark, sf_dir, "customer"),
        tpch.load(spark, sf_dir, "nation"),
    )

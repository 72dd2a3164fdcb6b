"""Cap-aware water-filling mixture allocation — the budgeted-mix solver.

The temperature/epoch resamplers (packing.py) answer "what SHARE should
each source get"; this module answers the follow-up every training-mix
plan hits at scale: given a total token/char budget B, per-source target
weights w_s, and hard availability caps c_s (you cannot take more from a
source than it has), find the allocation

    a_s = min(c_s, lambda * w_s)   with   sum(a_s) = B,

i.e. fill every source proportionally to its weight until it hits its
cap, then redistribute the remainder over the uncapped sources — the
classical water-filling solution (the KKT point of maximizing the
min-proportional fill under caps; same math as power allocation in
information theory, Cover & Thomas ch. 9).

Closed form instead of iteration: sort sources by ratio r_s = c_s / w_s
ascending. If the k smallest-ratio sources are exactly the capped set,
the water level is lambda_k = (B - sum_{i<=k} c_i) / sum_{i>k} w_i, and
the correct k is the one where lambda_k lands in [r_k, r_{k+1}]. That is
ONE window pass over the per-source aggregate: running prefix sums of c
and w in ratio order, a lambda candidate per row, and a validity
predicate — no loop, no driver-side solver.

Cross-engine determinism: w_s (doc counts) and c_s (char sums) are
BIGINTs, so every prefix sum is exact integer arithmetic; ratios and
lambda candidates are single bigint/bigint divisions (correctly rounded
IEEE, bit-identical in Spark and DuckDB); the budget is an integer DIV.
Both engines therefore compute the identical candidate doubles and
select the identical row even at a boundary tie. Outputs are 6-dp
rounded.

Scale shape: the only corpus-sized work is the per-source groupBy
(partial-aggregating, one shuffle). The window runs over #sources rows —
a driver-sized frame by nature (a training mix has tens of sources, not
millions), the same budget class as the NB/LM model tables. No reference
counterpart (`/root/reference/` is T-SQL warehousing) — mix extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tpch

_BUDGET_DEN = 2  # registered query takes B = total available chars DIV 2


def waterfill_allocations(per_source: DataFrame, budget: int) -> DataFrame:
    """Solve a_s = min(c_s, lambda * w_s), sum a_s = B over a per-source
    frame with columns (source, w bigint, c bigint) and an integer
    ``budget`` B. Returns one row per source:
    (source, n_docs, chars_avail, ratio, alloc_chars, at_cap), ordered by
    source. If B >= sum(c) every source is fully taken (lambda = +inf
    branch: no valid candidate row -> allocation falls back to c_s)."""
    b = F.lit(int(budget))
    tot = per_source.agg(
        F.sum("w").cast("bigint").alias("total_w"),
        F.sum("c").cast("bigint").alias("total_c"),
    )
    src = per_source.crossJoin(F.broadcast(tot)).withColumn(
        "r", F.col("c").cast("double") / F.col("w").cast("double")
    )
    # ratio-ordered window over the per-source aggregate (driver-sized by
    # nature — see module docstring; single-partition window is deliberate)
    ordw = Window.orderBy("r", "source")
    pre = ordw.rowsBetween(Window.unboundedPreceding, -1)
    cand = (
        src.withColumn("pre_c", F.coalesce(F.sum("c").over(pre), F.lit(0)).cast("bigint"))
        .withColumn("pre_w", F.coalesce(F.sum("w").over(pre), F.lit(0)).cast("bigint"))
        .withColumn("prev_r", F.lag("r").over(ordw))
        .withColumn(
            "lam",
            (b.cast("bigint") - F.col("pre_c")).cast("double")
            / (F.col("total_w") - F.col("pre_w")).cast("double"),
        )
        .withColumn(
            "valid",
            (F.col("prev_r").isNull() | (F.col("prev_r") <= F.col("lam")))
            & (F.col("lam") <= F.col("r")),
        )
    )
    level = cand.agg(
        F.min(F.when(F.col("valid"), F.col("lam"))).alias("lam_star")
    )
    out = (
        src.crossJoin(F.broadcast(level))
        .withColumn(
            "alloc",
            F.when(F.col("lam_star").isNull(), F.col("c").cast("double")).otherwise(
                F.least(
                    F.col("c").cast("double"),
                    F.col("lam_star") * F.col("w").cast("double"),
                )
            ),
        )
        .select(
            "source",
            F.col("w").alias("n_docs"),
            F.col("c").alias("chars_avail"),
            F.round("r", 6).alias("ratio"),
            F.round("alloc", 6).alias("alloc_chars"),
            (
                F.col("lam_star").isNull()
                | (F.col("lam_star") * F.col("w").cast("double") >= F.col("c").cast("double"))
            ).alias("at_cap"),
        )
        .orderBy("source")
    )
    return out


_WATERFILL_SQL = f"""
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS w,
         CAST(SUM(n_chars) AS BIGINT) AS c
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(w) AS BIGINT) AS total_w,
         CAST(SUM(c) AS BIGINT) AS total_c,
         CAST(SUM(c) AS BIGINT) // {_BUDGET_DEN} AS b
  FROM per_source
),
cand AS (
  SELECT s.source, s.w, s.c, t.total_w, t.b,
         CAST(s.c AS DOUBLE) / CAST(s.w AS DOUBLE) AS r,
         CAST(COALESCE(SUM(s.c) OVER (
             ORDER BY CAST(s.c AS DOUBLE) / CAST(s.w AS DOUBLE), s.source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre_c,
         CAST(COALESCE(SUM(s.w) OVER (
             ORDER BY CAST(s.c AS DOUBLE) / CAST(s.w AS DOUBLE), s.source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre_w,
         LAG(CAST(s.c AS DOUBLE) / CAST(s.w AS DOUBLE)) OVER (
             ORDER BY CAST(s.c AS DOUBLE) / CAST(s.w AS DOUBLE), s.source) AS prev_r
  FROM per_source s, tot t
),
lam AS (
  SELECT MIN(CASE WHEN (prev_r IS NULL OR prev_r <= l) AND l <= r THEN l END) AS lam_star
  FROM (
    SELECT r, prev_r,
           CAST(b - pre_c AS DOUBLE) / CAST(total_w - pre_w AS DOUBLE) AS l
    FROM cand
  )
)
SELECT s.source,
       s.w AS n_docs,
       s.c AS chars_avail,
       ROUND(CAST(s.c AS DOUBLE) / CAST(s.w AS DOUBLE), 6) AS ratio,
       ROUND(CASE WHEN m.lam_star IS NULL THEN CAST(s.c AS DOUBLE)
                  ELSE LEAST(CAST(s.c AS DOUBLE), m.lam_star * CAST(s.w AS DOUBLE))
             END, 6) AS alloc_chars,
       (m.lam_star IS NULL
        OR m.lam_star * CAST(s.w AS DOUBLE) >= CAST(s.c AS DOUBLE)) AS at_cap
FROM per_source s, lam m
ORDER BY s.source
"""


@query("mix_waterfill_chars", oracle=_WATERFILL_SQL, defer=True)
def mix_waterfill_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling char allocation across document sources: budget =
    half the total available chars, weights = per-source doc counts
    (proportional-to-docs target), caps = per-source char totals. One
    corpus groupBy + one #sources-row window; both engines compute the
    identical water level from exact integer prefix sums."""
    docs = tpch.load(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        F.sum("n_chars").cast("bigint").alias("c"),
    )
    budget = per_source.agg(
        F.expr(f"CAST(sum(c) AS BIGINT) DIV {_BUDGET_DEN}").alias("b")
    ).first()["b"]
    # an empty corpus has no sources and a NULL budget: allocate nothing
    return waterfill_allocations(per_source, budget or 0)

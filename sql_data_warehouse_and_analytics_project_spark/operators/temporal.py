"""Temporal join operators: as-of join, banded range join, interval join.

None exist in the reference (its only joins are equi joins, SURVEY
§2.3) and Spark has no native ASOF/RANGE JOIN — these are the canonical
custom operators a time-series consumer of the warehouse needs,
implemented as compositions of built-in DataFrame ops (SURVEY §7
custom-operator tier a; no Python UDFs):

- :func:`asof_join_backward` — for each left row, the latest right row with
  ``right_time <= left_time`` per key. NOT a join-then-rank (which would
  materialize every (left × matching-right) pair before pruning): both
  sides are tagged and unioned, sorted per key by time, and the match is
  ``last(payload, ignorenulls=True)`` over a running window — one shuffle
  on the key, state linear in rows, survives arbitrary key fan-in. The
  payload may be a LIST of right columns (carried as one struct through
  the same single window — matched timestamp + value ride together).
- :func:`range_band_join` — assign rows to bands from a (lo, hi) lookup via
  a broadcast theta join; the band table is tiny by definition, so the plan
  is scan → BroadcastNestedLoopJoin with the range predicate, no shuffle.
- :func:`interval_overlap_counts` — match point events to HALF-OPEN time
  intervals when BOTH sides are data-sized and there is NO equi key (the
  case range_band_join's broadcast cannot cover). Bucketing restores an
  equi key: quantize time into buckets of the interval length, explode
  each interval to the (exactly 2) buckets it covers, equi-join points on
  their single bucket, then apply the exact containment predicate. Every
  true (point, interval) pair meets in exactly one bucket — the point's —
  so no post-join dedup is needed; a hot bucket is ordinary join skew
  (AQE/salting), never a cartesian. Generalizes to intervals of length L
  with ceil(L/bucket)+1 explosion.

DuckDB speaks native ``ASOF JOIN`` and plain inequality joins, giving
all three operators true cross-engine oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tpch
from ..sources.local import local_frame

# temp columns the as-of / interval helpers splice in; input frames must
# not already carry them (silent wrong-column capture otherwise) and
# payload names must be plain identifiers (dots would be parsed as field
# paths by F.col — we use getField for extraction, but the guard keeps
# the contract explicit at the boundary).
_ASOF_TEMP_COLS = ("_k", "_t", "_p", "_is_r", "_pm", "_ndup")
_INTERVAL_TEMP_COLS = ("__bucket", "__start", "n_overlaps", "last_overlap_start")


def _check_reserved(df: DataFrame, reserved: tuple[str, ...], side: str) -> None:
    clash = [c for c in df.columns if c in reserved]
    if clash:
        raise ValueError(
            f"{side} frame carries reserved temp column(s) {clash}; rename "
            f"them before calling (reserved: {list(reserved)})"
        )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    payload: str | list[str],
    payload_alias: str | list[str] = "asof_value",
    inner: bool = True,
    assert_unique: bool = False,
) -> DataFrame:
    """Latest-right-at-or-before-left as-of join (see module docstring).

    At equal timestamps the right row wins (``ts >= right_time`` semantics):
    right rows sort before left rows within a tie so the running
    ``last(payload)`` already contains them when the left row is evaluated.
    ``payload``/``payload_alias`` may be parallel lists — all columns of
    the matched right row travel as one struct through the same single
    window (e.g. matched timestamp + value). The right side must be
    unique per (key, time); equal-time right duplicates would make the
    carried struct order-dependent — collapse them upstream
    (groupBy + max_by) or pass ``assert_unique=True`` to fail the job
    per-row (lazy ``raise_error`` on the first duplicate group, one
    extra right-side-only window — no extra action/scan)."""
    return _asof_join(
        left, right, left_on, right_on, left_time, right_time,
        payload, payload_alias, inner, forward=False,
        assert_unique=assert_unique,
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    payload: str | list[str],
    payload_alias: str | list[str] = "asof_value",
    inner: bool = True,
    assert_unique: bool = False,
) -> DataFrame:
    """Earliest-right-at-or-after-left as-of join — the forward mirror
    (``right_time >= left_time``; the equal-timestamp right row wins,
    matching DuckDB ``ASOF JOIN ... ON l.ts <= r.ts``). Same union-tag +
    one-window shape: the sequence is walked in DESCENDING time, so the
    carried payload is always the nearest future right row.
    ``assert_unique`` as in :func:`asof_join_backward`."""
    return _asof_join(
        left, right, left_on, right_on, left_time, right_time,
        payload, payload_alias, inner, forward=True,
        assert_unique=assert_unique,
    )


def _asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    payload: str | list[str],
    payload_alias: str | list[str],
    inner: bool,
    forward: bool,
    assert_unique: bool = False,
) -> DataFrame:
    payloads = [payload] if isinstance(payload, str) else list(payload)
    aliases = [payload_alias] if isinstance(payload_alias, str) else list(payload_alias)
    if len(aliases) != len(payloads):
        raise ValueError(
            f"{len(payloads)} payload columns but {len(aliases)} aliases"
        )
    _check_reserved(left, _ASOF_TEMP_COLS, "left")
    _check_reserved(right, _ASOF_TEMP_COLS, "right")
    r = right.select(
        F.col(right_on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.struct(*[F.col(p) for p in payloads]).alias("_p"),
        F.lit(1).alias("_is_r"),
    )
    if assert_unique:
        # lazy per-row guard (same pattern as the span-dedup ord guard,
        # dedup.py): a right-side-only count window over (_k, _t); wrapping
        # _t — which feeds the union window's sort — guarantees evaluation
        # for every right row, so the first duplicate group fails the job
        # instead of silently producing order-dependent payloads.
        wd = Window.partitionBy("_k", "_t")
        r = r.withColumn("_ndup", F.count(F.lit(1)).over(wd)).withColumn(
            "_t",
            F.when(F.col("_ndup") == 1, F.col("_t")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "asof_join: right side is not unique per "
                            f"({right_on}, {right_time}); duplicate key "
                        ),
                        F.col("_k").cast("string"),
                        F.lit(" at time "),
                        F.col("_t").cast("string"),
                        F.lit(" — collapse upstream (groupBy + max_by)"),
                    )
                ).cast(dict(r.dtypes)["_t"])
            ),
        ).drop("_ndup")
    l = (
        left.withColumn("_k", F.col(left_on))
        .withColumn("_t", F.col(left_time))
        .withColumn("_p", F.lit(None).cast(dict(r.dtypes)["_p"]))
        .withColumn("_is_r", F.lit(0))
    )
    u = l.unionByName(r, allowMissingColumns=True)
    t_ord = F.desc("_t") if forward else F.col("_t")
    w = (
        Window.partitionBy("_k")
        .orderBy(t_ord, F.desc("_is_r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = u.withColumn("_pm", F.last("_p", ignorenulls=True).over(w)).filter(
        F.col("_is_r") == 0
    )
    if inner:
        # on the struct itself, not a field: a matched row whose payload
        # FIELD is legitimately NULL must survive an inner as-of join
        out = out.filter(F.col("_pm").isNotNull())
    return out.select(
        "*", *[F.col("_pm").getField(p).alias(a) for p, a in zip(payloads, aliases)]
    ).drop("_k", "_t", "_p", "_is_r", "_pm")


_ASOF_SQL = """
SELECT e.event_id, e.user_id, CAST(o.o_orderdate AS DATE) AS last_orderdate
FROM events e
ASOF JOIN orders o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
ORDER BY e.event_id
"""


@query("temporal_asof_event_order", oracle=_ASOF_SQL, defer=True)
def temporal_asof_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event matched to the user's latest order at-or-before the event
    time — checked against DuckDB's native ASOF JOIN. Payload is the order
    *date* (not an order id) so max-date ties cannot make the oracle
    nondeterministic."""
    events = tpch.load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = tpch.load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", F.col("o_orderdate").cast("date").alias("o_date")
    )
    return (
        asof_join_backward(
            events, orders,
            left_on="user_id", right_on="o_custkey",
            left_time="ts", right_time="o_orderdate",
            payload="o_date", payload_alias="last_orderdate",
        )
        .select("event_id", "user_id", "last_orderdate")
        .orderBy("event_id")
    )


def range_band_join(
    rows: DataFrame, bands: DataFrame, value: Column, lo: str = "lo", hi: str = "hi"
) -> DataFrame:
    """Band assignment via broadcast theta join: ``lo <= value < hi``."""
    return rows.join(F.broadcast(bands), (value >= F.col(lo)) & (value < F.col(hi)))


PRICE_BANDS = [
    ("budget", 0.0, 10_000.0),
    ("standard", 10_000.0, 30_000.0),
    ("premium", 30_000.0, 60_000.0),
    ("luxury", 60_000.0, 1e12),
]

_BAND_SQL = """
WITH bands(band, lo, hi) AS (
    VALUES ('budget', 0.0, 10000.0), ('standard', 10000.0, 30000.0),
           ('premium', 30000.0, 60000.0), ('luxury', 60000.0, 1000000000000.0)
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
ORDER BY band
"""


@query("temporal_range_band_join", oracle=_BAND_SQL, defer=True)
def temporal_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem price banding through the broadcast range join."""
    li = tpch.load(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = local_frame(spark, PRICE_BANDS, "band string, lo double, hi double")
    return (
        range_band_join(li, bands, F.col("l_extendedprice"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
        .orderBy("band")
    )


_FP = 1_000_000  # value fixed-point scale shared with analytics_extras

_ASOF_CLICK_SQL = f"""
WITH clicks AS (
  SELECT user_id, ts,
         arg_max(CAST(FLOOR(value * {_FP}.0) AS BIGINT), event_id) AS c_fp
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
),
purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts,
       c.ts AS last_click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS micros_since_click,
       ROUND(CAST(c.c_fp AS DOUBLE) / {_FP}.0, 6) AS last_click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


@query("events_asof_last_click", oracle=_ASOF_CLICK_SQL)
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time attribution: each purchase joined AS-OF backward to
    the user's latest click at-or-before it — matched timestamp, exact
    elapsed epoch-micros (no ms truncation, no float division), and the
    click's value, all carried by ONE struct through the single
    key-partitioned window (multi-payload as-of). Clicks are collapsed
    to one row per (user, ts) first (max_by event_id) so ties cannot
    make either engine nondeterministic."""
    events = tpch.load(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "ts",
            F.floor(F.col("value") * F.lit(float(_FP))).cast("bigint").alias("v"),
            "event_id",
        )
        .groupBy("user_id", "ts")
        .agg(F.max_by("v", "event_id").alias("c_fp"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_backward(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="ts",
        payload=["ts", "c_fp"],
        payload_alias=["last_click_ts", "_c_fp"],
        inner=False,
        assert_unique=True,
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "last_click_ts",
        (F.unix_micros("ts") - F.unix_micros("last_click_ts")).alias(
            "micros_since_click"
        ),
        F.round(F.col("_c_fp").cast("double") / F.lit(float(_FP)), 6).alias(
            "last_click_value"
        ),
    ).orderBy("event_id")


def interval_overlap_counts(
    points: DataFrame,
    intervals: DataFrame,
    window_ms: int,
    point_ts: str = "ts",
    interval_start: str = "ts",
) -> DataFrame:
    """For each point row: how many half-open intervals
    ``[start, start + window_ms)`` contain it, and the latest such start.

    Bucketed big-big interval join — see the module docstring. Returns
    the points frame (all columns) + ``n_overlaps`` (bigint, 0 when
    none) + ``last_overlap_start`` (null when none).

    Point ROWS must be unique (carry a unique id column): the per-point
    rollup groups by all point columns, so two bit-identical point rows
    would merge and double-count their shared overlaps. Both registered
    queries carry ``event_id``; enforce the same upstream when reusing.
    (The rejoin is null-safe per point column, so NULLs in non-timestamp
    point columns are fine — they compare equal to themselves.)"""
    if window_ms <= 0:
        raise ValueError(f"window_ms must be positive, got {window_ms}")
    _check_reserved(points, _INTERVAL_TEMP_COLS, "points")
    _check_reserved(intervals, ("__bucket", "__start"), "intervals")
    p_cols = points.columns

    # bucketing quantizes to MILLISECONDS (cheap, and the 2-bucket explode
    # still covers µs-exact pairs: pt_ms lands in [start_ms, start_ms+W]
    # whenever start_us <= pt_us < start_us + W*1000), but the exact
    # containment predicate compares full µs precision — the events table
    # carries sub-ms timestamps and the oracle compares full timestamps,
    # so an ms-truncated predicate would misclassify same-ms boundary
    # pairs (ADVICE r14).
    def bucket(c: str) -> Column:
        return F.floor(F.unix_millis(F.col(c)) / F.lit(window_ms))

    iv = intervals.select(
        F.col(interval_start).alias("__start"),
        F.explode(
            F.array(bucket(interval_start), bucket(interval_start) + 1)
        ).alias("__bucket"),
    )
    pt = points.withColumn("__bucket", bucket(point_ts))
    hit = pt.join(iv, "__bucket").filter(
        (F.unix_micros(F.col(point_ts)) >= F.unix_micros("__start"))
        & (
            F.unix_micros(F.col(point_ts))
            < F.unix_micros("__start") + F.lit(window_ms * 1_000)
        )
    )
    # points whose bucket held no containing interval vanish from `hit`;
    # the null-safe left join back restores them with n_overlaps = 0
    agg = hit.groupBy(*[F.col(c) for c in p_cols]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
        F.max("__start").alias("last_overlap_start"),
    )
    p, a = points.alias("__p"), agg.alias("__a")
    cond = None
    for c in p_cols:
        eq = F.col(f"__p.{c}").eqNullSafe(F.col(f"__a.{c}"))
        cond = eq if cond is None else (cond & eq)
    return p.join(a, cond, "left").select(
        *[F.col(f"__p.{c}") for c in p_cols],
        F.coalesce("n_overlaps", F.lit(0)).cast("bigint").alias("n_overlaps"),
        "last_overlap_start",
    )


_INTERVAL_SQL = """
WITH errors AS (
  SELECT event_id AS err_id, ts AS err_ts FROM events WHERE event_type = 'error'
),
purchases AS (
  SELECT event_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.ts,
       CAST(COUNT(e.err_id) AS BIGINT) AS n_overlaps,
       MAX(e.err_ts) AS last_overlap_start
FROM purchases p
LEFT JOIN errors e
  ON p.ts >= e.err_ts AND p.ts < e.err_ts + INTERVAL 30 MINUTE
GROUP BY p.event_id, p.ts
ORDER BY p.event_id
"""


@query("events_error_window_join", oracle=_INTERVAL_SQL)
def events_error_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident attribution without an equi key: each purchase vs the
    half-open 30-minute windows opened by error events — overlap count
    and latest incident start, via the bucketed interval join (the
    DuckDB oracle runs the plain inequality join the bucketing
    replaces)."""
    events = tpch.load(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select("ts")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts"
    )
    return interval_overlap_counts(purchases, errors, window_ms=30 * 60 * 1000).orderBy(
        "event_id"
    )


_ASOF_NEXT_SQL = f"""
WITH clicks AS (
  SELECT user_id, ts,
         arg_max(CAST(FLOOR(value * {_FP}.0) AS BIGINT), event_id) AS c_fp
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
),
purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts,
       c.ts AS next_click_ts,
       epoch_us(c.ts) - epoch_us(p.ts) AS micros_to_click,
       ROUND(CAST(c.c_fp AS DOUBLE) / {_FP}.0, 6) AS next_click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
ORDER BY p.event_id
"""


@query("events_asof_next_click", oracle=_ASOF_NEXT_SQL, defer=True)
def events_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-purchase behavior: each purchase joined AS-OF forward to the
    user's earliest click at-or-after it — the reaction-time mirror of
    `events_asof_last_click`, checked against DuckDB's forward ASOF
    (``p.ts <= c.ts``)."""
    events = tpch.load(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "ts",
            F.floor(F.col("value") * F.lit(float(_FP))).cast("bigint").alias("v"),
            "event_id",
        )
        .groupBy("user_id", "ts")
        .agg(F.max_by("v", "event_id").alias("c_fp"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_forward(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="ts",
        payload=["ts", "c_fp"],
        payload_alias=["next_click_ts", "_c_fp"],
        inner=False,
        assert_unique=True,
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "next_click_ts",
        (F.unix_micros("next_click_ts") - F.unix_micros("ts")).alias(
            "micros_to_click"
        ),
        F.round(F.col("_c_fp").cast("double") / F.lit(float(_FP)), 6).alias(
            "next_click_value"
        ),
    ).orderBy("event_id")

"""Int8 scalar-quantization calibration for embedding columns.

Serving a 100 TB vector corpus at float32 is 4x the bytes it needs to
be: the standard first compression step (FAISS ScalarQuantizer, the
int8 path every vector DB ships) is per-dimension min/max calibration —
code = round((v - mn_d) / (mx_d - mn_d) * 255) — and the operational
question calibration answers is "what reconstruction error does int8
cost on MY corpus, per dimension?". This module computes the
calibration table and the error profile in two narrow passes; the PQ
family (pq.py) is the heavier 32x alternative, this is the cheap 4x
one, and the two compose (FAISS IVF-SQ8 shape).

Cross-engine discipline — everything integer, nothing order-sensitive:
values enter through the engine's established 1e7 fixed-point quantize
(similarity.quantize, exact in every engine), per-dim bounds are
integer MIN/MAX, the int8 code uses the integer round-half-up identity
round(a/b) = (2a + b) DIV (2b) (a, b >= 0), dequantization the same,
and the per-dim error aggregate sums BIGINT absolute errors — exact in
any partition order, no fold discipline needed (the same trick that
makes the bootstrap's weighted sums order-free). The only doubles are
the final display divisions, one fixed parenthesization in both
engines.

Scale shape: posexplode to (corpus x dim) narrow int rows, one
partial-aggregating groupBy(pos) for bounds (dim rows out), broadcast
those bounds back onto the exploded rows, one more partial-aggregating
groupBy(pos) for the error profile. Two shuffles of int rows, a
dim-sized broadcast, no windows, no joins wider than the dim table.
No reference counterpart (`/root/reference/` is T-SQL warehousing) —
vector-infrastructure extension; public textbook method.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tpch
from ..sources.local import write_local
from .similarity import _SCALE, quantize

_LEVELS = 255  # int8 code range 0..255


def _exploded(emb: DataFrame) -> DataFrame:
    """(vec_id, pos, qv) fixed-point exploded view of the embeddings."""
    return emb.select(
        "vec_id", F.posexplode(quantize(F.col("embedding"))).alias("pos", "qv")
    )


def _dim_bounds(emb: DataFrame) -> DataFrame:
    """(pos, mn, mx) integer per-dimension bounds — the calibration table."""
    return _exploded(emb).groupBy("pos").agg(
        F.min("qv").alias("mn"), F.max("qv").alias("mx")
    )


def _idiv(a, b):
    """Exact floor division of two NON-NEGATIVE integer columns within
    2^53: strip the remainder (integer-exact), then the double division
    of an exact multiple is correctly rounded to the exact quotient."""
    return ((a - a % b) / b).cast("bigint")


def quant_calibration(emb: DataFrame, levels: int = _LEVELS) -> DataFrame:
    """Per-dimension int8 calibration + reconstruction-error profile of
    an embeddings frame (vec_id, embedding array<float>): one row per
    dimension — (pos, n_rows, mn_val, mx_val, mean_abs_err, max_abs_err),
    ordered by pos. Errors are measured in the original value scale
    against the round-trip code -> dequantized value; a constant
    dimension (mx = mn) codes to 0 with zero error."""
    expl = _exploded(emb)
    dims = _dim_bounds(emb)
    lv = int(levels)
    joined = (
        expl.join(F.broadcast(dims), "pos")
        .withColumn("rng", F.col("mx") - F.col("mn"))
        .withColumn(
            "code",
            F.when(F.col("rng") == 0, F.lit(0).cast("bigint")).otherwise(
                F.expr(f"(2 * {lv} * (qv - mn) + rng) DIV (2 * rng)")
            ),
        )
        .withColumn(
            "deq", F.expr(f"mn + (2 * code * rng + {lv}) DIV (2 * {lv})")
        )
        .withColumn("err", F.abs(F.col("qv") - F.col("deq")))
    )
    scale = float(_SCALE)
    return (
        joined.groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("mn").alias("mn_i"),
            F.min("mx").alias("mx_i"),
            F.sum("err").cast("bigint").alias("sum_err"),
            F.max("err").cast("bigint").alias("max_err"),
        )
        .select(
            "pos",
            "n_rows",
            F.round(F.col("mn_i").cast("double") / F.lit(scale), 6).alias("mn_val"),
            F.round(F.col("mx_i").cast("double") / F.lit(scale), 6).alias("mx_val"),
            F.round(
                F.col("sum_err").cast("double")
                / (F.col("n_rows").cast("double") * F.lit(scale)),
                6,
            ).alias("mean_abs_err"),
            F.round(F.col("max_err").cast("double") / F.lit(scale), 6).alias(
                "max_abs_err"
            ),
        )
        .orderBy("pos")
    )


_QUANT_CAL_SQL = f"""
WITH quant AS (
  SELECT vec_id, [CAST(FLOOR(CAST(x AS DOUBLE) * {_SCALE!r}) AS BIGINT) FOR x IN embedding] AS q
  FROM embeddings
),
expl AS (
  SELECT vec_id, UNNEST(range(len(q))) AS pos, UNNEST(q) AS qv FROM quant
),
dims AS (
  SELECT pos, MIN(qv) AS mn, MAX(qv) AS mx FROM expl GROUP BY pos
),
coded AS (
  SELECT e.pos, e.qv, d.mn, d.mx, d.mx - d.mn AS rng,
         CASE WHEN d.mx - d.mn = 0 THEN 0
              ELSE (2 * {_LEVELS} * (e.qv - d.mn) + (d.mx - d.mn)) // (2 * (d.mx - d.mn))
         END AS code
  FROM expl e JOIN dims d USING (pos)
),
errs AS (
  SELECT pos, qv, mn, mx,
         ABS(qv - (mn + (2 * code * rng + {_LEVELS}) // (2 * {_LEVELS}))) AS err
  FROM coded
)
SELECT pos,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(MIN(mn) AS DOUBLE) / {_SCALE!r}, 6) AS mn_val,
       ROUND(CAST(MIN(mx) AS DOUBLE) / {_SCALE!r}, 6) AS mx_val,
       ROUND(CAST(CAST(SUM(err) AS BIGINT) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * {_SCALE!r}), 6) AS mean_abs_err,
       ROUND(CAST(MAX(err) AS DOUBLE) / {_SCALE!r}, 6) AS max_abs_err
FROM errs
GROUP BY pos
ORDER BY pos
"""


@query("embed_quant_calibrate", oracle=_QUANT_CAL_SQL, defer=True)
def embed_quant_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 min/max calibration table + per-dimension reconstruction-error
    profile over the embeddings corpus — integer-exact end to end, so
    DuckDB replays codes, dequantization, and error sums bit-for-bit."""
    return quant_calibration(tpch.load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# SQ8 ANN: asymmetric search over int8 codes (FAISS ScalarQuantizer shape) —
# the 4x companion to pq.py's 32x ADC, and the IVF-SQ8 composed index.
# ---------------------------------------------------------------------------


def sq_encode(
    emb: DataFrame, mn: list[int], rng: list[int], extra: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, label, scode array<bigint>, *extra) int8 codes of every
    vector under a FIXED calibration (mn, rng per dimension, fixed-point
    ints). Out-of-range values — routine when appending drifted batches
    against a stored calibration — are clamped to the calibrated interval
    BEFORE coding, so codes always land in [0, 255]."""
    mn_l = F.array(*[F.lit(int(v)) for v in mn])
    rng_l = F.array(*[F.lit(int(v)) for v in rng])

    def _code(x, i):
        m = F.element_at(mn_l, i + 1)
        r = F.element_at(rng_l, i + 1)
        xc = F.least(m + r, F.greatest(m, x))
        return F.when(r == 0, F.lit(0).cast("bigint")).otherwise(
            _idiv(F.lit(2 * _LEVELS) * (xc - m) + r, F.lit(2) * r)
        )

    return emb.select(
        "vec_id",
        "label",
        F.transform(quantize(F.col("embedding")), _code).alias("scode"),
        *extra,
    )


def sq_adc_topk(
    encoded: DataFrame, query_q: list[int], mn: list[int], rng: list[int], k: int = 10
) -> DataFrame:
    """Asymmetric top-k over SQ8 codes: dequantize each stored code back
    to fixed-point (round-half integer identity), squared-L2 against the
    EXACT quantized query, ascending, ties to the lowest vec_id. Every
    distance is int64 — bit-identical in any engine. TakeOrderedAndProject
    cut (no global sort)."""
    mn_l = F.array(*[F.lit(int(v)) for v in mn])
    rng_l = F.array(*[F.lit(int(v)) for v in rng])
    q_l = F.array(*[F.lit(int(v)) for v in query_q])

    def _sq(c, i):
        m = F.element_at(mn_l, i + 1)
        r = F.element_at(rng_l, i + 1)
        deq = m + _idiv(F.lit(2) * c * r + F.lit(_LEVELS), F.lit(2 * _LEVELS))
        d = deq - F.element_at(q_l, i + 1)
        return d * d

    adist = F.aggregate(
        F.transform(F.col("scode"), _sq),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        encoded.select("vec_id", "label", adist.alias("adist"))
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(k)
    )


def build_ivfsq_index(
    emb: DataFrame, path: str, n_lists: int | None = None, iters: int = 2
) -> None:
    """The composed scale layout (FAISS IVF-SQ8 shape): train the IVF
    coarse quantizer (similarity.py k-means), calibrate SQ8 bounds on the
    same corpus, store the int8 codes PARTITIONED BY the coarse cell —
    ``<path>/codes/list_id=N/`` — plus KB ``centroids``, ``calib`` and
    per-list ``stats`` sidecars. A probe prunes to ~n_probes/n_lists of
    the files AND each row is ~4x smaller than raw float32: the two
    reductions multiply (pq.py's IVF-PQ is the 32x sibling; SQ8 trades
    bytes for zero codebook-training cost and near-lossless recall). Raw
    vectors stay in the source table for exact re-rank by id."""
    from .similarity import _assigned_frame, train_ivf_centroids, write_centroids

    spark = emb.sparkSession
    centroids = train_ivf_centroids(emb, n_lists=n_lists, iters=iters)
    bounds = sorted(
        (r["pos"], int(r["mn"]), int(r["mx"])) for r in _dim_bounds(emb).collect()
    )
    if not centroids or not bounds:
        centroids = bounds = []
    write_centroids(spark, centroids, path)
    calib = [(p, m, x - m) for p, m, x in bounds]
    write_local(spark, calib, "pos int, mn bigint, rng bigint", f"{path}/calib")
    if not centroids:
        codes_ddl = "vec_id bigint, label int, scode array<bigint>, list_id int"
        write_local(spark, [], codes_ddl, f"{path}/codes")
        write_local(spark, [], "list_id int, n_trained bigint", f"{path}/stats")
        return
    mn = [b[1] for b in bounds]
    rng = [b[2] - b[1] for b in bounds]
    assigned = _assigned_frame(emb, centroids)
    sq_encode(assigned, mn, rng, extra=("list_id",)).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(f"{path}/codes")
    spark.read.parquet(f"{path}/codes").groupBy("list_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trained")
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def load_sq_calib(spark: SparkSession, path: str) -> tuple[list[int], list[int]]:
    """(mn, rng) lists in pos order from a stored ``calib`` sidecar."""
    rows = spark.read.parquet(f"{path}/calib").orderBy("pos").collect()
    return [int(r["mn"]) for r in rows], [int(r["rng"]) for r in rows]


def append_ivfsq_index(emb: DataFrame, path: str) -> None:
    """Ingest new vectors without retraining: assign cells against the
    STORED centroids, encode against the STORED calibration (values
    outside it clamp — the calibration drifts as the distribution moves;
    audit with similarity.ivf_index_staleness(..., table='codes') and
    rebuild when growth skews)."""
    from .similarity import _assigned_frame, _stored_centroids

    centroids = _stored_centroids(emb.sparkSession, path)
    mn, rng = load_sq_calib(emb.sparkSession, path)
    if not centroids or not mn:
        raise ValueError(
            f"IVF-SQ index at {path!r} has no trained models; build_ivfsq_index "
            "on a non-empty corpus before appending"
        )
    assigned = _assigned_frame(emb, centroids)
    sq_encode(assigned, mn, rng, extra=("list_id",)).write.mode("append").partitionBy(
        "list_id"
    ).parquet(f"{path}/codes")
    # append-after-delete is lossless (tombstones.py module note)
    from . import tombstones

    tombstones.unmask_ids(emb.sparkSession, path, emb.select("vec_id"), "vec_id")


def ivfsq_search(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 3,
) -> DataFrame:
    """Probe the ``n_probes`` nearest coarse cells (driver-side argsort of
    the KB centroid table), then SQ-decode-and-score ONLY the probed
    partitions — the scan carries a ``list_id IN (probes)`` partition
    filter and reads nothing but the code column."""
    import math

    cents = spark.read.parquet(f"{path}/centroids").collect()
    codes = spark.read.parquet(f"{path}/codes")
    if not cents:
        return codes.select(
            "vec_id", "label", F.lit(None).cast("bigint").alias("adist")
        ).limit(0)
    mn, rng = load_sq_calib(spark, path)
    qd = [float(x) for x in query_vec]
    by_dist = sorted(
        cents,
        key=lambda r: (sum((a - b) ** 2 for a, b in zip(r["centroid"], qd)), r["list_id"]),
    )
    from . import tombstones

    probes = [r["list_id"] for r in by_dist[:n_probes]]
    query_q = [math.floor(x * _SCALE) for x in qd]
    probed = tombstones.mask(
        codes.filter(F.col("list_id").isin(probes)), spark, path, "vec_id"
    )
    return sq_adc_topk(probed.select("vec_id", "label", "scode"), query_q, mn, rng, k=k)


_ANN_SQ_SQL = f"""
WITH quant AS (
  SELECT vec_id, label,
         [CAST(FLOOR(CAST(x AS DOUBLE) * {_SCALE!r}) AS BIGINT) FOR x IN embedding] AS q
  FROM embeddings
),
expl AS (
  SELECT vec_id, UNNEST(range(len(q))) AS pos, UNNEST(q) AS qv FROM quant
),
dims AS (
  SELECT pos, MIN(qv) AS mn, MAX(qv) AS mx FROM expl GROUP BY pos
),
deq AS (
  SELECT e.vec_id, e.pos,
         d.mn + CASE WHEN d.mx - d.mn = 0 THEN 0
                     ELSE (2 * ((2 * {_LEVELS} * (LEAST(d.mx, GREATEST(d.mn, e.qv)) - d.mn)
                                 + (d.mx - d.mn)) // (2 * (d.mx - d.mn)))
                          * (d.mx - d.mn) + {_LEVELS}) // (2 * {_LEVELS})
                END AS dq
  FROM expl e JOIN dims d USING (pos)
),
qv AS (SELECT pos, qv FROM expl WHERE vec_id = 0),
scored AS (
  SELECT d.vec_id, CAST(SUM((d.dq - q.qv) * (d.dq - q.qv)) AS BIGINT) AS adist
  FROM deq d JOIN qv q USING (pos)
  WHERE d.vec_id <> 0
  GROUP BY d.vec_id
)
SELECT s.vec_id, e.label, s.adist
FROM scored s JOIN embeddings e USING (vec_id)
ORDER BY s.adist, s.vec_id
LIMIT 10
"""


@query("ann_sq_topk", oracle=_ANN_SQ_SQL, headline=True, defer=True)
def ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat SQ8 ANN: calibrate per-dim int8 bounds on the corpus, encode,
    asymmetric squared-L2 against the exact quantized query (vec_id 0),
    top-10 ascending — integer-exact end to end, so DuckDB replays
    calibration, coding, dequantization, and the scored scan exactly."""
    emb = tpch.load(spark, sf_dir, "embeddings")
    bounds = sorted(
        (r["pos"], int(r["mn"]), int(r["mx"])) for r in _dim_bounds(emb).collect()
    )
    mn = [b[1] for b in bounds]
    rng = [b[2] - b[1] for b in bounds]
    from .similarity import _SCALE as _S  # noqa: F401  (doc anchor)
    import math

    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    query_q = [math.floor(float(x) * _SCALE) for x in qrow[0]["embedding"]]
    encoded = sq_encode(emb.filter(F.col("vec_id") != 0), mn, rng)
    return sq_adc_topk(encoded, query_q, mn, rng, k=10)


def sq_search_rerank(
    emb: DataFrame,
    encoded: DataFrame,
    query_q: list[int],
    mn: list[int],
    rng: list[int],
    k: int = 10,
    shortlist: int = 100,
) -> DataFrame:
    """SQ8 shortlist → EXACT re-rank (the production search shape, same as
    pq.pq_search_rerank): the int8 scan nominates ``shortlist``
    candidates; raw vectors are fetched for those ids only (broadcast
    semi-join) and re-ranked by exact fixed-point int64 L2. On tightly
    clustered corpora the global-range int8 step is coarse relative to
    within-cluster distances, so the code-domain order inside the
    shortlist is approximate — the exact stage restores it."""
    from .pq import _quantized, _sqdist_q

    cand = sq_adc_topk(encoded, query_q, mn, rng, k=shortlist).select("vec_id")
    qcol = F.array(*[F.lit(int(x)) for x in query_q])
    exact = (
        _quantized(emb)
        .join(F.broadcast(cand), "vec_id", "semi")
        .select("vec_id", "label", _sqdist_q(F.col("q"), qcol).alias("dist"))
    )
    return exact.orderBy(F.asc("dist"), F.asc("vec_id")).limit(k)

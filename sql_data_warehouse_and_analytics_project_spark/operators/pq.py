"""Product quantization (PQ) for approximate nearest neighbor at scale.

The compression half of the 100 TB ANN story (IVF in ``similarity.py`` is
the pruning half): each dim-64 vector is split into ``M=8`` contiguous
subspaces of 8 dims, every subspace is vector-quantized against its own
``K=16``-codeword codebook, and the vector is stored as 8 small codes —
~8 bytes instead of 256 (float32·64), a 32× reduction that lets a
1000-executor cluster hold the whole scan set in memory. Query-time scoring
is ADC (asymmetric distance computation): ONE driver-side ``M×K`` lookup
table of exact subspace distances from the query, inlined as a literal, and
the scan reduces to ``sum(LUT[m][code[m]])`` per row — a pure projection
over the narrow code column feeding ``TakeOrderedAndProject``; no shuffle,
no join, no vector payload read (plan-pinned in tests/test_pq.py).

Cross-engine determinism (same discipline as the IVF oracle,
``similarity.py``): vectors are quantized to int64 fixed-point first, so
every subspace distance is an EXACT integer sum; codebook training is one
deterministic Lloyd step from the sub-vectors of the K lowest vec_ids
(seed choice and the FLOOR(mean) update are both SQL-expressible), with
argmin ties broken to the lowest code in both engines. DuckDB replays
training, encoding, the LUT, and the ADC scan bit-for-bit — the
``ann_pq_topk`` oracle below is the full pipeline in SQL.

ADC ranks by a lossy distance, so production searches re-rank: take an ADC
shortlist (cheap, compressed-domain) and recompute EXACT distances for
those few ids only (:func:`pq_search_rerank`) — raw vectors are fetched by
a broadcast semi-join on the shortlist, never scanned.

Scale notes (100 TB): training touches one deterministic K-row seed sample
plus one explode→groupBy over (m, code, pos) — partial-aggregated, ~M·K·dsub
output rows; encoding is a shuffle-free projection (the codebook is a KB
literal); the persisted index (:func:`build_pq_index`) stores only the
narrow (vec_id, label, codes) table plus the KB codebook, so the query-time
scan reads ~1/32 of the raw bytes and prunes to the code column via
ReadSchema.

ref: beyond the reference surface (north-star training-data extension);
the quantization/ADC design follows Jégou et al., "Product Quantization
for Nearest Neighbor Search" (TPAMI 2011), re-expressed as DataFrame ops.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tpch
from ..sources.local import write_local
from .similarity import quantize

_PQ_M = 8  # subspaces
_PQ_K = 16  # codewords per subspace
_PQ_DSUB = 8  # dims per subspace (M · DSUB = embedding dim 64)


def _sqdist_q(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 between two quantized (array<bigint>) vectors.
    |diff| ≤ ~2·|v|max·1e7 per slot keeps the 8-slot sum far below 2^63."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _sub_slices(q: Column, m_subs: int, dsub: int) -> list[Column]:
    """The m-th contiguous sub-vector of a quantized vector, for each m."""
    return [F.slice(q, m * dsub + 1, dsub) for m in range(m_subs)]


def _codebook_literal(codebook: list[list[int]]) -> Column:
    """One subspace's K×dsub codebook as a literal array-of-arrays."""
    return F.array(*[F.array(*[F.lit(int(v)) for v in cw]) for cw in codebook])


def _assign_code(sub: Column, codebook: list[list[int]]) -> Column:
    """0-based nearest-codeword id as a pure projection; ties go to the
    LOWEST code (array_position finds the first match), matching the
    oracle's ROW_NUMBER ORDER BY d, code."""
    dists = F.transform(_codebook_literal(codebook), lambda c: _sqdist_q(c, sub))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _quantized(emb: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    return emb.select(
        "vec_id", "label", *extra, quantize(F.col("embedding")).alias("q")
    )


def train_pq_codebooks(
    emb: DataFrame, m_subs: int = _PQ_M, k: int = _PQ_K, dsub: int = _PQ_DSUB
) -> list[list[list[int]]]:
    """``codebooks[m][code] = dsub int64 values`` — one deterministic Lloyd
    step per subspace, entirely SQL-replayable:

    - seeds: the sub-vectors of the ``k`` LOWEST vec_ids (code = rank of
      the vec_id among them) — order-independent and engine-portable, unlike
      an RNG draw;
    - assign: exact-int argmin against the seed codewords (literal
      projection, no join);
    - update: ``FLOOR(SUM(val)/COUNT)`` per (m, code, pos) — the same
      integer-centroid discipline as the IVF oracle; a codeword that
      attracts no members keeps its seed.

    The refined codebook is what :func:`pq_encode` quantizes against.
    Driver traffic is the K seed rows plus the M·K·dsub update frame — KBs,
    standard for model state."""
    normed = _quantized(emb)
    seed_rows = normed.orderBy("vec_id").limit(k).collect()
    if not seed_rows:
        return []
    seeds = [
        [[int(v) for v in r["q"][m * dsub : (m + 1) * dsub]] for r in seed_rows]
        for m in range(m_subs)
    ]
    # degenerate tiny inputs: pad by repetition so every code id exists
    for m in range(m_subs):
        while len(seeds[m]) < k:
            seeds[m].append(seeds[m][len(seeds[m]) % len(seed_rows)])

    # one explode to (vec_id, m, sub), literal-projection assignment, one
    # partial-aggregated groupBy for the FLOOR(mean) update
    sub = normed.select(
        "vec_id", F.posexplode(F.array(*_sub_slices(F.col("q"), m_subs, dsub))).alias("m", "sub")
    )
    cb_lit = F.array(*[_codebook_literal(seeds[m]) for m in range(m_subs)])
    assigned = sub.withColumn(
        "code",
        (
            F.array_position(
                F.transform(
                    F.element_at(cb_lit, F.col("m") + 1),
                    lambda c: _sqdist_q(c, F.col("sub")),
                ),
                F.array_min(
                    F.transform(
                        F.element_at(cb_lit, F.col("m") + 1),
                        lambda c: _sqdist_q(c, F.col("sub")),
                    )
                ),
            )
            - 1
        ).cast("int"),
    )
    upd = (
        assigned.select("m", "code", F.posexplode("sub").alias("pos", "val"))
        .groupBy("m", "code", "pos")
        .agg(
            F.floor(F.sum("val").cast("double") / F.count(F.lit(1)).cast("double"))
            .cast("bigint")
            .alias("cval")
        )
        .groupBy("m", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select("m", "code", F.transform("pairs", lambda s: s.cval).alias("cw"))
        .collect()
    )
    refined = {(r["m"], r["code"]): [int(v) for v in r["cw"]] for r in upd}
    return [
        [refined.get((m, c), seeds[m][c]) for c in range(k)] for m in range(m_subs)
    ]


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[int]]],
    dsub: int = _PQ_DSUB,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, label, *extra, codes array<int>) — the compressed
    representation. Pure shuffle-free projection: the codebook is a KB
    literal, each code an exact-int argmin over one sub-slice. ``extra``
    carries pass-through columns (the IVF-PQ layout threads ``list_id``)."""
    normed = _quantized(emb, extra)
    subs = _sub_slices(F.col("q"), len(codebooks), dsub)
    codes = F.array(*[_assign_code(subs[m], codebooks[m]) for m in range(len(codebooks))])
    return normed.select("vec_id", "label", *extra, codes.alias("codes"))


def _adc_lut(query_q: list[int], codebooks: list[list[list[int]]], dsub: int) -> list[list[int]]:
    """LUT[m][code] = exact int64 squared L2 between the query's m-th
    sub-vector and that codeword — M·K ints computed driver-side."""
    return [
        [
            sum((int(query_q[m * dsub + i]) - int(cw[i])) ** 2 for i in range(dsub))
            for cw in codebooks[m]
        ]
        for m in range(len(codebooks))
    ]


def adc_score(codes: Column, lut: list[list[int]]) -> Column:
    """sum over m of LUT[m][code[m]] — the ADC approximate distance as an
    unrolled chain of literal-array lookups (stays in whole-stage codegen)."""
    terms = [
        F.element_at(
            F.array(*[F.lit(int(d)) for d in lut[m]]),
            F.element_at(codes, m + 1) + 1,
        )
        for m in range(len(lut))
    ]
    return reduce(lambda a, b: a + b, terms).cast("bigint")


def pq_adc_topk(
    encoded: DataFrame,
    query_q: list[int],
    codebooks: list[list[list[int]]],
    k: int = 10,
    dsub: int = _PQ_DSUB,
) -> DataFrame:
    """Top-k by ADC distance over the compressed table: scan codes, project
    the LUT sum, TakeOrderedAndProject — no shuffle, no vector bytes."""
    lut = _adc_lut(query_q, codebooks, dsub)
    return (
        encoded.select("vec_id", "label", adc_score(F.col("codes"), lut).alias("adist"))
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(k)
    )


def pq_search_rerank(
    emb: DataFrame,
    encoded: DataFrame,
    query_q: list[int],
    codebooks: list[list[list[int]]],
    k: int = 10,
    shortlist: int = 100,
    dsub: int = _PQ_DSUB,
) -> DataFrame:
    """ADC shortlist → EXACT re-rank: the production PQ search shape. The
    compressed scan nominates ``shortlist`` candidates; raw vectors are
    fetched for those ids only (broadcast semi-join — the full table is
    never scanned in the exact domain) and re-ranked by exact int64 L2."""
    cand = pq_adc_topk(encoded, query_q, codebooks, k=shortlist, dsub=dsub).select("vec_id")
    qcol = F.array(*[F.lit(int(x)) for x in query_q])
    exact = (
        _quantized(emb)
        .join(F.broadcast(cand), "vec_id", "semi")
        .select("vec_id", "label", _sqdist_q(F.col("q"), qcol).alias("dist"))
    )
    return exact.orderBy(F.asc("dist"), F.asc("vec_id")).limit(k)


def build_pq_index(emb: DataFrame, path: str, m_subs: int = _PQ_M, k: int = _PQ_K) -> None:
    """Persist the compressed search surface: the narrow code table at
    ``<path>/codes`` and the KB codebook at ``<path>/codebook`` — raw
    vectors stay wherever they live (re-rank fetches them by id). The code
    table is what a 100 TB scan touches: ~1/32 of the raw bytes."""
    codebooks = train_pq_codebooks(emb, m_subs=m_subs, k=k)
    spark = emb.sparkSession
    _write_codebook(spark, codebooks, path)
    if not codebooks:
        write_local(spark, [], "vec_id int, label int, codes array<int>", f"{path}/codes")
        return
    pq_encode(emb, codebooks).write.mode("overwrite").parquet(f"{path}/codes")


def _write_codebook(spark: SparkSession, codebooks: list, path: str) -> None:
    rows = [
        (m, c, [int(v) for v in codebooks[m][c]])
        for m in range(len(codebooks))
        for c in range(len(codebooks[m]))
    ]
    write_local(spark, rows, "m int, code int, cw array<bigint>", f"{path}/codebook")


def load_pq_codebooks(spark: SparkSession, path: str) -> list[list[list[int]]]:
    rows = spark.read.parquet(f"{path}/codebook").orderBy("m", "code").collect()
    if not rows:
        return []
    m_subs = max(r["m"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    out: list[list[list[int]]] = [[[] for _ in range(k)] for _ in range(m_subs)]
    for r in rows:
        out[r["m"]][r["code"]] = [int(v) for v in r["cw"]]
    return out


def pq_search(
    spark: SparkSession, path: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Top-k ADC search over a persisted index: read the code table, inline
    the query LUT, TakeOrderedAndProject. ``query_vec`` is a raw float
    vector; it is fixed-point-quantized exactly like the corpus was."""
    import math

    from . import tombstones

    codebooks = load_pq_codebooks(spark, path)
    encoded = tombstones.mask(
        spark.read.parquet(f"{path}/codes"), spark, path, "vec_id"
    )
    if not codebooks:
        return encoded.select("vec_id", "label", F.lit(None).cast("bigint").alias("adist"))
    query_q = [math.floor(float(x) * 10_000_000.0) for x in query_vec]
    return pq_adc_topk(encoded, query_q, codebooks, k=k)


# ---------------------------------------------------------------------------
# IVF-PQ: the composed 100 TB layout — codes partitioned by coarse cell
# ---------------------------------------------------------------------------


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    n_lists: int | None = None,
    m_subs: int = _PQ_M,
    k: int = _PQ_K,
    iters: int = 2,
) -> None:
    """The composed scale layout (FAISS's IVFPQ shape, re-expressed as a
    table design): train the IVF coarse quantizer (``similarity.py``
    k-means) AND the PQ codebooks, then store the 8-byte codes PARTITIONED
    BY the coarse cell — ``<path>/codes/list_id=N/`` — plus the KB
    ``centroids``, ``codebook``, and per-list ``stats`` sidecars. A probe
    then prunes to ~n_probes/n_lists of the files AND each file holds only
    ~1/32 of the raw bytes: the two reductions multiply, which is what
    makes exhaustive-quality ANN affordable at 100 TB. Raw vectors stay in
    the source table; re-rank fetches them by id (broadcast semi-join).

    Training order matters for determinism only in that both models train
    on the SAME input frame; they are independent (codes quantize the
    vector itself, not the residual — residual PQ would couple them and
    break the engine-exact integer replay)."""
    from .similarity import _assigned_frame, train_ivf_centroids, write_centroids

    centroids = train_ivf_centroids(emb, n_lists=n_lists, iters=iters)
    codebooks = train_pq_codebooks(emb, m_subs=m_subs, k=k)
    spark = emb.sparkSession
    if not centroids or not codebooks:
        centroids = codebooks = []
    write_centroids(spark, centroids, path)
    _write_codebook(spark, codebooks, path)
    if not centroids:
        codes_ddl = "vec_id int, label int, codes array<int>, list_id int"
        write_local(spark, [], codes_ddl, f"{path}/codes")
        write_local(spark, [], "list_id int, n_trained bigint", f"{path}/stats")
        return
    assigned = _assigned_frame(emb, centroids)
    codes = pq_encode(assigned, codebooks, extra=("list_id",))
    codes.write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/codes")
    spark.read.parquet(f"{path}/codes").groupBy("list_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trained")
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def append_ivfpq_index(emb: DataFrame, path: str) -> None:
    """Ingest new vectors without retraining either model: assign the
    coarse cell against the STORED centroids, encode against the STORED
    codebook, partition-append under ``codes/list_id=N/`` — per-ingest cost
    is O(batch) projection work. Both stored models drift as the ingest
    distribution moves; audit with
    ``similarity.ivf_index_staleness(spark, path, table="codes")`` and
    rebuild when per-list growth skews."""
    from .similarity import _assigned_frame, _stored_centroids

    centroids = _stored_centroids(emb.sparkSession, path)
    codebooks = load_pq_codebooks(emb.sparkSession, path)
    if not centroids or not codebooks:
        raise ValueError(
            f"IVF-PQ index at {path!r} has no trained models; build_ivfpq_index "
            "on a non-empty corpus before appending"
        )
    assigned = _assigned_frame(emb, centroids)
    pq_encode(assigned, codebooks, extra=("list_id",)).write.mode(
        "append"
    ).partitionBy("list_id").parquet(f"{path}/codes")
    # append-after-delete is lossless (tombstones.py module note)
    from . import tombstones

    tombstones.unmask_ids(emb.sparkSession, path, emb.select("vec_id"), "vec_id")


def ivfpq_search(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 3,
) -> DataFrame:
    """Probe the ``n_probes`` nearest coarse cells (driver-side argsort of
    the KB centroid table), then ADC-scan ONLY the probed partitions: the
    scan carries a ``list_id IN (probes)`` partition filter (plan-pinned)
    and reads nothing but the code column. Top-k ascending by the exact
    integer ADC distance, ties to the lowest vec_id."""
    import math

    cents = spark.read.parquet(f"{path}/centroids").collect()
    codebooks = load_pq_codebooks(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    if not cents or not codebooks:
        return codes.select(
            "vec_id", "label", F.lit(None).cast("bigint").alias("adist")
        ).limit(0)
    qd = [float(x) for x in query_vec]
    by_dist = sorted(
        cents, key=lambda r: (sum((a - b) ** 2 for a, b in zip(r["centroid"], qd)), r["list_id"])
    )
    from . import tombstones

    probes = [r["list_id"] for r in by_dist[:n_probes]]
    query_q = [math.floor(x * 10_000_000.0) for x in qd]
    probed = tombstones.mask(
        codes.filter(F.col("list_id").isin(probes)), spark, path, "vec_id"
    )
    return pq_adc_topk(probed.select("vec_id", "label", "codes"), query_q, codebooks, k=k)


_ANN_PQ_SQL = """
WITH quant AS (
  SELECT vec_id, label,
         [CAST(FLOOR(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT) FOR x IN embedding] AS q
  FROM embeddings
),
sub AS (
  SELECT vec_id, m, q[m*8+1 : m*8+8] AS sub
  FROM quant, (SELECT UNNEST(range(8)) AS m) ms
),
seed_ids AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
  FROM (SELECT vec_id FROM quant ORDER BY vec_id LIMIT 16)
),
seeds AS (
  SELECT s.m, si.code, s.sub FROM sub s JOIN seed_ids si USING (vec_id)
),
cand1 AS (
  SELECT v.vec_id, v.m, s.code,
         CAST(list_sum([(v.sub[i+1]-s.sub[i+1])*(v.sub[i+1]-s.sub[i+1]) FOR i IN range(8)]) AS BIGINT) AS d
  FROM sub v JOIN seeds s ON v.m = s.m
),
assign1 AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
    FROM cand1) WHERE rn = 1
),
subpos AS (
  SELECT vec_id, m, UNNEST(range(8)) AS pos, UNNEST(sub) AS val FROM sub
),
upd AS (
  SELECT a.m, a.code, sp.pos,
         CAST(FLOOR(CAST(SUM(sp.val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cval
  FROM assign1 a JOIN subpos sp ON a.vec_id = sp.vec_id AND a.m = sp.m
  GROUP BY a.m, a.code, sp.pos
),
updlist AS (SELECT m, code, list(cval ORDER BY pos) AS cw FROM upd GROUP BY m, code),
codebook AS (
  SELECT s.m, s.code, COALESCE(u.cw, s.sub) AS cw
  FROM seeds s LEFT JOIN updlist u ON s.m = u.m AND s.code = u.code
),
cand2 AS (
  SELECT v.vec_id, v.m, c.code,
         CAST(list_sum([(v.sub[i+1]-c.cw[i+1])*(v.sub[i+1]-c.cw[i+1]) FOR i IN range(8)]) AS BIGINT) AS d
  FROM sub v JOIN codebook c ON v.m = c.m
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
    FROM cand2) WHERE rn = 1
),
qsub AS (SELECT m, sub FROM sub WHERE vec_id = 0),
lut AS (
  SELECT c.m, c.code,
         CAST(list_sum([(qs.sub[i+1]-c.cw[i+1])*(qs.sub[i+1]-c.cw[i+1]) FOR i IN range(8)]) AS BIGINT) AS adist
  FROM codebook c JOIN qsub qs ON c.m = qs.m
),
scored AS (
  SELECT cd.vec_id, CAST(SUM(l.adist) AS BIGINT) AS adist
  FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
  WHERE cd.vec_id <> 0
  GROUP BY cd.vec_id
)
SELECT s.vec_id, e.label, s.adist
FROM scored s JOIN embeddings e ON s.vec_id = e.vec_id
ORDER BY s.adist, s.vec_id
LIMIT 10
"""


@query("ann_pq_topk", oracle=_ANN_PQ_SQL, defer=True)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: train 8×16 codebooks (one SQL-replayable Lloyd
    step), encode the corpus to 8 codes/vector, ADC-score against vec_id 0
    from one inlined LUT, top-10 ascending. DuckDB replays training,
    encoding, and the ADC scan exactly — every distance is int64."""
    emb = tpch.load(spark, sf_dir, "embeddings")
    codebooks = train_pq_codebooks(emb)
    qrow = _quantized(emb).filter(F.col("vec_id") == 0).select("q").collect()
    query_q = [int(v) for v in qrow[0]["q"]]
    encoded = pq_encode(emb, codebooks).filter(F.col("vec_id") != 0)
    return pq_adc_topk(encoded, query_q, codebooks, k=10)
